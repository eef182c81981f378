"""The engine process: owns the SparkSession and runs the program.

Started by run.py with one argument, the path of a spec JSON. It starts
Spark, waits for the inputs the client generates meanwhile, sets up the
workload, writes `ready.json`, then either runs a batch job list
(`etl_geonames`) or serves the catalog over HTTP
(`tiles_zipf`, `catalog_mixed`) until the client asks it to finish.
Results, spans and engine counters go to `results.json` in the run
directory.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer, summarize  # noqa: E402

ETL_ZOOM = 7
ETL_MIN_POP = 500
# examples/geonames.dfl's shape: drop rows without coordinates, cast,
# and tag each row with its tile for the dynamic output URI
GEONAMES_DFL = (
    '((@latitude == "") or (@longitude == "")) ? null : '
    "{id: int64(@geonameid), name: @name, country: @country_code, "
    "population: int64(@population) ?: 0, "
    "lat: float64(@latitude), lon: float64(@longitude), "
    f"_tile_z: {ETL_ZOOM}, _tile_x: tileX(float64(@longitude), {ETL_ZOOM}), "
    f"_tile_y: tileY(float64(@latitude), {ETL_ZOOM})}}"
)
GEONAMES_OUT = '$dir + "/tiles/" + @_tile_z + "-" + @_tile_x + "-" + @_tile_y'
HIST_DFL = "filter(@, '@population >= $minpop') | hist(@, '@country_code')"


def wait_for(path: str, timeout: float = 120.0) -> None:
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if time.time() > deadline:
            raise TimeoutError(f"no {path} after {timeout}s")
        time.sleep(0.01)


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pids() -> list[int]:
    """Direct children of this process that run java (the Spark driver)."""
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            if ppid != me:
                continue
            with open(f"/proc/{name}/cmdline", "rb") as f:
                if b"java" in f.read():
                    out.append(int(name))
        except (OSError, ValueError, IndexError):
            continue
    return out


def jvm_pool_peaks_mb(spark) -> dict:
    """Peak MB used in the driver JVM's heap and non-heap memory pools
    (each the sum of the pools' own peaks, so at least the true peak),
    from its MXBeans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    out = {"jvm_heap_peak_mb": 0.0, "jvm_nonheap_peak_mb": 0.0}
    for pool in mf.getMemoryPoolMXBeans():
        key = "jvm_heap_peak_mb" if pool.getType().toString() == "Heap memory" else "jvm_nonheap_peak_mb"
        out[key] += pool.getPeakUsage().getUsed() / 2**20
    return out


def jvm_heap_retained_mb(spark) -> float:
    """Driver JVM heap in use after a full collection: what the run left
    live (cached DataFrames, broadcast blocks, leaks)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def peak_rss_mb() -> dict:
    py = vm_hwm_kb("self") / 1024.0
    jvm = sum(vm_hwm_kb(p) for p in jvm_pids()) / 1024.0
    return {"peak_rss_mb": py + jvm, "python_peak_rss_mb": py, "jvm_peak_rss_mb": jvm}


# ------------------------------------------------------------ tracing
def install_tracer(tracer: Tracer) -> None:
    """Wrap each layer's public entry points. Cache hits are counted at
    the catalog boundary: a call that reached no loader below it hit."""
    import railgun_spark.auth  # noqa: F401
    import railgun_spark.geo.serving  # noqa: F401
    import railgun_spark.plans.process  # noqa: F401
    import railgun_spark.server  # noqa: F401
    from railgun_spark.catalog.registry import Catalog

    def hit_counter(metric: str, child: str):
        def on_result(_args, _kwargs, _result, before):
            tracer.count(metric + "_calls")
            if tracer.calls_on_this_thread(child) == before.get(child, 0):
                tracer.count(metric + "_hits")

        return on_result

    def count_features(_args, _kwargs, result, _before):
        tracer.count("geo.features", len(result))

    tracer.install_function("railgun_spark.sources.formats", "read", "sources.read")
    tracer.install_function("railgun_spark.sources.formats", "write", "sources.write")
    tracer.install_function("railgun_spark.dfl.parser", "parse", "dfl.parse")
    tracer.install_function("railgun_spark.dfl.compiler", "run_pipeline", "dfl.run_pipeline")
    tracer.install_function("railgun_spark.dfl.compiler", "process", "dfl.process")
    tracer.install_function("railgun_spark.plans.process", "process_uri", "plans.process_uri")
    tracer.install_function("railgun_spark.geo.serving", "tile_data", "geo.tile_data", count_features)
    tracer.install_function("railgun_spark.geo.serving", "tile_mask_grid", "geo.tile_mask_grid")
    tracer.install_function("railgun_spark.geo.serving", "grid_to_image", "geo.grid_to_image")
    tracer.install_function("railgun_spark.auth", "parse_token", "auth.parse_token")
    tracer.install_method(Catalog, "load_datastore", "catalog.load_datastore",
                          hit_counter("catalog.df_cache", "sources.read"))
    tracer.install_method(Catalog, "layer_tile_features", "catalog.layer_tile_features",
                          hit_counter("catalog.tile_cache", "geo.tile_data"))
    tracer.install_method(Catalog, "layer_mask_grid", "catalog.layer_mask_grid",
                          hit_counter("catalog.grid_cache", "geo.tile_mask_grid"))
    tracer.install_method(Catalog, "exec_service", "catalog.exec_service")
    tracer.install_method(Catalog, "exec_job", "catalog.exec_job")


def span_report(tracer: Tracer) -> dict:
    return {"layers": summarize(tracer.spans), "counts": dict(tracer.counts)}


# -------------------------------------------------------------- batch
def etl_jobs(inputs: dict) -> list[dict]:
    return [
        {"name": "tsv_gz_tiles", "input": inputs["tsv_gz"], "expr": GEONAMES_DFL, "stream": True,
         "output": GEONAMES_OUT, "input_options": {"header": gen.GEONAMES_HEADER}},
        {"name": "jsonl_hist", "input": inputs["jsonl"], "expr": HIST_DFL, "stream": False,
         "output": None},
    ]


def etl_pass(spark, spec: dict, tag: str) -> tuple[list, tuple]:
    """One run of the ETL job list, each job to its own output directory."""
    from railgun_spark.plans.process import process_uri

    ops = []
    t_begin = time.time()
    t_pass = time.perf_counter()
    for job in etl_jobs(spec):
        out_dir = os.path.join(spec["run_dir"], "out", f"{tag}-{job['name']}")
        if job["output"]:
            output_uri, variables = job["output"], {"dir": out_dir}
        else:
            output_uri, variables = out_dir + "/hist.jsonl", {"minpop": ETL_MIN_POP}
        t0 = time.perf_counter()
        process_uri(
            spark, job["input"], job["expr"], output_uri=output_uri, variables=variables,
            stream=job["stream"], input_options=job.get("input_options"),
        )
        ops.append({"job": job["name"], "latency_s": time.perf_counter() - t0, "out_dir": out_dir})
    for op in ops:
        op["pass_wall_s"] = time.perf_counter() - t_pass
    return ops, (t_begin * 1000.0, time.time() * 1000.0)


def slate_pass(spark, spec: dict) -> list[dict]:
    """One run of every slate query in the seed's order; each result is
    collected inside its timed region."""
    import checks
    from railgun_spark import suite

    fns, oracles = suite.queries(), suite.oracle_sql()
    ops = []
    for q in spec["order"]:
        t0 = time.perf_counter()
        df = fns[q](spark, spec["tables"])
        rows = df.collect()
        ops.append({"query": q, "latency_s": time.perf_counter() - t0, "columns": df.columns,
                    "oracle": oracles[q], "lines": checks.result_lines([tuple(r) for r in rows], df.columns)})
    return ops


def batch_main(spark, spec: dict, result: dict) -> None:
    """The measured pass is the first, cold one: what running the job list
    once in a fresh session costs, as `railgun process` pays it on every
    invocation. The traced run adds a warm untraced and a warm traced
    pass, whose ratio is the tracing overhead, and then times the suite
    slate, untraced and outside the trace window."""
    result["ops"], window = etl_pass(spark, spec, "a")
    if spec["trace"]:
        result["ops_warm"], _ = etl_pass(spark, spec, "warm")
        tracer = Tracer()
        install_tracer(tracer)
        result["ops_traced"], window = etl_pass(spark, spec, "b")
        tracer.uninstall()
        result["spans"] = span_report(tracer)
        result["slate"] = slate_pass(spark, spec)
    result["trace_window_ms"] = window


# -------------------------------------------------------------- serve
def tiles_catalog(spark, spec: dict):
    from railgun_spark.catalog.models import DataStore, Layer
    from railgun_spark.catalog.registry import Catalog

    cat = Catalog(spark)
    cat.add(DataStore(name="points", uri=spec["points"], format="parquet"))
    cat.add(Layer(name="points", datastore="points"))
    cat.load_datastore("points").count()  # the first job fills the DataFrame cache
    return cat


LIVE_EXCLUDED = ("bar", "cafe")  # the kind each variant of the live layer's expression drops
LIVE_EXPR = tuple(f"filter(@, '@kind != \"{k}\"')" for k in LIVE_EXCLUDED)
SVC_EXPR = {
    "svc_filter": "filter(@, '(@kind == $kind) and (@value >= $minv)')",
    "svc_topk": "filter(@, '@kind == $kind') | sort(@, '@value', true) | limit(@, 10)",
    "svc_hist": "filter(@, '@value >= $minv') | hist(@, '@country')",
    "svc_pool": "filter(@, '@g == $g')",
}


def mixed_catalog(spark, spec: dict):
    from railgun_spark.catalog.models import DataStore, Job, Layer, Process, Service
    from railgun_spark.catalog.registry import Catalog

    cat = Catalog(spark)
    cat.add(DataStore(name="places", uri=spec["places"], format="parquet"))
    cat.add(DataStore(name="pool", uri=spec["pool"], format="parquet"))
    cat.add(DataStore(name="live", uri=spec["live"], format="parquet"))
    cat.add(Layer(name="places", datastore="places"))
    cat.add(Layer(name="live", datastore="live", expression=LIVE_EXPR[0]))
    for name, expr in SVC_EXPR.items():
        cat.add(Process(name=name, expression=expr))
        cat.add(Service(name=name, datastore="pool" if name == "svc_pool" else "places", process=name))
    for g in range(spec["gens"]):
        cat.add(Job(name=f"rewrite_g{g}", service="svc_pool", variables={"g": g}, output="live"))
    cat.load_datastore("places").count()
    return cat


class Control:
    """WSGI front of the program's Flask app. `/__bench/*` paths steer the
    engine. Once tracing is on, a request that carries the
    `X-Perfbench-Trace` header gets a span tree; the others run through
    the same wrappers untraced, so the two halves compare at one cache
    state."""

    def __init__(self, app):
        self.app = app
        self.tracer: Tracer | None = None
        self.finish = threading.Event()
        self.window = [None, None]
        self._lock = threading.Lock()
        self._in_flight = 0
        self._req_ids = itertools.count(1)

    def __call__(self, environ, start_response):
        path = environ.get("PATH_INFO", "")
        if path.startswith("/__bench/"):
            return self.control(path, start_response)
        tracer = self.tracer
        if tracer is None or "HTTP_X_PERFBENCH_TRACE" not in environ:
            return self.app(environ, start_response)
        tracer.set_active(True)
        with self._lock:
            self._in_flight += 1
            tracer.count("server.in_flight_sum", self._in_flight)
            tracer.request_id = next(self._req_ids)
        rec = tracer.begin("server.request")
        try:
            it = self.app(environ, start_response)
            try:
                body = b"".join(it)
            finally:
                if hasattr(it, "close"):
                    it.close()
        finally:
            tracer.end(rec)
            tracer.request_id = None
            tracer.set_active(False)
            with self._lock:
                self._in_flight -= 1
        tracer.count("server.requests")
        tracer.count("server.response_bytes_sum", len(body))
        return [body]

    def control(self, path, start_response):
        if path == "/__bench/trace_on":
            tracer = Tracer(default_active=False)
            install_tracer(tracer)
            self.window[0] = time.time() * 1000.0
            self.tracer = tracer
        elif path == "/__bench/finish":
            self.window[1] = time.time() * 1000.0
            self.finish.set()
        start_response("200 OK", [("Content-Type", "text/plain"), ("Content-Length", "2")])
        return [b"ok"]


def serve_main(spark, spec: dict, cat, result: dict, ready: dict) -> None:
    from werkzeug.serving import make_server

    from railgun_spark.server import create_app

    app = create_app(cat, root_password=spec.get("root_password"))
    ctl = Control(app.wsgi_app)
    app.wsgi_app = ctl
    # the threaded server `railgun serve` runs (Flask's app.run default)
    server = make_server("127.0.0.1", 0, app, threaded=True)
    ready["port"] = server.server_port
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    gen.save_json(ready, os.path.join(spec["run_dir"], "ready.json"))
    ctl.finish.wait(timeout=170)
    server.shutdown()
    thread.join(timeout=10)
    if ctl.tracer is not None:
        ctl.tracer.uninstall()
        result["spans"] = span_report(ctl.tracer)
        result["trace_window_ms"] = ctl.window


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    run_dir = spec["run_dir"]
    # the program's own heap setting; only the JVM's temporary files move
    extra = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"}
    if spec["trace"]:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                      "spark.eventLog.compress": "false"})
    from railgun_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra)
    get_spark_s = time.perf_counter() - t0
    ready_path = os.path.join(run_dir, "inputs.ready")
    wait_for(ready_path)
    with open(ready_path) as f:
        spec.update(json.load(f))
    t1 = time.perf_counter()
    workload = spec["workload"]
    cat = None
    if workload == "tiles_zipf":
        cat = tiles_catalog(spark, spec)
    elif workload == "catalog_mixed":
        cat = mixed_catalog(spark, spec)
    else:
        spark.range(1).count()  # the first tiny job
    setup_s = get_spark_s + (time.perf_counter() - t1)
    result = {"setup_s": setup_s, "get_spark_s": get_spark_s, "cores": spark.sparkContext.defaultParallelism}
    ready = dict(result)
    if cat is None:
        gen.save_json(ready, os.path.join(run_dir, "ready.json"))
        batch_main(spark, spec, result)
    else:
        serve_main(spark, spec, cat, result, ready)
    result.update(peak_rss_mb(), **jvm_pool_peaks_mb(spark), jvm_heap_retained_mb=jvm_heap_retained_mb(spark))
    spark.stop()  # completes the event log
    gen.save_json(result, os.path.join(run_dir, "results.json"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
