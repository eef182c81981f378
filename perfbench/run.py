"""railgun_spark benchmark: seeded workloads against the program's public
API, with output checks, end-to-end metrics and a traced per-layer run.

    python3 perfbench/run.py --workload tiles_zipf --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones. The line before it gives every figure of the run,
including the ones that do not apply to all workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import Counter
from contextlib import nullcontext
from urllib.parse import quote

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import load  # noqa: E402
from engine import ETL_MIN_POP, ETL_ZOOM, LIVE_EXCLUDED, LIVE_EXPR  # noqa: E402
from stats import mean, median, open_loop_latency, percentile, samples_beyond  # noqa: E402

# Workload sizes. Each run pays a cold Spark start (~13 s on 4 cores), and
# the repeated runs of every workload must fit in an hour, so the measured
# parts are short: `--seconds` of open-loop tile traffic, a fixed number of
# catalog operations, one cold pass of the ETL job list.
ETL_ROWS = 500_000
ETL_LIMIT_S = 60.0
# rate: under a quarter of the 80-100 req/s at which the parent commit
# saturates (README.md, "Tile traffic")
TILES = {"points": 100_000, "rate": 20.0, "warmup_s": 5.0, "zipf_s": 1.5,
         "limit": 1000, "limit_s": 1.0}
# ops: twice the fewest (184) that put 10 samples beyond the 95th percentile,
# for a steadier median
MIXED = {"places": 50_000, "per_gen": 1_500, "gens": 8, "ops": 368,
         "limit_s": 2.0, "minvs": (0.0, 1000.0, 2500.0, 4000.0)}
# the suite slate, timed in the traced etl_geonames run (README.md)
SLATE = ("pricing_summary", "min_cost_supplier", "shipping_priority_topk", "dedup_minhash_lsh",
         "embedding_near_dup_pairs", "text_token_stats", "multimodal_features", "image_phash_wide_pairs",
         "pagerank_word_graph", "corpus_clean_summary", "session_window_counts", "geo_tile_hist",
         "dfl_filter_hist")  # one registered suite query per operator module
SLATE_SCALE = 0.01
ROOT_PASSWORD = "perfbench-root"

END_TO_END = {
    "setup_s": "s", "batch_wall_s": "s", "latency_p50_ms": "ms", "latency_p95_ms": "ms",
    "goodput_rps": "1/s", "nonheap_peak_mb": "MB", "heap_retained_mb": "MB",
}
# also printed, in the line before the result: write_p50_ms is None where a
# workload makes no writes, failed_frac is 0 on a correct run, and
# peak_rss_mb follows when the JVM's collector grew its heap
NAMED = {**END_TO_END, "peak_rss_mb": "MB", "write_p50_ms": "ms", "failed_frac": "fraction"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def group_alive(pgid: int) -> bool:
    """Whether any process, zombies aside, is still in process group pgid."""
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z" and int(fields[2]) == pgid:
                return True
    return False


class Run:
    """One workload run: a run directory, the engine process and the
    inputs the client generated for it."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool, rate: float | None = None,
                 overlap_rewrites: bool = False):
        self.root, self.workload, self.seed, self.seconds, self.trace = root, workload, seed, seconds, trace
        self.rate, self.overlap_rewrites = rate, overlap_rewrites
        self.dir = os.path.join(root, ".perfbench_runs", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("in", "out", "tmp", "spark-local"):
            os.makedirs(os.path.join(self.dir, sub))
        self.proc = None
        self.spec = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                     "run_dir": self.dir}

    def path(self, *parts) -> str:
        return os.path.join(self.dir, *parts)

    def start_engine(self) -> None:
        """Start the engine now, so Spark boots while inputs are generated."""
        gen.save_json(self.spec, self.path("spec.json"))
        env = dict(os.environ)
        tmp = self.path("tmp")
        env.update({
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_LOCAL_DIRS": self.path("spark-local"),
            "TMPDIR": tmp,
            "PYTHONPATH": self.root + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        })
        env.pop("OMP_NUM_THREADS", None)
        self.log = open(self.path("engine.log"), "wb")
        # its own process group: the JVM and Spark's Python workers join it,
        # so `kill` can stop all of them
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), self.path("spec.json")],
            cwd=self.dir, env=env, stdout=self.log, stderr=subprocess.STDOUT, start_new_session=True,
        )

    def inputs_ready(self, **paths) -> None:
        self.spec.update(paths)
        gen.save_json(self.spec, self.path("spec.json"))
        gen.save_json(paths, self.path("inputs.ready"))

    def wait_ready(self, timeout: float = 150.0) -> dict:
        deadline = time.time() + timeout
        while not os.path.exists(self.path("ready.json")):
            if self.proc.poll() is not None:
                raise RuntimeError(f"engine exited with {self.proc.returncode}; see {self.path('engine.log')}")
            if time.time() > deadline:
                raise TimeoutError("engine not ready")
            time.sleep(0.02)
        with open(self.path("ready.json")) as f:
            return json.load(f)

    def finish(self, port: int | None = None, timeout: float = 120.0) -> dict:
        if port is not None:
            load.Conn(port).request("GET", "/__bench/finish")
        self.proc.wait(timeout=timeout)
        self.kill(grace=10.0)  # the JVM exits after the engine
        if self.proc.returncode != 0:
            raise RuntimeError(f"engine exited with {self.proc.returncode}; see {self.path('engine.log')}")
        with open(self.path("results.json")) as f:
            return json.load(f)

    def kill(self, grace: float = 0.0) -> None:
        """Stop the engine's whole process group (after `grace` seconds for
        processes that are already exiting) and wait until it is gone."""
        if self.proc is None:
            return
        deadline = time.time() + grace
        while group_alive(self.proc.pid) and time.time() < deadline:
            time.sleep(0.05)
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait(timeout=30)
        deadline = time.time() + 30
        while group_alive(self.proc.pid) and time.time() < deadline:
            time.sleep(0.05)
        if not self.log.closed:
            self.log.close()

    def spark_counters(self, result: dict, ops: int) -> dict:
        events = eventlog.read_events(self.path("eventlog"))
        return eventlog.engine_counters(events, tuple(result["trace_window_ms"]), result["cores"], ops)


# ------------------------------------------------------------ helpers
def wrong_answers(errors: list, records: list) -> int:
    """Operations the program answered (status 200) with a wrong or stale
    result. Refused, failed and unanswered operations count in `failed`
    only; the result line's `correct` is whether this is 0."""
    return sum(1 for e, r in zip(errors, records) if e and r is not None and r["status"] == 200)


def latency_metrics(lat_s: list[float]) -> dict:
    n = len(lat_s)
    return {"latency_p50_ms": percentile(lat_s, 50) * 1000.0,
            "latency_p95_ms": percentile(lat_s, 95) * 1000.0,
            "latency_n": n, "latency_beyond_p95": samples_beyond(n, 95)}


def layer_metrics(result: dict, n_ops: int) -> dict:
    """Per-layer figures from the traced phase's spans and counts. Span
    times are mean seconds per call; counts are per operation."""
    spans = result.get("spans", {"layers": {}, "counts": {}})
    lay, cnt = spans["layers"], spans["counts"]

    def s(name, key="mean_s"):
        return lay.get(name, {}).get(key, 0.0)

    def calls(name):
        return lay.get(name, {}).get("calls", 0)

    def ratio(prefix):
        c = cnt.get(prefix + "_calls", 0)
        return cnt.get(prefix + "_hits", 0) / c if c else 0.0

    ops = max(1, n_ops)
    plan_calls = calls("dfl.run_pipeline") + calls("dfl.process")
    plan_self = s("dfl.run_pipeline", "mean_self_s") * calls("dfl.run_pipeline") + \
        s("dfl.process", "mean_self_s") * calls("dfl.process")
    reqs = cnt.get("server.requests", 0)
    return {
        "session.get_spark_s": result["get_spark_s"],
        "sources.read_s": s("sources.read"),
        "sources.write_s": s("sources.write"),
        "dfl.parse_s": s("dfl.parse"),
        "dfl.plan_s": plan_self / plan_calls if plan_calls else 0.0,
        "dfl.calls": plan_calls / ops,
        "plans.process_uri_self_s": s("plans.process_uri", "mean_self_s"),
        "catalog.load_datastore_s": s("catalog.load_datastore"),
        "catalog.df_cache_hit_ratio": ratio("catalog.df_cache"),
        "catalog.tile_cache_hit_ratio": ratio("catalog.tile_cache"),
        "catalog.grid_cache_hit_ratio": ratio("catalog.grid_cache"),
        "catalog.layer_tile_features_s": s("catalog.layer_tile_features"),
        "catalog.layer_mask_grid_s": s("catalog.layer_mask_grid"),
        "catalog.exec_service_s": s("catalog.exec_service"),
        "catalog.exec_job_s": s("catalog.exec_job"),
        "geo.tile_data_s": s("geo.tile_data"),
        "geo.tile_mask_grid_s": s("geo.tile_mask_grid"),
        "geo.grid_to_image_s": s("geo.grid_to_image"),
        "geo.features_per_tile": cnt.get("geo.features", 0) / calls("geo.tile_data") if calls("geo.tile_data") else 0.0,
        "server.request_s": s("server.request"),
        "server.self_s": s("server.request", "mean_self_s"),
        "server.response_bytes": cnt.get("server.response_bytes_sum", 0) / reqs if reqs else 0.0,
        "server.in_flight": cnt.get("server.in_flight_sum", 0) / reqs if reqs else 0.0,
        "auth.parse_token_s": s("auth.parse_token"),
    }


def spark_layer_metrics(sc: dict, n_ops: int) -> dict:
    ops = max(1, n_ops)
    return {
        "spark.jobs_per_request": sc["spark.jobs_per_request"],
        "spark.scheduler_delay_s": sc["spark.scheduler_delay_s"],
        "spark.tasks": sc["spark.tasks"] / ops,
        "spark.task_busy_s": sc["spark.task_busy_s"] / ops,
        "spark.core_utilization": sc["spark.core_utilization"],
        "spark.input_bytes": sc["spark.input_bytes"] / ops,
        "spark.shuffle_write_bytes": sc["spark.shuffle_write_bytes"] / ops,
        "spark.spill_bytes": sc["spark.spill_bytes"] / ops,
        "spark.gc_s": sc["spark.gc_s"] / ops,
        "spark.stage_skew": sc["spark.stage_skew"],
        "sources.scan_tasks": sc["spark.scan_tasks"] / ops,
    }


def overhead(untraced: float, traced: float) -> float:
    return (traced - untraced) / untraced if untraced > 0 else 0.0


def all_layers(run: Run, res: dict, n_traced: int, n_ops: int, extra: dict) -> dict:
    """Every per-layer metric: span figures over the traced operations,
    engine counters over all operations in the traced window, and the
    workload's own figures in `extra`; a layer the workload leaves idle
    reads 0."""
    lm = layer_metrics(res, n_traced)
    lm.update(spark_layer_metrics(run.spark_counters(res, n_ops), n_ops))
    lm.update({"sources.output_files": 0.0, "sources.output_bytes_per_input_byte": 0.0,
               "plans.rows_in": 0.0, "plans.rows_out": 0.0,
               "bench.generator_lag_p95_ms": 0.0, "bench.client_cpu_frac": 0.0,
               **{f"operators.{q}_s": 0.0 for q in SLATE}, "operators.slate_wall_s": 0.0})
    lm.update(extra)
    return lm


def memory_metrics(res: dict) -> dict:
    """The engine's memory. The JVM runs with the program's own heap
    setting, so its RSS and peak heap use follow when the collector grew
    the heap; the non-heap part and the heap left live at the end do not."""
    return {
        "nonheap_peak_mb": res["python_peak_rss_mb"] + res["jvm_nonheap_peak_mb"],
        "heap_retained_mb": res["jvm_heap_retained_mb"],
        **{k: res[k] for k in ("peak_rss_mb", "python_peak_rss_mb", "jvm_peak_rss_mb",
                               "jvm_heap_peak_mb", "jvm_nonheap_peak_mb")},
    }


# ---------------------------------------------------------- workloads
def run_etl(run: Run) -> dict:
    run.start_engine()
    rng = gen.rng_for(run.seed, "etl")
    rows = gen.geonames(rng, ETL_ROWS)
    tsv, jsonl = run.path("in", "geonames.tsv.gz"), run.path("in", "geonames.jsonl")
    gen.write_geonames_tsv_gz(rows, tsv)
    gen.write_geonames_jsonl(rows, jsonl)
    slate = {}
    if run.trace:
        slate_rng = gen.rng_for(run.seed, "suite")
        slate["tables"] = run.path("in", "suite")
        os.makedirs(slate["tables"])
        gen.suite_tables(slate_rng, slate["tables"], SLATE_SCALE)
        slate["order"] = [SLATE[i] for i in slate_rng.permutation(len(SLATE))]  # the seed only sets the order
    run.inputs_ready(tsv_gz=tsv, jsonl=jsonl, **slate)
    ready = run.wait_ready()
    want_tiles = checks.expected_tile_counts(rows, ETL_ZOOM)
    want_hist = checks.expected_hist(rows, ETL_MIN_POP)
    res = run.finish(timeout=170)
    in_bytes = {"tsv_gz_tiles": os.path.getsize(tsv), "jsonl_hist": os.path.getsize(jsonl)}

    def check(ops):
        out = []
        for op in ops:
            if op["job"] == "tsv_gz_tiles":
                err, st = checks.check_tiles_output(op["out_dir"], ETL_ZOOM, want_tiles)
            else:
                err, st = checks.check_hist_output(op["out_dir"], want_hist)
            out.append((op, err, st))
        return out

    passes = ("ops", "ops_warm", "ops_traced") if run.trace else ("ops",)
    checked = {k: check(res[k]) for k in passes}
    errors = [err for k in passes for _op, err, _st in checked[k] if err]
    ok_in_limit = sum(1 for op, err, _st in checked["ops"] if not err and op["latency_s"] <= ETL_LIMIT_S)
    wall = res["ops"][-1]["pass_wall_s"]
    lat = [op["latency_s"] for op in res["ops"]]
    m = {
        "setup_s": ready["setup_s"],
        "batch_wall_s": wall,
        **latency_metrics(lat),
        "goodput_rps": ok_in_limit / wall,
        **memory_metrics(res),
        "write_p50_ms": median(lat) * 1000.0,  # every ETL job ends in a write
        "job_s": {op["job"]: op["latency_s"] for op in res["ops"]},
    }
    if run.trace:
        errors += check_slate(res["slate"], slate["tables"])
        traced = checked["ops_traced"]
        n = len(traced)
        m["layers"] = all_layers(run, res, n, n, {
            **{f"operators.{op['query']}_s": op["latency_s"] for op in res["slate"]},
            "operators.slate_wall_s": sum(op["latency_s"] for op in res["slate"]),
            "sources.output_files": mean(st["files"] for _o, _e, st in traced),
            "sources.output_bytes_per_input_byte": sum(st["bytes"] for _o, _e, st in traced)
            / sum(in_bytes[o["job"]] for o, _e, _st in traced),
            "plans.rows_in": float(ETL_ROWS),
            "plans.rows_out": mean(st["rows_out"] for _o, _e, st in traced),
            "bench.trace_overhead_frac": overhead(res["ops_warm"][-1]["pass_wall_s"],
                                                  res["ops_traced"][-1]["pass_wall_s"]),
        })
    attempted = sum(len(checked[k]) for k in passes) + len(res.get("slate", ()))
    return {"metrics": m, "attempted": attempted, "failed": len(errors), "wrong": len(errors), "errors": errors}


def check_slate(ops: list[dict], tables: str) -> list[str]:
    """Each slate result against its query's registered DuckDB oracle,
    run here over the same generated tables."""
    import duckdb

    con = duckdb.connect()
    for name in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                 "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(tables, name)}.parquet')")
    errors = []
    for op in ops:
        err = checks.check_oracle(con, op["oracle"], op["columns"], op["lines"])
        if err:
            errors.append(f"{op['query']}: {err}")
    con.close()
    return errors


def server_layers(run: Run, res: dict, ops: list[dict], lat: list, cpu_frac: float, lag_ms: float) -> dict:
    """Per-layer figures of a server run whose odd-numbered ops were
    traced: spans cover the traced half, engine counters every op."""
    traced = [x for op, x in zip(ops, lat) if op.get("trace") and x is not None]
    plain = [x for op, x in zip(ops, lat) if not op.get("trace") and x is not None]
    return all_layers(run, res, len(traced), len(ops), {
        "bench.trace_overhead_frac": overhead(median(plain), median(traced)),
        "bench.generator_lag_p95_ms": lag_ms,
        "bench.client_cpu_frac": cpu_frac,
    })


def tiles_schedule(rng, universe, seconds: float, rate: float) -> tuple[list, list]:
    n = max(1, round(rate * seconds))
    reqs = gen.tile_requests(rng, universe, n, TILES["zipf_s"], TILES["limit"])
    return gen.poisson_due_times(rng, n, seconds), reqs


def run_tiles(run: Run) -> dict:
    run.start_engine()
    rng = gen.rng_for(run.seed, "tiles")
    pts = gen.point_layer(rng, TILES["points"])
    path = run.path("in", "points.parquet")
    gen.write_parquet(pts, path)
    run.inputs_ready(points=path)
    universe = gen.tile_universe(rng, pts["lon"], pts["lat"])
    rate = run.rate or TILES["rate"]
    warm = tiles_schedule(rng, universe, TILES["warmup_s"], rate)
    due, reqs = tiles_schedule(rng, universe, run.seconds, rate)
    if run.trace:
        for i, req in enumerate(reqs):
            req["trace"] = i % 2 == 1
    index = checks.PointIndex(pts["id"], pts["lon"], pts["lat"])
    ready = run.wait_ready()
    port = ready["port"]
    # the warm-up fills the caches with the head of the Zipf curve
    load.open_loop(port, *warm, nproc())
    if run.trace:
        load.Conn(port).request("GET", "/__bench/trace_on")
    out = load.open_loop(port, due, reqs, nproc())
    res = run.finish(port)
    lat, errs, ok = [], [], 0
    verdicts = {}  # a repeated answer to a repeated request is checked once
    for req, rec in zip(reqs, out["records"]):
        if rec is None:
            lat.append(None)
            errs.append("no response")
            continue
        key = (req["path"], rec["status"], rec["ctype"], rec["body"])
        if key not in verdicts:
            if req["kind"] == "data":
                verdicts[key] = checks.check_data_tile(req, rec["status"], rec["body"], index)
            else:
                verdicts[key] = checks.check_mask(req, rec["status"], rec["ctype"], rec["body"], index)
        errs.append(verdicts[key])
        lat.append(open_loop_latency(rec["due"], rec["end"]))
        if errs[-1] is None and lat[-1] <= TILES["limit_s"]:
            ok += 1
    recs = [r for r in out["records"] if r]
    wall = max(r["end"] for r in recs) - out["t0"]
    lag = percentile([(r["queued"] - r["due"]) * 1000.0 for r in recs], 95)
    m = {
        "setup_s": ready["setup_s"],
        "batch_wall_s": wall,
        **latency_metrics([x for x in lat if x is not None]),
        "goodput_rps": ok / wall,
        **memory_metrics(res),
        "offered_rps": len(reqs) / run.seconds,
        # distinct keys asked for in warm-up and run, against the catalog's
        # 256-entry feature cache and 1024-entry grid cache
        "distinct_data_tiles": len({r["path"] for r in warm[1] + reqs if r["kind"] == "data"}),
        "distinct_mask_tiles": len({(r["z"], r["x"], r["y"]) for r in warm[1] + reqs if r["kind"] == "mask"}),
        "generator_lag_p95_ms": lag,
        "client_cpu_frac": out["cpu_frac"],
    }
    if run.trace:
        m["layers"] = server_layers(run, res, reqs, lat, out["cpu_frac"], lag)
    errors = [e for e in errs if e]
    return {"metrics": m, "attempted": len(reqs), "failed": len(errors),
            "wrong": wrong_answers(errs, out["records"]), "errors": errors}


def mixed_send(conn: load.Conn, op: dict):
    k, trace = op["kind"], op.get("trace", False)
    if k in ("svc_filter", "svc_topk", "svc_hist"):
        return conn.request("POST", f"/services/{k}/exec.json", {"variables": op["vars"]}, trace=trace)
    if k == "items":
        dfl = quote(f"filter(@, '@country == \"{op['country']}\"')")
        return conn.request("GET", f"/layers/places/items.json?limit={op['limit']}&dfl={dfl}", trace=trace)
    if k == "live_tile":
        return conn.request("GET", f"/layers/live/tiles/data/{op['z']}/{op['x']}/{op['y']}.json?limit=-1",
                            trace=trace)
    if k == "live_mask":
        return conn.request("GET", f"/layers/live/tiles/mask/{op['z']}/{op['x']}/{op['y']}.png", trace=trace)
    if k == "job":
        return conn.request("POST", f"/jobs/rewrite_g{op['g']}/exec.json", trace=trace)
    if k == "layer_update":
        return conn.request("POST", "/layers/live.json",
                            {"datastore": "live", "expression": LIVE_EXPR[op["variant"]]}, trace=trace)
    raise ValueError(k)


def live_gate(overlap_rewrites: bool):
    """catalog_mixed's admission rule. A job rewrites the live datastore
    in place, and a read of it while that runs fails (README.md, "Known
    program defect"), so by default live reads wait for a running rewrite
    and a rewrite waits for the live reads in flight; every read after a
    rewrite must still see its data. `overlap_rewrites` lifts the rule."""
    rw = load.ReadWriteGate()

    def gate(op):
        if overlap_rewrites:
            return nullcontext()
        if op["kind"] == "job":
            return rw.exclusive()
        if op["kind"] in ("live_tile", "live_mask"):
            return rw.shared()
        return nullcontext()

    return gate


def check_mixed(op_lists, records, places, pool_index, state) -> list:
    """Check every answer; returns per-op errors (None when right) in op
    order. `state` is the live datastore's (generation, layer variant)
    when the ops start."""
    # client 0 makes every write, in order; the state after each write
    writes, initial = [], state
    for op, rec in zip(op_lists[0], records[0]):
        if op["kind"] in ("job", "layer_update") and rec is not None:
            state = (op["g"], state[1]) if op["kind"] == "job" else (state[0], op["variant"])
            writes.append((rec["start"], rec["end"], state))
    errors, live_indexes = [], {}
    for ops, recs in zip(op_lists, records):
        for op, rec in zip(ops, recs):
            if rec is None:
                errors.append("no response")
                continue
            k, st, body = op["kind"], rec["status"], rec["body"]
            if k.startswith("svc_"):
                err = checks.check_service(op, st, body, places)
            elif k == "items":
                err = checks.check_items(op, st, body, places)
            elif k == "job":
                err = checks.check_job(op, st, body, pool_index)
            elif k == "layer_update":
                err = checks.check_ok_json(st, body)
            else:
                before = [w for w in writes if w[1] <= rec["start"]]
                states = {before[-1][2] if before else initial}
                states |= {w[2] for w in writes if w[0] < rec["end"] and w[1] > rec["start"]}
                if k == "live_tile":
                    err = checks.check_live_tile(op, st, body, pool_index, states, LIVE_EXCLUDED)
                else:
                    for state in states - set(live_indexes):
                        live_indexes[state] = checks.live_index(pool_index, state, LIVE_EXCLUDED)
                    err = checks.check_live_mask(op, st, rec["ctype"], body,
                                                 {state: live_indexes[state] for state in states})
            errors.append(f"{k}: {err}" if err else None)
    return errors


def run_mixed(run: Run) -> dict:
    run.spec["root_password"] = ROOT_PASSWORD
    run.spec["gens"] = MIXED["gens"]
    run.start_engine()
    rng = gen.rng_for(run.seed, "catalog")
    places = gen.places(rng, MIXED["places"])
    pool = gen.pool(rng, MIXED["per_gen"], MIXED["gens"])
    p_places, p_pool = run.path("in", "places.parquet"), run.path("in", "pool.parquet")
    gen.write_parquet(places, p_places)
    gen.write_parquet(pool, p_pool)
    # the live datastore starts as generation 0, in the directory layout
    # the rewrite jobs write
    live = run.path("out", "live.parquet")
    os.makedirs(live)
    gen.write_parquet({k: v[pool["g"] == 0] for k, v in pool.items()}, os.path.join(live, "part-00000.parquet"))
    run.inputs_ready(places=p_places, pool=p_pool, live=live)
    live_tiles = sorted({(z, int(x), int(y)) for z in (5, 6, 7)
                         for x, y in zip(gen.lon_to_tile(pool["lon"][:200], z), gen.lat_to_tile(pool["lat"][:200], z))})
    n_ops = MIXED["ops"]
    op_lists = gen.catalog_ops(rng, n_ops, nproc(), MIXED["gens"], live_tiles, MIXED["minvs"])
    if run.trace:
        for ops in op_lists:
            for j, op in enumerate(ops):
                op["trace"] = j % 2 == 1
    # one op of every kind first, so each route has run its first Spark
    # job; the list leaves the live datastore at generation 0, variant 0
    z, x, y = live_tiles[0]
    warm = [{"kind": "svc_filter", "vars": {"kind": "bar", "minv": 0.0}},
            {"kind": "svc_topk", "vars": {"kind": "bar"}}, {"kind": "svc_hist", "vars": {"minv": 0.0}},
            {"kind": "items", "country": "US", "limit": 100},
            {"kind": "live_tile", "z": z, "x": x, "y": y},
            {"kind": "live_mask", "z": z, "x": x, "y": y, "ext": "png"},
            {"kind": "job", "g": 0}, {"kind": "layer_update", "variant": 0}]
    pool_index = checks.PointIndex(pool["id"], pool["lon"], pool["lat"], g=pool["g"], kind=pool["kind"])
    ready = run.wait_ready()
    port = ready["port"]
    status, _ct, body = load.Conn(port).request(
        "POST", "/authenticate.json", {"username": "root", "password": ROOT_PASSWORD})
    if status != 200:
        raise RuntimeError(f"authenticate: {status} {body[:200]!r}")
    token = json.loads(body)["token"]
    load.closed_loop(port, [warm], mixed_send, token)
    if run.trace:
        load.Conn(port).request("GET", "/__bench/trace_on")
    out = load.closed_loop(port, op_lists, mixed_send, token, live_gate(run.overlap_rewrites))
    res = run.finish(port)
    errs = check_mixed(op_lists, out["records"], places, pool_index, (0, 0))
    ops = [op for lst in op_lists for op in lst]
    recs = [r for lst in out["records"] for r in lst]
    lat = [r["end"] - r["start"] if r else None for r in recs]
    ok = sum(1 for e, x in zip(errs, lat) if e is None and x <= MIXED["limit_s"])
    wlat = [x for op, x in zip(ops, lat) if op["kind"] in ("job", "layer_update") and x is not None]
    wall = out["wall"]
    m = {
        "setup_s": ready["setup_s"],
        "batch_wall_s": wall,
        **latency_metrics([x for x in lat if x is not None]),
        "goodput_rps": ok / wall,
        **memory_metrics(res),
        "write_p50_ms": median(wlat) * 1000.0,
        "writes": len(wlat),
        "client_cpu_frac": out["cpu_frac"],
    }
    if run.trace:
        m["layers"] = server_layers(run, res, ops, lat, out["cpu_frac"], 0.0)
    errors = [e for e in errs if e]
    return {"metrics": m, "attempted": len(ops), "failed": len(errors),
            "wrong": wrong_answers(errs, recs), "errors": errors}


WORKLOADS = {"etl_geonames": run_etl, "tiles_zipf": run_tiles, "catalog_mixed": run_mixed}


def run_one(root: str, workload: str, seed: int, seconds: float, trace: bool, rate: float | None = None,
            overlap_rewrites: bool = False) -> dict:
    run = Run(root, workload, seed, seconds, trace, rate, overlap_rewrites)
    steal0, total0 = cpu_ticks()
    try:
        out = WORKLOADS[workload](run)
    finally:
        run.kill()
    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests: a noisy host shows here
    out["metrics"]["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    if out["wrong"] == 0:  # a wrong answer keeps its run directory for a look
        shutil.rmtree(run.dir, ignore_errors=True)
    return out


def result_line(out: dict, trace: bool) -> dict:
    m = out["metrics"]
    if trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(m["layers"].items())}
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": out["wrong"] == 0, "attempted": out["attempted"], "failed": out["failed"],
            "metrics": metrics}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_ratio", "_frac", "_per_input_byte")) or name in ("spark.core_utilization", "spark.stage_skew"):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=float, default=None,
                    help=f"tiles_zipf arrival rate in requests/s (default {TILES['rate']:g}); for saturation sweeps")
    ap.add_argument("--overlap-rewrites", action="store_true",
                    help="catalog_mixed: let live-layer reads overlap the datastore rewrites, "
                         "which shows the program's known rewrite race as failed operations")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "railgun_spark", "__init__.py")):
        print(f"no railgun_spark package under {root}: run from the root of a checkout", file=sys.stderr)
        return 2
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    lines = {}
    for name in names:
        out = run_one(root, name, args.seed, args.seconds, bool(args.trace), args.rate, args.overlap_rewrites)
        m = dict(out["metrics"], failed_frac=out["failed"] / out["attempted"])
        print(json.dumps({
            "workload": name,
            "metrics": {k: {"value": m.get(k), "unit": u} for k, u in NAMED.items()},
            "detail": {k: v for k, v in m.items() if k not in NAMED and k != "layers"},
            "wrong": out["wrong"],
            "errors": dict(Counter(out["errors"]).most_common(5)),
        }), flush=True)
        lines[name] = result_line(out, bool(args.trace))
    if len(names) == 1:
        print(json.dumps(lines[names[0]]))
    else:
        print(json.dumps({
            "correct": all(v["correct"] for v in lines.values()),
            "attempted": sum(v["attempted"] for v in lines.values()),
            "failed": sum(v["failed"] for v in lines.values()),
            "metrics": {f"{w}.{k}": v for w, line in lines.items() for k, v in line["metrics"].items()},
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
