"""Catalog registry: CRUD with conflict/dependency checks, JSON/YAML
persistence, and execution semantics.

Reference parity:
- add/get/update/delete with ErrAlreadyExists on name conflicts
  (railgun/catalog/Catalog.go:62-84) and dependency-checked deletes
  (railgun/catalog/RailgunCatalog.go:405-501)
- LoadFromUri/SaveToUri for the whole catalog in any document format
  (railgun/catalog/RailgunCatalog.go:531-729, :967)
- service exec variable merge: session cache -> service defaults ->
  request variables (railgun/handlers/ServiceExecHandler.go:96-130);
  returned assignments are cached per service for session continuity
  (ServiceExecHandler.go:282-290)
- datastore uri is itself a DFL expression evaluated against variables
  (ServiceExecHandler.go:132)
- workflow exec runs jobs sequentially, sharing variables
  (railgun/handlers/WorkflowExecHandler.go:79-186)
- TTL'd dataframe cache keyed by source mtime
  (railgun/cache/Cache.go:25-79, ServiceExecHandler.go:159-278)
- one bounded memo of tile responses (encoded body + mimetype), the
  reference's 5-minute layer cache (cache/Cache.go:79): an entry holds
  while its layer's source mtime is unchanged, it is younger than
  ttl_seconds, and no Layer/DataStore update or delete has landed since
  its compute started
"""

from __future__ import annotations

import json
import os
import threading as _threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from railgun_spark.catalog.models import (
    MODEL_TYPES,
    DataStore,
    Job,
    Layer,
    Process,
    Service,
    Workflow,
    Workspace,
    to_dict,
)
from railgun_spark.dfl import run_pipeline
from railgun_spark.dfl import parser as _dfl_parser
from railgun_spark.dfl.ast import Literal
from railgun_spark.dfl.compiler import Context, compile_expr
from railgun_spark.sources import formats


class AlreadyExists(ValueError):
    pass


class NotFound(KeyError):
    pass


class DependencyError(ValueError):
    pass


_PLURAL = {
    Workspace: "workspaces",
    DataStore: "datastores",
    Layer: "layers",
    Process: "processes",
    Service: "services",
    Job: "jobs",
    Workflow: "workflows",
}


def _source_mtime(uri: str) -> float:
    """Modification time of a local source, -1.0 for anything else
    (missing path, stored_query://, jdbc:)."""
    try:
        return os.path.getmtime(uri)
    except OSError:
        return -1.0


@dataclass
class _CacheEntry:
    df: DataFrame
    mtime: float
    loaded_at: float


@dataclass
class Catalog:
    spark: SparkSession
    ttl_seconds: float = 300.0  # layer/service cache TTL (cache/Cache.go:79)
    objects: dict[str, dict[str, object]] = field(
        default_factory=lambda: {p: {} for p in _PLURAL.values()}
    )
    _df_cache: dict[str, _CacheEntry] = field(default_factory=dict)
    _service_vars: dict[str, dict] = field(default_factory=dict)
    # (layer, route key) -> (source mtime, stored_at, (body, mimetype)),
    # filled by `cached`. Bounded (oldest insertion evicted); the
    # generation is bumped by every Layer/DataStore update or delete so
    # a result computed across an invalidation is never stored
    _tile_memo: dict[tuple, tuple] = field(default_factory=dict)
    _tile_memo_max: int = 512
    _tile_memo_lock: object = field(default_factory=_threading.Lock)
    _tile_memo_gen: int = 0

    # ---- CRUD (GroupHandler/ItemHandler semantics) ----
    def add(self, obj) -> None:
        bucket = self.objects[_PLURAL[type(obj)]]
        if obj.name in bucket:
            raise AlreadyExists(f"{type(obj).__name__} {obj.name!r} already exists")
        bucket[obj.name] = obj

    def get(self, kind: type, name: str):
        bucket = self.objects[_PLURAL[kind]]
        if name not in bucket:
            raise NotFound(f"{kind.__name__} {name!r}")
        return bucket[name]

    def update(self, obj) -> None:
        bucket = self.objects[_PLURAL[type(obj)]]
        if obj.name not in bucket:
            raise NotFound(f"{type(obj).__name__} {obj.name!r}")
        bucket[obj.name] = obj
        if isinstance(obj, (Layer, DataStore)):
            # tiles computed under the old definition must not be served
            self._clear_tile_memo()

    def list(self, kind: type) -> list:
        return sorted(self.objects[_PLURAL[kind]].values(), key=lambda o: o.name)

    def delete(self, kind: type, name: str) -> None:
        """Dependency-checked delete (RailgunCatalog.go:405-501)."""
        self.get(kind, name)
        deps = self._dependents(kind, name)
        if deps:
            raise DependencyError(f"{kind.__name__} {name!r} is used by {deps}")
        del self.objects[_PLURAL[kind]][name]
        if kind in (Layer, DataStore):
            # delete-then-re-add under the same name (same rule as update)
            self._clear_tile_memo()

    def _clear_tile_memo(self) -> None:
        with self._tile_memo_lock:
            self._tile_memo_gen += 1
            self._tile_memo.clear()

    def _dependents(self, kind: type, name: str) -> list[str]:
        deps: list[str] = []
        if kind is DataStore:
            deps += [l.name for l in self.list(Layer) if l.datastore == name]
            deps += [s.name for s in self.list(Service) if s.datastore == name]
            deps += [j.name for j in self.list(Job) if j.output == name]
        if kind is Process:
            deps += [s.name for s in self.list(Service) if s.process == name]
        if kind is Service:
            deps += [j.name for j in self.list(Job) if j.service == name]
        if kind is Job:
            deps += [w.name for w in self.list(Workflow) if name in w.jobs]
        if kind is Workspace:
            deps += [d.name for d in self.list(DataStore) if d.workspace == name]
        return deps

    # ---- persistence (LoadFromUri/SaveToUri parity) ----
    def save(self, path: str) -> None:
        # MODEL_TYPES keys verbatim ('DataStore', not 'Datastore') — load()
        # reads the same keys, so every type round-trips.
        doc = {key: [to_dict(o) for o in self.list(kind)] for key, kind in MODEL_TYPES.items()}
        with open(path, "w") as f:
            if path.endswith((".yaml", ".yml")):
                import yaml

                yaml.safe_dump(doc, f)
            else:
                json.dump(doc, f, indent=2)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "Catalog":
        with open(path) as f:
            if path.endswith((".yaml", ".yml")):
                import yaml

                doc = yaml.safe_load(f)
            else:
                doc = json.load(f)
        cat = cls(spark)
        for key, kind in MODEL_TYPES.items():
            for item in doc.get(key, []) or []:
                cat.add(kind(**item))
        return cat

    # ---- execution ----
    def _resolve_uri(self, uri: str, variables: dict) -> str:
        """DataStore uris are DFL expressions over $variables
        (core/DataStore.go:19, hostosm.sh:20)."""
        try:
            node = _dfl_parser.parse(uri)
        except Exception:
            return uri
        if isinstance(node, Literal):
            return str(node.value)
        ctx = Context(df=None, variables=dict(variables))
        # static evaluation: string concat of literals/variables
        from railgun_spark.dfl.ast import Binary, Variable

        def ev(n) -> str:
            if isinstance(n, Literal):
                return str(n.value)
            if isinstance(n, Variable):
                return str(variables[n.name])
            if isinstance(n, Binary) and n.op == "+":
                return ev(n.left) + ev(n.right)
            raise ValueError(f"unsupported uri expression node {n}")

        return ev(node)

    # stored SQL queries addressable as `stored_query://<name>` datastore
    # uris — the Spark-native twin of the reference's `athena://` stored-
    # query source (railgun/cli/process.go:423-517,
    # railgun/athenaiterator/AthenaIterator.go:22-78): where railgun pages
    # Athena results of a saved query, we run the saved SQL on the session
    # catalog and get a distributed DataFrame directly.
    stored_queries: dict[str, str] = field(default_factory=dict)

    def add_stored_query(self, name: str, sql: str) -> None:
        if name in self.stored_queries:
            raise AlreadyExists(f"stored query {name!r} already exists")
        self.stored_queries[name] = sql

    def load_datastore(self, name: str, variables: dict | None = None) -> DataFrame:
        """mtime-keyed TTL cache around the datastore read
        (ServiceExecHandler.go:159-278)."""
        ds: DataStore = self.get(DataStore, name)
        uri = self._resolve_uri(ds.uri, variables or {})
        if uri.startswith("stored_query://"):
            qname = uri[len("stored_query://") :]
            if qname not in self.stored_queries:
                raise NotFound(f"stored query {qname!r}")
            return self.spark.sql(self.stored_queries[qname])
        if uri.startswith("jdbc:"):
            # external-warehouse passthrough (athena/postgres/...): pushdown
            # + partitioned range reads via the vendor driver (sources/jdbc.py)
            from railgun_spark.sources.jdbc import read_jdbc

            return read_jdbc(self.spark, uri)
        mtime = _source_mtime(uri)
        now = time.time()
        ent = self._df_cache.get(uri)
        if ent and ent.mtime == mtime and now - ent.loaded_at < self.ttl_seconds:
            return ent.df
        if ent is not None:
            # expired or stale: release executor memory before re-caching
            ent.df.unpersist()
        df = formats.read(self.spark, uri, fmt=ds.format)
        df = df.cache()
        self._df_cache[uri] = _CacheEntry(df=df, mtime=mtime, loaded_at=now)
        return df

    def layer_frame(self, name: str, variables: dict | None = None) -> DataFrame:
        layer: Layer = self.get(Layer, name)
        merged = {**layer.defaults, **(variables or {})}
        df = self.load_datastore(layer.datastore, merged)
        if layer.expression:
            df = run_pipeline(df, layer.expression, merged)
        return df

    def layer_mask_grid(
        self, name: str, z: int, x: int, y: int,
        mask_zoom: int, threshold: int,
    ) -> list:
        """Mask grid of one layer tile (LayerMaskHandler.go), uncached:
        the mask route memoizes its encoded body through `cached`."""
        from railgun_spark.geo import serving

        layer: Layer = self.get(Layer, name)
        return serving.tile_mask_grid(
            self.layer_frame(name), z, x, y,
            mask_zoom=mask_zoom, threshold=threshold,
            layer_extent=tuple(layer.extent) if layer.extent else None,
        )

    def layer_tile_features(
        self, name: str, z: int, x: int, y: int,
        limit: int | None = None, user_dfl: str | None = None,
        buffer_tiles: int = 1,
    ) -> list:
        """GeoJSON features of one layer tile (LayerTileHandler.go),
        uncached: the data route memoizes its body through `cached`."""
        from railgun_spark.geo import serving

        layer: Layer = self.get(Layer, name)
        return serving.tile_data(
            self.layer_frame(name), z, x, y,
            layer_extent=tuple(layer.extent) if layer.extent else None,
            user_dfl=user_dfl, limit=limit, buffer_tiles=buffer_tiles,
        )

    def cached(self, layer: str, key: tuple, compute):
        """Memoized `compute()` for a response derived from `layer`,
        stored under (layer, key). A hit needs the layer's source mtime
        unchanged and an entry younger than ttl_seconds; stored_query://
        and jdbc: sources have no mtime and rely on the TTL alone, as in
        the reference. The lock covers dict operations only, so Spark
        jobs run unlocked; a result computed while an update or delete
        landed goes to its caller but is not stored."""
        lyr: Layer = self.get(Layer, layer)
        ds: DataStore = self.get(DataStore, lyr.datastore)
        mtime = _source_mtime(self._resolve_uri(ds.uri, lyr.defaults or {}))
        key = (layer, key)
        now = time.time()
        with self._tile_memo_lock:
            ent = self._tile_memo.get(key)
            gen = self._tile_memo_gen
        if ent and ent[0] == mtime and now - ent[1] < self.ttl_seconds:
            return ent[2]
        value = compute()
        with self._tile_memo_lock:
            if gen == self._tile_memo_gen:
                self._tile_memo.pop(key, None)  # a refresh moves to the newest end
                if len(self._tile_memo) >= self._tile_memo_max:
                    self._tile_memo.pop(next(iter(self._tile_memo)))
                self._tile_memo[key] = (mtime, now, value)
        return value

    def exec_service(self, name: str, variables: dict | None = None):
        """cache -> defaults -> request variable merge
        (ServiceExecHandler.go:96-130)."""
        svc: Service = self.get(Service, name)
        proc: Process = self.get(Process, svc.process)
        merged = {
            **self._service_vars.get(name, {}),
            **svc.defaults,
            **(variables or {}),
        }
        df = self.load_datastore(svc.datastore, merged)
        result, final_vars = run_pipeline(df, proc.expression, merged, return_vars=True)
        # session continuity (ServiceExecHandler.go:282-290): cache scalar
        # bindings the DFL evaluation produced or REBOUND — but never the
        # caller's request variables passing through unchanged, which must
        # not leak into later requests.
        from pyspark.sql import Column

        def _evaluation_bound(k, v) -> bool:
            if isinstance(v, (DataFrame, Column)):
                return False
            if k not in merged:
                return True
            try:
                return bool(v != merged[k])
            except (TypeError, ValueError):  # incomparable (e.g. ndarray): rebound object
                return v is not merged[k]

        self._service_vars.setdefault(name, {}).update(
            {k: v for k, v in final_vars.items() if _evaluation_bound(k, v)}
        )
        return result

    def exec_job(self, name: str, extra_variables: dict | None = None):
        job: Job = self.get(Job, name)
        variables = {**job.variables, **(extra_variables or {})}
        result = self.exec_service(job.service, variables)
        if job.output is not None and isinstance(result, DataFrame):
            out: DataStore = self.get(DataStore, job.output)
            uri = self._resolve_uri(out.uri, variables)
            formats.write(result, uri, fmt=out.format)
        return result

    def exec_workflow(self, name: str) -> list:
        """Sequential job execution with shared variables
        (WorkflowExecHandler.go:79-186)."""
        wf: Workflow = self.get(Workflow, name)
        results = []
        for job_name in wf.jobs:
            results.append(self.exec_job(job_name, wf.variables))
        return results
