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
- one TTL'd, source-mtime-stamped memo type (`Memo`) for parsed frames,
  mask grids, tile features and small layers' driver-side snapshots
  (railgun/cache/Cache.go:25-79, ServiceExecHandler.go:159-278);
  server.py reuses it for encoded bodies
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


# parsed frames held at once for DataStore uris that read request
# $variables: each distinct value resolves to a new key, and each frame is
# a ``.cache()``d dataset in executor memory. Frames of uris without `$`
# are not counted here: the catalog's DataStores bound them.
_VARIABLE_FRAME_CAPACITY = 16


def _source_mtime(uri: str) -> float:
    """The cache stamp of a datastore uri: its mtime, or -1 for sources
    without one (stored_query://, jdbc:), which fall back to TTL only."""
    return os.path.getmtime(uri) if os.path.exists(uri) else -1.0


class Memo:
    """Bounded TTL memo behind every serve-path cache — the reference's
    one cache (cache/Cache.go:25-79). An entry is served while its stamp
    matches and it is younger than ``ttl``; a full memo drops its oldest
    insertion. ``clear()`` bumps a generation: a value computed under an
    older generation goes back to its caller but is never stored.
    Single flight: a miss on a key computing under the same generation and
    stamp waits for that compute and shares its value (if it raises, a
    waiter computes again). Only the thread that owns a flight computes
    past it, should its compute reach its own key. ``drop`` releases each
    value that leaves the memo (frames: ``unpersist``)."""

    def __init__(self, capacity: int, drop=None):
        self.capacity = capacity
        self._drop = drop
        self._entries: dict = {}  # key -> (stamp, stored_at, value)
        self._flights: dict = {}  # key -> (gen, stamp, owner, done, [value])
        self._gen = 0
        self._lock = _threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key, stamp, ttl: float, compute):
        while True:
            now = time.time()
            with self._lock:
                gen = self._gen
                ent = self._entries.get(key)
                if ent is not None and ent[0] == stamp and now - ent[1] < ttl:
                    return ent[2]
                me = _threading.get_ident()
                running = self._flights.get(key)
                if running is not None and running[:3] == (gen, stamp, me):
                    flight, gone = None, []  # re-entered from its own compute
                    break
                if running is None or running[:2] != (gen, stamp):
                    # a stale entry is released BEFORE the recompute:
                    # Spark keeps one cache entry per equal frame plan, so
                    # a re-read of the same uri would otherwise be served
                    # the old cached data
                    gone = [self._entries.pop(key)] if ent is not None else []
                    flight = (gen, stamp, me, _threading.Event(), [])
                    self._flights[key] = flight
                    break
            running[3].wait()
            if running[4]:
                return running[4][0]
        self._release(gone)
        try:
            value = compute()
        except BaseException:
            with self._lock:
                self._land(key, flight)
            raise
        with self._lock:
            ent = self._entries.get(key)
            if gen != self._gen:
                # computed under an older definition: the caller gets it,
                # the memo does not. It is released unless a current entry
                # holds the key, whose equal frame plan shares its one
                # Spark cache entry.
                gone = [] if ent is not None else [(stamp, now, value)]
            elif ent is not None and ent[0] == stamp:
                # another compute of this key and stamp landed first (a
                # re-entry, or a flight displaced by one for another
                # stamp): share its value, for the same reason
                value, gone = ent[2], []
            else:
                gone = [self._entries.pop(key)] if ent is not None else []
                if len(self._entries) >= self.capacity:
                    gone.append(self._entries.pop(next(iter(self._entries))))
                self._entries[key] = (stamp, now, value)
            self._land(key, flight, value)
        self._release(gone)
        return value

    def _land(self, key, flight, *value) -> None:
        """End ``flight`` under the lock; its waiters wake with ``value``."""
        if flight is not None:
            if self._flights.get(key) is flight:
                del self._flights[key]
            flight[4].extend(value)
            flight[3].set()

    def clear(self) -> None:
        with self._lock:
            self._gen += 1
            gone = list(self._entries.values())
            self._entries.clear()
        self._release(gone)

    def _release(self, entries: list) -> None:
        if self._drop is not None:
            for _, _, value in entries:
                self._drop(value)


@dataclass
class Catalog:
    spark: SparkSession
    ttl_seconds: float = 300.0  # layer/service cache TTL (cache/Cache.go:79)
    objects: dict[str, dict[str, object]] = field(
        default_factory=lambda: {p: {} for p in _PLURAL.values()}
    )
    _service_vars: dict[str, dict] = field(default_factory=dict)
    # (resolved uri, format) -> parsed, cached source frame; unbounded for
    # uris without `$`, see _VARIABLE_FRAME_CAPACITY
    _frames: Memo = field(
        default_factory=lambda: Memo(float("inf"), drop=DataFrame.unpersist)
    )
    _variable_frames: Memo = field(
        default_factory=lambda: Memo(_VARIABLE_FRAME_CAPACITY, drop=DataFrame.unpersist)
    )
    # (layer, z, x, y, mask_zoom, threshold) -> mask grid: the DRIVER-TINY
    # (<= 2^8 x 2^8 ints) unit, because the groupBy grid is where the
    # serve wall goes (SERVE_CONC_SF1_r15: ~1.1-1.3 s / request)
    _grids: Memo = field(default_factory=lambda: Memo(1024))
    # (layer, z, x, y, limit, user_dfl, buffer_tiles) -> GeoJSON feature
    # list: smaller cap, a unit holds up to `limit` features
    _tiles: Memo = field(default_factory=lambda: Memo(256))
    # (layer,) -> serving.LayerSnapshot, or None for a layer over
    # spark.sql.autoBroadcastJoinThreshold, whose tiles run on Spark: each
    # unit is within that threshold (64 MiB by default)
    _snapshots: Memo = field(default_factory=lambda: Memo(16))

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
        self._invalidate(type(obj))

    def list(self, kind: type) -> list:
        return sorted(self.objects[_PLURAL[kind]].values(), key=lambda o: o.name)

    def delete(self, kind: type, name: str) -> None:
        """Dependency-checked delete (RailgunCatalog.go:405-501)."""
        self.get(kind, name)
        deps = self._dependents(kind, name)
        if deps:
            raise DependencyError(f"{kind.__name__} {name!r} is used by {deps}")
        del self.objects[_PLURAL[kind]][name]
        self._invalidate(kind)

    def _invalidate(self, kind: type) -> None:
        """Drop what was cached under a definition that just changed: a
        datastore's parsed frames and everything derived from them, a
        layer's grids, tiles and snapshot. Clearing every frame frees the
        replaced one at once and keeps ``_frames`` within the live
        DataStores; the other memos are driver-bounded, so a selective
        purge is not worth it."""
        if kind is DataStore:
            self._frames.clear()
            self._variable_frames.clear()
        if kind in (Layer, DataStore):
            self._grids.clear()
            self._tiles.clear()
            self._snapshots.clear()

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
        memo = self._variable_frames if "$" in ds.uri else self._frames
        return memo.get(
            (uri, ds.format), _source_mtime(uri), self.ttl_seconds,
            lambda: formats.read(self.spark, uri, fmt=ds.format).cache(),
        )

    def layer_frame(self, name: str, variables: dict | None = None) -> DataFrame:
        layer: Layer = self.get(Layer, name)
        merged = {**layer.defaults, **(variables or {})}
        df = self.load_datastore(layer.datastore, merged)
        if layer.expression:
            df = run_pipeline(df, layer.expression, merged)
        return df

    def _layer_memo(self, memo: Memo, name: str, key: tuple, compute):
        """``compute(layer_extent)`` for layer ``name`` through ``memo``,
        stamped with the layer's source mtime: a warm repeat skips the
        Spark job; a datastore rewrite (mtime), a layer or datastore
        update or delete, or TTL expiry recomputes."""
        layer: Layer = self.get(Layer, name)
        ds: DataStore = self.get(DataStore, layer.datastore)
        uri = self._resolve_uri(ds.uri, layer.defaults or {})
        extent = tuple(layer.extent) if layer.extent else None
        return memo.get(
            (name, *key), _source_mtime(uri), self.ttl_seconds,
            lambda: compute(extent),
        )

    def layer_mask_grid(
        self, name: str, z: int, x: int, y: int,
        mask_zoom: int, threshold: int,
    ) -> list:
        """Cached mask grid for the tile mask route — the reference's
        layer cache (cache/Cache.go:79, 5-min TTL) applied at the grid
        level, so a warm repeat skips the whole groupBy."""
        from railgun_spark.geo import serving

        return self._layer_memo(
            self._grids, name, (z, x, y, mask_zoom, threshold),
            lambda extent: serving.tile_mask_grid(
                self.layer_frame(name), z, x, y, mask_zoom=mask_zoom,
                threshold=threshold, layer_extent=extent,
            ),
        )

    def layer_tile_features(
        self, name: str, z: int, x: int, y: int,
        limit: int | None = None, user_dfl: str | None = None,
        buffer_tiles: int = 1,
    ) -> list:
        """Cached data-tile features — the reference caches layer DATA
        with the same TTL (cache/Cache.go:25-79); without it the data
        route re-ran the bbox filter + collect per request (warm p50
        0.38-0.43 s at 12-wide sf1, SERVE_CONC_SF1_r16, vs the mask's
        31-36 ms). The cached unit is the GeoJSON feature list. A miss
        on a small layer is answered from the layer's snapshot without a
        Spark job; a user dfl or a layer over the snapshot gate runs the
        bbox filter + collect on Spark."""
        from railgun_spark.geo import serving

        def compute(extent):
            snap = None if user_dfl else self._layer_memo(
                self._snapshots, name, (),
                lambda _: serving.layer_snapshot(self.layer_frame(name)),
            )
            return serving.tile_data(
                self.layer_frame(name) if snap is None else snap, z, x, y,
                layer_extent=extent, user_dfl=user_dfl, limit=limit,
                buffer_tiles=buffer_tiles,
            )

        return self._layer_memo(
            self._tiles, name, (z, x, y, limit, user_dfl, buffer_tiles), compute
        )

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
