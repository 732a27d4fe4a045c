"""CubeStore: cube lifecycle + catalog state (the engine's OphidiaDB).

The reference keeps cubes/containers/folders/metadata/provenance in MySQL
(/root/reference/src/oph_ophidiadb_query.h) and fragments on I/O nodes; here
cube payloads are parquet directories under a workspace and the catalog is
driver-side state (tiny — one row per cube). `as_catalog` snapshots the
catalog as plain rows (catalog.RowCatalog), which filters.compile_massive
evaluates in the driver as they are, so a massive-filter expansion launches
no Spark job.

Hot cubes live in Spark's memory store. The first `get` of a cube
materialized as parquet reads it and `cache()`s that read on the entry
(`CubeEntry.df`), so later requests scan columnar blocks in executor memory
instead of planning and scanning the files again. One byte budget,
`CUBE_CACHE_BUDGET_BYTES`, bounds the cubes one store keeps there, each sized
by its files; the least recently fetched cube is evicted first, and a cube
larger than the whole budget is read but not cached. `delete`,
`deletecontainer`, eviction and the end of the store (a finalizer over its
cached frames) unpersist a cube, because the session's CacheManager would
otherwise keep it past its owner. Bucketed `table:` cubes are read, not
cached (they exist for exchange-free joins); virtual cubes are lazy plans
and never cached.

Covers the lifecycle operator surface: register (the imports of io_ops build
the cubes it registers), duplicate (oph_duplicate), delete (oph_delete),
deletecontainer, createcontainer/folder ops, metadata CRUD (oph_metadata),
cubeschema/cubesize/cubeelements, explorecube, list, and the provenance graph
(cubeio).
Session scoping follows the reference's path-prefix model
(oph_filters.c:576-601).
"""

from __future__ import annotations

import os
import shutil
import threading
import weakref
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ophidia_server_spark.catalog import RowCatalog
from ophidia_server_spark.cube import DIM_COL, MEASURE_COL, Cube

# File bytes of the materialized cubes one store keeps in Spark's memory
# store. Cached cubes take more room than their zstd parquet: the perfbench
# supplier x month cube (1,000 x 12) is 21.7 KB of files and 185 KB cached,
# 8.5x, so 32 MB of files is about 270 MB of executor memory.
CUBE_CACHE_BUDGET_BYTES = 32 << 20


@dataclass
class CubeEntry:
    pid: str
    cube_id: int
    container: str
    path: str
    level: int
    measure: str
    explicit_dims: tuple[str, ...]
    implicit_dims: tuple[str, ...]
    storage: str | None = None  # parquet dir if materialized
    cube: Cube | None = None  # lazy plan if virtual
    # the read of `storage`, made by the first get() and reused (the files
    # never change); cached in Spark's memory store when the entry is a
    # parquet dir that fits the store's budget (CubeStore._tier), and
    # unpersisted by delete() or eviction
    df: DataFrame | None = None


@dataclass
class CubeStore:
    spark: SparkSession
    workspace: str
    session_prefix: str = "/sess1"
    base_url: str = "http://spark-engine"
    _next_id: int = 1
    entries: dict[str, CubeEntry] = field(default_factory=dict)
    # cube id -> PID of every entry, kept with `entries` (_add, delete), so a
    # massive expansion resolves each id without scanning the catalog
    by_id: dict[int, str] = field(default_factory=dict, repr=False, compare=False)
    metadata: dict[int, dict[str, str]] = field(default_factory=dict)
    lineage: list[tuple[int, str, int]] = field(default_factory=list)  # (out, task, in)
    folders: set[str] = field(default_factory=set)
    # container name -> id for [container_pid=...]; names are never removed,
    # so an id is never given to a second container
    containers: dict[str, int] = field(default_factory=dict)
    # pid -> (file bytes, cached read) of the cubes in Spark's memory store,
    # least recently fetched first; the lock covers first fetches and this
    _tier: OrderedDict[str, tuple[int, DataFrame]] = field(
        default_factory=OrderedDict, repr=False, compare=False)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False, compare=False)

    def __post_init__(self):
        # the CacheManager is the session's, so a dropped store must release
        # its cubes; the finalizer holds the tier, not the store
        weakref.finalize(self, _unpersist_all, self._tier).atexit = False

    # -- containers / folders -------------------------------------------------
    def container_id(self, container: str) -> int:
        """The container's id, assigned on first use."""
        if container not in self.containers:
            self.containers[container] = len(self.containers) + 1
        return self.containers[container]

    def createcontainer(self, container: str, path: str = "/") -> str:
        """oph_createcontainer (oph_json_objkeys.h:122): register a namespace."""
        full = self._scoped(path).rstrip("/") + "/" + container
        self.folders.add(full)
        self.container_id(container)
        return full

    def folder(self, action: str, path: str, to: str | None = None) -> None:
        """oph_folder (oph_json_objkeys.h:124): mkdir/mv/rm on the virtual
        tree. mv re-prefixes the folder and every cube path under it."""
        full = self._scoped(path)
        if action == "mkdir":
            self.folders.add(full)
        elif action == "rm":
            self.folders.discard(full)
        elif action == "mv":
            if to is None:
                raise ValueError("folder mv requires a destination")
            dest = self._scoped(to)
            moved = {f for f in self.folders if f == full or f.startswith(full + "/")}
            self.folders -= moved
            self.folders |= {dest + f[len(full):] for f in moved}
            for e in self.entries.values():
                if e.path == full or e.path.startswith(full + "/"):
                    e.path = dest + e.path[len(full):]
        else:
            raise ValueError(f"unsupported folder action {action!r}")

    def movecontainer(self, container: str, to_path: str) -> None:
        """oph_movecontainer (oph_json_objkeys.h:127): re-home every cube of a
        container to another folder."""
        dest = self._scoped(to_path)
        found = False
        for e in self.entries.values():
            if e.container == container:
                e.path = dest
                found = True
        if not found:
            raise KeyError(f"container {container!r} not found")
        self.folders.add(dest)

    def restorecontainer(self, container: str) -> int:
        """oph_restorecontainer (oph_json_objkeys.h:126): bring back a
        soft-deleted (trashed) container's cubes. Returns restored count."""
        n = 0
        for e in self.entries.values():
            if e.container == container and e.path.startswith(self._trash_prefix()):
                e.path = e.path[len(self._trash_prefix()):] or "/"
                if not e.path.startswith(self.session_prefix):
                    e.path = self.session_prefix + e.path
                n += 1
        if n == 0:
            raise KeyError(f"container {container!r} has no trashed cubes")
        return n

    def trashcontainer(self, container: str) -> int:
        """Soft delete: move a container's cubes under the session trash
        prefix (the reference's deletecontainer keeps a restorable copy the
        restorecontainer operator recovers)."""
        n = 0
        for e in self.entries.values():
            if e.container == container and not e.path.startswith(self._trash_prefix()):
                e.path = self._trash_prefix() + e.path
                n += 1
        return n

    def _trash_prefix(self) -> str:
        return self.session_prefix + "/.trash"

    def _scoped(self, path: str) -> str:
        if not path.startswith("/"):
            path = "/" + path
        if not path.startswith(self.session_prefix):
            path = self.session_prefix + path
        return path

    # -- import / create ------------------------------------------------------
    def register(
        self,
        cube: Cube,
        container: str,
        path: str = "/",
        measure: str | None = None,
        parents: list[str] | None = None,
        task: str = "import",
        materialize: bool = False,
    ) -> str:
        cid = self._next_id
        self._next_id += 1
        self.container_id(container)
        pid = f"{self.base_url}/{container}/{cid}"
        storage = None
        if materialize:
            storage = os.path.join(self.workspace, f"cube_{cid}")
            cube.df.write.mode("overwrite").parquet(storage)
        self._add(CubeEntry(
            pid=pid,
            cube_id=cid,
            container=container,
            path=self._scoped(path).rstrip("/") + "/" + container,
            level=cube.level,
            measure=measure or cube.measure,
            explicit_dims=cube.explicit_dims,
            implicit_dims=cube.implicit_dims,
            storage=storage,
            cube=None if materialize else cube,
        ))
        for p in parents or []:
            self.lineage.append((cid, task, self.entries[p].cube_id))
        return pid

    def register_bucketed(self, cube: Cube, container: str, n_buckets: int = 16,
                          path: str = "/", table_prefix: str = "cube_b") -> str:
        """Materialize a cube bucketed by its explicit dims (saveAsTable +
        bucketBy). Two cubes bucketed the same way join/aggregate on those
        dims with NO exchange — the co-located join path for repeated
        intercube/mergecubes pipelines at scale (bucket count picked per
        deployment; 16 locally). Returns the PID; the entry's `storage` holds
        the table name prefixed with 'table:'."""
        cid = self._next_id
        self._next_id += 1
        self.container_id(container)
        pid = f"{self.base_url}/{container}/{cid}"
        tbl = f"{table_prefix}_{cid}"
        (
            cube.df.write.mode("overwrite")
            .bucketBy(n_buckets, *cube.explicit_dims)
            .sortBy(*cube.explicit_dims)
            .option("path", os.path.join(self.workspace, tbl))
            .saveAsTable(tbl)
        )
        self._add(CubeEntry(
            pid=pid, cube_id=cid, container=container,
            path=self._scoped(path).rstrip("/") + "/" + container,
            level=cube.level, measure=cube.measure,
            explicit_dims=cube.explicit_dims, implicit_dims=cube.implicit_dims,
            storage=f"table:{tbl}", cube=None,
        ))
        return pid

    def _add(self, e: CubeEntry) -> None:
        self.entries[e.pid] = e
        self.by_id[e.cube_id] = e.pid

    # -- fetch ----------------------------------------------------------------
    def get(self, pid: str) -> Cube:
        e = self.entries[pid]
        if e.cube is not None:
            return e.cube
        with self._lock:
            if e.df is None:
                e.df = self._read(e)
            elif pid in self._tier:
                self._tier.move_to_end(pid)
            df = e.df  # an eviction after the lock resets e.df
        return Cube(df=df, explicit_dims=e.explicit_dims, implicit_dims=e.implicit_dims,
                    measure=e.measure, level=e.level)

    def _read(self, e: CubeEntry) -> DataFrame:
        """Read a materialized cube; a parquet dir that fits the budget is
        cached, evicting the least recently fetched cubes to make room."""
        if e.storage.startswith("table:"):  # bucketed table
            return self.spark.table(e.storage[len("table:"):])
        df = self.spark.read.parquet(e.storage)
        size = _dir_bytes(self._files(e))
        if size > CUBE_CACHE_BUDGET_BYTES:
            return df
        while sum(b for b, _ in self._tier.values()) + size > CUBE_CACHE_BUDGET_BYTES:
            old = next(iter(self._tier))
            self._uncache(old)
            self.entries[old].df = None  # a later fetch reads it back in
        self._tier[e.pid] = (size, df.cache())
        return df

    def _uncache(self, pid: str) -> None:
        held = self._tier.pop(pid, None)
        if held is not None:
            held[1].unpersist()

    def _files(self, e: CubeEntry) -> str | None:
        """The directory holding a materialized cube's files: its parquet dir,
        or a bucketed table's path (register_bucketed)."""
        if e.storage and e.storage.startswith("table:"):
            return os.path.join(self.workspace, e.storage[len("table:"):])
        return e.storage

    # -- lifecycle ------------------------------------------------------------
    def duplicate(self, pid: str) -> str:
        """oph_duplicate (oph_json_objkeys.h:78/102)."""
        e = self.entries[pid]
        cube = self.get(pid)
        return self.register(
            cube, e.container, path="/", measure=e.measure, parents=[pid], task="duplicate"
        )

    def delete(self, pid: str) -> None:
        """oph_delete (oph_json_objkeys.h:105): drop storage + catalog row."""
        with self._lock:
            e = self.entries.pop(pid)
            del self.by_id[e.cube_id]
            self._uncache(pid)
        self.metadata.pop(e.cube_id, None)
        if e.storage and e.storage.startswith("table:"):
            self.spark.sql(f"DROP TABLE IF EXISTS {e.storage[len('table:'):]}")
        files = self._files(e)
        if files and os.path.isdir(files):
            shutil.rmtree(files)

    def deletecontainer(self, container: str) -> int:
        """oph_deletecontainer (oph_json_objkeys.h:107): drop all cubes in it."""
        pids = [p for p, e in self.entries.items() if e.container == container]
        for p in pids:
            self.delete(p)
        return len(pids)

    # -- metadata (oph_metadata, oph_json_objkeys.h:132-133) ------------------
    def metadata_put(self, pid: str, key: str, value: str) -> None:
        self.metadata.setdefault(self.entries[pid].cube_id, {})[key] = value

    def metadata_get(self, pid: str, key: str | None = None):
        kv = self.metadata.get(self.entries[pid].cube_id, {})
        return kv if key is None else kv.get(key)

    def metadata_delete(self, pid: str, key: str) -> None:
        self.metadata.get(self.entries[pid].cube_id, {}).pop(key, None)

    # -- introspection --------------------------------------------------------
    def cubeschema(self, pid: str) -> dict:
        """oph_cubeschema (oph_json_objkeys.h:48-51)."""
        e = self.entries[pid]
        cube = self.get(pid)
        return {
            "pid": pid,
            "measure": e.measure,
            "measure_type": dict(cube.df.dtypes).get(MEASURE_COL, "array<double>"),
            "explicit_dims": list(e.explicit_dims),
            "implicit_dims": list(e.implicit_dims),
            "level": e.level,
            "container": e.container,
        }

    def cubeelements(self, pid: str) -> int:
        """oph_cubeelements (oph_json_objkeys.h:45): total cell count."""
        cube = self.get(pid)
        row = cube.df.agg(F.sum(F.size(MEASURE_COL)).alias("n")).first()
        return int(row["n"] or 0)

    def cubesize(self, pid: str) -> int:
        """oph_cubesize (oph_json_objkeys.h:42): bytes on storage (materialized)
        or an 8-byte/cell estimate for virtual cubes."""
        files = self._files(self.entries[pid])
        if files and os.path.isdir(files):
            return _dir_bytes(files)
        return self.cubeelements(pid) * 8

    def explorecube(self, pid: str, limit: int = 100) -> DataFrame:
        """oph_explorecube (oph_json_objkeys.h:81-83): peek the long form."""
        return self.get(pid).long().limit(limit)

    def explorecube_response(self, pid: str, limit: int = 100) -> dict:
        """oph_explorecube rendered as the reference's multigrid objclass
        (oph_json_multigrid.h:36-72): row keys = explicit dims, column keys =
        the implicit dim's values, matrix = the measure arrays."""
        from ophidia_server_spark.plans.response import multigrid

        c = self.get(pid)
        e = self.entries[pid]
        return multigrid(
            c.df,
            explicit_dims=list(c.explicit_dims),
            implicit_dim=DIM_COL,
            measure_col=MEASURE_COL,
            measure_name=e.measure,
            title=f"explorecube {pid}",
            limit=limit,
        )

    def list(self, level: int = 2, path: str | None = None) -> list[dict]:
        """oph_list (oph_json_objkeys.h:35; levels oph_ophidiadb_fs_library.h:41-45):
        0 = folders, 1 = +containers, 2 = +cubes."""
        out: list[dict] = []
        scope = self._scoped(path) if path else self.session_prefix
        if level >= 0:
            for f in sorted(self.folders):
                if f.startswith(scope):
                    out.append({"type": "folder", "path": f})
        if level >= 1:
            seen = set()
            for e in self.entries.values():
                if e.container not in seen and e.path.startswith(scope):
                    seen.add(e.container)
                    out.append({"type": "container", "container": e.container, "path": e.path})
        if level >= 2:
            for e in self.entries.values():
                if e.path.startswith(scope):
                    out.append(
                        {"type": "cube", "pid": e.pid, "container": e.container,
                         "measure": e.measure, "level": e.level}
                    )
        return out

    def cubeio(self, pid: str) -> dict:
        """oph_cubeio (oph_json_objkeys.h:38-39): provenance digraph around a
        cube (nodes + edges), from the lineage ledger."""
        cid = self.entries[pid].cube_id
        nodes = {cid}
        edges = []
        changed = True
        while changed:
            changed = False
            for out, task, inp in self.lineage:
                if (out in nodes or inp in nodes) and (out, task, inp) not in edges:
                    edges.append((out, task, inp))
                    if out not in nodes or inp not in nodes:
                        nodes.update((out, inp))
                        changed = True
        return {
            "nodes": sorted(nodes),
            "edges": [{"from": i, "task": t, "to": o} for o, t, i in edges],
        }

    # -- catalog snapshot (for the massive-filter evaluator) -----------------
    def as_catalog(self) -> RowCatalog:
        return RowCatalog(
            cubes=[
                (e.cube_id, self.containers[e.container], e.container, e.path, e.level, e.measure)
                for e in self.entries.values()
            ],
            metadata=[
                (cid, k, v) for cid, kv in self.metadata.items() for k, v in kv.items()
            ],
            lineage=list(self.lineage),
            session_prefix=self.session_prefix,
        )


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs)


def _unpersist_all(tier: OrderedDict) -> None:
    for _, df in tier.values():
        df.unpersist()
    tier.clear()


def save_store(store: CubeStore, path: str) -> None:
    """Persist the catalog state (entries/metadata/lineage/folders/containers)
    as parquet tables — the OphidiaDB durability analogue (MySQL catalog in the
    reference; Delta tables on a production cluster). Cube payloads already
    live on disk (materialized parquet / bucketed tables); this makes the
    *catalog* itself restartable."""
    import json as _json

    spark = store.spark
    ent_rows = [
        (
            e.pid, e.cube_id, e.container, e.path, e.level, e.measure,
            _json.dumps(list(e.explicit_dims)), _json.dumps(list(e.implicit_dims)),
            e.storage,
        )
        for e in store.entries.values()
    ]
    spark.createDataFrame(
        ent_rows or [],
        "pid string, cube_id int, container string, path string, level int, "
        "measure string, explicit_dims string, implicit_dims string, storage string",
    ).write.mode("overwrite").parquet(os.path.join(path, "entries"))
    spark.createDataFrame(
        list(store.containers.items()), "container string, container_id int"
    ).write.mode("overwrite").parquet(os.path.join(path, "containers"))
    md_rows = [
        (cid, k, v) for cid, kv in store.metadata.items() for k, v in kv.items()
    ]
    spark.createDataFrame(md_rows or [], "cube_id int, key string, value string") \
        .write.mode("overwrite").parquet(os.path.join(path, "metadata"))
    spark.createDataFrame(
        [(o, t, i) for o, t, i in store.lineage] or [],
        "out_cube int, task string, in_cube int",
    ).write.mode("overwrite").parquet(os.path.join(path, "lineage"))
    spark.createDataFrame(
        [(f,) for f in sorted(store.folders)] or [], "folder string"
    ).write.mode("overwrite").parquet(os.path.join(path, "folders"))


def load_store(spark, path: str, workspace: str) -> CubeStore:
    """Re-hydrate a persisted CubeStore (restart path). Only materialized
    cubes survive a restart — virtual (lazy-plan) entries cannot be serialized
    and are re-derivable from lineage."""
    import json as _json

    st = CubeStore(spark=spark, workspace=workspace)
    if os.path.isdir(os.path.join(path, "containers")):  # absent in older catalogs
        st.containers = {
            r.container: r.container_id
            for r in spark.read.parquet(os.path.join(path, "containers")).collect()
        }
    for r in spark.read.parquet(os.path.join(path, "entries")).collect():
        st._add(CubeEntry(
            pid=r.pid, cube_id=r.cube_id, container=r.container, path=r.path,
            level=r.level, measure=r.measure,
            explicit_dims=tuple(_json.loads(r.explicit_dims)),
            implicit_dims=tuple(_json.loads(r.implicit_dims)),
            storage=r.storage, cube=None,
        ))
    for e in sorted(st.entries.values(), key=lambda e: e.cube_id):
        st.container_id(e.container)  # in first-use order where none was saved
    for r in spark.read.parquet(os.path.join(path, "metadata")).collect():
        st.metadata.setdefault(r.cube_id, {})[r.key] = r.value
    st.lineage = [
        (r.out_cube, r.task, r.in_cube)
        for r in spark.read.parquet(os.path.join(path, "lineage")).collect()
    ]
    st.folders = {
        r.folder for r in spark.read.parquet(os.path.join(path, "folders")).collect()
    }
    if st.entries:
        st._next_id = max(e.cube_id for e in st.entries.values()) + 1
    return st
