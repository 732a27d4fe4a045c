"""Cube catalog: the engine's metadata layer.

Mirrors the reference's OphidiaDB relations (studied at /root/reference/src/
oph_filters.c:572-573 `datacube ⋈ container`, oph_ophidiadb_fs_library.h:28-45
folder tree, metadatainstance k/v :357-441, task/hasinput provenance :115-171)
as plain DataFrames/tables:

  cubes(cube_id, container_id, container, path, level, measure)
  metadata(cube_id, key, value)
  lineage(out_cube, task, in_cube)

Two shapes carry these relations. `RowCatalog` holds them as driver-side
Python rows: what filters.compile_massive evaluates, the way the reference
answers a massive filter with one small query to its metadata database
and never touches the analytics cluster. The live CubeStore's snapshot is
one, so its expansions launch no Spark job. `Catalog` holds them as
DataFrames: catalog tables (the snapshot-store backend below, and the
oracle-checked catalog *derived deterministically from the `part` fixture
table*, so the DuckDB oracle can reconstruct the exact same rows with
plain SQL — see the CATALOG_SQL_* strings). compile_massive narrows those
in Spark to the rows each bracket group can match (filters.narrow) and
collects them into a RowCatalog.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SESSION_PREFIX = "/sess1"


@dataclass
class Catalog:
    cubes: DataFrame
    metadata: DataFrame
    lineage: DataFrame
    session_prefix: str = SESSION_PREFIX


@dataclass
class RowCatalog:
    """The Catalog relations as driver-side row tuples, in Catalog's
    column order: cubes (cube_id, container_id, container, path, level,
    measure), metadata (cube_id, key, value), lineage (out_cube, task,
    in_cube)."""
    cubes: list[tuple]
    metadata: list[tuple]
    lineage: list[tuple]
    session_prefix: str = SESSION_PREFIX


def catalog_from_part(part: DataFrame) -> Catalog:
    """Derive a deterministic catalog from the `part` fixture.

    cube_id=p_partkey, container=p_brand, level=p_size%5,
    measure=lower(p_type), path=/sess1/<lower type>/<brand with '#'->'_'>.
    Lineage: every cube with id>100 descends from id-100.
    """
    cubes = part.select(
        F.col("p_partkey").alias("cube_id"),
        (F.col("p_partkey") % 40).alias("container_id"),
        F.col("p_brand").alias("container"),
        F.concat(
            F.lit(SESSION_PREFIX + "/"),
            F.lower("p_type"),
            F.lit("/"),
            F.lower(F.replace(F.col("p_brand"), F.lit("#"), F.lit("_"))),
        ).alias("path"),
        (F.col("p_size") % 5).alias("level"),
        F.lower("p_type").alias("measure"),
    )
    metadata = part.select(
        F.col("p_partkey").alias("cube_id"),
        F.explode(
            F.array(
                F.struct(F.lit("brand").alias("key"), F.col("p_brand").alias("value")),
                F.struct(F.lit("type").alias("key"), F.col("p_type").alias("value")),
                F.struct(F.lit("size").alias("key"), F.col("p_size").cast("string").alias("value")),
            )
        ).alias("kv"),
    ).select("cube_id", "kv.key", "kv.value")
    lineage = (
        part.filter(F.col("p_partkey") > 100)
        .select(
            F.col("p_partkey").alias("out_cube"),
            F.lit("derive").alias("task"),
            (F.col("p_partkey") - 100).alias("in_cube"),
        )
    )
    return Catalog(cubes=cubes, metadata=metadata, lineage=lineage)


# DuckDB-SQL mirrors of the derivation above (for oracle parity): any oracle
# query can `WITH cubes AS (...), metadata AS (...), lineage AS (...)` these.
CATALOG_SQL_CUBES = """
SELECT p_partkey AS cube_id,
       p_partkey % 40 AS container_id,
       p_brand AS container,
       '/sess1/' || lower(p_type) || '/' || lower(replace(p_brand, '#', '_')) AS path,
       p_size % 5 AS level,
       lower(p_type) AS measure
FROM part
"""

CATALOG_SQL_METADATA = """
SELECT p_partkey AS cube_id, 'brand' AS key, p_brand AS value FROM part
UNION ALL
SELECT p_partkey, 'type', p_type FROM part
UNION ALL
SELECT p_partkey, 'size', CAST(p_size AS VARCHAR) FROM part
"""

CATALOG_SQL_LINEAGE = """
SELECT p_partkey AS out_cube, 'derive' AS task, p_partkey - 100 AS in_cube
FROM part WHERE p_partkey > 100
"""


# --- Snapshot-store catalog backend (round 10) -----------------------------
#
# At 100 TB the catalog is not a fixture: millions of cubes, continuous
# registration from ingest jobs, and every massive-filter expansion hitting
# it. That is exactly the shape layout.py's snapshot store already solves —
# versioned exactly-once appends, min-max file stats, pruned reads — so the
# catalog rides it instead of growing a second metadata engine. The cubes
# table records per-file (container, level, path, cube_id) stats; the
# massive-filter evaluator derives a predicate rectangle from each bracket
# group (filters.group_prune_ranges) and reads only intersecting files,
# with the driver evaluator applying the exact predicates afterward —
# pruning is a performance lever, never a correctness dependency
# (layout.py's standing contract).

CUBES_STATS_COLS = ["container", "level", "path", "cube_id"]


def snapshot_catalog_write(cat: Catalog, base_path: str,
                           files: int = 8) -> dict:
    """Persist `cat` as three snapshot tables under base_path/{cubes,
    metadata,lineage}. The cubes table is range-clustered on (level,
    container) into `files` range partitions before the write so
    file-level min/max stats actually separate (a random row order gives
    every file the full value range and min-max pruning skips nothing —
    the same reason lakehouse tables cluster before collecting stats); at
    millions of cubes size `files` for ~128 MB each. Returns
    {table: version}."""
    import os as _os

    from ophidia_server_spark import layout

    clustered = cat.cubes.repartitionByRange(
        max(2, int(files)), F.asc("level"), F.asc("container"),
    )
    return {
        "cubes": layout.snapshot_write(
            clustered, _os.path.join(base_path, "cubes"),
            stats_cols=CUBES_STATS_COLS,
        ),
        "metadata": layout.snapshot_write(
            cat.metadata, _os.path.join(base_path, "metadata"),
            stats_cols=["cube_id", "key"],
        ),
        "lineage": layout.snapshot_write(
            cat.lineage, _os.path.join(base_path, "lineage"),
            stats_cols=["in_cube", "out_cube"],
        ),
    }


def snapshot_catalog_append(
    base_path: str,
    cubes: DataFrame | None = None,
    metadata: DataFrame | None = None,
    lineage: DataFrame | None = None,
) -> dict:
    """Continuous registration: append newly created cubes (and their
    metadata/lineage rows) as new snapshot versions — the operator-wrapper
    hook an ingest pipeline calls once per imported cube batch. ALL THREE
    tables advance together (a table with no new rows gets an empty
    append), so one catalog version number always denotes one consistent
    catalog state — load_snapshot_catalog/compile_massive_snapshot's
    `version` pin would otherwise crash on whichever tables a partial
    append skipped. Stats for new files are collected under each chain's
    standing stats_cols. Returns {table: new_version}."""
    import os as _os

    from ophidia_server_spark import layout

    given = {"cubes": cubes, "metadata": metadata, "lineage": lineage}
    spark = next(
        (df.sparkSession for df in given.values() if df is not None), None
    )
    if spark is None:
        raise ValueError("snapshot_catalog_append needs at least one table")
    out = {}
    for name, df in given.items():
        tbl = _os.path.join(base_path, name)
        if df is None:
            # empty append in the parent's schema: keeps every version
            # number meaning one consistent catalog-wide state
            df = layout.snapshot_read(spark, tbl).limit(0)
        out[name] = layout.snapshot_append(df, tbl)
    return out


def load_snapshot_catalog(
    spark: SparkSession, base_path: str,
    session_prefix: str = SESSION_PREFIX,
    version: int | None = None,
) -> Catalog:
    """Open the snapshot-backed catalog (latest version, or a time-travel
    `version` applied to every table). Full reads — the massive-filter
    evaluator's pruned path goes through filters.compile_massive_snapshot
    instead, which reads only the files each bracket group's predicate
    rectangle intersects."""
    import os as _os

    from ophidia_server_spark import layout

    return Catalog(
        cubes=layout.snapshot_read(
            spark, _os.path.join(base_path, "cubes"), version
        ),
        metadata=layout.snapshot_read(
            spark, _os.path.join(base_path, "metadata"), version
        ),
        lineage=layout.snapshot_read(
            spark, _os.path.join(base_path, "lineage"), version
        ),
        session_prefix=session_prefix,
    )
