"""The datacube data model, Spark-first.

Reference model (studied at /root/reference): an Ophidia datacube is an
n-dimensional array of one measure, horizontally fragmented over hosts/DBMS
(oph_ophidiadb_query.h:48), with *explicit* dimensions as row keys and one
*implicit* dimension packed in-row as a binary array (rendered in the multigrid
response, oph_json_multigrid.h:36-72).

Spark mapping (SURVEY.md §1.4): a Cube is a DataFrame with
  - one column per explicit dimension (ordinary scalar columns),
  - `__dim`  : ArrayType  — the implicit dimension's coordinate values, sorted,
  - `__m`    : ArrayType  — the measure values, positionally aligned with `__dim`.

Fragmentation maps to Spark partitions: the cube DataFrame is hash-partitioned on
its explicit dims by the shuffle that builds it, which co-locates all later
row-wise array ops (reduce, apply, intercube after join) with zero extra shuffle.
Row count = product of explicit-dim cardinalities (sparse: only observed combos),
array length = implicit-dim cardinality — at 100 TB the design holds as long as a
single row's array fits comfortably in an executor task (implicit card up to
~10^6 doubles/row); larger implicit dims should be imported exploded (long form)
and rolled up on demand.

Every cube made out of cells goes through one plan builder, `pack`: aggregate
the cells per (keys, coordinate), then sort-collect each key's (coordinate,
value) pairs into `__dim`/`__m`. build_cube and the explicit-dim operators
(oph_aggregate, oph_aggregate2, oph_reduce2, oph_rollup in
operators/cube_ops.py) are calls to it; `AGG_FNS` is the one table of the
aggregates it runs. All operators are Catalyst-native (higher-order functions
/ groupBy) — no Python row UDFs in any hot path. Per-row array kernels are SQL
text (`randcube` here, operators/cube_ops.py, functions/primitives.py).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ophidia_server_spark.subset import quote_ident

DIM_COL = "__dim"
MEASURE_COL = "__m"

# the aggregates a cell group takes, by operation name
AGG_FNS: dict[str, Callable[[Column], Column]] = {
    "sum": F.sum,
    "count": F.count,
    "avg": F.avg,
    "mean": F.avg,
    "max": F.max,
    "min": F.min,
    "var": F.var_samp,
    "std": F.stddev_samp,
}


@dataclass
class Cube:
    """A datacube: DataFrame + dimension bookkeeping.

    implicit_dims: names of the packed dims, outermost first. Usually one; after
    oph_rollup there are several, stored as an array of structs in `__dim` with
    one struct field per implicit dim.
    """

    df: DataFrame
    explicit_dims: tuple[str, ...]
    implicit_dims: tuple[str, ...]
    measure: str = "measure"
    level: int = 0

    # -- helpers ---------------------------------------------------------------
    def with_df(self, df: DataFrame, **kw) -> "Cube":
        return replace(self, df=df, level=self.level + 1, **kw)

    def long(self) -> DataFrame:
        """Fully exploded (long/relational) form: one row per cell.

        Columns: explicit dims, each implicit dim by name, `<measure>` value.
        This is the interop surface for SQL/oracle comparison and export.
        """
        zipped = F.arrays_zip(F.col(DIM_COL).alias("d"), F.col(MEASURE_COL).alias("m"))
        e = self.df.select(*self.explicit_dims, F.explode(zipped).alias("__c"))
        if len(self.implicit_dims) == 1:
            dim_cols = [F.col("__c.d").alias(self.implicit_dims[0])]
        else:
            dim_cols = [F.col(f"__c.d.{n}").alias(n) for n in self.implicit_dims]
        return e.select(*self.explicit_dims, *dim_cols, F.col("__c.m").alias(self.measure))


def pack(
    cells: DataFrame,
    keys: Sequence[str],
    coord: Column | str,
    value: Column | str,
    agg: str | None,
    implicit_dims: tuple[str, ...],
    measure: str,
    level: int,
) -> Cube:
    """The cube of a frame of cells, one row per distinct `keys`: `__dim` is
    the sorted `coord`s of the row's cells and `__m` their `value`s.

    The cells of one (keys, coord) are first aggregated with `AGG_FNS[agg]`;
    `agg=None` takes each cell as it is (oph_rollup, whose coordinates are
    distinct). Each groupBy is one shuffle, the cell aggregate's partial
    running map-side; the result is partitioned by `keys`, which downstream
    row-wise ops reuse.
    """
    coord = F.col(coord) if isinstance(coord, str) else coord
    value = F.col(value) if isinstance(value, str) else value
    if agg is None:
        cells = cells.select(*keys, coord.alias("__d"), value.alias("__v"))
    else:
        cells = cells.groupBy(*keys, coord.alias("__d")).agg(
            AGG_FNS[agg.lower()](value).alias("__v"))
    df = (
        cells.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("__d", "__v"))).alias("__z"))
        .select(*keys, F.col("__z.__d").alias(DIM_COL), F.col("__z.__v").alias(MEASURE_COL))
    )
    return Cube(df=df, explicit_dims=tuple(keys), implicit_dims=tuple(implicit_dims),
                measure=measure, level=level)


def build_cube(
    df: DataFrame,
    explicit_dims: list[str],
    implicit_dim: str,
    value: Column | str,
    measure: str = "measure",
) -> Cube:
    """Import a relational DataFrame into cube form (the oph_importnc/importcsv
    ingest shape, oph_json_objkeys.h:114-115 — here the source is any DataFrame):
    the sum of the cells of each (explicit_dims, implicit_dim), packed."""
    return pack(df, explicit_dims, implicit_dim, value, "sum", (implicit_dim,), measure, 0)


def randcube(
    spark: SparkSession,
    nrows: int,
    array_len: int,
    explicit_dim: str = "dim0",
    measure: str = "measure",
) -> Cube:
    """oph_randcube (oph_json_objkeys.h:104): synthesize a cube of given shape.

    Deterministic (seed-free integer hash) so results are reproducible across
    engines: value(r, i) = ((r*array_len + i) * 2654435761) % 1000003 / 1000.0
    (Knuth multiplicative hash — plain BIGINT arithmetic, exactly reproducible
    in any SQL engine). Generated distributed via spark.range — no driver data.
    """
    n = int(array_len)
    df = spark.range(nrows).selectExpr(
        f"id + 1 AS {quote_ident(explicit_dim)}",
        f"sequence(1, {n}) AS {DIM_COL}",
        f"transform(sequence(0, {n - 1}), "
        f"i -> ((id * {n} + i) * 2654435761) % 1000003 / 1000.0D) AS {MEASURE_COL}",
    )
    return Cube(df=df, explicit_dims=(explicit_dim,), implicit_dims=("index",), measure=measure)
