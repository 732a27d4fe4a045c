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

All operators are Catalyst-native (higher-order functions / groupBy) — no Python
row UDFs in any hot path. Per-row array kernels are SQL text (`randcube`
here, operators/cube_ops.py, functions/primitives.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ophidia_server_spark.subset import quote_ident

DIM_COL = "__dim"
MEASURE_COL = "__m"


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
    measure_type: str = "double"
    pid: str | None = None
    level: int = 0
    lineage: tuple[str, ...] = field(default_factory=tuple)

    # -- helpers ---------------------------------------------------------------
    def dim_field(self, name: str) -> Column:
        """Column expr for one implicit dim's coordinate array."""
        if len(self.implicit_dims) == 1:
            if name != self.implicit_dims[0]:
                raise KeyError(name)
            return F.col(DIM_COL)
        return F.col(f"{DIM_COL}.{name}")

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

    def cells(self) -> Column:
        return F.size(F.col(MEASURE_COL))


def build_cube(
    df: DataFrame,
    explicit_dims: list[str],
    implicit_dim: str,
    value: Column | str,
    measure: str = "measure",
    agg: str = "sum",
) -> Cube:
    """Import a relational DataFrame into cube form (the oph_importnc/importcsv
    ingest shape, oph_json_objkeys.h:114-115 — here the source is any DataFrame).

    Cells are aggregated per (explicit_dims, implicit_dim) with `agg`, then the
    implicit dim is packed: sort-by-coordinate collect_list. One shuffle total
    (partial aggregation is map-side); the result is partitioned by the groupBy
    keys, which downstream row-wise ops reuse.
    """
    vcol = F.col(value) if isinstance(value, str) else value
    aggfn = {
        "sum": F.sum, "avg": F.avg, "max": F.max, "min": F.min, "count": F.count,
    }[agg]
    cells = (
        df.groupBy(*explicit_dims, F.col(implicit_dim).alias("__d"))
        .agg(aggfn(vcol).alias("__v"))
    )
    packed = (
        cells.groupBy(*explicit_dims)
        .agg(F.array_sort(F.collect_list(F.struct(F.col("__d"), F.col("__v")))).alias("__z"))
        .select(
            *explicit_dims,
            F.col("__z.__d").alias(DIM_COL),
            F.col("__z.__v").alias(MEASURE_COL),
        )
    )
    return Cube(
        df=packed,
        explicit_dims=tuple(explicit_dims),
        implicit_dims=(implicit_dim,),
        measure=measure,
    )


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
