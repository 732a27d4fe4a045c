"""Core datacube operators (the OLAP surface fronted by the reference server).

Reference operator names and semantics: /root/reference/src/oph_json_objkeys.h
(oph_subset :94, oph_reduce :96-97, oph_aggregate :98-99, oph_drilldown :100,
oph_rollup :101, oph_permute :93, oph_apply :103, oph_intercube :135,
oph_mergecubes :136). Semantics follow the public Ophidia docs: "reduce"
collapses the *implicit* (in-array) dimension, "aggregate" collapses *explicit*
dimensions; rollup/drilldown move a dimension between the two representations.

Everything here is expressed with Spark built-ins (higher-order array functions,
groupBy aggregation, joins) so Catalyst keeps whole-stage codegen and the 100 TB
scale path: per-row array ops are embarrassingly parallel (no shuffle); intercube
joins hash-partition both sides on the explicit dims (co-partitioned if both
cubes came from the same build_cube shuffle).

Every operator that makes a cube out of cells (oph_aggregate, oph_aggregate2,
oph_reduce2, oph_rollup) explodes its input to the long form and hands the
cells to `cube.pack`, the one builder that aggregates them per (keys,
coordinate) with an `AGG_FNS` entry (partial+final hash agg) and packs each
key's sorted pairs; they differ only in the keys and the coordinate they pass.

Every per-row array kernel is SQL text parsed by the JVM (`F.expr` /
`selectExpr`), one py4j call each, where a Python-lambda higher-order
function costs dozens: the window operators (oph_subset, oph_apply,
oph_reduce) and oph_intercube, oph_intercube_corr, oph_permute and
oph_mergecubes_n are one select each. Predicates come from subset.py's
renderers; literals follow functions/lits.py (`double_sql`, `string_sql`).
oph_mergecubes_n serves every merge; the binary oph_mergecubes keeps its
Column lambdas only as the independent reference it is tested against.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, FractionalType, NumericType

from ophidia_server_spark.cube import DIM_COL, MEASURE_COL, Cube, pack
from ophidia_server_spark.functions.lits import as_int, string_sql
from ophidia_server_spark.subset import quote_ident, subset_sql, time_sql, values_sql

# ---------------------------------------------------------------------------
# reduction kernels over the measure array (implicit dimension): SQL text over
# an array column, parsed by the JVM in one F.expr/selectExpr call
# ---------------------------------------------------------------------------

_D = "CAST(0.0 AS DOUBLE)"


def _arr_sum(col: str) -> str:
    return f"aggregate({col}, {_D}, (a, x) -> a + CAST(x AS DOUBLE))"


def _arr_avg(col: str) -> str:
    return f"{_arr_sum(col)} / size({col})"


def _arr_var(col: str) -> str:
    # sample variance, matching SQL VAR_SAMP
    n, s = f"CAST(size({col}) AS DOUBLE)", _arr_sum(col)
    s2 = f"aggregate({col}, {_D}, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    return f"({s2} - {s} * {s} / {n}) / ({n} - 1)"


REDUCE_OPS: dict[str, Callable[[str], str]] = {
    "sum": _arr_sum,
    "count": lambda col: f"CAST(size({col}) AS BIGINT)",
    "avg": _arr_avg,
    "mean": _arr_avg,
    "max": lambda col: f"CAST(array_max({col}) AS DOUBLE)",
    "min": lambda col: f"CAST(array_min({col}) AS DOUBLE)",
    "var": _arr_var,
    "std": lambda col: f"SQRT({_arr_var(col)})",
}



# ---------------------------------------------------------------------------
# oph_subset / oph_subset2
# ---------------------------------------------------------------------------

def _coord_type(cube: Cube, dim: str) -> DataType:
    """The type of dimension `dim`'s coordinates in the cube's schema."""
    schema = cube.df.schema
    if dim in cube.explicit_dims:
        return schema[dim].dataType
    coord = schema[DIM_COL].dataType.elementType
    return coord if len(cube.implicit_dims) == 1 else coord[dim].dataType


def oph_subset(
    cube: Cube,
    subset_dims: dict[str, str],
    subset_type: str = "index",
    offset: int = 0,
) -> Cube:
    """Slice the cube (oph_subset/oph_subset2, oph_json_objkeys.h:94-95).

    subset_dims maps dim name -> subset string ("start:stride:end,..."). Explicit
    dims become row filters (pushed to the parquet scan by Catalyst); implicit
    dims become aligned array filters in one select,
      __dim = filter(__dim, (d, i) -> P(d)),
      __m   = filter(__m, (m, i) -> P(element_at(__dim, i + 1))),
    then rows whose arrays emptied are dropped — per-row, shuffle-free. P is
    the subset.py SQL rendering (on `d.<dim>` for a composite implicit dim).

    subset_type="index": clauses address 1-based positions (implicit dim) or the
    dimension's own integer values (explicit dims, per reference cube_filter
    semantics, oph_filters.c:173-243). subset_type="coord": clauses are closed
    coordinate ranges. subset_type="time": clauses are `start_end` date ranges
    with partial-date expansion (time_filter=yes semantics).
    """
    offset = as_int(offset)  # before pred, whose ValueError means "not numeric"

    def pred(dim: str, col: str, ss: str) -> str:
        if subset_type == "time":
            return time_sql(col, ss)
        try:
            return subset_sql(col, ss, offset=offset)
        except ValueError:
            # non-numeric coordinates (string dims): clauses are literal
            # values, OR-combined. A numeric coordinate takes them only as
            # numbers of its own kind; anything else would fail as a cast
            # in a later task, so it fails here
            typ = _coord_type(cube, dim)
            if isinstance(typ, NumericType):
                kind = float if isinstance(typ, FractionalType) else int
                try:
                    for v in ss.replace("|", ",").split(","):
                        kind(v)
                except ValueError:
                    raise ValueError(f"subset filter {ss!r} of the numeric dimension "
                                     f"{dim!r} is not numeric") from None
            return values_sql(col, ss)

    composite = len(cube.implicit_dims) != 1
    rows: list[str] = []
    cells: list[tuple[str, str]] = []
    for dim, ss in subset_dims.items():
        if dim in cube.explicit_dims:
            rows.append(pred(dim, quote_ident(dim), ss))
        elif dim in cube.implicit_dims:
            if subset_type == "index" and composite:
                raise NotImplementedError(
                    "index subset on composite implicit dim is ambiguous: "
                    "use coord subsets per named dim, or drilldown first"
                )
            cells.append((dim, ss))
        else:
            raise KeyError(f"unknown dimension {dim!r}")

    def cell_pred(coord: str) -> str:
        # positions are 1-based over the packed array
        return " AND ".join(
            subset_sql("(i + 1)", ss, offset=offset) if subset_type == "index"
            else pred(dim, f"{coord}.{quote_ident(dim)}" if composite else coord, ss)
            for dim, ss in cells
        )

    df = cube.df
    if cells:
        df = df.withColumns({
            DIM_COL: F.expr(f"filter({DIM_COL}, (d, i) -> {cell_pred('d')})"),
            MEASURE_COL: F.expr(
                f"filter({MEASURE_COL}, (m, i) -> {cell_pred(f'element_at({DIM_COL}, i + 1)')})"
            ),
        })
        rows.append(f"size({MEASURE_COL}) > 0")
    if rows:
        df = df.filter(F.expr(" AND ".join(rows)))
    return cube.with_df(df)


# ---------------------------------------------------------------------------
# oph_reduce / oph_reduce2
# ---------------------------------------------------------------------------

def reduce_exprs(cube: Cube, operation: str) -> tuple[list[str], str]:
    """The SQL text of a reduce's select: the cube's explicit dims, and the
    `operation` kernel over its measure array."""
    return [*map(quote_ident, cube.explicit_dims)], REDUCE_OPS[operation.lower()](MEASURE_COL)


def oph_reduce(cube: Cube, operation: str, out_name: str | None = None) -> DataFrame:
    """Collapse the implicit dimension (oph_reduce, oph_json_objkeys.h:96).

    Returns a relational DataFrame (explicit dims + reduced scalar) — in Ophidia
    terms the result cube has an empty implicit dim, which is just a plain table.
    Per-row array kernel, zero shuffle.
    """
    dims, kernel = reduce_exprs(cube, operation)
    out = out_name or f"{operation}_{cube.measure}"
    return cube.df.selectExpr(*dims, f"{kernel} AS {quote_ident(out)}")


def oph_reduce2(
    cube: Cube,
    operation: str,
    concept_level: Column | Callable[[Column], Column],
    out_name: str | None = None,
) -> Cube:
    """Grouped reduction along the implicit dim by a concept level
    (oph_reduce2, oph_json_objkeys.h:97) — e.g. daily -> monthly means.

    concept_level maps an implicit coordinate to its group (e.g. month of a
    day index). Implemented explode -> `pack` by (explicit dims, group).
    For time hierarchies pass
    `lambda d: F.date_trunc('month', d)`-style mappings.
    """
    if len(cube.implicit_dims) != 1:
        raise NotImplementedError("reduce2 on composite implicit dim")
    dim = cube.implicit_dims[0]
    grp = concept_level(F.col(dim)) if callable(concept_level) else concept_level
    return pack(cube.long(), cube.explicit_dims, grp, cube.measure, operation, (dim,),
                out_name or cube.measure, cube.level + 1)


# ---------------------------------------------------------------------------
# oph_aggregate / oph_aggregate2
# ---------------------------------------------------------------------------

def oph_aggregate(cube: Cube, operation: str, collapse_dims: list[str]) -> Cube:
    """Collapse explicit dimensions (oph_aggregate, oph_json_objkeys.h:98),
    applying `operation` element-wise across rows for each implicit coordinate.

    Implemented as explode -> `pack` by (kept dims, coordinate). This is the
    scalable strategy: Catalyst does partial aggregation map-side, so the
    shuffle carries one partial per (kept, coord) per partition, not the raw
    cells. (The alternative — collect_list of whole arrays then zip-reduce —
    ships full arrays through the shuffle and skews on wide groups.)
    """
    kept = [d for d in cube.explicit_dims if d not in collapse_dims]
    if len(cube.implicit_dims) != 1:
        raise NotImplementedError("aggregate on composite implicit dim: permute/drilldown first")
    return pack(cube.long(), kept, cube.implicit_dims[0], cube.measure, operation,
                cube.implicit_dims, cube.measure, cube.level + 1)


def oph_aggregate2(
    cube: Cube, operation: str, dim: str, concept_level: Callable[[Column], Column],
) -> Cube:
    """oph_aggregate2 (oph_json_objkeys.h:99): collapse an explicit dimension
    to a coarser concept level (e.g. daily rows -> monthly rows), aggregating
    measure cells element-wise within each coarse group."""
    if dim not in cube.explicit_dims:
        raise KeyError(dim)
    kept = [d for d in cube.explicit_dims if d != dim]
    cells = cube.long().withColumn(dim, concept_level(F.col(dim)))
    return pack(cells, (*kept, dim), cube.implicit_dims[0], cube.measure, operation,
                cube.implicit_dims, cube.measure, cube.level + 1)


# ---------------------------------------------------------------------------
# oph_drilldown / oph_rollup / oph_permute
# ---------------------------------------------------------------------------

def oph_drilldown(cube: Cube) -> DataFrame:
    """Implicit -> explicit (oph_drilldown, oph_json_objkeys.h:100): explode the
    packed array into rows. Returns the long form (all implicit dims exploded)."""
    return cube.long()


def oph_rollup(cube: Cube, dim: str) -> Cube:
    """Explicit -> implicit (oph_rollup, oph_json_objkeys.h:101): pack explicit
    dimension `dim` into the array. The new `__dim` is an array of structs
    (rolled dim outermost, previous implicit dims after), sorted by coordinate.

    One shuffle (groupBy remaining dims); arrays grow by |dim| factor — callers
    should keep total array size bounded (see cube.py scale notes).
    """
    if dim not in cube.explicit_dims:
        raise KeyError(dim)
    kept = [d for d in cube.explicit_dims if d != dim]
    new_implicit = (dim, *cube.implicit_dims)
    key = F.struct(*[F.col(d) for d in new_implicit])
    return pack(cube.long(), kept, key, cube.measure, None, new_implicit, cube.measure,
                cube.level + 1)


def oph_permute(cube: Cube, order: list[str]) -> Cube:
    """Reorder implicit dimensions inside the array (oph_permute,
    oph_json_objkeys.h:93). Re-keys each row's coordinates in the permuted
    order and re-sorts by them, the measure following its coordinate —
    per-row array_sort, shuffle-free, one select. The (key, measure) pairs
    sort by key first, so sorting the keys alone gives `__dim` in the order
    the sorted pairs give `__m`."""
    if sorted(order) != sorted(cube.implicit_dims):
        raise ValueError(f"order {order} must permute {cube.implicit_dims}")
    if len(cube.implicit_dims) == 1:
        return cube

    def key(d: str) -> str:
        return "named_struct(" + ", ".join(
            f"{string_sql(n)}, {d}.{quote_ident(n)}" for n in order) + ")"

    pairs = (f"transform(arrays_zip({DIM_COL}, {MEASURE_COL}), "
             f"z -> named_struct('d', {key(f'z.{DIM_COL}')}, 'm', z.{MEASURE_COL}))")
    df = cube.df.withColumns({
        DIM_COL: F.expr(f"array_sort(transform({DIM_COL}, d -> {key('d')}))"),
        MEASURE_COL: F.expr(f"transform(array_sort({pairs}), z -> z.m)"),
    })
    return replace(cube, df=df, implicit_dims=tuple(order), level=cube.level + 1)


# ---------------------------------------------------------------------------
# oph_intercube / oph_mergecubes
# ---------------------------------------------------------------------------

_BINOPS: dict[str, str] = {
    # SQL text over the aligned elements x (first cube) and y (second).
    # mul keeps natural types: DECIMAL x DECIMAL multiplies exactly (then a
    # decimal ROUND is engine-portable), while ROUND(double, 2) at ~1e14
    # magnitude is implementation-defined noise past double precision.
    # The rest compute in double (div of decimals would otherwise pick an
    # engine-specific quotient scale). div is try_divide: a zero divisor
    # makes that cell null, where `/` under ANSI mode fails the whole job.
    "sum": "CAST(x AS DOUBLE) + CAST(y AS DOUBLE)",
    "sub": "CAST(x AS DOUBLE) - CAST(y AS DOUBLE)",
    "mul": "x * y",
    "div": "try_divide(CAST(x AS DOUBLE), CAST(y AS DOUBLE))",
    "abs": "abs(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))",
    "max": "greatest(CAST(x AS DOUBLE), CAST(y AS DOUBLE))",
    "min": "least(CAST(x AS DOUBLE), CAST(y AS DOUBLE))",
}


def _joined(a: Cube, b: Cube) -> DataFrame:
    """a's rows inner-joined with b's on the explicit dims; b's arrays
    renamed `__dim_b` / `__m_b`."""
    if a.explicit_dims != b.explicit_dims:
        raise ValueError("intercube requires identical explicit dims")
    bt = b.df.selectExpr(*map(quote_ident, b.explicit_dims),
                         f"{DIM_COL} AS __dim_b", f"{MEASURE_COL} AS __m_b")
    return a.df.join(bt, on=list(a.explicit_dims), how="inner")


def oph_intercube(a: Cube, b: Cube, operation: str, measure: str = "measure") -> Cube:
    """Element-wise binary op between two cubes (oph_intercube,
    oph_json_objkeys.h:135). Equi-join on the shared explicit dims, then
    `zip_with` over the aligned measure arrays — the join is the only shuffle,
    and it is co-partitioned when both cubes were built with the same keys.

    Requires positionally-aligned implicit dims (both cubes pack sorted
    coordinates, so same coordinate coverage => aligned). Rows/cells present in
    only one cube are dropped (inner-join semantics, matching the reference's
    same-structure requirement).
    """
    body = _BINOPS[operation.lower()]
    out = _joined(a, b).selectExpr(
        *map(quote_ident, a.explicit_dims), DIM_COL,
        f"zip_with({MEASURE_COL}, __m_b, (x, y) -> {body}) AS {MEASURE_COL}",
    )
    return Cube(
        df=out,
        explicit_dims=a.explicit_dims,
        implicit_dims=a.implicit_dims,
        measure=measure,
        level=max(a.level, b.level) + 1,
    )


def oph_mergecubes(a: Cube, b: Cube, source_dim: str = "src") -> Cube:
    """Append cubes' implicit arrays (oph_mergecubes, oph_json_objkeys.h:136):
    same explicit dims, arrays concatenated. The merged implicit coordinate is
    tagged with the source index (0 = first cube) to keep coordinates unique —
    the reference likewise extends the implicit dimension's index space."""
    if a.explicit_dims != b.explicit_dims:
        raise ValueError("mergecubes requires identical explicit dims")
    if len(a.implicit_dims) != 1 or len(b.implicit_dims) != 1:
        raise NotImplementedError("mergecubes on composite implicit dims")

    inner = a.implicit_dims[0]

    def tag(dim_col: Column, idx: int) -> Column:
        return F.transform(dim_col, lambda d: F.struct(F.lit(idx).alias(source_dim), d.alias(inner)))

    bt = b.df.select(
        *b.explicit_dims,
        F.col(DIM_COL).alias("__dim_b"),
        F.col(MEASURE_COL).alias("__m_b"),
    )
    j = a.df.join(bt, on=list(a.explicit_dims), how="inner")
    out = j.select(
        *a.explicit_dims,
        F.concat(tag(F.col(DIM_COL), 0), tag(F.col("__dim_b"), 1)).alias(DIM_COL),
        F.concat(
            F.transform(MEASURE_COL, lambda x: x.cast("double")),
            F.transform("__m_b", lambda x: x.cast("double")),
        ).alias(MEASURE_COL),
    )
    return Cube(
        df=out,
        explicit_dims=a.explicit_dims,
        implicit_dims=(source_dim, a.implicit_dims[0]),
        measure=a.measure,
        level=max(a.level, b.level) + 1,
    )


def oph_intercube_corr(a: Cube, b: Cube, out: str = "corr") -> DataFrame:
    """oph_intercube operation=corr: Pearson correlation of the two cubes'
    measure arrays per explicit-dim row. One broadcast-able join + per-row
    array folds; returns a relational DataFrame (explicit dims + corr)."""
    def fold(arr: str, term: str) -> str:
        return f"aggregate({arr}, 0.0D, (acc, v) -> acc + {term})"

    x = f"transform({MEASURE_COL}, v -> CAST(v AS DOUBLE))"
    y = "transform(__m_b, v -> CAST(v AS DOUBLE))"
    n = f"CAST(size({MEASURE_COL}) AS DOUBLE)"
    sx, sy = fold(x, "v"), fold(y, "v")
    sxy = fold(f"zip_with({x}, {y}, (u, w) -> u * w)", "v")
    sxx, syy = fold(x, "v * v"), fold(y, "v * v")
    corr = (f"({n} * {sxy} - {sx} * {sy}) / "
            f"SQRT(({n} * {sxx} - {sx} * {sx}) * ({n} * {syy} - {sy} * {sy}))")
    return _joined(a, b).selectExpr(*map(quote_ident, a.explicit_dims),
                                    f"{corr} AS {quote_ident(out)}")


# ---------------------------------------------------------------------------
# oph_apply — array primitive application
# ---------------------------------------------------------------------------

def oph_apply(cube: Cube, primitive: Callable[[str], Column], measure: str | None = None) -> Cube:
    """Apply an array primitive to each row's measure array (oph_apply,
    oph_json_objkeys.h:103), one select. `primitive` is a function from
    ophidia_server_spark.functions.primitives taking the measure column's
    name and returning the transformed array — native higher-order
    expressions stay JVM-side; numpy-backed kernels (fft...) use Pandas UDFs
    internally.
    """
    df = cube.df.withColumn(MEASURE_COL, primitive(MEASURE_COL))
    return replace(cube, df=df, measure=measure or cube.measure, level=cube.level + 1)


# ---------------------------------------------------------------------------
# oph_showgrid / oph_inspectfrag (introspection,
# oph_json_objkeys.h:128-131 showgrid, :60-61 inspectfrag)
# ---------------------------------------------------------------------------

def oph_showgrid(cube: Cube) -> DataFrame:
    """Dimension grid of a cube: one (dim, value) row per distinct coordinate
    of every dimension, explicit and implicit (the reference lists the stored
    dim grids of a container; our grid is derived live from the cube).

    Scale: per-dim distinct is a partial-agg shuffle of the dim column only —
    column pruning means the parquet scan reads one column per branch.
    """
    parts = []
    for d in cube.explicit_dims:
        parts.append(
            cube.df.select(F.lit(d).alias("dim"), F.col(d).cast("string").alias("value")).distinct()
        )
    lf = cube.long()
    for d in cube.implicit_dims:
        parts.append(
            lf.select(F.lit(d).alias("dim"), F.col(d).cast("string").alias("value")).distinct()
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def oph_inspectfrag(
    cube: Cube, frag_id: int = 0, nfrag: int = 4, max_rows: int = 100_000
) -> DataFrame:
    """Dump one logical fragment of a cube (oph_inspectfrag): fragments are
    defined deterministically as row_number over the explicit-dim order modulo
    nfrag, mirroring the reference's hostxdatacube x fragmentxdb row split
    (oph_ophidiadb_query.h:48) with an engine-portable rule.

    Inspection is a debugging peek at one fragment; the single-partition
    row_number window is acceptable ONLY because the input is capped at
    max_rows first (a limit pushes into the scan), so a 100x-scale cube can
    never be accidentally funneled through one task. Physical Spark
    partitions remain the real fragmentation (spark_partition_id) and are
    reported by store.cubeschema.
    """
    from pyspark.sql import Window

    w = Window.orderBy(*[F.col(d) for d in cube.explicit_dims])
    capped = cube.df.limit(max_rows)
    tagged = capped.withColumn("__frag", (F.row_number().over(w) - 1) % nfrag)
    return tagged.filter(F.col("__frag") == frag_id).drop("__frag")


def oph_mergecubes_n(cubes: list[Cube], source_dim: str = "src") -> Cube:
    """n-ary oph_mergecubes (the reference's `cubes` argument takes a list,
    oph_workflow_structs.h:29-35): one multi-way equi-join on the shared
    explicit dims, arrays concatenated in argument order with the source index
    tagged into the implicit coordinate. A single shuffle per input (all joins
    on the same key are planned into one exchange per side by Catalyst) — no
    pairwise re-merging of already-merged arrays."""
    if len(cubes) < 2:
        raise ValueError("mergecubes needs at least 2 cubes")
    dims = cubes[0].explicit_dims
    for c in cubes:
        if c.explicit_dims != dims:
            raise ValueError("mergecubes requires identical explicit dims")
        if len(c.implicit_dims) != 1:
            raise NotImplementedError("mergecubes on composite implicit dims")
    inner = cubes[0].implicit_dims[0]

    def arrays(i: int, c: Cube) -> DataFrame:
        return c.df.selectExpr(*map(quote_ident, dims), f"{DIM_COL} AS __d{i}",
                               f"{MEASURE_COL} AS __v{i}")

    j = arrays(0, cubes[0])
    for i, c in enumerate(cubes[1:], 1):
        j = j.join(arrays(i, c), on=list(dims), how="inner")
    src, coord = string_sql(source_dim), string_sql(inner)
    idx = range(len(cubes))
    out = j.selectExpr(
        *map(quote_ident, dims),
        "concat(" + ", ".join(f"transform(__d{i}, d -> named_struct({src}, {i}, {coord}, d))"
                              for i in idx) + f") AS {DIM_COL}",
        "concat(" + ", ".join(f"transform(__v{i}, x -> CAST(x AS DOUBLE))"
                              for i in idx) + f") AS {MEASURE_COL}",
    )
    return Cube(
        df=out,
        explicit_dims=dims,
        implicit_dims=(source_dim, inner),
        measure=cubes[0].measure,
        level=max(c.level for c in cubes) + 1,
    )
