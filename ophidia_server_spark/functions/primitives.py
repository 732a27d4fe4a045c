"""Array primitives — the `oph_apply` kernel surface.

The reference applies MySQL-UDF "primitives" (oph_boxcar, oph_moving_avg,
oph_gsl_fft, ... — listed via primitives_list,
/root/reference/src/oph_json_objkeys.h:74-75) to each row's packed measure
array. Here every primitive is an `ArrayPrimitive`: it takes the array
column's name and returns a Column. All but two render SQL text for one
`F.expr` call (`_sql`): Spark higher-order functions over `x` (the element)
and `i` (its 0-based position) that may name the array itself, parsed by the
JVM, whole-stage-codegen'd, zero Python in the hot path. A Python-lambda
higher-order function would cost dozens of py4j round trips instead. The
numpy-only kernels (`fft_magnitude`, `interpolate_nan`) are Arrow-batched
Pandas UDFs over the same name. A Column argument is a TypeError.

Parameters follow the functions/lits.py literal rule: doubles through
`double_sql`, integers through `as_int`, which accepts the integral floats
that HTTP parameters arrive as (`3.0`) and refuses 2.5, NaN and ±inf.

Usage: `oph_apply(cube, moving_avg(3))`.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ophidia_server_spark.functions.lits import as_int, double_sql
from ophidia_server_spark.subset import quote_ident

ArrayPrimitive = Callable[[str], Column]

_DBL = "CAST(x AS DOUBLE)"
# the lambda variables of the SQL text: an array column of one of these
# names would be shadowed by the variable inside the lambda body
_LAMBDA_VARS = {"x", "i", "y", "j", "acc"}


def _name(arr: str) -> str:
    if not isinstance(arr, str):
        raise TypeError(f"an array primitive takes the array column's name, "
                        f"not {type(arr).__name__}")
    if arr.lower() in _LAMBDA_VARS:
        raise ValueError(f"array column {arr!r} is named like a lambda variable "
                         f"of the kernels ({sorted(_LAMBDA_VARS)})")
    return arr


def _sql(render: Callable[[str], str]) -> ArrayPrimitive:
    """A primitive mapping the array column named `arr` to the SQL text
    `render(<arr as a quoted identifier>)`."""
    def prim(arr: str) -> Column:
        return F.expr(render(quote_ident(_name(arr))))
    return prim


def _transform_sql(body: str) -> ArrayPrimitive:
    """An element-wise primitive: `transform(arr, x -> body)`."""
    return _sql(lambda a: f"transform({a}, x -> {body})")


def _fold(a: str, term: str = "CAST(y AS DOUBLE)") -> str:
    """Left-to-right double sum of `term` over the elements y of `a`."""
    return f"aggregate({a}, 0.0D, (acc, y) -> acc + {term})"


def _positive(k: float) -> int:
    k = as_int(k)
    if k < 1:
        raise ValueError(f"window length must be >= 1, got {k}")
    return k


# -- element-wise -----------------------------------------------------------

def mask_above(threshold: float) -> ArrayPrimitive:
    """oph_mask: x -> 1.0 where x > threshold else 0.0."""
    return _transform_sql(f"CASE WHEN {_DBL} > {double_sql(threshold)} THEN 1.0D ELSE 0.0D END")


def scale(mul: float = 1.0, add: float = 0.0) -> ArrayPrimitive:
    """oph_mul_scalar / oph_sum_scalar: x -> x*mul + add."""
    return _transform_sql(f"{_DBL} * {double_sql(mul)} + {double_sql(add)}")


def clip(lo: float, hi: float) -> ArrayPrimitive:
    """oph_clip: clamp values into [lo, hi]."""
    return _transform_sql(f"least(greatest({_DBL}, {double_sql(lo)}), {double_sql(hi)})")


def quantize(step: float) -> ArrayPrimitive:
    """oph_quantize: snap values to multiples of `step` (floor binning)."""
    st = double_sql(step)
    return _transform_sql(f"FLOOR({_DBL} / {st}) * {st}")


# -- windowed kernels -------------------------------------------------------

def _window(a: str, k: int) -> str:
    """The trailing window of k elements ending at position i (shorter at
    the array head); slice() is 1-based."""
    return f"slice({a}, greatest(1, i + 2 - {k}), least(i + 1, {k}))"


def moving_avg(k: int) -> ArrayPrimitive:
    """oph_moving_avg: trailing mean over a window of k elements (shorter at
    the array head, matching SQL `ROWS BETWEEN k-1 PRECEDING AND CURRENT ROW`).
    O(n*k) per row, JVM-side."""
    k = _positive(k)
    return _sql(lambda a: f"transform({a}, (x, i) -> {_fold(_window(a, k))} / least(i + 1, {k}))")


def boxcar(k: int) -> ArrayPrimitive:
    """oph_boxcar: trailing moving sum over k elements (same window shape as
    moving_avg)."""
    k = _positive(k)
    return _sql(lambda a: f"transform({a}, (x, i) -> {_fold(_window(a, k))})")


def cumsum() -> ArrayPrimitive:
    """Prefix sum along the implicit dim (oph_accumulate)."""
    return _sql(lambda a: f"transform({a}, (x, i) -> {_fold(f'slice({a}, 1, i + 1)')})")


def delta() -> ArrayPrimitive:
    """First difference x[i] - x[i-1] (oph_deriv-style); first element 0."""
    # element_at is 1-based: element_at(a, i) is a[i-1]
    return _sql(lambda a: f"transform({a}, (x, i) -> CASE WHEN i = 0 THEN 0.0D "
                          f"ELSE {_DBL} - CAST(element_at({a}, i) AS DOUBLE) END)")


# -- positional kernels -----------------------------------------------------

def shift(n: int = 1, fill: float = 0.0) -> ArrayPrimitive:
    """oph_shift: move elements n positions right (n<0 = left), vacated slots
    take `fill`. Pure index remap, shuffle-free."""
    n, f = as_int(n), double_sql(fill)
    return _sql(lambda a: f"transform({a}, (x, i) -> CASE WHEN i - ({n}) >= 0 AND i - ({n}) < size({a}) "
                          f"THEN CAST(element_at({a}, i - ({n}) + 1) AS DOUBLE) ELSE {f} END)")


def reverse_array() -> ArrayPrimitive:
    """oph_reverse: flip the implicit dimension."""
    return _sql(lambda a: f"reverse({a})")


def rotate(n: int = 1) -> ArrayPrimitive:
    """oph_rotate: circular shift by n (wraps around)."""
    n = as_int(n)
    return _sql(lambda a: f"transform({a}, (x, i) -> CAST(element_at({a}, "
                          f"((i - ({n})) % size({a}) + size({a})) % size({a}) + 1) AS DOUBLE))")


# -- value transforms --------------------------------------------------------

def zscore() -> ArrayPrimitive:
    """Standardize each row's array: (x - mean) / std_pop; constant arrays
    (std 0) map to 0. The sum and sum-of-squares fold runs once per row into
    a named struct accumulator, whose finish maps the array."""
    def render(a: str) -> str:
        n = f"CAST(size({a}) AS DOUBLE)"
        mean = f"(acc.s / {n})"
        std = f"SQRT(acc.q / {n} - {mean} * {mean})"
        return (f"aggregate({a}, named_struct('s', 0.0D, 'q', 0.0D), "
                f"(acc, y) -> named_struct('s', acc.s + CAST(y AS DOUBLE), "
                f"'q', acc.q + CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), "
                f"acc -> transform({a}, x -> CASE WHEN {std} > 0 THEN ({_DBL} - {mean}) / {std} "
                f"ELSE 0.0D END))")
    return _sql(render)


def haar_step() -> ArrayPrimitive:
    """One Haar wavelet level (the oph_explorenc wavelet view,
    oph_json_objkeys.h:85-91): output = [approximations | details] where
    a_i = (x_2i + x_2i+1)/2 and d_i = (x_2i - x_2i+1)/2. Odd tails keep the
    last sample as its own approximation. Pure index arithmetic, JVM-side."""
    def render(a: str) -> str:
        half = f"CAST(FLOOR(size({a}) / 2) AS INT)"
        # sequence(1, 0) DESCENDS in Spark: short arrays take the ELSE branch
        pairs = f"sequence(1, greatest({half}, 1))"
        x0, x1 = (f"CAST(element_at({a}, {j}) AS DOUBLE)" for j in ("2 * j - 1", "2 * j"))
        level = f"concat(transform({pairs}, j -> ({x0} + {x1}) / 2), " \
                f"CASE WHEN size({a}) % 2 = 1 THEN array(CAST(element_at({a}, size({a})) AS DOUBLE)) " \
                f"ELSE CAST(array() AS array<double>) END, transform({pairs}, j -> ({x0} - {x1}) / 2))"
        # fewer than 2 elements: the array (as doubles) is its own level
        return f"CASE WHEN {half} >= 1 THEN {level} ELSE transform({a}, x -> {_DBL}) END"
    return _sql(render)


# -- NaN / missing-value handling (oph_count_array missing values,
#    oph_replace-style) -------------------------------------------------------

def replace_nan(value: float = 0.0) -> ArrayPrimitive:
    """Replace NaN/null elements with a constant."""
    return _transform_sql(f"CASE WHEN x IS NULL OR isnan({_DBL}) THEN {double_sql(value)} ELSE {_DBL} END")


count_nan: ArrayPrimitive = _sql(lambda a: f"size(filter({a}, x -> x IS NULL OR isnan({_DBL})))")
"""Number of NaN/null elements per row (scalar output, not an array)."""


def percentile(p: float) -> ArrayPrimitive:
    """Per-row percentile of the array (linear interpolation between closest
    ranks, the numpy default) — scalar output, null for an empty array.
    Sorts each row's array once (O(m log m) per row, shuffle-free)."""
    if not 0.0 <= float(p) <= 1.0:
        raise ValueError(f"percentile needs 0 <= p <= 1, got {p}")

    # the sorted array is bound once, as y, by a transform over array(it)
    h = f"((CAST(size(y) AS DOUBLE) - 1) * {double_sql(p)})"  # rank in [0, m-1]
    lo, hi = (f"CAST({fn}({h}) AS INT)" for fn in ("FLOOR", "CEIL"))
    vlo, vhi = (f"element_at(y, {r} + 1)" for r in (lo, hi))
    # empty arrays: element_at(_, 0) is an ANSI error, so no ELSE (null)
    pick = f"CASE WHEN size(y) > 0 THEN {vlo} + ({vhi} - {vlo}) * ({h} - CAST({lo} AS DOUBLE)) END"
    return _sql(lambda a: f"element_at(transform(array(array_sort(transform({a}, x -> {_DBL}))), "
                          f"y -> {pick}), 1)")


def get_subarray(start: int, size: int) -> ArrayPrimitive:
    """oph_get_subarray: 1-based slice of the implicit dimension
    (start:start+size-1), the in-array counterpart of oph_subset."""
    start, size = as_int(start), as_int(size)
    if start < 1 or size < 0:
        raise ValueError("start is 1-based and size must be >= 0")
    return _sql(lambda a: f"slice({a}, {start}, {size})")


def padding(length: int, value: float = 0.0) -> ArrayPrimitive:
    """oph_padding: right-pad the array with `value` up to `length` elements
    (arrays already >= length pass through unchanged)."""
    length, v = as_int(length), double_sql(value)
    # array_repeat handles count 0 cleanly (sequence(1, 0) would emit a
    # descending [1, 0] and pad two elements)
    return _sql(lambda a: f"concat(transform({a}, x -> {_DBL}), "
                          f"array_repeat({v}, greatest({length} - size({a}), 0)))")


def _ols(a: str, sy: str, sxy: str) -> tuple[str, str]:
    """Shared OLS-vs-index machinery for the oph_gsl_fit_linear pair, as
    SQL text (intercept, slope): x = 0..n-1, y = the array; slope and
    intercept from the classic normal equations. Sigma_x and Sigma_x^2 come
    from closed forms (exact integers in doubles); `sy` / `sxy` are the SQL
    text of Sigma_y / Sigma_xy, LEFT-TO-RIGHT array sums so any engine
    replaying the same order reproduces the bits."""
    n = f"CAST(size({a}) AS DOUBLE)"
    sx = f"({n} * ({n} - 1.0D) / 2.0D)"
    sxx = f"(({n} - 1.0D) * {n} * (2.0D * {n} - 1.0D) / 6.0D)"
    den = f"({n} * {sxx} - {sx} * {sx})"
    slope = f"(CASE WHEN {den} != 0 THEN ({n} * {sxy} - {sx} * {sy}) / {den} ELSE 0.0D END)"
    c0 = f"(CASE WHEN {n} > 0 THEN ({sy} - {slope} * {sx}) / {n} ELSE 0.0D END)"
    return c0, slope


def fit_linear_coeff() -> ArrayPrimitive:
    """oph_gsl_fit_linear_coeff (ref primitive: least-squares line over the
    array vs its 0-based index): returns [intercept, slope]."""
    def render(a: str) -> str:
        sxy = _fold(f"transform({a}, (y, j) -> CAST(j AS DOUBLE) * CAST(y AS DOUBLE))", "y")
        return "array({}, {})".format(*_ols(a, _fold(a), sxy))
    return _sql(render)


def fit_linear() -> ArrayPrimitive:
    """oph_gsl_fit_linear (ref primitive): replace the array by its OLS
    fitted line c0 + c1 * i — trend extraction on per-row series. One fold
    per row sums Sigma_y and Sigma_xy into a named struct accumulator (its
    `j` counts the position), whose finish maps the fitted line: O(n)."""
    def render(a: str) -> str:
        c0, c1 = _ols(a, "acc.sy", "acc.sxy")
        return (f"CASE WHEN size({a}) > 0 THEN aggregate({a}, named_struct('j', 0.0D, 'sy', 0.0D, "
                f"'sxy', 0.0D), (acc, y) -> named_struct('j', acc.j + 1.0D, "
                f"'sy', acc.sy + CAST(y AS DOUBLE), 'sxy', acc.sxy + acc.j * CAST(y AS DOUBLE)), "
                f"acc -> transform(sequence(0, size({a}) - 1), j -> {c0} + {c1} * CAST(j AS DOUBLE))) "
                f"ELSE CAST(array() AS array<double>) END")
    return _sql(render)


def histogram(nbins: int, lo: float, hi: float) -> ArrayPrimitive:
    """oph_gsl_histogram (ref primitive: fixed-range equal-width bin
    counts over each array): returns an nbins-long count array; values
    below `lo` clamp into bin 0, at-or-above `hi` into the last bin
    (the GSL include-edges convention flattened to clamping so every
    NON-NULL value lands somewhere; null elements satisfy no predicate
    and are not counted — sum(bins) can be less than oph_count). Bin
    membership compares exact doubles — one filter fold per bin,
    O(nbins * n) JVM array ops."""
    nbins = as_int(nbins)
    if nbins < 1 or not hi > lo:
        raise ValueError(f"need nbins >= 1 and hi > lo, got {nbins}, [{lo}, {hi})")
    width = (float(hi) - float(lo)) / nbins

    def cond(b: int) -> str:
        if nbins == 1:
            # IS NOT NULL (not TRUE): nulls must vanish from the single-bin
            # count exactly as they do from multi-bin ones
            return "y IS NOT NULL"
        lo_b, hi_b = (double_sql(float(lo) + e * width) for e in (b, b + 1))
        if b == 0:
            return f"y < {hi_b}"  # clamp below
        if b == nbins - 1:
            return f"y >= {lo_b}"  # clamp above
        return f"y >= {lo_b} AND y < {hi_b}"

    def render(a: str) -> str:
        ys = f"transform({a}, x -> {_DBL})"
        return "array(" + ", ".join(
            f"CAST(size(filter({ys}, y -> {cond(b)})) AS BIGINT)" for b in range(nbins)) + ")"
    return _sql(render)


def find_count(cond: str) -> ArrayPrimitive:
    """oph_find: number of elements x satisfying `cond`, a SQL predicate over
    x (scalar output). The condition is program text, never request text:
    the facade refuses oph_find."""
    return _sql(lambda a: f"CAST(size(filter({a}, x -> {cond})) AS BIGINT)")


def sd() -> ArrayPrimitive:
    """oph_gsl_sd: per-row population standard deviation (scalar). Two array
    folds (sum, sum of squares) — shuffle-free."""
    def render(a: str) -> str:
        m = f"CAST(size({a}) AS DOUBLE)"
        mean = f"({_fold(a)} / {m})"
        return f"CASE WHEN {m} > 0 THEN SQRT({_fold(a, 'CAST(y AS DOUBLE) * CAST(y AS DOUBLE)')} / {m} - {mean} * {mean}) END"
    return _sql(render)


# -- numpy-backed kernels (Pandas UDF — the sanctioned slow path) -----------

def _numpy_kernel(one) -> ArrayPrimitive:
    """A primitive applying `one` (float64 ndarray -> list) to each row's
    array cast to doubles, as an Arrow-batched Pandas UDF. A null array
    gives null and an empty one `[]`, as in the SQL-text kernels."""
    import numpy as np  # local imports: Arrow path only
    import pandas as pd

    def fn(s):
        return s.apply(lambda a: None if a is None else
                       [] if len(a) == 0 else one(np.array(a, dtype="float64")))

    # `from __future__ import annotations` makes inline hints unresolvable
    # strings for pandas_udf inference — set real annotation objects
    fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(fn, T.ArrayType(T.DoubleType()))
    def prim(arr: str) -> Column:
        return udf(F.col(_name(arr)).cast(T.ArrayType(T.DoubleType())))
    return prim


def interpolate_nan() -> ArrayPrimitive:
    """oph_interpolate analogue: linear interpolation across NaN runs via
    np.interp, Arrow-batched (neighbor scans don't vectorize as array exprs).
    Leading/trailing NaNs take the nearest valid value; rows with no valid
    points come back as all-null (the Arrow boundary maps NaN to null)."""
    def one(v):
        import numpy as np

        # v is a copy (np.array): Arrow hands over read-only buffers
        bad = np.isnan(v)
        if bad.any() and not bad.all():
            idx = np.arange(len(v))
            v[bad] = np.interp(idx[bad], idx[~bad], v[~bad])
        return v.tolist()

    return _numpy_kernel(one)


def fft_magnitude() -> ArrayPrimitive:
    """oph_gsl_fft analogue: per-row |FFT| magnitudes via numpy, Arrow-batched.

    Kept out of any oracle-checked path (floating point / engine specific); used
    by oph_apply when a genuinely numeric kernel is requested.
    """
    def one(v):
        import numpy as np

        return np.abs(np.fft.rfft(v)).tolist()

    return _numpy_kernel(one)


PRIMITIVES: dict[str, Callable[..., ArrayPrimitive]] = {
    "oph_mul_scalar": scale,
    "oph_moving_avg": moving_avg,
    "oph_boxcar": boxcar,
    "oph_accumulate": cumsum,
    "oph_deriv": delta,
    "oph_gsl_fft": fft_magnitude,
    "oph_shift": shift,
    "oph_reverse": reverse_array,
    "oph_rotate": rotate,
    "oph_clip": clip,
    "oph_quantize": quantize,
    "oph_zscore": zscore,
    "oph_replace_nan": replace_nan,
    "oph_percentile": percentile,
    "oph_wavelet": haar_step,
    "oph_affine": scale,          # a*x + b (reference name for scale)
    "oph_sum_scalar": lambda add=0.0: scale(1.0, add),
    "oph_mask": mask_above,
    "oph_get_subarray": get_subarray,
    "oph_padding": padding,
    "oph_find": find_count,
    "oph_gsl_sd": sd,
    "oph_gsl_fit_linear": fit_linear,
    "oph_gsl_fit_linear_coeff": fit_linear_coeff,
    "oph_gsl_histogram": histogram,
    "oph_interpolate": interpolate_nan,
}
