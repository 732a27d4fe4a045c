"""Array primitives — the `oph_apply` kernel surface.

The reference applies MySQL-UDF "primitives" (oph_predicate, oph_boxcar,
oph_moving_avg, oph_gsl_fft, ... — listed via primitives_list,
/root/reference/src/oph_json_objkeys.h:74-75) to each row's packed measure
array. Here each primitive maps an ArrayType column (a Column or its name)
to a Column. The common ones are pure Spark higher-order expressions (JVM-side,
whole-stage-codegen'd, zero Python in the hot path); numpy-only kernels (FFT)
fall back to Arrow-batched Pandas UDFs.

A Python-lambda higher-order function costs dozens of py4j round trips,
so the float-parameter element-wise primitives (`scale`, `mask_above`,
`clip`, `quantize`) render `transform(<arr>, x -> ...)` as one SQL text for
`F.expr` (one call); they take the column's name only and refuse a Column
with a TypeError. Parameters follow the functions/lits.py literal rule:
`repr` + `D`, and `nan`/`inf` (which `float()` accepts from HTTP) as
`CAST('NaN'|'Infinity'|'-Infinity' AS DOUBLE)`.

Usage: `oph_apply(cube, moving_avg(3))`.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ophidia_server_spark.functions.lits import double_sql
from ophidia_server_spark.subset import quote_ident

ArrayPrimitive = Callable[[Column | str], Column]


def _dbl(x: Column) -> Column:
    return x.cast("double")


def _col(arr: Column | str) -> Column:
    return F.col(arr) if isinstance(arr, str) else arr


def _transform_sql(body: str) -> ArrayPrimitive:
    """A primitive mapping the array column named `arr` to the SQL text
    `transform(arr, x -> body)`."""
    def prim(arr: str) -> Column:
        if not isinstance(arr, str):
            raise TypeError(f"this primitive renders SQL text: pass the array column's "
                            f"name, not {type(arr).__name__}")
        return F.expr(f"transform({quote_ident(arr)}, x -> {body})")
    return prim


# -- oph_predicate: element-wise conditional --------------------------------

def predicate(cond: Callable[[Column], Column], if_true: float | Column, if_false: float | Column) -> ArrayPrimitive:
    """oph_predicate: x -> if_true where cond(x) else if_false."""
    t = F.lit(if_true) if not isinstance(if_true, Column) else if_true
    f = F.lit(if_false) if not isinstance(if_false, Column) else if_false
    return lambda arr: F.transform(arr, lambda x: F.when(cond(_dbl(x)), t).otherwise(f).cast("double"))


def mask_above(threshold: float) -> ArrayPrimitive:
    """oph_mask: x -> 1.0 where x > threshold else 0.0."""
    t = double_sql(threshold)
    return _transform_sql(f"CASE WHEN CAST(x AS DOUBLE) > {t} THEN 1.0D ELSE 0.0D END")


# -- scalar arithmetic ------------------------------------------------------

def scale(mul: float = 1.0, add: float = 0.0) -> ArrayPrimitive:
    """oph_mul_scalar / oph_sum_scalar: x -> x*mul + add."""
    return _transform_sql(f"CAST(x AS DOUBLE) * {double_sql(mul)} + {double_sql(add)}")


def math_fn(name: str) -> ArrayPrimitive:
    """oph_math: element-wise abs/sqrt/log/exp/sin/cos/..."""
    fn = getattr(F, name)
    return lambda arr: F.transform(arr, lambda x: fn(_dbl(x)))


# -- windowed kernels -------------------------------------------------------

def moving_avg(k: int) -> ArrayPrimitive:
    """oph_moving_avg: trailing mean over a window of k elements (shorter at the
    array head, matching SQL `ROWS BETWEEN k-1 PRECEDING AND CURRENT ROW`).

    Pure higher-order expr: for 0-based position i the window is elements
    [max(0, i-k+1) .. i]; slice() is 1-based so start = max(1, i-k+2) and
    length = min(i+1, k). O(n*k) per row, JVM-side.
    """

    def prim(arr: Column) -> Column:
        return F.transform(arr, lambda x, i: _win_avg(arr, i, k))

    return prim


def _win_avg(arr: Column, i: Column, k: int) -> Column:
    start = F.greatest(F.lit(1), i + 2 - F.lit(k))
    length = F.least(i + F.lit(1), F.lit(k))
    win = F.slice(arr, start, length)
    s = F.aggregate(win, F.lit(0.0), lambda acc, y: acc + y.cast("double"))
    return s / length


def boxcar(k: int) -> ArrayPrimitive:
    """oph_boxcar: trailing moving sum over k elements (same window shape as
    moving_avg)."""

    def prim(arr: Column) -> Column:
        return F.transform(
            arr,
            lambda x, i: F.aggregate(
                F.slice(arr, F.greatest(F.lit(1), i + 2 - F.lit(k)), F.least(i + F.lit(1), F.lit(k))),
                F.lit(0.0),
                lambda acc, y: acc + y.cast("double"),
            ),
        )

    return prim


def cumsum() -> ArrayPrimitive:
    """Prefix sum along the implicit dim (oph_accumulate)."""

    def prim(arr: Column) -> Column:
        return F.transform(
            arr,
            lambda x, i: F.aggregate(
                F.slice(arr, F.lit(1), i + F.lit(1)), F.lit(0.0), lambda a, y: a + y.cast("double")
            ),
        )

    return prim


def delta() -> ArrayPrimitive:
    """First difference x[i] - x[i-1] (oph_deriv-style); first element 0."""

    def prim(arr: Column) -> Column:
        return F.transform(
            arr,
            lambda x, i: F.when(i == 0, F.lit(0.0)).otherwise(
                _dbl(x) - _dbl(F.element_at(arr, i))  # element_at is 1-based => arr[i-1]
            ),
        )

    return prim


# -- positional kernels -----------------------------------------------------

def shift(n: int = 1, fill: float = 0.0) -> ArrayPrimitive:
    """oph_shift: move elements n positions right (n<0 = left), vacated slots
    take `fill`. Pure index remap, shuffle-free."""

    def prim(arr: Column) -> Column:
        size = F.size(arr)
        return F.transform(
            arr,
            # element_at is 1-based: target index for output slot i (0-based)
            lambda x, i: F.when(
                ((i - n) >= 0) & ((i - n) < size),
                _dbl(F.element_at(arr, i - F.lit(n) + 1)),
            ).otherwise(F.lit(float(fill))),
        )

    return prim


def reverse_array() -> ArrayPrimitive:
    """oph_reverse: flip the implicit dimension."""
    return lambda arr: F.reverse(arr)


def rotate(n: int = 1) -> ArrayPrimitive:
    """oph_rotate: circular shift by n (wraps around)."""

    def prim(arr: Column) -> Column:
        size = F.size(arr)
        return F.transform(
            arr,
            lambda x, i: _dbl(F.element_at(arr, ((i - F.lit(n)) % size + size) % size + 1)),
        )

    return prim


# -- value transforms --------------------------------------------------------

def clip(lo: float, hi: float) -> ArrayPrimitive:
    """oph_clip: clamp values into [lo, hi]."""
    return _transform_sql(f"least(greatest(CAST(x AS DOUBLE), {double_sql(lo)}), {double_sql(hi)})")


def quantize(step: float) -> ArrayPrimitive:
    """oph_quantize: snap values to multiples of `step` (floor binning)."""
    st = double_sql(step)
    return _transform_sql(f"FLOOR(CAST(x AS DOUBLE) / {st}) * {st}")


def zscore() -> ArrayPrimitive:
    """Standardize each row's array: (x - mean) / std_pop; constant arrays
    (std 0) map to 0. Two passes over the array, one expression tree — the
    mean/variance fold runs once per row via a named struct accumulator."""

    def prim(arr: Column) -> Column:
        n = F.size(arr).cast("double")
        s = F.aggregate(arr, F.lit(0.0), lambda a, x: a + _dbl(x))
        s2 = F.aggregate(arr, F.lit(0.0), lambda a, x: a + _dbl(x) * _dbl(x))
        mean = s / n
        std = F.sqrt(s2 / n - mean * mean)
        return F.transform(
            arr,
            lambda x: F.when(std > 0, (_dbl(x) - mean) / std).otherwise(F.lit(0.0)),
        )

    return prim


def haar_step() -> ArrayPrimitive:
    """One Haar wavelet level (the oph_explorenc wavelet view,
    oph_json_objkeys.h:85-91): output = [approximations | details] where
    a_i = (x_2i + x_2i+1)/2 and d_i = (x_2i - x_2i+1)/2. Odd tails keep the
    last sample as its own approximation. Pure index arithmetic, JVM-side."""

    def prim(arr: Column) -> Column:
        n = F.size(arr)
        half = F.floor(n / 2).cast("int")
        # sequence(1, 0) DESCENDS in Spark — guard short arrays below instead
        pairs = F.sequence(F.lit(1), F.greatest(half, F.lit(1)))
        a = F.transform(
            pairs,
            lambda i: (_dbl(F.element_at(arr, 2 * i - 1)) + _dbl(F.element_at(arr, 2 * i))) / 2,
        )
        d = F.transform(
            pairs,
            lambda i: (_dbl(F.element_at(arr, 2 * i - 1)) - _dbl(F.element_at(arr, 2 * i))) / 2,
        )
        tail = F.when(
            n % 2 == 1, F.array(_dbl(F.element_at(arr, n)))
        ).otherwise(F.array().cast("array<double>"))
        # n < 2: nothing to pair — the array (cast to double) is its own
        # approximation level
        return F.when(half >= 1, F.concat(a, tail, d)).otherwise(
            F.transform(arr, _dbl)
        )

    return prim


# -- NaN / missing-value handling (oph_count_array missing values,
#    oph_replace-style) -------------------------------------------------------

def replace_nan(value: float = 0.0) -> ArrayPrimitive:
    """Replace NaN/null elements with a constant."""
    return lambda arr: F.transform(
        arr,
        lambda x: F.when(x.isNull() | F.isnan(_dbl(x)), F.lit(float(value))).otherwise(_dbl(x)),
    )


def count_nan(arr: Column) -> Column:
    """Number of NaN/null elements per row (scalar output, not an array)."""
    return F.size(F.filter(arr, lambda x: x.isNull() | F.isnan(x.cast("double"))))


def percentile(p: float) -> Callable[[Column], Column]:
    """Per-row percentile of the array (linear interpolation between closest
    ranks, the numpy default) — scalar output. Sorts each row's array
    (O(m log m) per row, shuffle-free)."""

    def prim(arr: Column) -> Column:
        s = F.array_sort(F.transform(arr, _dbl))
        m = F.size(s)
        # rank position h in [0, m-1]; h = (m-1) * p
        h = (m.cast("double") - 1) * F.lit(float(p))
        lo = F.floor(h).cast("int")
        hi = F.ceil(h).cast("int")
        vlo = F.element_at(s, lo + 1)
        vhi = F.element_at(s, hi + 1)
        # empty arrays: element_at(_, 0) is an ANSI error — return null instead
        return F.when(m > 0, vlo + (vhi - vlo) * (h - lo.cast("double")))

    return prim


def get_subarray(start: int, size: int) -> ArrayPrimitive:
    """oph_get_subarray: 1-based slice of the implicit dimension
    (start:start+size-1), the in-array counterpart of oph_subset."""
    if start < 1 or size < 0:
        raise ValueError("start is 1-based and size must be >= 0")
    return lambda arr: F.slice(arr, start, size)


def padding(length: int, value: float = 0.0) -> ArrayPrimitive:
    """oph_padding: right-pad the array with `value` up to `length` elements
    (arrays already >= length pass through unchanged)."""

    def prim(arr: Column) -> Column:
        n = F.size(arr)
        # array_repeat handles count 0 cleanly (sequence(1, 0) would emit a
        # descending [1, 0] and pad two elements)
        pad = F.array_repeat(
            F.lit(float(value)), F.greatest(F.lit(length) - n, F.lit(0))
        )
        return F.concat(F.transform(arr, _dbl), pad)

    return prim


def _ols_coeffs(arr: Column) -> tuple[Column, Column]:
    """Shared OLS-vs-index machinery for the oph_gsl_fit_linear pair:
    x = 0..n-1, y = the array; slope/intercept from the classic normal
    equations. Sigma_x and Sigma_x^2 come from closed forms (exact
    integers in doubles), Sigma_y / Sigma_xy from LEFT-TO-RIGHT array
    folds so any engine replaying the same order reproduces the bits."""
    ys = F.transform(arr, _dbl)
    n = F.size(arr).cast("double")
    sy = F.aggregate(ys, F.lit(0.0), lambda a, x: a + x)
    idx = F.sequence(F.lit(0), F.greatest(F.size(arr) - 1, F.lit(0)))
    sxy = F.aggregate(
        F.zip_with(ys, idx, lambda y, i: i.cast("double") * y),
        F.lit(0.0), lambda a, x: a + x,
    )
    sx = n * (n - 1.0) / 2.0
    sxx = (n - 1.0) * n * (2.0 * n - 1.0) / 6.0
    den = n * sxx - sx * sx
    slope = F.when(den != 0, (n * sxy - sx * sy) / den).otherwise(F.lit(0.0))
    c0 = F.when(n > 0, (sy - slope * sx) / n).otherwise(F.lit(0.0))
    return c0, slope


def fit_linear_coeff() -> ArrayPrimitive:
    """oph_gsl_fit_linear_coeff (ref primitive: least-squares line over the
    array vs its 0-based index): returns [intercept, slope]."""

    def prim(arr: Column) -> Column:
        c0, c1 = _ols_coeffs(arr)
        return F.array(c0, c1)

    return prim


def fit_linear() -> ArrayPrimitive:
    """oph_gsl_fit_linear (ref primitive): replace the array by its OLS
    fitted line c0 + c1 * i — trend extraction on per-row series."""

    def prim(arr: Column) -> Column:
        c0, c1 = _ols_coeffs(arr)
        fitted = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(arr) - 1, F.lit(0))),
            lambda i: c0 + c1 * i.cast("double"),
        )
        return F.when(F.size(arr) > 0, fitted).otherwise(
            F.array().cast("array<double>")
        )

    return prim


def histogram(nbins: int, lo: float, hi: float) -> ArrayPrimitive:
    """oph_gsl_histogram (ref primitive: fixed-range equal-width bin
    counts over each array): returns an nbins-long count array; values
    below `lo` clamp into bin 0, at-or-above `hi` into the last bin
    (the GSL include-edges convention flattened to clamping so every
    NON-NULL value lands somewhere; null elements satisfy no predicate
    and are not counted — sum(bins) can be less than oph_count). Bin membership compares exact doubles —
    one filter fold per bin, O(nbins * n) JVM array ops."""
    if nbins < 1 or not hi > lo:
        raise ValueError(f"need nbins >= 1 and hi > lo, got {nbins}, [{lo}, {hi})")
    width = (float(hi) - float(lo)) / nbins

    def prim(arr: Column) -> Column:
        ys = F.transform(arr, _dbl)

        def bin_count(b: int) -> Column:
            lo_b = float(lo) + b * width
            hi_b = float(lo) + (b + 1) * width
            cond = lambda y: (y >= lo_b) & (y < hi_b)  # noqa: E731
            if b == 0:
                cond = lambda y: y < hi_b  # noqa: E731 — clamp below
            if b == nbins - 1:
                cond = lambda y: y >= lo_b  # noqa: E731 — clamp above
            if nbins == 1:
                # isNotNull (not lit True): nulls must vanish from the
                # single-bin count exactly as they do from multi-bin ones
                cond = lambda y: y.isNotNull()  # noqa: E731
            return F.size(F.filter(ys, cond)).cast("long")

        return F.array(*[bin_count(b) for b in range(nbins)])

    return prim


def find_count(cond: Callable[[Column], Column]) -> Callable[[Column], Column]:
    """oph_find: number of elements satisfying the predicate (scalar)."""
    return lambda arr: F.size(F.filter(arr, cond)).cast("long")


def sd() -> Callable[[Column], Column]:
    """oph_gsl_sd: per-row population standard deviation (scalar). Two array
    folds (sum, sum of squares) — shuffle-free."""

    def prim(arr: Column) -> Column:
        m = F.size(arr).cast("double")
        s1 = F.aggregate(F.transform(arr, _dbl), F.lit(0.0), lambda a, x: a + x)
        s2 = F.aggregate(
            F.transform(arr, lambda x: _dbl(x) * _dbl(x)), F.lit(0.0),
            lambda a, x: a + x,
        )
        return F.when(m > 0, F.sqrt(s2 / m - (s1 / m) * (s1 / m)))

    return prim


# -- numpy-backed kernels (Pandas UDF — the sanctioned slow path) -----------


def interpolate_nan() -> ArrayPrimitive:
    """oph_interpolate analogue: linear interpolation across NaN runs via
    np.interp, Arrow-batched (neighbor scans don't vectorize as array exprs).
    Leading/trailing NaNs take the nearest valid value; rows with no valid
    points come back as all-null (the Arrow boundary maps NaN to null)."""
    import pandas as pd

    def _interp_fn(s):
        import numpy as np

        def one(a):
            # copy: Arrow hands over read-only buffers
            v = np.array(a, dtype="float64")
            bad = np.isnan(v)
            if not bad.any() or bad.all():
                return v.tolist()
            idx = np.arange(len(v))
            v[bad] = np.interp(idx[bad], idx[~bad], v[~bad])
            return v.tolist()

        return s.apply(one)

    _interp_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _interp = F.pandas_udf(_interp_fn, T.ArrayType(T.DoubleType()))
    return lambda arr: _interp(_col(arr).cast(T.ArrayType(T.DoubleType())))

def fft_magnitude() -> ArrayPrimitive:
    """oph_gsl_fft analogue: per-row |FFT| magnitudes via numpy, Arrow-batched.

    Kept out of any oracle-checked path (floating point / engine specific); used
    by oph_apply when a genuinely numeric kernel is requested.
    """
    import pandas as pd  # local import: Arrow path only

    def _fft_fn(s):
        import numpy as np

        return s.apply(lambda a: np.abs(np.fft.rfft(np.asarray(a, dtype="float64"))).tolist())

    # `from __future__ import annotations` makes inline hints unresolvable
    # strings for pandas_udf inference — set real annotation objects
    _fft_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _fft = F.pandas_udf(_fft_fn, T.ArrayType(T.DoubleType()))

    return lambda arr: _fft(_col(arr).cast(T.ArrayType(T.DoubleType())))


PRIMITIVES: dict[str, Callable[..., ArrayPrimitive]] = {
    "oph_predicate": predicate,
    "oph_mul_scalar": scale,
    "oph_math": math_fn,
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
