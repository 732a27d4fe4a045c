"""Distributed ALS matrix factorization (explicit feedback, ALS-WR).

Zhou et al. 2008 ("Large-scale Parallel Collaborative Filtering for the
Netflix Prize", the public ALS-WR formulation): alternate ridge solves

    u_r = (sum_i v_i v_i^T + reg * n_u * I)^-1  sum_i r_ui v_i

holding the other side fixed; the per-user (per-item) weight n_u on the
regularizer is the -WR variant's scale normalization. Each half-step
exactly minimizes the regularized objective w.r.t. one factor set, so the
objective recorded after every half-step is non-increasing — the
contraction law the correctness gate asserts, alongside an independent
JVM-side normal-equation residual recompute (different arithmetic path
than the numpy solves that produced the factors).

Cost structure per half-step — the canonical distributed ALS plan:
  gather : join ratings with the fixed side's factors (shuffle keyed on
           that side's id), build the k*k outer-product row terms as JVM
           array math.
  reduce : ONE groupBy on the solved side aggregating the PACKED
           k(k+1)/2 Gram triangle + k + 3 doubles — map-side partials;
           width is O(k^2) per key, not data.
  solve  : an Arrow-batched numpy batched solve over the aggregated
           rows (k x k systems; k is a parameter, so each task's matrix
           stack is bounded by its row batch).
Factors live in DataFrames end to end — nothing user- or item-sized is
ever collected; only the scalar objective comes back per half-step.
Init factors are content-addressed (md5 of id:dim:salt), so reruns and
resumed jobs regenerate identical starting points.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophidia_server_spark.ckpt import checkpoint as _ckpt
from ophidia_server_spark.session import BROADCAST_BUDGET_BYTES, session_cached


class ALSResult(NamedTuple):
    """user_factors / item_factors: (id, factors array<double>).
    prev_item_factors: the item factors the LAST user half-step solved
    against — the gate recomputes that half-step's normal-equation
    residual against exactly these. objectives: the regularized loss
    after every half-step (non-increasing)."""

    user_factors: DataFrame
    item_factors: DataFrame
    prev_item_factors: DataFrame
    objectives: list


def _init_factors(df: DataFrame, id_col: str, k: int, salt: str) -> DataFrame:
    """Deterministic content-addressed init in [-0.5, 0.5): dim d of id x
    is the first 8 md5 hex chars of 'x:d:salt' as a 32-bit fraction."""
    dims = [
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col(id_col).cast("string"),
                            F.lit(f":{d}:{salt}"),
                        )
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("double")
            / F.lit(float(16 ** 8))
            - F.lit(0.5)
        )
        for d in range(k)
    ]
    return df.select(F.col(id_col).alias("id"), F.array(*dims).alias("factors"))


def _packed_pairs(k: int) -> list[tuple[int, int]]:
    """Upper-triangle (i <= j) index pairs in row-major order — the packed
    layout of the symmetric Gram matrix (round-13 opt, guide §2.3): the
    outer product v v^T is symmetric, so only k(k+1)/2 of its k^2 entries
    are distinct. Packing them halves (k=4: 16 -> 10) the per-row array
    build, the map-side partial-sum count, AND the shuffled aggregate
    width. Bit-exact: each packed column sums the identical value sequence
    the full column (and its mirror) summed, so the reconstructed matrix —
    hence the solve, the factors, and the objective — is unchanged to the
    last ulp."""
    return [(i, j) for i in range(k) for j in range(i, k)]


def _packed_at(k: int, i: int, j: int) -> int:
    """Flat index of (i, j) in the packed upper-triangle layout."""
    lo, hi = (i, j) if i <= j else (j, i)
    return lo * k - lo * (lo - 1) // 2 + (hi - lo)


# The ridge system (A + reg*n*I) x = b is symmetric POSITIVE DEFINITE
# whenever reg > 0 (A = sum of outer products is PSD; the ridge term is
# PD), so for small k the solve is a closed-form Cholesky — expressible
# as pure JVM Column arithmetic, removing the per-half-step Python
# boundary entirely (round-13 opt, guide §4.1 built-ins over UDFs: the
# ArrowEvalPython stage measured ~0.45 s of each ~1.2 s half-step at
# sf0.1, all serialization overhead for 4x4 systems). Expression count
# grows O(k^3), so the JVM path is gated to k <= _JVM_SOLVE_MAX_K and
# reg >= _JVM_SOLVE_MIN_REG: at reg == 0 a rank-deficient Gram matrix
# must keep numpy's loud LinAlgError instead of Cholesky's silent NaN,
# and a pathologically tiny positive reg on a near-singular Gram could
# let float cancellation drive the Cholesky remainder diagonal negative
# (silent NaN through F.sqrt) — the numpy path raises loudly there too
# (ADVICE r13).
_JVM_SOLVE_MAX_K = 8
_JVM_SOLVE_MIN_REG = 1e-8


def _jvm_solve_col(k: int, reg: float) -> list:
    """Cholesky factorization + forward/back substitution of
    (A + reg*n*I) x = b over the packed-Gram columns, as a list of
    (name, Column) steps in dependency order; the final step is
    ("factors", array<double>). Built as SEPARATE withColumn steps so
    each intermediate (L entries, y, x) is computed once — Catalyst's
    CollapseProject keeps multiply-referenced non-cheap aliases in their
    own projection instead of re-expanding the expression tree.

    Numerical note: the Cholesky remainder diagonal is mathematically
    >= reg*n, so with any practical reg (the library default is 0.1) the
    float-cancellation error of the subtracted sums can never drive it
    negative; a pathologically tiny reg on a near-singular Gram could —
    which is why the gate requires reg >= _JVM_SOLVE_MIN_REG (reg below
    it, including 0, routes through numpy's loud-error path)."""
    steps: list = []

    def m_at(i: int, j: int):
        e = F.element_at(F.col("__A"), F.lit(_packed_at(k, i, j) + 1))
        if i == j:
            e = e + F.lit(reg) * F.col("__n").cast("double")
        return e

    L = {}
    for j in range(k):
        diag = m_at(j, j) - sum(
            (F.col(f"__l_{j}_{p}") * F.col(f"__l_{j}_{p}") for p in range(j)),
            F.lit(0.0),
        )
        steps.append((f"__l_{j}_{j}", F.sqrt(diag)))
        L[(j, j)] = F.col(f"__l_{j}_{j}")
        for i in range(j + 1, k):
            off = m_at(i, j) - sum(
                (F.col(f"__l_{i}_{p}") * F.col(f"__l_{j}_{p}")
                 for p in range(j)),
                F.lit(0.0),
            )
            steps.append((f"__l_{i}_{j}", off / F.col(f"__l_{j}_{j}")))
            L[(i, j)] = F.col(f"__l_{i}_{j}")
    for i in range(k):
        fwd = F.element_at(F.col("__bv"), F.lit(i + 1)) - sum(
            (F.col(f"__l_{i}_{p}") * F.col(f"__y_{p}") for p in range(i)),
            F.lit(0.0),
        )
        steps.append((f"__y_{i}", fwd / F.col(f"__l_{i}_{i}")))
    for i in reversed(range(k)):
        back = F.col(f"__y_{i}") - sum(
            (F.col(f"__l_{p}_{i}") * F.col(f"__x_{p}")
             for p in range(i + 1, k)),
            F.lit(0.0),
        )
        steps.append((f"__x_{i}", back / F.col(f"__l_{i}_{i}")))
    steps.append(("factors", F.array(*[F.col(f"__x_{i}") for i in range(k)])))
    return steps


def _solve_udf(k: int, reg: float):
    """Arrow-batched ridge solve: each aggregated row carries the PACKED
    upper triangle of the k x k Gram matrix (see _packed_pairs), the
    k-vector b, and the rating count n; the batch unpacks via one fancy
    index and solves (A + reg * n * I) x = b as one stacked numpy
    linalg.solve."""
    import numpy as np
    import pandas as pd

    unpack = np.array(
        [[_packed_at(k, i, j) for j in range(k)] for i in range(k)]
    )

    def _fn(aa, bb, nn):
        P = np.stack(aa.to_numpy()).astype("float64")
        A = P[:, unpack]  # (n, k, k) — symmetric reconstruction, bit-exact
        b = np.stack(bb.to_numpy()).astype("float64")
        n = nn.to_numpy().astype("float64")
        A = A + reg * n[:, None, None] * np.eye(k)[None, :, :]
        x = np.linalg.solve(A, b)
        return pd.Series(list(x))

    _fn.__annotations__ = {
        "aa": pd.Series, "bb": pd.Series, "nn": pd.Series,
        "return": pd.Series,
    }
    return F.pandas_udf(_fn, "array<double>")


class _ExprBundle(NamedTuple):
    """The (k, reg)-only Column expression trees of a half-step plan —
    everything except the per-call id/side columns. See _expr_bundle."""

    row_cols: list    # gather-select payload: __o, __b, __r2, __v2
    agg_cols: list    # packed-Gram groupBy aggregates
    solve_steps: list | None   # JVM Cholesky (name, Column) steps, or None
    udf_col: object | None     # aliased Arrow-solve column when steps is None
    obj_col: object   # fused objective, aliased __obj


# One bundle per (k, reg) per LIVE session (round-14 opt, guide §1.2):
# cProfile with DataFrame debugging already off still measured ~0.5 s of
# pure py4j expression construction per _half_step_plan call — ~3 s of a
# 10 s als() run at sf0.1 spent rebuilding the SAME O(k^3) expression
# trees six times on the driver, serial and un-parallelizable. Unresolved
# Column objects are immutable descriptors, so reusing them across
# half-step plans is exactly equivalent to rebuilding them. Cached per
# session (session.session_cached): Columns hold py4j references into
# that session's JVM, so a stopped session's bundle must die with it.
def _expr_bundle(spark, k: int, reg: float) -> _ExprBundle:
    # The solver gate is part of the key: _JVM_SOLVE_MAX_K / _MIN_REG are
    # module-level (tests monkeypatch them to force the Arrow path), so a
    # bundle built under one gate outcome must never serve the other.
    use_jvm = reg >= _JVM_SOLVE_MIN_REG and k <= _JVM_SOLVE_MAX_K
    return session_cached(
        spark, ("als", k, reg, use_jvm),
        lambda: _build_expr_bundle(k, reg, use_jvm),
    )


def _build_expr_bundle(k: int, reg: float, use_jvm: bool) -> _ExprBundle:
    v = F.col("__v")
    # packed symmetric outer product — k(k+1)/2 entries instead of k^2
    # (guide §2.3 shuffle-fewer-bytes; see _packed_pairs for the bit-exact
    # reconstruction argument)
    pairs = _packed_pairs(k)
    outer = F.array(
        *[
            F.element_at(v, i + 1) * F.element_at(v, j + 1)
            for i, j in pairs
        ]
    )
    rv = F.array(
        *[F.col("rating") * F.element_at(v, i + 1) for i in range(k)]
    )
    v2 = sum(
        (F.element_at(v, i + 1) * F.element_at(v, i + 1) for i in range(k)),
        F.lit(0.0),
    )
    row_cols = [
        outer.alias("__o"), rv.alias("__b"),
        (F.col("rating") * F.col("rating")).alias("__r2"), v2.alias("__v2"),
    ]
    agg_cols = [
        F.array(
            *[F.sum(F.element_at("__o", p + 1)) for p in range(len(pairs))]
        ).alias("__A"),
        F.array(
            *[F.sum(F.element_at("__b", i + 1)) for i in range(k)]
        ).alias("__bv"),
        F.count(F.lit(1)).alias("__n"),
        F.sum("__r2").alias("__r2"),
        F.sum("__v2").alias("__v2"),
    ]
    if use_jvm:
        # closed-form JVM Cholesky — no Python stage (see _jvm_solve_col)
        solve_steps, udf_col = _jvm_solve_col(k, reg), None
    else:
        solve_steps = None
        udf_col = _solve_udf(k, reg)("__A", "__bv", "__n").alias("factors")
    # Fused per-id objective contribution — the round-12 ALS speedup: the
    # squared error over one id's ratings expands exactly through the same
    # normal-equation aggregates the solve consumed,
    #   sum_i (r_ui - u.v_i)^2 = sum r^2 - 2 u.b + u^T A u,
    # and the fixed side's count-weighted norm sum_i n_i |v_i|^2 telescopes
    # to sum over ratings of |v_i|^2 (aggregated above as __v2) — so the
    # full ALS-WR objective is ONE tiny sum over the (already checkpointed)
    # half-step frame instead of a separate ratings-join-both-factors job
    # per half-step (that was ~half the jobs of a full als() run). The
    # expansion is algebraically exact; it differs from a per-rating
    # evaluation only in float summation order, far below the objective
    # deltas of any unconverged sweep.
    f = F.col("factors")
    ub = sum(
        (F.element_at(f, i + 1) * F.element_at("__bv", i + 1)
         for i in range(k)),
        F.lit(0.0),
    )
    # same (i, j) row-major term order as the pre-packed formulation; each
    # A entry is the packed slot of (min, max) — bit-identical values in a
    # bit-identical addition order, so __obj is unchanged to the last ulp
    uau = sum(
        (F.element_at(f, i + 1)
         * F.element_at("__A", _packed_at(k, i, j) + 1)
         * F.element_at(f, j + 1)
         for i in range(k) for j in range(k)),
        F.lit(0.0),
    )
    u2 = sum(
        (F.element_at(f, i + 1) * F.element_at(f, i + 1) for i in range(k)),
        F.lit(0.0),
    )
    # e2 is a difference of same-magnitude aggregates: on a near-perfectly
    # fit id (e2 ~ 0 while sum r^2 is large) float cancellation can leave
    # a tiny NEGATIVE residue where the per-rating sum of squares is
    # non-negative by construction — clamp it (the reg terms below are
    # exactly non-negative already)
    e2 = F.greatest(F.lit(0.0), F.col("__r2") - 2.0 * ub + uau)
    obj = e2 + F.lit(reg) * (F.col("__n") * u2 + F.col("__v2"))
    return _ExprBundle(
        row_cols, agg_cols, solve_steps, udf_col, obj.alias("__obj")
    )


def _half_step_plan(
    ratings: DataFrame, fixed: DataFrame, solve_col: str, fixed_col: str,
    k: int, reg: float, broadcast_fixed: bool = False,
) -> DataFrame:
    """The half-step's PLAN, un-checkpointed — factored out so the
    plan-regression bars can audit the exact per-sweep plan (gather join +
    one packed-Gram-wide groupBy reduce + the ridge solve: closed-form JVM
    Cholesky at k <= _JVM_SOLVE_MAX_K with reg > 0, else one Arrow stage);
    `_half_step` checkpoints it for the iteration loop. The (k, reg)-only
    expression trees come from the per-session _expr_bundle cache — only
    the id/side columns are built per call.

    broadcast_fixed (round-13 opt, guide §3.1): the fixed factor table is
    O(ids) x (k+1) doubles, but it reaches the join as a checkpoint scan
    with no size statistics, so Catalyst always picks a SortMergeJoin —
    shuffling the RATINGS table once per half-step (6x per 3-sweep run)
    to gather against a table that is a few MB. als() measures the factor
    table once per side (one cheap count over the checkpointed init) and
    passes broadcast_fixed=True when it fits the broadcast budget,
    turning the gather into a BroadcastHashJoin: the ratings table is
    never shuffled for the join — only the groupBy(solve side) exchange
    remains, which is the half-step's irreducible shuffle. Inner equi-join
    either way: identical rows, identical aggregates."""
    b = _expr_bundle(ratings.sparkSession, k, reg)
    fixed_sel = fixed.select(
        F.col("id").alias(fixed_col), F.col("factors").alias("__v")
    )
    if broadcast_fixed:
        fixed_sel = F.broadcast(fixed_sel)
    joined = ratings.join(fixed_sel, fixed_col)
    rows = joined.select(F.col(solve_col).alias("id"), *b.row_cols)
    agg = rows.groupBy("id").agg(*b.agg_cols)
    if b.solve_steps is not None:
        solved = agg
        for name, col in b.solve_steps:
            solved = solved.withColumn(name, col)
        solved = solved.select(
            "id", "__A", "__bv", "__n", "__r2", "__v2", "factors"
        )
    else:
        solved = agg.select(
            "id", "__A", "__bv", "__n", "__r2", "__v2", b.udf_col
        )
    return solved.select("id", "factors", b.obj_col)


def _half_step(
    ratings: DataFrame, fixed: DataFrame, solve_col: str, fixed_col: str,
    k: int, reg: float, broadcast_fixed: bool = False,
) -> DataFrame:
    """Solve one side given the other: gather-join on the fixed side,
    packed-Gram-wide groupBy reduce on the solved side, batched ridge solve.

    LAZY checkpoint (round-13 opt, kcore's ckpt+count pattern): the very
    next statement in als() is the fused-objective sum over every row of
    this frame, which materializes the truncation in the same job — one
    job per half-step instead of two."""
    return _ckpt(_half_step_plan(
        ratings, fixed, solve_col, fixed_col, k, reg, broadcast_fixed
    ), eager=False)


def _fits_broadcast(n_rows: int, k: int) -> bool:
    """Size gate for broadcasting the fixed factor table in a half-step's
    gather join (and predict's scoring joins): estimated bytes = rows x
    (8-byte id + k doubles + per-row overhead) against
    session.BROADCAST_BUDGET_BYTES; a 100M-item factor table blows the
    gate and falls back to the shuffle path automatically."""
    return n_rows * (40 + 8 * k) <= BROADCAST_BUDGET_BYTES


def als(
    ratings: DataFrame,
    k: int = 4,
    iters: int = 3,
    reg: float = 0.1,
    user_col: str = "user",
    item_col: str = "item",
    rating_col: str = "rating",
    salt: str = "als",
) -> ALSResult:
    """ALS-WR matrix factorization — see the module docstring for the
    update equations and the per-half-step cost structure. `iters` full
    sweeps (user solve then item solve); factors stay distributed.

    Round-14 measured REVERT (guide §1 re-measure): a driver-local factor
    mode — collect each half-step's solved factors and re-ship them as a
    LocalTableScan for the next gather join, size-gated by the same
    broadcast budget — benched 14.0 s vs 10.4 s min interleaved at sf0.1.
    The collect/createDataFrame round-trip (20k-row pickling plus
    analyzing/optimizing plans that embed a 20k-row literal relation six
    times) costs MORE than the checkpoint-materialization jobs it removes;
    the lazy-checkpoint + fused-objective shape below (one job per
    half-step) stands as the floor."""
    r = ratings.select(
        F.col(user_col).alias("user"),
        F.col(item_col).alias("item"),
        F.col(rating_col).cast("double").alias("rating"),
    ).persist()
    # lazy init checkpoints: the item-side broadcast-gate count right
    # below materializes vf (one job, not two); uf's init is only ever
    # computed when iters == 0 leaves it as the returned user factors
    vf = _ckpt(_init_factors(
        r.select("item").distinct(), "item", k, salt + ":item"
    ), eager=False)
    uf = _ckpt(_init_factors(
        r.select("user").distinct(), "user", k, salt + ":user"
    ), eager=False)
    # One cheap count per side decides the gather-join strategy for EVERY
    # half-step (see _half_step_plan's broadcast_fixed note): factor
    # tables under the budget broadcast, so the ratings table is never
    # shuffled for the gather; oversized factor tables keep the sort-merge
    # path untouched. The ITEM count runs over the checkpointed init —
    # its second purpose is materializing the blocks the first half-step's
    # gather build reads. The USER count runs over the bare distinct
    # instead of the init checkpoint (round-14 opt): the loop overwrites
    # uf before any use, so counting the init table computed and cached
    # k md5-derived factor columns per user that nothing ever read (an
    # un-checkpointed count prunes them; a marked RDD's count cannot).
    # Same row count either way. A fused single-job countDistinct gate was
    # considered and not kept: it would recompute the item distinct inside
    # the broadcast build, and no valid measurement showed it faster.
    bc_items = _fits_broadcast(vf.count(), k)
    bc_users = _fits_broadcast(r.select("user").distinct().count(), k)
    objectives: list[float] = []
    prev_vf = vf
    for _ in range(int(iters)):
        prev_vf = vf
        uf = _half_step(r, vf, "user", "item", k, reg, bc_items)
        # the fused objective: one scalar aggregate over the half-step's
        # own (checkpointed) output — see _half_step_plan's expansion note.
        # coalesce: SUM over zero rows is NULL (empty ratings frame)
        _obj = lambda f: float(  # noqa: E731
            f.agg(F.coalesce(F.sum("__obj"), F.lit(0.0))).first()[0])
        objectives.append(_obj(uf))
        uf = uf.drop("__obj")
        vf = _half_step(r, uf, "item", "user", k, reg, bc_users)
        objectives.append(_obj(vf))
        vf = vf.drop("__obj")
    r.unpersist()
    if bc_users:
        # the returned factor tables carry the hint too: every consumer
        # join (predict's scoring joins, the gate's residual recompute)
        # is a factors-vs-ratings equi-join with the same size asymmetry
        uf = F.broadcast(uf)
    if bc_items:
        vf = F.broadcast(vf)
        prev_vf = F.broadcast(prev_vf)
    return ALSResult(uf, vf, prev_vf, objectives)


def predict(
    result: ALSResult, pairs: DataFrame,
    user_col: str = "user", item_col: str = "item",
) -> DataFrame:
    """Score (user, item) pairs with the learned factors: one join per
    side + a JVM dot-product fold. Pairs whose user or item was unseen
    in training are dropped (inner joins) — the caller decides the
    cold-start fallback."""
    dot = F.aggregate(
        F.zip_with("__u", "__v", lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return (
        pairs.join(
            result.user_factors.select(
                F.col("id").alias(user_col), F.col("factors").alias("__u")
            ),
            user_col,
        )
        .join(
            result.item_factors.select(
                F.col("id").alias(item_col), F.col("factors").alias("__v")
            ),
            item_col,
        )
        .select(user_col, item_col, dot.alias("prediction"))
    )
