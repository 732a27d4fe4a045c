"""Deduplication operators for large text corpora.

Four tiers, cheapest first — the standard LLM-corpus dedup ladder:
  exact        md5(text) hash groupBy                      (oracle-checked)
  fingerprint  rolling-hash bucket (near-exact, headers)    (oracle-checked)
  minhash LSH  shingle -> minhash sig -> band bucket join   (rows-only check)
  simhash      64-bit weighted token hash, hamming buckets  (rows-only check)

Scale design: every method is groupBy/join on a derived key — Spark hash
aggregation with map-side partials; no cross join ever happens. MinHash LSH
candidate generation is |bands| rows per doc, self-joined per bucket — the
classic sub-quadratic near-dup pipeline. At 100 TB the band join is the only
shuffle and is uniformly keyed by construction (hash buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ophidia_server_spark.ckpt import checkpoint as _ckpt
from ophidia_server_spark.pipeline.text import tokens
from ophidia_server_spark.session import BROADCAST_BUDGET_BYTES


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: groups of byte-identical documents (md5 key).

    Returns one row per duplicated content: hash, n_copies, keeper (min id).
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one representative (min doc_id) per distinct text."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy("doc_id")
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection
# ---------------------------------------------------------------------------

def _shingles(text_col: str, k: int) -> "F.Column":
    """k-token shingles as strings (word shingling).

    Built by zip_with-folding k shifted views of the token array
    (sh[i] = tok[i] + ' ' + ... + tok[i+k-1]) and trimming the padded tail to
    n-k+1 elements. Higher-order functions are interpreted (no codegen), so
    the lambda must stay trivial: an earlier transform(sequence(i), i ->
    concat_ws(slice(toks, i, k))) allocated a k-slice per shingle and was
    ~10x slower under explode (2.6 s -> 0.26 s at sf0.1)."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    sh = toks
    for j in range(1, k):
        # exact remaining length — an INT_MAX "rest of array" length overflows
        # start+length inside slice and silently yields nulls
        sh = F.zip_with(
            sh, F.slice(toks, j + 1, F.greatest(n - j, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.slice(sh, 1, F.greatest(n - (k - 1), F.lit(0)))


# 2^31-1 keeps a*x+b within long range under ANSI arithmetic (a < 2^31)
_MINHASH_P = 2147483647


def shingle_sets(df: DataFrame, text_col: str = "text", shingle_k: int = 3) -> DataFrame:
    """(doc_id, shingles array) with empty docs dropped."""
    return df.select(
        "doc_id", F.array_distinct(_shingles(text_col, shingle_k)).alias("shingles")
    ).filter(F.size("shingles") > 0)


def _sigs_from_shingle_sets(sh: DataFrame, num_hashes: int) -> DataFrame:
    """MinHash signatures via explode + codegen min-aggregates.

    Performance history (sf0.1, 50k docs): N x array_min(transform(...)) plants
    N copies of the shingle subtree in the plan (~211 s); one higher-order
    aggregate() fold with zip_with(least) fixes the duplication but evaluates
    the lambda interpreted, per shingle x per permutation (~17 s). Exploding
    shingles and taking the N permutation minima as plain min() aggregates puts
    the whole thing inside WholeStageCodegen hash aggregation (~6 s). At scale
    the explode never shuffles raw shingles: partial (map-side) min aggregation
    reduces each doc to num_hashes longs before the exchange.
    """
    P = _MINHASH_P
    ex = sh.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", (F.abs(F.xxhash64("s")) % P).alias("h")
    )
    # h < 2^31 and (2i+1) <= 63 keep a*h+b within long range under ANSI mode
    aggs = [
        F.min((F.col("h") * (2 * i + 1) + (7919 * i + 13)) % P).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    return (
        ex.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", F.array(*[f"__m{i}" for i in range(num_hashes)]).alias("sig"))
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", num_hashes: int = 32, shingle_k: int = 3
) -> DataFrame:
    """Per-doc MinHash signature: num_hashes permutations h_i(x) = (a_i*x+b_i)
    mod p over 64-bit shingle hashes (xxhash64). All JVM-side, codegen'd.
    Docs with no shingles drop out naturally (nothing to explode)."""
    # no array_distinct needed: duplicate shingles cannot change a min()
    sh = df.select("doc_id", _shingles(text_col, shingle_k).alias("shingles"))
    return _sigs_from_shingle_sets(sh, num_hashes)


class BucketCardinalityError(RuntimeError):
    """Raised when a banded-LSH pair API's candidate volume — the sum over
    band buckets of C(n, 2) — exceeds the caller's `max_candidates` budget:
    the named signal that the corpus has hot buckets (boilerplate shingles,
    flat images, clone cliques) that would make the bucket self-join
    quadratic at this scale. The message lists the hottest buckets and
    their sizes so the caller can pre-drop degenerate content, raise the
    band count, or opt into `cap_bucket=`. The same executable-guard
    contract as BlockCardinalityError / features.EcdfCardinalityError."""


def _bucket_salt(bucket_cols: list, id_col: str, s: int):
    """Sub-bucket salt for hot-but-LEGITIMATE band buckets (a genuine
    near-dup clique is quadratic in its clique size; capping it drops real
    pairs deterministically). Salting re-bands instead: each banded row
    gets sub-bucket xxhash64(bucket_cols..., id) % s, so a bucket of n
    rows splits into ~s sub-buckets of n/s and its candidate volume falls
    ~s-fold. Because the hash covers the BUCKET columns too, the salt a
    row draws is independent across the different bands a pair shares: a
    true pair colliding in k band buckets survives salting in at least
    one of them with probability 1 - (1 - 1/s)^k — a uniform, unbiased
    recall dial (cap_bucket by contrast excludes every pair touching a
    row past the cap in ALL its buckets). tests/test_bucket_guard.py pins
    the measured recall on the fixture clique against this formula."""
    if int(s) < 2:
        raise ValueError(f"salt_bucket must be >= 2, got {s}")
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in bucket_cols], F.col(id_col)),
        F.lit(int(s)),
    )


def _resolve_salt(
    banded: DataFrame,
    bucket_cols: list,
    salt_bucket,
    max_candidates: int | None,
    api: str,
):
    """Resolve ``salt_bucket="auto"`` to a concrete sub-bucket count.

    Auto mode runs the same O(buckets) grouped count the guard pre-pass
    runs (over the UNSALTED banded table, which reads the caller's
    persisted signature/code cache) and totals the exact candidate volume
    Σ C(n, 2). Under `max_candidates` it returns None — no salt, no
    recall loss. Over it, the expected volume after salting with s is
    EXACTLY raw/s (a pair shares a uniform sub-bucket with probability
    1/s), so the smallest power of two >= raw/budget brings the expected
    volume under budget with <= 2x headroom; the guard then re-checks the
    ACTUAL salted volume, so a pathological hash landing over budget
    still raises rather than running quadratic. Chosen s is surfaced via
    warnings so the recall dial (1 - (1 - 1/s)^k per k-bucket pair) is
    never silent. The sf100 lesson promoted to code: choosing s was
    manual (s=64 cleared a 1B budget); now `salt_bucket="auto"` derives
    it from the same pre-pass numbers."""
    if salt_bucket is None:
        return None
    if salt_bucket != "auto":
        return int(salt_bucket)
    if max_candidates is None:
        raise ValueError(
            "salt_bucket='auto' needs a max_candidates budget to target"
        )
    import warnings

    tot = (
        banded.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .agg(F.sum(F.col("__n") * (F.col("__n") - F.lit(1))).alias("raw2"))
        .first()
    )
    raw = int(tot["raw2"] or 0) // 2
    budget = int(max_candidates)
    if raw <= budget:
        return None
    s = 2
    while s * budget < raw:
        s *= 2
    warnings.warn(
        f"{api} salt_bucket='auto': {raw:,} raw candidates > budget "
        f"{budget:,}; salting hot buckets with s={s} (expected volume "
        f"~{raw // s:,}; a pair sharing k band buckets survives with "
        f"probability 1-(1-1/{s})^k)",
        stacklevel=3,
    )
    return s


def _attach_cleanup(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Expose `out.cleanup()` releasing the pre-pass signature/code caches
    the pair APIs deliberately leave persisted (the guard-eagerness
    contract, ADVICE r11/r12): batch jobs never need it (the process
    exits), but a long-lived session scanning many distinct corpora can
    call it after draining `out` to drop the per-corpus cache entries.
    After cleanup() the returned frame stays CORRECT — re-running an
    action just recomputes the signature stage lazily."""

    def cleanup() -> None:
        for c in cached:
            c.unpersist()

    out.cleanup = cleanup
    return out


def _guard_banded_candidates(
    banded: DataFrame,
    bucket_cols: list,
    id_col: str,
    max_candidates: int | None,
    cap_bucket: int | None,
    api: str,
) -> DataFrame:
    """O(buckets) candidate-volume pre-pass for banded self-join pair APIs.

    Sums C(n, 2) over every band bucket — the EXACT number of candidate
    rows the `a.id < b.id` bucket self-join will emit (a pair colliding in
    k bands counts k times, which is the real shuffle/verify volume before
    dropDuplicates) — with one grouped count + one scalar aggregate, before
    any quadratic work runs. The sf10 lesson promoted to code: at that
    decade dHash generated 19.5B candidates under clone cliques, a fact
    previously discoverable only via a side probe (BASELINE.md, banded
    candidate law); now every banded API totals it up front.

    Above `max_candidates`, raises BucketCardinalityError naming the ten
    hottest buckets. `cap_bucket=k` deterministically truncates every
    bucket to its k smallest-`id_col` rows (per-bucket candidates <=
    C(k, 2)) and warns with the exact dropped-candidate count — recall
    explicitly traded for a bound, mirroring blocked_link's `cap_blocks`.
    The budget check runs on the CAPPED sizes, so cap_bucket also
    satisfies the budget it restores. Both None skips the pre-pass (and
    this function is not called at all).

    EAGERNESS CONTRACT (ADVICE r11): the pre-pass is a blocking Spark job
    at DataFrame-CONSTRUCTION time — the whole point is to count the
    hazard before any quadratic plan exists, so the pair APIs are eager
    whenever the guard is on. Passing max_candidates=None AND
    cap_bucket=None restores fully lazy construction. The signature/code
    tables the callers persist for the pre-pass are deliberately LEFT
    CACHED (Spark's CacheManager dedups identical plans, so repeated
    calls on the same input reuse one entry; the returned pair DataFrame
    still reads them lazily, so unpersisting here would silently
    recompute the dominant stage). Long-lived sessions scanning MANY
    DISTINCT corpora accumulate one ~2-3-longs-per-doc cache entry per
    corpus — `spark.catalog.clearCache()` is the session-level release.

    Returns the (possibly truncated) banded table."""
    import warnings

    # 2*C(n,2) = n*(n-1) stays in exact BIGINT arithmetic (each term is
    # even, so the final //2 is exact); a double `/2` inside the sum would
    # silently lose precision exactly at the candidate volumes this guard
    # exists to count
    pairs2_of = lambda c: c * (c - F.lit(1))  # noqa: E731
    sizes = (
        banded.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
    )
    dropped = 0
    if cap_bucket is not None:
        c = int(cap_bucket)
        if c < 1:
            raise ValueError(f"cap_bucket must be >= 1, got {cap_bucket}")
        tot = sizes.agg(
            F.sum(pairs2_of(F.col("__n"))).alias("raw"),
            F.sum(pairs2_of(F.least(F.col("__n"), F.lit(c)))).alias("capped"),
        ).first()
        effective = int(tot["capped"] or 0) // 2
        dropped = int(tot["raw"] or 0) // 2 - effective
    else:
        tot = sizes.agg(F.sum(pairs2_of(F.col("__n"))).alias("raw")).first()
        effective = int(tot["raw"] or 0) // 2
    if max_candidates is not None and effective > int(max_candidates):
        hot = (
            sizes.orderBy(F.desc("__n"), *[F.asc(k) for k in bucket_cols])
            .limit(10)
            .collect()
        )
        listing = "; ".join(
            "(" + ", ".join(f"{k}={r[k]!r}" for k in bucket_cols)
            + f"): {r['__n']:,} rows" for r in hot
        )
        raise BucketCardinalityError(
            f"{api} would generate ~{effective:,} candidate pairs "
            f"(> max_candidates={int(max_candidates):,}) — hot band buckets "
            f"make the self-join quadratic at this scale. Hottest buckets: "
            f"{listing}. Pre-drop degenerate content (boilerplate, flat "
            "images), raise bands/num_hashes, pass salt_bucket=s to "
            "re-band hot buckets (~s-fold volume cut; a pair sharing k "
            "buckets survives with probability 1-(1-1/s)^k — the right "
            "lever for legitimate near-dup cliques), pass cap_bucket= to "
            "bound every bucket (deterministic recall trade, dropped "
            "candidates are counted), or max_candidates=None to accept "
            "the cost"
        )
    if dropped > 0:
        warnings.warn(
            f"{api} cap_bucket={int(cap_bucket)} truncated hot buckets: "
            f"{dropped:,} candidate pairs dropped (each bucket keeps its "
            f"cap_bucket smallest-{id_col} rows) — near-dups whose every "
            "shared bucket was truncated are the explicit recall trade",
            stacklevel=3,
        )
        w = Window.partitionBy(*bucket_cols).orderBy(F.asc(id_col))
        return (
            banded.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(cap_bucket))
            .drop("__rn")
        )
    return banded


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    max_candidates: int | None = 100_000_000,
    cap_bucket: int | None = None,
    salt_bucket: "int | str | None" = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, verified by signature-estimated
    Jaccard. Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b.
    `salt_bucket="auto"` derives the sub-bucket count from the guard
    pre-pass (see _resolve_salt); the returned frame exposes `.cleanup()`
    to release the persisted signature cache (see _attach_cleanup).

    bands × rows_per_band = num_hashes; docs sharing any band bucket become
    candidates (bucket self-join — sub-quadratic); candidates are scored by
    fraction of matching minhashes.

    Candidate volume is GUARDED, not prose: an O(buckets) Σ C(n, 2)
    pre-pass (one grouped count over the banded table, which reads the
    already-persisted signatures) totals the self-join's output before it
    runs; above `max_candidates` (default 100M) a named
    BucketCardinalityError lists the hottest buckets, and `cap_bucket=k`
    bounds every bucket with an exact dropped-candidate count — see
    _guard_banded_candidates.
    """
    r = num_hashes // bands
    sigs = minhash_signatures(df, text_col, num_hashes, shingle_k).filter(
        F.col("sig").isNotNull()
    )
    # Materialization boundary: without it Catalyst collapses the projection
    # and inlines the signature expression into every band hash AND into both
    # sides of the self-join (2*bands+1 recomputes of the shingle/minhash
    # work). At production scale this boundary is a signatures table; here an
    # in-memory persist.
    from pyspark.storagelevel import StorageLevel

    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    banded = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(*[F.hash(F.slice(F.col("sig"), i * r + 1, r)) for i in range(bands)])
        ).alias("band", "bucket"),
    )
    bucket_cols = ["band", "bucket"]
    salt_bucket = _resolve_salt(
        banded, bucket_cols, salt_bucket, max_candidates, "minhash_lsh_pairs"
    )
    if salt_bucket is not None:
        # recall-dialed re-banding of hot buckets (see _bucket_salt):
        # applied BEFORE the guard so the budget check runs on the salted
        # (s-fold smaller) volumes, like cap_bucket
        banded = banded.withColumn(
            "__salt", _bucket_salt(bucket_cols, "doc_id", salt_bucket)
        )
        bucket_cols = [*bucket_cols, "__salt"]
    if max_candidates is not None or cap_bucket is not None:
        banded = _guard_banded_candidates(
            banded, bucket_cols, "doc_id", max_candidates, cap_bucket,
            "minhash_lsh_pairs",
        )
    a = banded.alias("a")
    b = banded.alias("b")
    # score BEFORE deduplicating candidates: a pair colliding in k bands is
    # scored k times (cheap, deterministic), but the distinct then shuffles
    # three scalars per candidate instead of two 32-long signature arrays
    est = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda m: m,
        )
    ).cast("double") / F.lit(num_hashes)
    same_bucket = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
    )
    if salt_bucket is not None:
        same_bucket = same_bucket & (F.col("a.__salt") == F.col("b.__salt"))
    cand = a.join(
        b,
        same_bucket & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        est.alias("est_jaccard"),
    )
    return _attach_cleanup(
        cand.filter(F.col("est_jaccard") >= jaccard_threshold)
        .dropDuplicates(["doc_a", "doc_b"]),
        sigs,
    )


def simhash(df: DataFrame, text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash over tokens: sign-sum of per-token hash bits.

    sim(doc) bit j = 1 iff sum over tokens of (+1 if bit j of xxhash64(tok)
    else -1) > 0. Near-dups share most bits (hamming distance). JVM-side only.

    Tokens are exploded and the 64 per-bit sign-sums run as plain sum()
    hash aggregates (an earlier version folded each bit with an interpreted
    aggregate() over the token array — 64 interpreted passes per doc).
    Map-side partials reduce each doc to 64 longs before the shuffle, so the
    plan holds at corpus scale. Docs with no tokens keep a row (simhash 0)
    via the left join back."""
    ex = df.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("__t")
    ).select("doc_id", F.xxhash64("__t").alias("h"))
    # sum the raw bit, not ±1: sign-sum > 0  ⟺  2*popcount_j > n_tokens.
    # Two bit-counters pack into each long buffer (low 32 bits count bit j,
    # high 32 bits count bit j+32): 33 aggregate fields stay inside
    # spark.sql.codegen.maxFields, so the hash aggregate runs whole-stage
    # codegen'd with map-side partials — doc token counts < 2^32 cannot
    # carry between the halves.
    half = bits // 2
    aggs = [
        F.sum(
            F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))
            + F.shiftleft(
                F.shiftright(F.col("h"), j + half).bitwiseAND(F.lit(1)), 32
            )
        ).alias(f"__p{j}")
        for j in range(half)
    ]
    sums = ex.groupBy("doc_id").agg(F.count("*").alias("__n"), *aggs)

    def bit_sum(j: int):
        if j < half:
            return F.col(f"__p{j}").bitwiseAND(F.lit(0xFFFFFFFF))
        return F.shiftrightunsigned(F.col(f"__p{j - half}"), 32)

    def bit_val(j: int) -> int:
        return (1 << j) if j < 63 else -(1 << 63)  # bit 63 = long sign bit

    sim = F.lit(0).cast("long")
    for j in range(bits):
        sim = sim.bitwiseOR(
            F.when(2 * bit_sum(j) > F.col("__n"), F.lit(bit_val(j)).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    packed = sums.select("doc_id", sim.alias("simhash"))
    return (
        df.select("doc_id")
        .join(packed, "doc_id", "left")
        .select("doc_id", F.coalesce("simhash", F.lit(0)).cast("long").alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame, text_col: str = "text", max_hamming: int = 3,
    bands: int | None = None,
    max_candidates: int | None = 100_000_000,
    cap_bucket: int | None = None,
    salt_bucket: "int | str | None" = None,
) -> DataFrame:
    """Near-dup candidate pairs from SimHash signatures: band the 64-bit
    signature into `bands` contiguous chunks (pigeonhole: two signatures
    within hamming distance < bands must agree on at least one whole band),
    bucket-join on (band index, band value), then verify the exact hamming
    distance with bit_count(xor) — all JVM expressions, zero Python.

    Scale shape: band join keys are chunks of an avalanche hash, so buckets
    are balanced; each doc emits `bands` rows and the shuffle is
    O(docs x bands), never O(docs^2). The exact-verify step is bounded by
    candidate count. bands defaults to max_hamming + 1 (the smallest count
    with a recall guarantee); band widths tile all 64 bits even when 64 %
    bands != 0.

    Clone cliques / degenerate corpora (every empty doc simhashes to 0)
    concentrate one band value — that hazard is guarded by the same
    Σ C(n, 2) pre-pass + BucketCardinalityError + `cap_bucket` contract as
    minhash_lsh_pairs (the pre-pass reads the persisted signature table,
    which the self-join needs anyway)."""
    if bands is None:
        bands = max_hamming + 1
    if max_hamming >= bands:
        raise ValueError("pigeonhole requires max_hamming < bands")
    if bands > 64:
        raise ValueError("at most 64 bands over a 64-bit signature")
    from pyspark.storagelevel import StorageLevel

    # deliberately left cached (same contract as minhash_lsh_pairs' sigs):
    # the table is two longs per doc, the guard pre-pass and both self-join
    # sides read it, and Spark's CacheManager dedups identical plans across
    # repeated calls — at production scale this boundary is a signatures
    # table on disk
    sigs = simhash(df, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    base_w, extra = divmod(64, bands)
    chunks = []
    off = 0
    for b in range(bands):
        w = base_w + (1 if b < extra else 0)
        chunks.append((b, off, w))
        off += w
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), off)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("val"),
                    )
                    for b, off, w in chunks
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    join_cols = ["band", "val"]
    salt_bucket = _resolve_salt(
        banded, join_cols, salt_bucket, max_candidates, "simhash_pairs"
    )
    if salt_bucket is not None:
        banded = banded.withColumn(
            "__salt", _bucket_salt(join_cols, "doc_id", salt_bucket)
        )
        join_cols = [*join_cols, "__salt"]
    if max_candidates is not None or cap_bucket is not None:
        banded = _guard_banded_candidates(
            banded, join_cols, "doc_id", max_candidates, cap_bucket,
            "simhash_pairs",
        )
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return _attach_cleanup(
        a.join(b, join_cols)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct(),
        sigs,
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", shingle_k: int = 3, threshold: float = 0.8,
    num_hashes: int = 16, bands: int = 4,
    max_candidates: int | None = 100_000_000,
    cap_bucket: int | None = None,
    salt_bucket: "int | str | None" = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity over LSH-blocked candidate pairs.

    Candidates come from MinHash band buckets (same machinery as
    minhash_lsh_pairs — bands of r=num_hashes/bands hashes target
    J >= ~(1/bands)^(1/r), ~0.5 with 4x4); the exact Jaccard is then computed
    by array intersection over the full shingle sets, keeping the verify join
    proportional to the candidate count, not n^2. (Naive "min-k shingle
    hashes" blocking skews: one globally-common shingle puts a large fraction
    of the corpus in a single bucket.)
    """
    from pyspark.storagelevel import StorageLevel

    r = num_hashes // bands
    sh = shingle_sets(df, text_col, shingle_k).persist(StorageLevel.MEMORY_AND_DISK)
    # signatures via the codegen min-agg path, joined back to the persisted
    # shingle sets (join key = doc_id; both sides read the cached sh).
    # sigs is ALSO persisted: the candidate guard's pre-pass, both sides
    # of the bucket self-join, and the cap path would otherwise each
    # re-run the explode + min-agg signature pass (the dominant stage)
    sigs = sh.join(_sigs_from_shingle_sets(sh, num_hashes), "doc_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    banded = sigs.select(
        "doc_id",
        "shingles",
        F.explode(
            F.array(*[F.hash(F.slice(F.col("sig"), i * r + 1, r)) for i in range(bands)])
        ).alias("bucket"),
    )
    bucket_cols = ["bucket"]
    salt_bucket = _resolve_salt(
        banded, bucket_cols, salt_bucket, max_candidates, "ngram_jaccard_pairs"
    )
    if salt_bucket is not None:
        # per-band independence holds even with the single bucket column:
        # different bands hash different signature slices, so the salt's
        # hash input differs per band (see _bucket_salt)
        banded = banded.withColumn(
            "__salt", _bucket_salt(bucket_cols, "doc_id", salt_bucket)
        )
        bucket_cols = [*bucket_cols, "__salt"]
    if max_candidates is not None or cap_bucket is not None:
        # the pre-pass reads the persisted sigs cache (column-pruned to
        # (doc_id, bucket) by the InMemoryTableScan) — no signature recompute
        banded = _guard_banded_candidates(
            banded, bucket_cols, "doc_id", max_candidates, cap_bucket,
            "ngram_jaccard_pairs",
        )
    a, b = banded.alias("a"), banded.alias("b")
    same_bucket = F.col("a.bucket") == F.col("b.bucket")
    if salt_bucket is not None:
        same_bucket = same_bucket & (F.col("a.__salt") == F.col("b.__salt"))
    cand = (
        a.join(b, same_bucket & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.shingles").alias("sa"),
            F.col("b.shingles").alias("sb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = (F.size("sa") + F.size("sb")).cast("double") - inter
    return _attach_cleanup(
        cand.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard"),
        sh,
        sigs,
    )


def _unique_shingle_sets(
    df: DataFrame, text_col: str, shingle_k: int, id_col: str,
):
    """Collapse documents with IDENTICAL shingle sets before any pair
    join — the dedup-before-near-dup step that keeps exact similarity
    joins output-bound: on a corpus with heavy exact duplication the
    candidate/verify stages would otherwise pay the clone count SQUARED
    (the round-8 sf1 scale-up measured 40x at 10x replicated data), while
    the unique-set grain pays it once and re-expands qualifying pairs as
    pure output. Returns (members (__rk, id), reps (__rk, shingles, n))
    with __rk = md5 over the sorted set's PER-SHINGLE md5s (fixed-width
    elements make the encoding unambiguous — a separator char could
    legally appear inside a shingle on control-byte-bearing crawl
    text)."""
    src = df
    if id_col != "doc_id":
        # shingle_sets reads doc_id: map the caller's id in BEFORE
        # shingling (renaming the OUTPUT would mislabel a pre-existing
        # doc_id column)
        src = df.select(
            F.col(id_col).alias("doc_id"), F.col(text_col)
        )
    # fan out single-file inputs: shingling + per-shingle hashing would
    # otherwise run on one core
    from ophidia_server_spark.functions.skew import ensure_min_partitions

    src = ensure_min_partitions(src)
    sh = shingle_sets(src, text_col, shingle_k)
    if id_col != "doc_id":
        sh = sh.withColumnRenamed("doc_id", id_col)
    keyed = sh.select(
        F.col(id_col),
        "shingles",
        F.md5(
            F.concat_ws(
                "", F.transform(F.array_sort("shingles"), F.md5)
            )
        ).alias("__rk"),
    )
    # ONE materialization for keyed AND reps, LAZY (round-14 opt, the
    # kcore/ALS ckpt+count pattern): both callers' very next action is the
    # _reps_fit_broadcast size aggregate over reps, which materializes the
    # keyed -> reps chain in a single job — the eager variant paid two
    # dedicated materialization jobs (full tokenize+shingle pass, then the
    # groupBy) before that gate ran the same scan again. Checkpoint (local
    # blocks, or reliable files under cleanCheckpoints) rather than
    # persist(): blocks are released by the ContextCleaner when the result
    # plan is dropped instead of pinning a corpus-sized cache per call.
    # CONTRACT: the caller must run one reps action (the fit gate) before
    # fanning out consumers — members/prefix/verify all read these
    # checkpoints 3-4 times (the round-13 before-plan showed ~10 rescans
    # when they were plain lazy plans).
    keyed = _ckpt(keyed, eager=False)
    members = keyed.select("__rk", F.col(id_col))
    # any member's array works as the rep: same SET by construction, and
    # every consumer is order-insensitive (sizes / array_intersect)
    reps = _ckpt(keyed.groupBy("__rk").agg(
        F.first("shingles").alias("shingles"),
        F.count(F.lit(1)).alias("__nm"),
    ), eager=False)
    return members, reps


def _reps_fit_broadcast(reps: DataFrame) -> bool:
    """Size gate for broadcasting the unique-set rep table into the
    verify joins (round-13 opt, guide §3.1): reps reaches the verify
    join as a checkpoint scan with no Catalyst statistics, so the
    planner always sort-merges — shuffling the CANDIDATE-PAIR table
    (the big side) by __ra and again by __rb. One aggregate over the
    already-checkpointed reps estimates its broadcast footprint (row
    overhead + per-shingle array overhead + actual string bytes);
    under session.BROADCAST_BUDGET_BYTES both verify sides broadcast
    and the candidate table is never shuffled. Above the budget the
    sort-merge path is untouched — the gate is scale-adaptive, not a
    local fixture constant."""
    row = reps.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.size("shingles")), F.lit(0)).alias("toks"),
        F.coalesce(
            F.sum(
                F.aggregate(
                    F.transform("shingles", F.octet_length),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x.cast("long"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("chars"),
    ).first()
    est = int(row["n"]) * 64 + int(row["toks"]) * 24 + int(row["chars"])
    # BOTH verify sides (sa and sb) are broadcast as separate relations
    # built from reps, so the realized executor/driver footprint is ~2x
    # one copy's estimate — gate on the doubled figure (ADVICE r13)
    return 2 * est <= BROADCAST_BUDGET_BYTES


def _rep_prefixes(reps: DataFrame, threshold: float) -> DataFrame:
    """Frequency-ascending prefix table over UNIQUE shingle sets: first
    |A| - ceil(t*|A|) + 1 shingles of each set under the (set frequency
    ASC, shingle ASC) global order — any consistent total order keeps
    the prefix-filter theorem lossless, and unique-set frequencies make
    boilerplate-heavy clones count once."""
    from pyspark.sql import Window

    tok = reps.select(
        "__rk", F.size("shingles").alias("__n"),
        F.explode("shingles").alias("__s"),
    )
    freq = tok.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    pos = F.row_number().over(
        Window.partitionBy("__rk").orderBy("__df", "__s")
    )
    plen = F.col("__n") - F.ceil(F.lit(float(threshold)) * F.col("__n")) + 1
    return (
        tok.join(freq, "__s")
        .withColumn("__pos", pos)
        .filter(F.col("__pos") <= plen)
        .select("__rk", "__s")
    )


def jaccard_join_prefix(
    df: DataFrame, text_col: str = "text", shingle_k: int = 3,
    threshold: float = 0.5, id_col: str = "doc_id",
) -> DataFrame:
    """EXACT all-pairs Jaccard similarity self-join via prefix filtering
    (the PPJoin-family guarantee: unlike LSH banding, NO qualifying pair
    can be missed). If J(A,B) >= t then |A∩B| >= ceil(t*|A|), which
    cannot fit inside the suffix of size ceil(t*|A|) - 1 under the
    global (frequency ASC, shingle ASC) shingle order — so every
    qualifying pair shares a PREFIX shingle and the candidate join is
    lossless; verification computes exact Jaccard over full sets.

    Shape at scale: the join runs at UNIQUE-SHINGLE-SET grain
    (_unique_shingle_sets) — exact clones collapse before the quadratic
    stages and qualifying set-pairs re-expand to document pairs as pure
    output (clone-pairs are J=1.0 by definition). Prefixes are built
    from RARE shingles, so candidate buckets stay small even when
    boilerplate shingles are corpus-hot; the per-set ranking window is
    bounded by the set's own size. One term-keyed frequency aggregate +
    one set-bounded window + one prefix-keyed join + one bounded verify
    join + two member-expansion joins."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    members, reps = _unique_shingle_sets(
        df, text_col, shingle_k, id_col
    )
    # the broadcast gate runs FIRST (round-14 opt): its one aggregate is
    # the action that materializes the lazy keyed -> reps checkpoint chain
    # (_unique_shingle_sets' contract), so the whole tokenize + shingle +
    # groupBy pipeline runs exactly once before any consumer fans out
    bc_reps = _reps_fit_broadcast(reps)
    # one eager prefix materialization: the self-join reads it as BOTH
    # sides, and un-checkpointed the whole explode + frequency-aggregate
    # + ranking-window pipeline runs twice (one side sits under a
    # BroadcastExchange, so exchange reuse cannot fire) — the dominant
    # repeated subtree in plans/r13/dedup_jaccard_join_before.txt
    prefix = _ckpt(_rep_prefixes(reps, threshold))
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col("a.__rk") < F.col("b.__rk")),
        )
        .select(F.col("a.__rk").alias("__ra"), F.col("b.__rk").alias("__rb"))
        .dropDuplicates(["__ra", "__rb"])
    )
    sa = reps.select(F.col("__rk").alias("__ra"), F.col("shingles").alias("__sa"))
    sb = reps.select(F.col("__rk").alias("__rb"), F.col("shingles").alias("__sb"))
    if bc_reps:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = (F.size("__sa") + F.size("__sb")).cast("double") - inter
    qual = (
        cand.join(sa, "__ra").join(sb, "__rb")
        .withColumn("__j", inter / union)
        .filter(F.col("__j") >= threshold)
        .select("__ra", "__rb", "__j")
    )
    ma = members.select(F.col("__rk").alias("__ra"), F.col(id_col).alias("__xa"))
    mb = members.select(F.col("__rk").alias("__rb"), F.col(id_col).alias("__xb"))
    cross = qual.join(ma, "__ra").join(mb, "__rb").select(
        F.least("__xa", "__xb").alias("id_a"),
        F.greatest("__xa", "__xb").alias("id_b"),
        F.round("__j", 6).alias("jaccard"),
    )
    m1 = members.select("__rk", F.col(id_col).alias("__xa"))
    m2 = members.select("__rk", F.col(id_col).alias("__xb"))
    intra = (
        m1.join(m2, "__rk")
        .filter(F.col("__xa") < F.col("__xb"))
        .select(
            F.col("__xa").alias("id_a"), F.col("__xb").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


def containment_join_prefix(
    df: DataFrame, text_col: str = "text", shingle_k: int = 3,
    threshold: float = 0.8, id_col: str = "doc_id",
) -> DataFrame:
    """EXACT directional containment self-join: all ordered pairs (a, b)
    with |A ∩ B| / |A| >= t — the asymmetric near-dup Jaccard misses (a
    short document embedded verbatim inside a long one keeps Jaccard low
    but containment ~1). Lossless prefix filtering on the CONTAINED side
    only: if |A ∩ B| >= ceil(t*|A|), the common shingles cannot all hide
    in A's suffix of size ceil(t*|A|) - 1 under the (document frequency
    ASC, shingle ASC) global order, so every qualifying pair shares one
    of A's first |A| - ceil(t*|A|) + 1 shingles. The container side is
    not prunable (any of B's shingles may witness), so A-prefixes join
    B's full posting list — still sub-quadratic because prefixes are
    built from RARE shingles. Verification is exact over full sets.

    Shape at scale: like jaccard_join_prefix, the quadratic stages run
    at UNIQUE-SHINGLE-SET grain (_unique_shingle_sets) — exact clones
    collapse first and qualifying set-pairs re-expand to ordered
    document pairs as pure output (same-set pairs have containment 1.0
    in both directions by definition)."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    members, reps = _unique_shingle_sets(df, text_col, shingle_k, id_col)
    # gate first — the one action that materializes the lazy keyed -> reps
    # chain before prefix/full/verify all fan out over it (round-14 opt)
    bc_reps = _reps_fit_broadcast(reps)
    prefix = _rep_prefixes(reps, threshold).select(
        F.col("__rk").alias("__ra"), "__s"
    )
    full = reps.select(
        F.col("__rk").alias("__rb"), F.explode("shingles").alias("__s")
    )
    cand = (
        prefix.join(full, "__s")
        .filter(F.col("__ra") != F.col("__rb"))
        .select("__ra", "__rb")
        .dropDuplicates(["__ra", "__rb"])
    )
    sa = reps.select(F.col("__rk").alias("__ra"), F.col("shingles").alias("__sa"))
    sb = reps.select(F.col("__rk").alias("__rb"), F.col("shingles").alias("__sb"))
    if bc_reps:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    cont = inter / F.size("__sa").cast("double")
    qual = (
        cand.join(sa, "__ra").join(sb, "__rb")
        .withColumn("__c", cont)
        .filter(F.col("__c") >= threshold)
        .select("__ra", "__rb", "__c")
    )
    ma = members.select(F.col("__rk").alias("__ra"), F.col(id_col).alias("id_a"))
    mb = members.select(F.col("__rk").alias("__rb"), F.col(id_col).alias("id_b"))
    cross = qual.join(ma, "__ra").join(mb, "__rb").select(
        "id_a", "id_b", F.round("__c", 6).alias("containment")
    )
    m1 = members.select("__rk", F.col(id_col).alias("id_a"))
    m2 = members.select("__rk", F.col(id_col).alias("id_b"))
    intra = (
        m1.join(m2, "__rk")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("containment"))
    )
    return cross.unionByName(intra)


def dedup_keep_best(
    df: DataFrame, key_col: str, score_col: str, id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware exact dedup: within each duplicate group (`key_col`,
    e.g. a canonical text key or cluster id) keep the row with the
    HIGHEST `score_col` (ties to the smallest id — deterministic), the
    standard 'keep the best copy' policy when duplicates differ in
    quality metadata. One key-partitioned min_by aggregate — no window
    over raw rows, no sort; returns (key, kept id, kept score,
    n_duplicates dropped). `score_col` must be numeric (it is negated
    for the composite ordering); ids may be ANY orderable type —
    strings included."""
    return df.groupBy(F.col(key_col).alias("dup_key")).agg(
        # min over (-score, id): highest score first, ties to smallest id
        # — negating the SCORE (numeric by contract) instead of the id
        # keeps string doc ids working
        F.min_by(
            F.col(id_col),
            F.struct(-F.col(score_col), F.col(id_col)),
        ).alias("kept_id"),
        F.max(score_col).alias("kept_score"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
    )


def ngram_jaccard_exact(
    df: DataFrame, text_col: str = "text", shingle_k: int = 3,
    threshold: float = 0.3, max_id: int | None = None, id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard over ALL pairs of a bounded slice — the oracle
    baseline for ngram_jaccard_pairs (which prunes candidates with LSH).
    O(n^2); use max_id to keep the quadratic testable."""
    base = df if max_id is None else df.filter(F.col(id_col) < max_id)
    # eager shingle checkpoint (round-13 opt, guide §2.4): the self-join
    # reads `sh` as BOTH sides, and un-checkpointed the tokenize+distinct
    # shingle build ran once per side (one side sits under a
    # BroadcastExchange, so exchange reuse cannot fire) — the same
    # repeated-subtree shape jaccard_join_prefix checkpoints; the slice
    # is bounded by contract so the materialization is small
    sh = _ckpt(shingle_sets(base, text_col, shingle_k))
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect("a.shingles", "b.shingles")).cast("double")
    union = (F.size("a.shingles") + F.size("b.shingles")).cast("double") - inter
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (inter / union).alias("__j"),
        )
        .filter(F.col("__j") >= threshold)
        .select("id_a", "id_b", F.round("__j", 6).alias("jaccard"))
    )


# Edge-count ceiling for the driver-side union-find fast path; above it the
# iterative map-reduce algorithm runs and nothing is collected to the driver.
DRIVER_CC_MAX_EDGES = 100_000


def _cc_driver(edge_rows) -> list:
    """Union-find over an in-memory edge list (fast path for small graphs)."""
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id wins as representative (deterministic)
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(x, find(x)) for x in sorted(parent)]


def _cc_distributed(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14). Converges
    in O(log^2 n) rounds; every step is a groupBy-min plus a same-key join, so
    nothing ever materializes on the driver — this is the 100 TB path.

    Input: distinct undirected edges (u, v), u != v. Output: star edges
    (u -> component minimum) for every non-representative node.
    """
    e = edges
    prev_ckpt = None
    prev_sig = None
    for _ in range(max_iter):
        # large-star: for each u, attach every larger neighbor to
        # m = min(neighbors(u) + {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: direct edges at the larger endpoint; attach each smaller
        # neighbor (and the node itself) to the minimum of that neighborhood
        d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            d.join(mins, "u")
            .select(F.col("v").alias("u"), "m")
            .union(mins.select("u", "m"))
            .select("u", F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # truncate lineage each round (iterative plans otherwise grow
        # exponentially in Catalyst), then fixpoint-check via an
        # order-independent signature
        e = _ckpt(e, eager=True)
        if prev_ckpt is not None:
            prev_ckpt.unpersist()
        prev_ckpt = e
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.hash("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    return e


def cluster_pairs(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b",
    force_distributed: bool = False,
) -> DataFrame:
    """Connected components over near-dup pairs: every doc mapped to its
    cluster representative (the minimum doc id reachable through pair edges) —
    the step that turns pairwise candidates into removable duplicate groups.

    Small edge lists (<= DRIVER_CC_MAX_EDGES) are solved driver-side with
    union-find; larger graphs run the distributed large-star/small-star
    iteration (_cc_distributed) so that a 100 TB corpus whose near-dup edge
    list is itself billions of rows never touches the driver. Both paths share
    the (doc_id, cluster_rep) min-id contract. force_distributed=True skips
    the driver shortcut regardless of edge count (used by the gate so the
    large-star/small-star iteration itself is oracle-verified, and by callers
    that know the edge list is about to grow past the threshold).
    """
    dtypes = dict(pairs.dtypes)
    numeric_ids = all(
        dtypes.get(c) in ("tinyint", "smallint", "int", "bigint") for c in (a_col, b_col)
    )
    if not numeric_ids:
        # non-numeric ids: the long-cast would null them out silently. Small
        # edge lists go through the driver union-find (any hashable type);
        # larger ones get an internal order-preserving long id and run the
        # distributed path end to end. The id map stays in Catalyst: range-
        # repartition on the id (globally ordered partitions), a bounded
        # per-partition count collect (#partitions rows), then partition
        # offset + local row_number — monotone, so the min-long rep maps
        # back to the min-original rep, with codegen/AQE intact.
        spark = pairs.sparkSession
        probe_df = pairs.select(a_col, b_col).limit(DRIVER_CC_MAX_EDGES + 1)
        rows = None if force_distributed else probe_df.collect()
        if rows is not None and len(rows) <= DRIVER_CC_MAX_EDGES:
            out = _cc_driver((r[a_col], r[b_col]) for r in rows)
            schema_t = dtypes.get(a_col, "string")
            return spark.createDataFrame(
                out or [], f"doc_id {schema_t}, cluster_rep {schema_t}"
            )
        ids = (
            pairs.select(F.col(a_col).alias("__orig"))
            .union(pairs.select(F.col(b_col).alias("__orig")))
            .distinct()
            .repartitionByRange(F.col("__orig"))
            .withColumn("__pid", F.spark_partition_id())
            .persist()
        )
        counts = {
            r["__pid"]: r["cnt"]
            for r in ids.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
        }
        offs, acc = [], 0
        for pid in sorted(counts):
            offs.append((pid, acc))
            acc += counts[pid]
        off_df = spark.createDataFrame(offs or [(0, 0)], "__pid int, __off long")
        win = Window.partitionBy("__pid").orderBy("__orig")
        id_map = (
            ids.join(F.broadcast(off_df), "__pid")
            .withColumn("__mid", F.row_number().over(win) + F.col("__off") - 1)
            .select("__orig", "__mid")
            .persist()
        )
        ma = id_map.select(F.col("__orig").alias(a_col), F.col("__mid").alias("__ma"))
        mb = id_map.select(F.col("__orig").alias(b_col), F.col("__mid").alias("__mb"))
        mapped = (
            pairs.join(ma, a_col).join(mb, b_col)
            .select(F.col("__ma").alias(a_col), F.col("__mb").alias(b_col))
        )
        solved = cluster_pairs(mapped, a_col, b_col, force_distributed=True)
        back = (
            solved.join(
                id_map.select(F.col("__mid").alias("doc_id"), F.col("__orig").alias("__doc")),
                "doc_id",
            )
            .join(
                id_map.select(
                    F.col("__mid").alias("cluster_rep"), F.col("__orig").alias("__rep")
                ),
                "cluster_rep",
            )
            .select(
                F.col("__doc").alias("doc_id"), F.col("__rep").alias("cluster_rep")
            )
        )
        back = _ckpt(back, eager=True)
        id_map.unpersist()
        ids.unpersist()
        return back
    edges = (
        pairs.select(
            F.col(a_col).cast("long").alias("u"), F.col(b_col).cast("long").alias("v")
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
        .distinct()
        .persist()
    )
    spark = pairs.sparkSession
    probe = (
        DRIVER_CC_MAX_EDGES + 1
        if force_distributed
        else edges.limit(DRIVER_CC_MAX_EDGES + 1).count()
    )
    if probe <= DRIVER_CC_MAX_EDGES:
        rows = _cc_driver((r["u"], r["v"]) for r in edges.collect())
        edges.unpersist()
        return spark.createDataFrame(rows or [], "doc_id long, cluster_rep long")
    star = _cc_distributed(edges)
    nodes = edges.select("u").union(edges.select(F.col("v").alias("u"))).distinct()
    out = (
        nodes.join(star.withColumnRenamed("v", "rep"), "u", "left")
        .select(
            F.col("u").alias("doc_id"),
            F.coalesce("rep", "u").alias("cluster_rep"),
        )
    )
    out = _ckpt(out, eager=True)
    star.unpersist()
    edges.unpersist()
    return out


def dedup_near(df: DataFrame, text_col: str = "text", **lsh_kwargs) -> DataFrame:
    """End of the ladder: drop near-duplicates, keeping each cluster's
    representative (min doc_id). Composition: minhash LSH pairs -> connected
    components -> anti-join of non-representative members."""
    pairs = minhash_lsh_pairs(df, text_col, **lsh_kwargs)
    clusters = cluster_pairs(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_rep")).select("doc_id")
    return df.join(losers, "doc_id", "left_anti")


def edit_distance_pairs(
    df: DataFrame, max_distance: int = 60, text_col: str = "text",
    max_id: int | None = None,
) -> DataFrame:
    """Exact edit-distance (Levenshtein) near-dup pairs over a bounded id
    slice — the character-level exactness baseline of the near-dup ladder
    (token-level: ngram_jaccard_exact; bit-level: simhash). CARTESIAN on the
    bounded slice by design, like exact_pairs_above: at scale the candidate
    set comes from MinHash/SimHash blocking and Levenshtein runs only as the
    verify step on candidates. F.levenshtein is JVM-side (no Python)."""
    a = df.select(F.col("doc_id").alias("doc_a"), F.col(text_col).alias("__ta"))
    b = df.select(F.col("doc_id").alias("doc_b"), F.col(text_col).alias("__tb"))
    if max_id is not None:
        a = a.filter(F.col("doc_a") < max_id)
        b = b.filter(F.col("doc_b") < max_id)
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("edit_distance", F.levenshtein("__ta", "__tb").cast("long"))
        .filter(F.col("edit_distance") <= max_distance)
        .select("doc_a", "doc_b", "edit_distance")
    )


# ---------------------------------------------------------------------------
# Incremental near-dup: a materialized MinHash index + batch novelty filter
# ---------------------------------------------------------------------------


def minhash_index_build(
    df: DataFrame, path: str, text_col: str = "text",
    num_hashes: int = 32, bands: int = 8, shingle_k: int = 3,
    id_col: str = "doc_id",
) -> str:
    """Materialize the corpus's banded MinHash signatures as a reusable
    index: (doc_id, sig, band, bucket) parquet partitioned by band. The
    import-once/query-many shape for CONTINUOUS ingestion: each new crawl
    batch is shingled once and hash-joined against this table — the
    historical corpus is never re-shingled, and growing the index is
    minhash_index_append of the gated batch's own rows (same mergeability
    as the sketch family). A params sidecar pins the hash configuration
    so probes and appends can never drift from the build."""
    import json
    import os

    banded = _banded_rows(df, text_col, num_hashes, bands, shingle_k, id_col)
    banded.write.mode("overwrite").partitionBy("band").parquet(path)
    with open(os.path.join(path, "_minhash_params.json"), "w") as fh:
        json.dump(
            {"num_hashes": num_hashes, "bands": bands, "shingle_k": shingle_k,
             "id_col": id_col},
            fh,
        )
    return path


def _banded_rows(
    df: DataFrame, text_col: str, num_hashes: int, bands: int,
    shingle_k: int, id_col: str,
) -> DataFrame:
    """(id_col, sig, band, bucket) rows for a corpus slice — the index's
    storage schema. The caller's id column is SELECTED (not just renamed)
    so any id name/type works; minhash_signatures' internal key stays
    doc_id."""
    r = num_hashes // bands
    keyed = df.select(
        F.col(id_col).alias("doc_id") if id_col != "doc_id" else F.col("doc_id"),
        F.col(text_col),
    )
    sigs = minhash_signatures(keyed, text_col, num_hashes, shingle_k).filter(
        F.col("sig").isNotNull()
    )
    return sigs.select(
        F.col("doc_id").alias(id_col),
        "sig",
        F.posexplode(
            F.array(*[F.hash(F.slice(F.col("sig"), i * r + 1, r)) for i in range(bands)])
        ).alias("band", "bucket"),
    )


def minhash_index_append(
    df: DataFrame, path: str, text_col: str = "text",
) -> str:
    """Grow the index with a new (already novelty-gated) batch: shingle
    ONLY the batch and append its banded rows — the historical corpus is
    untouched, which is the whole point of the materialized index. Hash
    configuration comes from the build's sidecar, so an append can never
    use different bands/shingles than the probes."""
    import json
    import os

    with open(os.path.join(path, "_minhash_params.json")) as fh:
        p = json.load(fh)
    banded = _banded_rows(
        df, text_col, p["num_hashes"], p["bands"], p["shingle_k"], p["id_col"]
    )
    banded.write.mode("append").partitionBy("band").parquet(path)
    return path


def dedup_incremental(
    new_df: DataFrame, index_path: str, text_col: str = "text",
    jaccard_threshold: float = 0.5, id_col: str = "doc_id",
) -> DataFrame:
    """Novelty filter for a new ingest batch against the materialized
    index: every new doc is shingled ONCE, its band buckets hash-join the
    index (keyed on (band, bucket) — the only shuffle over the batch), and
    signature-estimated Jaccard scores the candidates. Returns one row per
    new doc: (id, is_novel, dup_of, est_jaccard) where dup_of is the
    best-matching indexed doc (max estimate, min id tie-break) when the
    estimate clears the threshold. Docs in the batch are NOT compared with
    each other — that intra-batch pass is minhash_lsh_pairs; this operator
    answers "have we already got this" against the historical corpus."""
    import json
    import os

    spark = new_df.sparkSession
    with open(os.path.join(index_path, "_minhash_params.json")) as fh:
        params = json.load(fh)
    # no persist: unlike minhash_lsh_pairs' SELF-join (two plan branches
    # over one signature table), the batch signatures feed exactly one
    # branch here, so a cache would only leak in a long-lived server
    # (the facade drops the handle after writing the verdicts)
    banded_new = _banded_rows(
        new_df, text_col, params["num_hashes"], params["bands"],
        params["shingle_k"], id_col,
    ).select(
        F.col(id_col).alias("__new_id"),
        F.col("sig").alias("__new_sig"),
        "band",
        "bucket",
    )
    stored = spark.read.parquet(index_path).select(
        F.col(params["id_col"]).alias("__old_id"),
        F.col("sig").alias("__old_sig"),
        "band",
        "bucket",
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("__new_sig"), F.col("__old_sig"), lambda x, y: x == y),
            lambda m: m,
        )
    ).cast("double") / F.lit(params["num_hashes"])
    cand = (
        banded_new.join(stored, ["band", "bucket"])
        .select("__new_id", "__old_id", est.alias("__est"))
        .filter(F.col("__est") >= jaccard_threshold)
    )
    # best match = max estimate, min old id tie-break, in ONE pass over
    # the candidates (a self-join formulation would re-execute the band
    # join per branch — the union-rescan anti-pattern). A window works for
    # any id TYPE (string URIs can't ride a negated-id max_by); its
    # partition depth is one new doc's candidate count, bounded by the
    # banding, never corpus-sized.
    w = Window.partitionBy("__new_id").orderBy(
        F.desc("__est"), F.asc("__old_id")
    )
    best = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "__new_id",
            F.col("__old_id").alias("dup_of"),
            F.col("__est").alias("est_jaccard"),
        )
    )
    return (
        new_df.select(F.col(id_col))
        .join(best, F.col(id_col) == F.col("__new_id"), "left")
        .select(
            id_col,
            F.col("dup_of").isNull().cast("int").alias("is_novel"),
            "dup_of",
            F.round("est_jaccard", 4).alias("est_jaccard"),
        )
    )


class BlockCardinalityError(RuntimeError):
    """Raised when blocked_link's candidate set (sum over co-occurring
    blocks of |left block| x |right block|) exceeds the caller's
    `max_block_product` budget — the named signal that the blocking key is
    too coarse at this scale (the message lists the hottest keys and their
    sizes so the caller can re-key, union finer blocking passes, or opt
    into `cap_blocks=`). The same executable-guard contract as
    features.EcdfCardinalityError."""


def blocked_link(
    left: DataFrame,
    right: DataFrame,
    block_col: str = "block",
    id_cols: tuple[str, str] = ("left_id", "right_id"),
    text_cols: tuple[str, str] = ("left_text", "right_text"),
    max_edit: int = 2,
    max_block_product: int | None = 100_000_000,
    cap_blocks: int | None = None,
) -> DataFrame:
    """Record linkage / entity resolution between two tables with BLOCKED
    candidate generation (the standard blocking-key design, e.g. Fellegi-
    Sunter pipelines): rows are only compared when they share `block_col`
    (caller-chosen — a name prefix, a sorted-neighborhood key, phonetic
    code, zip code...), the candidates are verified with exact JVM-side
    Levenshtein, and each LEFT row keeps its single best match
    (min edit distance, min right id tie-break). Returns
    (left id, right id, edit_distance) for matches <= max_edit.

    Recall is the blocking key's contract, not this operator's: a true
    match in different blocks is never compared (that trade is the whole
    point — candidates are sum-of-block-products instead of |L|x|R|).
    Choose keys the corruption model cannot change, or union several
    blocking passes.

    Shape at scale: one equi-shuffle join on the block key, per-candidate
    codegen'd levenshtein, one per-left-id bounded window over candidates
    that survived the distance cut. A hot block degrades to that block's
    product — and that hazard is GUARDED, not prose: one cheap
    O(#blocks) size pre-pass (two grouped counts + one join) totals the
    candidate product before the quadratic join runs. Above
    `max_block_product` (default 100M candidate pairs), a named
    BlockCardinalityError reports the hottest keys and their sizes —
    re-key, union finer blocking passes, or opt into `cap_blocks=k`,
    which deterministically truncates every block to its k
    smallest-id rows PER SIDE (block product <= k^2) and warns with the
    exact dropped-candidate count (recall explicitly traded for a bound,
    the same contract as features' bucketed-ECDF alternative). The
    budget check runs on the CAPPED sizes, so cap_blocks also satisfies
    the budget it restores. Pass max_block_product=None, cap_blocks=None
    to skip the pre-pass entirely."""
    import warnings

    from pyspark.sql import Window

    lid, rid = id_cols
    ltx, rtx = text_cols
    a = left.select(
        F.col(lid), F.col(ltx).alias("__lt"), F.col(block_col).alias("__bk")
    )
    b = right.select(
        F.col(rid), F.col(rtx).alias("__rt"), F.col(block_col).alias("__bk")
    )
    if max_block_product is not None or cap_blocks is not None:
        sizes = (
            a.groupBy("__bk").agg(F.count(F.lit(1)).alias("__la"))
            .join(
                b.groupBy("__bk").agg(F.count(F.lit(1)).alias("__lb")),
                "__bk",
            )
        )
        dropped = 0
        if cap_blocks is not None:
            c = int(cap_blocks)
            if c < 1:
                raise ValueError(f"cap_blocks must be >= 1, got {cap_blocks}")
            sizes = sizes.select(
                "__bk", "__la", "__lb",
                F.least("__la", F.lit(c)).alias("__ea"),
                F.least("__lb", F.lit(c)).alias("__eb"),
            )
            tot = sizes.agg(
                F.sum(F.col("__la") * F.col("__lb")).alias("raw"),
                F.sum(F.col("__ea") * F.col("__eb")).alias("capped"),
            ).first()
            effective = int(tot["capped"] or 0)
            dropped = int(tot["raw"] or 0) - effective
        else:
            tot = sizes.agg(
                F.sum(F.col("__la") * F.col("__lb")).alias("raw")
            ).first()
            effective = int(tot["raw"] or 0)
        if max_block_product is not None and effective > int(max_block_product):
            hot = (
                sizes.withColumn("__prod", F.col("__la") * F.col("__lb"))
                .orderBy(F.desc("__prod"), F.asc("__bk"))
                .limit(10)
                .collect()
            )
            listing = "; ".join(
                f"{r['__bk']!r}: {r['__la']:,} x {r['__lb']:,}" for r in hot
            )
            raise BlockCardinalityError(
                f"blocked_link would verify ~{effective:,} candidate pairs "
                f"(> max_block_product={int(max_block_product):,}) — the "
                f"blocking key is too coarse at this scale. Hottest blocks: "
                f"{listing}. Re-key, union finer blocking passes, pass "
                "cap_blocks= to bound every block (recall trade, dropped "
                "candidates are counted), or max_block_product=None to "
                "accept the cost"
            )
        if dropped > 0:
            warnings.warn(
                f"blocked_link cap_blocks={int(cap_blocks)} truncated hot "
                f"blocks: {dropped:,} candidate pairs dropped (each block "
                "keeps its cap_blocks smallest-id rows per side) — missed "
                "matches in truncated blocks are the explicit recall trade",
                stacklevel=2,
            )
            wa = Window.partitionBy("__bk").orderBy(F.asc(lid))
            wb = Window.partitionBy("__bk").orderBy(F.asc(rid))
            a = (
                a.withColumn("__rn", F.row_number().over(wa))
                .filter(F.col("__rn") <= int(cap_blocks)).drop("__rn")
            )
            b = (
                b.withColumn("__rn", F.row_number().over(wb))
                .filter(F.col("__rn") <= int(cap_blocks)).drop("__rn")
            )
    cand = (
        a.join(b, "__bk")
        .withColumn("edit_distance", F.levenshtein("__lt", "__rt").cast("long"))
        .filter(F.col("edit_distance") <= int(max_edit))
    )
    best = Window.partitionBy(lid).orderBy(
        F.asc("edit_distance"), F.asc(rid)
    )
    return (
        cand.withColumn("__rn", F.row_number().over(best))
        .filter(F.col("__rn") == 1)
        .select(lid, rid, "edit_distance")
    )


# ---------------------------------------------------------------------------
# Cross-document duplicate spans (exact substring dedup)
# ---------------------------------------------------------------------------


def _occurrences(
    df: DataFrame, text_col: str, k: int, doc_col: str, hash_key: bool,
) -> DataFrame:
    """(__d, __pos, __key) k-gram occurrence table: one explode per doc,
    key = the shingle string or a 64-bit gram hash (the byte-volume lever).

    hash_key=True hashes the k tokens DIRECTLY (multi-argument xxhash64
    over the k positions of the token array) instead of building the
    k-token concat string and hashing that — no per-position string
    allocation at all, measured 3.5x faster for the occurrence pass at
    sf0.1 (2.3 s -> 0.65 s warm noop; round-13 opt). The key VALUE
    differs from xxhash64(concat) but keys are internal grouping codes
    only, with the same 64-bit collision caveat as before; two identical
    k-grams always hash equal (token-wise hashing is seed-chained, and
    tokens contain no whitespace by construction so token-boundary
    ambiguity cannot arise)."""
    if hash_key:
        toks = tokens(F.col(text_col))
        t = F.col("__t")
        keys = F.when(
            F.size(t) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - k),
                lambda i: F.xxhash64(
                    *[F.element_at(t, i + j + 1) for j in range(k)]
                ),
            ),
        ).otherwise(F.array().cast("array<bigint>"))
        return df.select(
            F.col(doc_col).alias("__d"), toks.alias("__t")
        ).select("__d", F.posexplode(keys).alias("__pos", "__key"))
    occ = df.select(
        F.col(doc_col).alias("__d"),
        F.posexplode(_shingles(text_col, k)).alias("__pos", "__s"),
    )
    return occ.withColumnRenamed("__s", "__key")


def _merge_marked_offsets(marked: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of marked k-gram offsets into maximal spans.

    Two marked offsets p < q cover overlapping-or-adjoining tokens iff
    q - p <= k ([p, p+k) and [q, q+k) leave no uncovered gap), so a new
    island starts where the offset step exceeds k. Input (__d, __pos);
    output one row per maximal span (__d, span_start, span_end exclusive,
    n_dup_grams). Two windows over the same (__d, __pos) partitioning —
    the second reuses the first's shuffle+sort."""
    w = Window.partitionBy("__d").orderBy("__pos")
    prev = F.lag("__pos").over(w)
    isl = marked.withColumn(
        "__new",
        F.when(prev.isNull() | (F.col("__pos") - prev > k), 1).otherwise(0),
    ).withColumn(
        "__isl",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy("__d", "__isl").agg(
        F.min("__pos").cast("long").alias("span_start"),
        (F.max("__pos") + F.lit(k)).cast("long").alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
    doc_col: str = "doc_id",
    hash_key: bool = True,
) -> DataFrame:
    """Cross-document duplicate SPANS — the sub-document complement of the
    doc-level dedup ladder (ref: the corpus-dedup use case behind
    oph_intercube-style provenance in the reference has no analogue;
    public motivation is Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better": verbatim passages repeated across a
    corpus drive memorization even when no FULL document is a duplicate,
    so removal decisions need token spans, not doc hashes).

    A k-token shingle occurring in >= `min_docs` distinct documents marks
    every one of its occurrences; marked offsets whose token coverage
    overlaps or adjoins (next_start - prev_start <= k) merge into MAXIMAL
    spans per document. Returns one row per span: (doc_col, span_start,
    span_end, span_tokens, n_dup_grams) — 0-based token offsets, end
    exclusive, n_dup_grams = how many duplicated k-grams the span merged.
    Documents with no duplicated shingle produce no rows. Deterministic,
    so every span is DuckDB-oracle checkable.

    Family map (all built on the same mark-and-merge core):
    this function REPORTS spans; `duplicate_span_coverage` scores docs by
    them; `excise_duplicate_spans` cuts them keeping ONE surviving copy
    per passage; packing.remove_repeated_spans is the remove-EVERYWHERE
    variant (no keeper — the passage leaves the corpus entirely);
    text.contamination_spans marks against a reference corpus instead of
    self-duplication.

    Scale shape: one explode to (doc, offset, shingle) — n_tokens rows per
    document, a pure map stage; duplication is a shingle-keyed aggregate +
    semi-join back (both shuffle on the shingle, uniformly keyed by
    construction, no broadcast of any corpus-sized set); the island merge
    runs two same-partitioning windows over each document's MARKED offsets
    only — bounded by document length, never by corpus size, and the
    second window reuses the first's shuffle+sort. `hash_key=True` (the
    DEFAULT since round 11) shuffles 8-byte xxhash64 codes instead of
    k-token strings — the sf10 probe measured the string keys at 5.4x the
    key bytes and 2.1x the wall time for byte-identical spans
    (BASELINE.md round-11 decade section).
    Exact modulo 64-bit collisions (~n_grams²/2^65 — vanishing below
    trillions of distinct grams); pass hash_key=False for the
    collision-free string keys when auditing."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # ONE eager materialization of the occurrence table: the dup-key
    # aggregate and the semi-join back both read it, and without the
    # checkpoint Spark plans TWO independent explode+tokenize passes over
    # the corpus (the dup side lands under a BroadcastExchange, so no
    # exchange-reuse can fire) — measured as the double Generate in
    # plans/r13/dedup_duplicate_spans_before.txt. Same pattern and
    # lifecycle as _unique_shingle_sets' keyed checkpoint (round-13 opt).
    occ = _ckpt(_occurrences(df, text_col, k, doc_col, hash_key))
    dup = (
        occ.groupBy("__key")
        .agg(F.count_distinct("__d").alias("__nd"))
        .filter(F.col("__nd") >= int(min_docs))
        .select("__key")
    )
    marked = occ.join(dup, "__key", "semi").select("__d", "__pos")
    return _merge_marked_offsets(marked, k).select(
        F.col("__d").alias(doc_col),
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        "n_dup_grams",
    )


def duplicate_span_coverage(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
    doc_col: str = "doc_id",
    hash_key: bool = True,
) -> DataFrame:
    """Per-document duplicate-token coverage — the removal-decision metric
    on top of `duplicate_spans`: what fraction of each document's tokens
    sits inside a cross-document duplicate span. EVERY input document
    reports (coverage 0.0 when clean — a clean doc is not silently missing
    from the audit). Returns (doc_col, n_tokens, dup_tokens, dup_fraction
    ROUND(6)).

    Maximal spans from `duplicate_spans` never overlap within a document
    (overlapping runs merge by construction), so dup_tokens is a plain sum
    of span lengths — one extra per-doc aggregate + left join against the
    token counts; same scale shape as the span pass it composes."""
    spans = duplicate_spans(
        df, text_col=text_col, k=k, min_docs=min_docs,
        doc_col=doc_col, hash_key=hash_key,
    )
    per = spans.groupBy(doc_col).agg(
        F.sum("span_tokens").cast("long").alias("__dt")
    )
    n_tok = df.select(
        F.col(doc_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    return (
        n_tok.join(per, doc_col, "left")
        .select(
            doc_col,
            "n_tokens",
            F.coalesce("__dt", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("__dt", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
    )


def excise_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
    doc_col: str = "doc_id",
    hash_key: bool = True,
) -> DataFrame:
    """Duplicate-span REMOVAL — the action on top of `duplicate_spans`'
    detection: every duplicated k-gram keeps exactly one owning document
    (the min doc id among the documents containing it); every OTHER
    document's occurrences are marked, merged into maximal spans, and cut
    out of the text. One copy of each repeated passage survives in the
    corpus; the keeper document is untouched for that passage.

    Returns every input document: (doc_col, text_clean, n_tokens,
    n_removed) — n_removed tokens were excised, text_clean is the
    remaining tokens re-joined with single spaces (the tokenizer's
    canonical form; offsets are token-grain, so sub-token whitespace is
    not preserved — matching the rest of the token-based dedup family).
    Single-pass by design: tokens that become adjacent across a cut can
    in principle form NEW shared k-grams (the same property as the
    public reference implementations of this transform); re-run to a
    fixed point if that matters for the corpus.

    Scale shape: duplicate_spans' explode/aggregate/semi-join plan with
    one extra min-doc aggregate, then the cut is a per-document
    collect_list of that document's OWN spans (bounded by doc length)
    joined back and applied as a JVM higher-order filter over the token
    array — no Python stage, no corpus-sized broadcast."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # eager occurrence checkpoint — same double-explode fix as
    # duplicate_spans (round-13 opt)
    occ = _ckpt(_occurrences(df, text_col, k, doc_col, hash_key))
    dup = (
        occ.groupBy("__key")
        .agg(
            F.count_distinct("__d").alias("__nd"),
            F.min("__d").alias("__keeper"),
        )
        .filter(F.col("__nd") >= int(min_docs))
        .select("__key", "__keeper")
    )
    marked = (
        occ.join(dup, "__key")
        .filter(F.col("__d") != F.col("__keeper"))
        .select("__d", "__pos")
    )
    spans = (
        _merge_marked_offsets(marked, k)
        .select(
            "__d",
            F.col("span_start").alias("__a"),
            F.col("span_end").alias("__b"),
        )
        .groupBy("__d")
        .agg(
            F.collect_list(F.struct("__a", "__b")).alias("__spans")
        )
    )
    toks = tokens(F.col(text_col))
    cut = (
        df.select(F.col(doc_col), F.col(text_col))
        .join(spans, F.col(doc_col) == F.col("__d"), "left")
        .withColumn("__toks", toks)
        .withColumn(
            "__kept",
            F.when(F.col("__spans").isNull(), F.col("__toks")).otherwise(
                # index each token, drop the ones inside any excised span
                F.transform(
                    F.filter(
                        F.transform(
                            F.col("__toks"),
                            lambda t, i: F.struct(
                                t.alias("t"), i.alias("i")
                            ),
                        ),
                        lambda x: ~F.exists(
                            F.col("__spans"),
                            lambda s: (x["i"] >= s["__a"])
                            & (x["i"] < s["__b"]),
                        ),
                    ),
                    lambda x: x["t"],
                )
            ),
        )
    )
    return cut.select(
        F.col(doc_col),
        F.array_join("__kept", " ").alias("text_clean"),
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size("__kept")).cast("long").alias("n_removed"),
    )
