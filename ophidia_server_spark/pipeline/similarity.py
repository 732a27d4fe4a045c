"""Similarity search over embedding columns (array<float>).

Two paths:
  brute-force top-k  — exact cosine against a query vector; one pure map stage
                       + a top-k (TakeOrdered) — the correctness baseline and
                       perfectly scalable for single-query scoring.
  LSH-bucketed       — random-hyperplane signatures bucket the corpus; queries
                       only score their bucket (multi-probe = flip one bit).
                       The 100 TB path: candidate set shrinks ~2^bits-fold.

All-pairs similarity uses the LSH buckets as the join key (never a cross
join). Dot products are JVM-side zip_with/aggregate expressions — no Python.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ophidia_server_spark.functions.lits import (
    const_double_array, const_double_matrix,
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def topk_cosine(
    df: DataFrame, query_vec: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    The query is a literal array baked into the plan (broadcast-free); scoring
    is one map stage; `orderBy ... limit k` compiles to TakeOrdered — each
    partition keeps k candidates, driver merges. Scales to any corpus size.
    """
    q = const_double_array(query_vec)
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


def _plane_matrix(dim: int, bits: int):
    """Deterministic pseudo-random hyperplanes, (dim, bits) float64:
        plane[j][d] = ((j*dim + d) * 2654435761 mod 1000003)/1000003 - 0.5
    Derived from a fixed integer hash — reproducible across runs/engines with
    no stored model."""
    import numpy as np

    idx = np.add.outer(np.arange(bits, dtype=np.int64) * dim,
                       np.arange(dim, dtype=np.int64))  # (bits, dim)
    return (((idx * 2654435761) % 1000003) / 1000003.0 - 0.5).T  # (dim, bits)


def signature_of(vec: list[float], bits: int = 8) -> int:
    """Driver-side signature of one vector (query-side of an LSH probe) —
    the same matmul the corpus-side UDF runs, so the sign convention can
    never drift between the two sides."""
    import numpy as np

    v = np.asarray(vec, dtype=np.float64)
    b = (v @ _plane_matrix(len(vec), bits)) > 0
    return int(b @ (1 << np.arange(bits, dtype=np.int64)))


def signature_udf(dim: int, bits: int = 8):
    """Arrow-batched hyperplane signature: (batch, dim) @ (dim, bits) matmul,
    sign bits packed into a long. The plane matrix rides into each task as a
    closure (dim x bits float64 — tiny). Replaces a per-bit interpreted
    aggregate() fold that cost ~0.45 ms/row; the matmul is the sanctioned
    Pandas-UDF path for dense linear algebra (same as IVF cell assignment)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    P = _plane_matrix(dim, bits)
    w = (1 << np.arange(bits, dtype=np.int64))

    def _sig_fn(v):
        M = np.stack(v.to_numpy())  # (batch, dim)
        return pd.Series(((M @ P) > 0) @ w)

    _sig_fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return F.pandas_udf(_sig_fn, T.LongType())


def lsh_topk_cosine(
    df: DataFrame, query_vec: list[float], k: int = 10, bits: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors whose hyperplane signature is
    within hamming distance 1 of the query's (multi-probe LSH).

    At scale the signature is a stored partition/bucket column: the filter
    prunes partitions, so only ~ (bits+1)/2^bits of the corpus is read.
    """
    dim = len(query_vec)
    qsig = signature_of(query_vec, bits)
    probe_sigs = [qsig] + [qsig ^ (1 << j) for j in range(bits)]
    q = const_double_array(query_vec)
    scored = (
        df.withColumn(
            "__sig", signature_udf(dim, bits)(F.col(vec_col).cast("array<double>"))
        )
        .filter(F.col("__sig").isin(probe_sigs))
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cosine_sim"))
    )
    return scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


def exact_pairs_above(
    df: DataFrame, threshold: float = 0.2, max_id: int | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (brute force, oracle path).

    All (a, b) with id_a < id_b and cosine >= threshold. O(n^2) by design —
    the exactness baseline the LSH/IVF paths approximate. `max_id` bounds the
    corpus slice so the quadratic stays testable; at scale use
    `allpairs_above` (LSH buckets) instead.
    """
    base = df if max_id is None else df.filter(F.col(id_col) < max_id)
    # per-row norm computed once BEFORE the join — per-pair cosine() would
    # re-fold both norms for every one of the O(n^2) pairs (3x the work).
    # Same expression over the same rows, so the floats are bit-identical to
    # the per-pair form (keeps the DuckDB oracle hash match)
    keyed = base.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("__norm")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    pair_cos = _dot(F.col("a." + vec_col), F.col("b." + vec_col)) / (
        F.col("a.__norm") * F.col("b.__norm")
    )
    return (
        a.join(b, F.col("a." + id_col) < F.col("b." + id_col))
        .select(
            F.col("a." + id_col).alias("id_a"),
            F.col("b." + id_col).alias("id_b"),
            F.round(pair_cos, 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def ivf_leaders(df: DataFrame, n_cells: int = 16, id_col: str = "vec_id",
                vec_col: str = "embedding") -> list[list[float]]:
    """Deterministic coarse-quantizer centroids: the n_cells lowest-id vectors,
    L2-normalized driver-side. Stands in for a KMeans codebook (same IVF
    geometry, reproducible with no trained model); at 100 TB the codebook
    comes from pyspark.ml KMeans over a sample and is broadcast the same way.
    """
    rows = df.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    out = []
    for r in rows:
        v = [float(x) for x in r[0]]
        n = sum(x * x for x in v) ** 0.5 or 1.0
        out.append([x / n for x in v])
    return out


def ivf_kmeans_codebook(
    df: DataFrame, n_cells: int = 16, vec_col: str = "embedding",
    id_col: str = "vec_id", sample_frac: float = 0.2, seed: int = 13,
    max_sample_rows: int = 100_000, max_iter: int = 10,
) -> list[list[float]]:
    """Trained IVF codebook: spherical KMeans over a deterministic
    content-hash sample of the corpus, centroids L2-normalized.

    Training follows the documented codebook practice (same pattern as
    pq_codebooks): the hash_sample-stable sample is HARD-CAPPED at
    `max_sample_rows` before the collect, so the driver never sees more than
    ~100k x dim floats no matter the corpus size, and Lloyd iterations run
    in one numpy matmul per round — microseconds at the cap, with none of
    the per-iteration job-scheduling overhead a distributed KMeans pays for
    a bounded-size problem. k-means++-style seeding is driven by a seeded
    Generator, so the codebook is reproducible. The result is n_cells x dim
    floats — broadcast-sized regardless of corpus size. On clustered real
    embeddings this keeps recall up where a fixed id-ordered codebook
    (ivf_leaders) collapses.
    """
    import numpy as np

    from ophidia_server_spark.pipeline.sampling import hash_sample

    arr = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x))

    def unit_rows(src):
        return (
            src.withColumn("__n", norm)
            .filter(F.col("__n") > 0)
            .select(F.transform(arr, lambda x: x / F.col("__n")).alias("__u"))
            .limit(max_sample_rows)
            .collect()
        )

    rows = unit_rows(hash_sample(df, sample_frac, key_col=id_col, salt="ivf"))
    if len(rows) < n_cells:
        rows = unit_rows(df)
    X = np.asarray([r["__u"] for r in rows])
    rng = np.random.default_rng(seed)
    # k-means++ seeding on the unit sphere (distance = 1 - cosine)
    centers = [X[rng.integers(len(X))]]
    for _ in range(1, min(n_cells, len(X))):
        d = 1.0 - np.max(np.stack([X @ c for c in centers]), axis=0)
        d = np.clip(d, 0, None)
        p = d / d.sum() if d.sum() > 0 else None
        centers.append(X[rng.choice(len(X), p=p)])
    C = np.stack(centers)
    for _ in range(max_iter):
        assign = np.argmax(X @ C.T, axis=1)
        newC = np.stack([
            X[assign == j].mean(axis=0) if np.any(assign == j) else C[j]
            for j in range(len(C))
        ])
        n = np.linalg.norm(newC, axis=1, keepdims=True)
        newC = newC / np.where(n == 0, 1.0, n)
        if np.allclose(newC, C, atol=1e-9):
            C = newC
            break
        C = newC
    return [[float(x) for x in c] for c in C]


def ivf_assign(df: DataFrame, leaders_unit: list[list[float]],
               vec_col: str = "embedding") -> DataFrame:
    """Tag every vector with its IVF cell = argmax_j dot(vec, unit_leader_j)
    (1-based). The vector's own norm is constant across cells, so plain dot
    against unit leaders gives the cosine argmax without per-row
    normalization. Cells are the partition/bucket column at scale (write
    partitioned by __cell -> probe-time partition pruning).

    Assignment is a dense (batch x dim) @ (dim x cells) matmul — the
    sanctioned Arrow/Pandas-UDF path for genuinely numeric kernels: measured
    ~6x faster than the equivalent per-leader higher-order-function fold
    (interpreted per element). The codebook rides into each task as a closure
    (cells x dim floats — tiny).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    L = np.asarray(leaders_unit, dtype="float64").T  # (dim, n_cells)

    def _cell_fn(v):
        M = np.stack(v.to_numpy())  # (batch, dim)
        return pd.Series((M @ L).argmax(axis=1) + 1)

    # module uses `from __future__ import annotations`, so inline hints are
    # unresolvable strings to pandas_udf's inference — set real ones
    _cell_fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
    _cell = F.pandas_udf(_cell_fn, T.IntegerType())

    return df.withColumn("__cell", _cell(F.col(vec_col).cast("array<float>")))


def ivf_topk_cosine(
    df: DataFrame, query_vec: list[float], k: int = 10, n_cells: int = 16,
    nprobe: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
    codebook: str = "kmeans", leaders: list | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe only the nprobe cells whose leaders are
    closest to the query, brute-force exact cosine inside them.

    Scan fraction ~ nprobe/n_cells of the corpus (vs 1.0 for brute force);
    with cells as a partition column the non-probed cells are never read.
    codebook='kmeans' trains a spherical-KMeans codebook on a hash sample
    (the quality path); 'leaders' uses the deterministic id-ordered stand-in;
    a precomputed `leaders` list (unit vectors) skips training entirely —
    pass the cached build-once codebook at serving time.
    """
    if leaders is not None:
        pass
    elif codebook == "kmeans":
        leaders = ivf_kmeans_codebook(df, n_cells, vec_col, id_col)
    else:
        leaders = ivf_leaders(df, n_cells, id_col, vec_col)
    qn = sum(x * x for x in query_vec) ** 0.5 or 1.0
    qsims = [
        sum(q / qn * l for q, l in zip(query_vec, L)) for L in leaders
    ]
    probe_cells = [
        c + 1  # array_position is 1-based
        for c in sorted(range(len(leaders)), key=lambda c: -qsims[c])[:nprobe]
    ]
    q = const_double_array(query_vec)
    assigned = ivf_assign(df, leaders, vec_col)
    scored = assigned.filter(F.col("__cell").isin(probe_cells)).select(
        F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cosine_sim")
    )
    return scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


def allpairs_above(
    df: DataFrame, threshold: float = 0.9, bits: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64,
) -> DataFrame:
    """All pairs with cosine >= threshold via LSH bucket self-join (embedding
    near-dup dedup). Only same-bucket pairs are scored — sub-quadratic; high-
    similarity pairs land in the same bucket with high probability.

    One signature matmul per vector, then one normalized Gram matmul per
    bucket via applyInPandas — no self-join, no per-pair interpreted dot
    (the previous bucket self-join re-scored each candidate pair with an
    interpreted 2*dim-element fold; the blocked matmul is ~100x fewer
    Python/JVM boundary crossings). The bucket groupBy is the only shuffle,
    and it moves each vector exactly once. Buckets must fit one task's
    memory: size `bits` so n/2^bits stays bounded (at 100 TB, raise bits or
    band multiple signatures; the quadratic is per-bucket by construction)."""
    import numpy as np
    import pandas as pd

    keyed = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__sig", signature_udf(dim, bits)(F.col("__v")))

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        M = np.stack(pdf["__v"].to_numpy())
        norms = np.linalg.norm(M, axis=1)
        norms[norms == 0] = 1.0
        S = (M / norms[:, None]) @ (M / norms[:, None]).T
        ia, ib = np.triu_indices(len(ids), 1)
        sims = S[ia, ib]
        # Spark's round() is HALF_UP (away from zero) — mirror it exactly so
        # the LSH pairs stay a subset of the JVM-rounded brute-force pairs
        rounded = np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5) / 1e6
        m = rounded >= threshold
        return pd.DataFrame(
            {"id_a": ids[ia[m]], "id_b": ids[ib[m]], "cosine_sim": rounded[m]}
        )

    return keyed.groupBy("__sig").applyInPandas(
        _score, "id_a long, id_b long, cosine_sim double"
    )


def normalize_embeddings(df: DataFrame, vec_col: str = "embedding",
                         out_col: str = "unit") -> DataFrame:
    """L2-normalize an embedding column (the standard ANN preprocessing:
    cosine on unit vectors = plain dot product, so index-time normalization
    buys a division-free score at query time). Zero vectors stay zero."""
    n = _norm(F.col(vec_col))
    return df.withColumn(
        out_col,
        F.when(
            n > 0, F.transform(F.col(vec_col), lambda x: x.cast("double") / n)
        ).otherwise(F.transform(F.col(vec_col), lambda x: F.lit(0.0))),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): memory-compressed ANN
# ---------------------------------------------------------------------------

PQ_MAX_TRAIN_ROWS = 100_000


def pq_codebooks(
    df: DataFrame, m: int = 8, k: int = 16, vec_col: str = "embedding",
    id_col: str = "vec_id", sample_frac: float = 0.2, seed: int = 13,
    iters: int = 12, max_train: int = PQ_MAX_TRAIN_ROWS,
) -> list:
    """Train per-subspace PQ codebooks (FAISS-style): split the dimension
    into m contiguous subspaces (after unit-normalizing, so ADC L2 order ==
    cosine order) and run Lloyd's k-means per subspace on a
    deterministic hash sample. The collected training set is bounded by an
    ABSOLUTE row cap (`max_train`, default 100k — standard PQ practice
    trains on 10^4-10^5 vectors regardless of corpus size), so the driver
    collect stays fixed-size even when sample_frac of a 100 TB corpus would
    not; everything after training is distributed. Returns m arrays of
    shape (k, sub_dim)."""
    import numpy as np

    from ophidia_server_spark.pipeline.sampling import hash_sample

    rows = (
        hash_sample(df, sample_frac, key_col=id_col, salt="pq")
        .select(vec_col)
        .limit(max_train)
        .collect()
    )
    if len(rows) < k:
        rows = df.select(vec_col).limit(max(10 * k, 100)).collect()
    X = np.asarray([[float(v) for v in r[0]] for r in rows], dtype="float64")
    # unit-normalize: on unit vectors ||a-b||^2 = 2 - 2cos(a,b), so ADC L2
    # ranking is exactly cosine ranking
    n = np.linalg.norm(X, axis=1, keepdims=True)
    X = X / np.where(n == 0, 1.0, n)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        Xs = X[:, j * sub : (j + 1) * sub]
        C = Xs[rng.choice(len(Xs), size=k, replace=len(Xs) < k)]
        for _ in range(iters):
            d = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                pts = Xs[assign == c]
                if len(pts):
                    C[c] = pts.mean(axis=0)
        books.append(C.copy())
    return books


def pq_encode(
    df: DataFrame, books: list, vec_col: str = "embedding",
    id_col: str = "vec_id", keep: tuple = (),
) -> DataFrame:
    """Encode each vector to m uint8 codes (argmin centroid per subspace) —
    a dense batched matmul per subspace inside an Arrow Pandas UDF. Output
    is ~dim*4/m bytes per vector smaller (e.g. 64-dim float -> 8 bytes).
    `keep` passes extra columns through unchanged (the IVF-PQ build keeps
    the cell assignment and the float vector alongside the codes)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    m = len(books)
    sub = books[0].shape[1]

    def _enc(v):
        X = np.stack([np.asarray(x, dtype="float64") for x in v])
        n = np.linalg.norm(X, axis=1, keepdims=True)
        X = X / np.where(n == 0, 1.0, n)
        out = np.empty((len(X), m), dtype="int16")
        for j in range(m):
            Xs = X[:, j * sub : (j + 1) * sub]
            d = ((Xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = d.argmin(axis=1)
        return pd.Series(list(out))

    _enc.__annotations__ = {"v": pd.Series, "return": pd.Series}
    enc = F.pandas_udf(_enc, T.ArrayType(T.ShortType()))
    return df.select(
        id_col, *keep,
        enc(F.col(vec_col).cast("array<double>")).alias("pq_codes"),
    )


def pq_adc_dist(books: list, query_vec: list) -> Column:
    """The asymmetric-distance-computation expression over a `pq_codes`
    array column: the (m x k) lookup table of squared distances
    query-subvector -> centroid is built driver-side (tiny literal), and
    the per-row sum is PURE JVM (transform-with-index + aggregate). Shared
    by the corpus-wide pq_topk scan and the IVF-PQ pruned probe."""
    import numpy as np

    m = len(books)
    kcent = books[0].shape[0]
    sub = books[0].shape[1]
    q = np.asarray(query_vec, dtype="float64")
    qn = np.linalg.norm(q)
    q = q / (qn if qn else 1.0)
    flat = []
    for j in range(m):
        qs = q[j * sub : (j + 1) * sub]
        flat.extend(((books[j] - qs[None, :]) ** 2).sum(axis=1).tolist())
    tbl = const_double_array(flat)
    contrib = F.transform(
        F.col("pq_codes"),
        lambda c, i: F.element_at(tbl, (i * kcent + c.cast("int") + 1).cast("int")),
    )
    return F.aggregate(contrib, F.lit(0.0), lambda a, x: a + x)


def pq_topk(
    codes: DataFrame, books: list, query_vec: list, k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the (m x k) lookup table of
    squared distances query-subvector -> centroid is built driver-side
    (tiny), then scoring is PURE JVM — transform-with-index over the code
    array reads the flattened table literal, aggregate sums it. No Python in
    the scan, so the compressed corpus scores at full codegen speed;
    orderBy+limit is Spark's TakeOrdered (k per partition, driver merge)."""
    dist = pq_adc_dist(books, query_vec)
    return (
        codes.select(id_col, F.round(dist, 6).alias("pq_dist"))
        .orderBy("pq_dist", id_col)
        .limit(k)
    )


def pq_topk_rerank(
    codes: DataFrame, vectors: DataFrame, books: list, query_vec: list,
    k: int = 10, shortlist: int | None = None, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The standard PQ serving pipeline: ADC over compressed codes produces a
    shortlist (default 5k candidates per query k), then ONLY those rows'
    full vectors are fetched (broadcast semi-join on id) and re-ranked with
    exact cosine. Compressed scan does the heavy lifting; the exact pass
    touches `shortlist` rows regardless of corpus size."""
    shortlist = shortlist or 5 * k
    cand = pq_topk(codes, books, query_vec, k=shortlist, id_col=id_col).select(id_col)
    q = const_double_array(query_vec)
    scored = (
        vectors.join(F.broadcast(cand), id_col)
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cosine_sim"))
    )
    return scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster embeddings, prune near-identical members
# ---------------------------------------------------------------------------


def semantic_leaders(
    df: DataFrame, n_clusters: int = 8, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic cluster leaders for semantic dedup: the n_clusters
    lowest-id vectors, unit-normalized driver-side. Same stand-in contract as
    ivf_leaders — a trained codebook (ivf_kmeans_codebook) drops into the
    same (cluster_id, centroid) shape; the deterministic form is what keeps
    the whole operator DuckDB-oracle-exact."""
    rows = df.orderBy(id_col).limit(n_clusters).select(id_col, vec_col).collect()
    out = []
    for r in rows:
        v = [float(x) for x in r[1]]
        n = sum(x * x for x in v) ** 0.5 or 1.0
        out.append((int(r[0]), [x / n for x in v]))
    return out


def semantic_dedup(
    df: DataFrame, n_clusters: int = 8, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
    leaders: "list[tuple[int, list[float]]] | None" = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): assign every embedding to its nearest
    cluster centroid, then inside each cluster drop any member whose cosine
    similarity to a LOWER-id member exceeds `threshold` (keep-lowest-id
    representative). Returns (vec_id, cluster_id, kept) for the full corpus.

    Shape at scale: centroid assignment is a pure map stage — the centroid
    table is a plan literal / broadcast (k centroids, bounded), scored with
    JVM zip_with folds; the pairwise pass is confined WITHIN a cluster by a
    self-join on cluster_id, so the quadratic term is (corpus/k)^2 per
    cluster rather than corpus^2 — the SemDeDup contract (k grows with the
    corpus; FAISS uses ~sqrt(n) clusters). No global state, no collect
    beyond the k-row leader table.
    """
    lead = leaders if leaders is not None else semantic_leaders(
        df, n_clusters, id_col=id_col, vec_col=vec_col
    )
    # argmax over k literal centroids: greatest(dot_0 .. dot_{k-1}) then a
    # first-match CASE — ties break to the lowest cluster id, same as the
    # oracle's ORDER BY (dot DESC, cluster_id). Dots are rounded to 9
    # decimals before the argmax so engines whose fold order differs in the
    # last ulp still agree on the assignment.
    v = F.col(vec_col)
    dots = [
        F.round(_dot(v, const_double_array(c)), 9).alias(f"__d{cid}")
        for cid, c in lead
    ]
    scored = df.select(F.col(id_col), v.alias(vec_col), *dots)
    best = F.greatest(*[F.col(f"__d{cid}") for cid, _ in lead])
    assign = None
    for cid, _ in lead:
        cond = F.col(f"__d{cid}") == best
        assign = F.when(cond, F.lit(cid)) if assign is None else assign.when(cond, F.lit(cid))
    member = scored.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
        assign.cast("long").alias("cluster_id"),
    )

    # Per-cluster pairwise pass: one Arrow batch per cluster, scored as a
    # single float64 matmul (the FAISS-style dense kernel — the sanctioned
    # Pandas-UDF path for dense linear algebra, same as PQ/IVF). A member is
    # dropped iff some LOWER-id member of its cluster has round(cos, 6) >=
    # threshold. Replaces a JVM per-pair zip_with fold that interpreted
    # 64 ops/pair (~4x slower at 2k vectors); numpy's double accumulation
    # agrees with the sequential oracle fold through round(6).
    import numpy as np
    import pandas as pd

    def _prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        M = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        norms = np.sqrt((M * M).sum(axis=1))
        norms[norms == 0] = 1.0
        cos = np.round((M @ M.T) / np.outer(norms, norms), 6)
        # strictly-lower-triangular hits: row i dropped if any j < i matches
        hit = (np.tril(cos >= threshold, k=-1)).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cluster_id": pdf["cluster_id"],
                "kept": (~hit).astype("int32"),
            }
        )

    out = member.groupBy("cluster_id").applyInPandas(
        _prune, "vec_id long, cluster_id long, kept int"
    )
    return out if id_col == "vec_id" else out.withColumnRenamed("vec_id", id_col)


def sign_codes(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """1-bit sign quantization (binary embeddings — the public
    memory-lean serving trick: 64 dims collapse to 8 bytes, and Hamming
    distance approximates angular distance): bit i = (v[i] > 0), packed
    into two unsigned 32-bit words held in BIGINTs so the packing is
    portable to engines whose << 63 overflows. Pure JVM array folds —
    one map, no shuffle. Returns (id, code_lo, code_hi)."""
    v = F.col(vec_col)

    def pack(lo: int) -> Column:
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(31)),
            F.lit(0).cast("long"),
            # shiftleft() needs a literal bit count, so the power comes from
            # pow(2, i) — exact in a double up to 2^52, cast back to long
            lambda acc, i: acc
            + F.when(
                F.element_at(v, i + lo + 1) > 0,
                F.pow(F.lit(2.0), i).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )

    return df.select(
        F.col(id_col), pack(0).alias("code_lo"), pack(32).alias("code_hi")
    )


def whiten_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    quant: float = 1e6,
) -> DataFrame:
    """Per-dimension whitening (mean-center, unit-variance scale) — the
    standard preprocessing before ANN / clustering when dimensions have
    uneven scales. Corpus moments per dimension are accumulated in
    `quant`-quantized integer units (bit-stable under partitioning);
    each vector then maps through (x - mean) / std with zero-variance
    dimensions passed through centered. Returns (id, dim, value R6) in
    long form — one explode + one (dim)-keyed aggregate + one broadcast
    join back (the 64-row moment table)."""
    ex = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    mom = ex.groupBy("dim").agg(
        (
            F.sum(F.round(F.col("x") * quant).cast("long")).cast("double")
            / (F.count(F.lit(1)) * quant)
        ).alias("__m"),
        (
            F.sum(F.round(F.col("x") * F.col("x") * quant).cast("long"))
            .cast("double")
            / (F.count(F.lit(1)) * quant)
        ).alias("__m2"),
    ).select(
        "dim", "__m",
        F.sqrt(F.greatest(F.col("__m2") - F.col("__m") * F.col("__m"),
                          F.lit(0.0))).alias("__sd"),
    )
    out = F.when(
        F.col("__sd") > 0, (F.col("x") - F.col("__m")) / F.col("__sd")
    ).otherwise(F.col("x") - F.col("__m"))
    return ex.join(F.broadcast(mom), "dim").select(
        F.col(id_col),
        F.col("dim").cast("long").alias("dim"),
        F.round(out, 6).alias("value"),
    )


def label_centroid_separation(
    df: DataFrame, label_col: str = "label",
    vec_col: str = "embedding", quant: float = 1e6,
) -> DataFrame:
    """Embedding class-separation audit: per-label centroids and the
    cosine between every label pair — low between-centroid angles mean
    the classes a sampler or classifier relies on are not separable in
    this embedding space. Per-dimension sums are accumulated in
    `quant`-quantized integer units (round(x * quant) summed as BIGINT)
    so the centroids are bit-identical under any partitioning; the
    cosine then divides exact-integer-derived doubles once. Returns
    (label_a, label_b, n_a, n_b, centroid_cosine R6) for a < b.

    Shape at scale: one posexplode + (label, dim)-keyed integer sum
    (map-side partials), one label-grain array rebuild, one bounded
    label-pair join — labels x dims rows, never the corpus."""
    ex = df.select(
        F.col(label_col).alias("lab"),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("pos", "x"),
    )
    sums = ex.groupBy("lab", "pos").agg(
        F.sum(F.round(F.col("x") * quant).cast("long")).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    cent = sums.groupBy("lab").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("pos", "__s"))
            ),
            lambda s: s["__s"].cast("double"),
        ).alias("__c"),
        F.max("__n").cast("long").alias("n"),
    )
    a = cent.select(
        F.col("lab").alias("label_a"), F.col("__c").alias("__ca"),
        F.col("n").alias("n_a"),
    )
    b = cent.select(
        F.col("lab").alias("label_b"), F.col("__c").alias("__cb"),
        F.col("n").alias("n_b"),
    )
    dot = F.aggregate(
        F.zip_with("__ca", "__cb", lambda p, q: p * q),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform("__ca", lambda p: p * p), F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform("__cb", lambda p: p * p), F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a", "label_b", "n_a", "n_b",
            F.round(cos, 6).alias("centroid_cosine"),
        )
    )


def rrf_fuse(
    rankings: list, k: int = 60, id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.'s public RRF — the standard
    hybrid-search combiner for lexical + semantic rankings): each input
    DataFrame is (id, score); ranks come from (score DESC, id) and every
    list contributes round(1e9 / (k + rank)) INTEGER micro-points, so the
    cross-list sum is exact regardless of aggregation order (true RRF's
    double sum is order-sensitive at the last ulp with 3+ lists; the
    1e-9 quantization trades that away). Returns (id, n_lists,
    rrf = micro_sum / 1e9).

    Shape at scale: one bounded window per ranking (each is already a
    top-k table), a union, one id-keyed sum — nothing corpus-sized."""
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = []
    for r in rankings:
        idc, scorec = r.columns[0], r.columns[1]
        rank = F.row_number().over(
            Window.orderBy(F.desc(scorec), F.col(idc))
        )
        parts.append(
            r.select(
                F.col(idc).alias(id_col),
                F.round(F.lit(1e9) / (F.lit(int(k)) + rank))
                .cast("long").alias("__m"),
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return allp.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        (F.sum("__m").cast("double") / 1e9).alias("rrf"),
    )


def rademacher_matrix(in_dim: int, out_dim: int, salt: str = "jl") -> list:
    """Deterministic content-addressed ±1 projection matrix: sign(j, i) =
    +1 iff md5(f"{j}:{i}:{salt}") starts in '0'-'7'. Computed once on the
    driver (out_dim x in_dim small ints) and injected into the plan as
    literals — never a per-row hash storm, and any engine can rebuild the
    exact same matrix from the recipe."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{j}:{i}:{salt}".encode()).hexdigest()[0]
            in "01234567" else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_project(
    df: DataFrame, out_dim: int = 16, in_dim: int = 64,
    vec_col: str = "embedding", id_col: str = "vec_id", salt: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas' public ±1
    database-friendly variant): y_j = (1/sqrt(out_dim)) * sum_i v_i *
    s(j,i) with a deterministic Rademacher matrix — the dimensionality
    crusher in front of clustering / ANN when 64+ dims are too wide.
    out_dim=16 makes the 1/sqrt(m) scale exactly 0.25, a power of two,
    so the projection is bit-deterministic across engines. Each output
    coordinate folds the vector in one fixed left-to-right order —
    pure JVM array math, one map, no shuffle, no UDF. Vectors whose
    width differs from `in_dim` are EXCLUDED (a mismatched zip would
    otherwise null-pad and silently poison every output coordinate);
    count them upstream with profile_table if they matter. Returns
    (id, dim, value ROUND(6)) in long form."""
    scale = 1.0 / math.sqrt(out_dim)
    mat = rademacher_matrix(in_dim, out_dim, salt)
    df = df.filter(F.size(F.col(vec_col)) == in_dim)
    # One 2D matrix literal + nested transform/aggregate (round-13 opt,
    # guide step-2 per-task work): the previous formulation inlined the
    # whole fold SEPARATELY per output coordinate — out_dim copies of a
    # 64-literal zip_with/aggregate (and out_dim re-evaluations of the
    # double-cast transform), a single expression large enough to defeat
    # whole-stage codegen's method limits and fall back to interpreted
    # evaluation. Folding j through one lambda over the shared matrix
    # literal keeps the identical left-to-right arithmetic per coordinate
    # (same zip_with, same 0.0-seeded + fold, same *scale then ROUND(6) —
    # bit-identical doubles, oracle-pinned) in an expression ~out_dim
    # times smaller. posexplode supplies the dim index the structs
    # carried before.
    m2 = const_double_matrix(mat)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ys = F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)),
        lambda j: F.round(
            F.aggregate(
                F.zip_with(
                    v, F.element_at(m2, j + 1), lambda a, b: a * b
                ),
                F.lit(0.0), lambda acc, x: acc + x,
            ) * F.lit(scale),
            6,
        ),
    )
    return df.select(
        F.col(id_col), F.posexplode(ys).alias("dim", "value")
    ).select(F.col(id_col), F.col("dim").cast("long"), "value")


def int8_codes(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Int8 scalar quantization (the standard 4x-compression serving tier
    between full floats and 1-bit signs): each vector stores one double
    scale = max|v_i| and 64 small integers q_i = round(127 * v_i / scale),
    so the quantized dot product is EXACT integer arithmetic and the
    reconstructed similarity deterministic across engines. Zero vectors
    quantize to all-zero codes. Pure JVM array map — no shuffle, no UDF.
    Returns (id, scale, qcode array<long>)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs))
    q = F.when(
        scale > 0,
        F.transform(
            v, lambda x: F.round(F.lit(127.0) * x / scale).cast("long")
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))
    return df.select(
        F.col(id_col), scale.alias("scale"), q.alias("qcode")
    )


def int8_topk(
    codes: DataFrame, query_ids: list, k: int = 10, id_col: str = "vec_id",
) -> DataFrame:
    """Top-k nearest by QUANTIZED cosine over int8 codes for each literal
    query id: the handful of query rows broadcast against the code table,
    similarity = integer dot / sqrt(integer norms) — every intermediate
    is exact integer arithmetic (64 dims x 127^2 keeps the norm product
    under 2^41), so the double similarity is bit-identical across
    engines and partitionings. Ties break on the candidate id;
    self-matches are excluded. One broadcast join + one per-query
    window — the scan never leaves codegen for a UDF."""
    from pyspark.sql import Window

    q = codes.filter(F.col(id_col).isin([int(x) for x in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col("qcode").alias("__qq")
    )
    zero = F.lit(0).cast("long")
    dot = F.aggregate(
        F.zip_with("qcode", "__qq", lambda a, b: a * b),
        zero, lambda acc, x: acc + x,
    )
    na2 = F.aggregate(
        F.col("qcode"), zero, lambda acc, x: acc + x * x
    )
    nb2 = F.aggregate(
        F.col("__qq"), zero, lambda acc, x: acc + x * x
    )
    sim8 = F.when(
        (na2 > 0) & (nb2 > 0),
        dot.cast("double") / F.sqrt((na2 * nb2).cast("double")),
    ).otherwise(F.lit(0.0))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__sim"), F.col(id_col)
    )
    return (
        codes.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        # width guard: a corrupt/truncated code would null-pad the
        # zip_with and poison the similarity — drop it instead
        .filter(F.size("qcode") == F.size("__qq"))
        .withColumn("__sim", sim8)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor"),
            F.round("__sim", 6).alias("q_cosine"),
        )
    )


def hamming_topk(
    codes: DataFrame, query_ids: list, k: int = 10, id_col: str = "vec_id",
) -> DataFrame:
    """Top-k nearest by Hamming distance over sign codes for each literal
    query id: the query rows (a handful) broadcast against the code
    table, distance = popcount(xor) on the two words — whole-stage
    codegen, no arrays — and a per-query window keeps k. Ties break on
    the candidate id. Self-matches are excluded."""
    from pyspark.sql import Window

    q = codes.filter(F.col(id_col).isin([int(x) for x in query_ids])).select(
        F.col(id_col).alias("query_id"),
        F.col("code_lo").alias("__qlo"),
        F.col("code_hi").alias("__qhi"),
    )
    dist = F.bit_count(
        F.col("code_lo").bitwiseXOR(F.col("__qlo"))
    ) + F.bit_count(F.col("code_hi").bitwiseXOR(F.col("__qhi")))
    w = Window.partitionBy("query_id").orderBy("hamming", id_col)
    return (
        codes.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .withColumn("hamming", dist.cast("int"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", F.col(id_col).alias("neighbor"), "hamming")
    )
