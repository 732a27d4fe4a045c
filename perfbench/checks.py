"""Output checks against references the engine does not compute.

Every check returns a list of problems; an empty list means the output is
right. `Tally` counts operations and marks one failed when its call failed,
was refused, or any check on its output found a problem.

References: DuckDB over the same parquet files (cube values, exact-dedup
counts, chunk counts, store row counts), the closed form of `randcube`,
the benchmark's own fixture lists (massive expansions, planted
near-duplicates), exact numpy top-k (LSH recall) and PageRank's
conservation of total rank.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np


class Tally:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, what: str, problems: list[str]) -> bool:
        """Count one operation; it failed if `problems` is not empty."""
        self.attempted += 1
        if problems:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(f"{what}: {'; '.join(problems[:3])}")
        return not problems


def close(got, want, rel: float = 1e-9, abs_tol: float = 1e-6) -> bool:
    return got is not None and math.isclose(float(got), float(want),
                                            rel_tol=rel, abs_tol=abs_tol)


def _pq(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


# -- datacube requests --------------------------------------------------------

def supplier_month_sums(lineitem_path: str) -> dict[int, np.ndarray]:
    """l_suppkey -> 12 monthly sums of l_quantity (index 0 = January)."""
    rows = duckdb.sql(
        f"SELECT l_suppkey, month(l_shipdate) AS m, sum(l_quantity) "
        f"FROM read_parquet('{lineitem_path}') GROUP BY ALL"
    ).fetchall()
    out: dict[int, np.ndarray] = {}
    for supp, m, total in rows:
        out.setdefault(int(supp), np.full(12, np.nan))[int(m) - 1] = float(total)
    return out


def check_multigrid(grid, expected: dict[int, float], n_rows: int) -> list[str]:
    """An explorecube multigrid of a reduced cube: `n_rows` rows, each one
    explicit key with one value equal to `expected[key]`."""
    if not isinstance(grid, dict) or grid.get("objclass") != "multigrid":
        return [f"not a multigrid: {str(grid)[:80]}"]
    keys, values = grid.get("rowvalues", []), grid.get("measurevalues", [])
    problems = []
    if len(keys) != n_rows or len(values) != n_rows:
        problems.append(f"{len(keys)} rows, expected {n_rows}")
    for key, vals in zip(keys, values):
        want = expected.get(int(key[0]))
        if want is None or len(vals) != 1 or not close(vals[0], want):
            problems.append(f"row {key[0]}: got {vals}, expected {want}")
            break
    return problems


def check_massive(values, expected_pids: list[str]) -> list[str]:
    """A massive oph_cubeschema: one schema per fixture cube, in order."""
    if not isinstance(values, list):
        return [f"massive task returned {type(values).__name__}"]
    got = [v.get("pid") if isinstance(v, dict) else None for v in values]
    if got != expected_pids:
        return [f"expanded {len(got)} cubes, expected {len(expected_pids)} "
                f"fixture cubes"]
    return []


def task_values(doc, tasks: list[str]) -> tuple[dict, list[str]]:
    """Per-task response values of a sync /execute reply, or problems."""
    resp = doc.get("response") if isinstance(doc, dict) else None
    if not resp or resp.get("status") != "OPH_ODB_STATUS_COMPLETED":
        return {}, [f"workflow not completed: {str(doc)[:200]}"]
    got = {t["task"]: t for t in resp.get("tasks", [])}
    problems = [f"task {t} missing or failed" for t in tasks
                if got.get(t, {}).get("status") != "OPH_ODB_STATUS_COMPLETED"]
    return {t: got[t].get("response") for t in got}, problems


# -- corpus pass ---------------------------------------------------------------

def check_exact_dedup(filtered: str, deduped: str) -> list[str]:
    """The dedup stage keeps exactly the lowest doc_id of each distinct text
    of the quality-filter output."""
    want = duckdb.sql(
        f"SELECT min(doc_id) FROM {_pq(filtered)} GROUP BY text ORDER BY 1"
    ).fetchall()
    got = duckdb.sql(f"SELECT doc_id FROM {_pq(deduped)} ORDER BY 1").fetchall()
    if got != want:
        return [f"dedup kept {len(got)} docs, expected {len(want)}"]
    return []


def shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def check_minhash(deduped: str, pairs: str, planted: list[tuple[int, int]],
                  threshold: float) -> tuple[list[str], float]:
    """The stage's contract: every pair is ordered and estimated at or
    above the threshold, and at least half of the planted near-duplicates
    that survived the earlier stages are found. Also returns the share of
    reported pairs whose true 3-shingle Jaccard is at least threshold -
    0.25 (the slack of a 32-hash estimate): a precision figure, not a check,
    because the engine does not promise it."""
    texts = dict(duckdb.sql(f"SELECT doc_id, text FROM {_pq(deduped)}").fetchall())
    got = duckdb.sql(f"SELECT doc_a, doc_b, est_jaccard FROM {_pq(pairs)}").fetchall()
    problems = [f"pair ({a}, {b}) est {est}" for a, b, est in got
                if not (a < b and threshold - 1e-9 <= est <= 1.0)][:1]
    similar = 0
    for a, b, _ in got:
        sa, sb = shingles(texts.get(a, "")), shingles(texts.get(b, ""))
        similar += len(sa & sb) >= (threshold - 0.25) * max(1, len(sa | sb))
    found = {(a, b) for a, b, _ in got}
    live = [(a, b) for a, b in planted
            if a in texts and b in texts and texts[a] != texts[b]]
    hit = sum((min(p), max(p)) in found for p in live)
    if live and hit < 0.5 * len(live):
        problems.append(f"found {hit} of {len(live)} planted near-duplicates")
    return problems, similar / max(1, len(got))


def check_chunks(deduped: str, chunks: str, chunk_tokens: int,
                 overlap: int) -> list[str]:
    """Chunk count per document = number of window starts 1, 1+step, ...
    up to its token count."""
    step = chunk_tokens - overlap
    texts = duckdb.sql(f"SELECT text FROM {_pq(deduped)}").fetchall()
    want = sum(len(range(1, len(t.split()) + 1, step)) for (t,) in texts)
    got = duckdb.sql(f"SELECT count(*) FROM {_pq(chunks)}").fetchone()[0]
    return [] if got == want else [f"{got} chunks, expected {want}"]


# -- vector store --------------------------------------------------------------

def exact_topk(x: np.ndarray, q: np.ndarray, k: int) -> list[int]:
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = xn @ (q / np.linalg.norm(q))
    return [int(i) for i in np.argsort(-sims, kind="stable")[:k]]


def probe_recall(rows, x: np.ndarray, q: np.ndarray, k: int) -> tuple[float, list[str]]:
    """Recall of a probe's (vec_id, cosine_sim) rows against exact top-k,
    and problems with the returned scores themselves."""
    ids = [int(r[0]) for r in rows]
    problems = []
    if len(ids) != k or len(set(ids)) != k:
        problems.append(f"probe returned {len(ids)} rows ({len(set(ids))} distinct)")
    qn = q / np.linalg.norm(q)
    for vid, cos in rows:
        want = float(x[vid] @ qn / np.linalg.norm(x[vid]))
        if not close(cos, want, rel=0, abs_tol=2e-5):
            problems.append(f"vec {vid} cosine {cos}, expected {want:.6f}")
            break
    return len(set(ids) & set(exact_topk(x, q, k))) / k, problems


def check_compacted(store: str, n: int, tables: int, reported_rows: int) -> list[str]:
    """Compaction is lossless: n x tables stored rows, n distinct ids."""
    rows, distinct = duckdb.sql(
        f"SELECT count(*), count(DISTINCT vec_id) FROM {_pq(store)}"
    ).fetchone()
    problems = []
    if rows != n * tables or reported_rows != n * tables:
        problems.append(f"{rows} stored rows (reported {reported_rows}), "
                        f"expected {n * tables}")
    if distinct != n:
        problems.append(f"{distinct} distinct ids, expected {n}")
    return problems


# -- graph / ALS ---------------------------------------------------------------

def graph_nodes(lineitem_path: str) -> int:
    """Nodes of the order -> part graph: distinct orders plus distinct parts."""
    return duckdb.sql(
        f"SELECT count(DISTINCT l_orderkey) + count(DISTINCT l_partkey) "
        f"FROM read_parquet('{lineitem_path}')"
    ).fetchone()[0]


def check_rank_conservation(total_rank: float, n_nodes: int) -> list[str]:
    """PageRank normalized to sum N keeps its total rank at N."""
    if not close(total_rank, n_nodes, rel=1e-9, abs_tol=1e-6 * n_nodes):
        return [f"total rank {total_rank}, expected {n_nodes}"]
    return []


def check_als(objectives: list[float], predictions, n_pairs: int) -> list[str]:
    """ALS objectives never increase; every scored pair gets a finite
    prediction."""
    problems = []
    if any(b > a * (1 + 1e-9) + 1e-9 for a, b in zip(objectives, objectives[1:])):
        problems.append(f"objective increased: {objectives}")
    if len(predictions) != n_pairs or not all(math.isfinite(p) for p in predictions):
        problems.append(f"{len(predictions)} finite predictions, expected {n_pairs}")
    return problems
