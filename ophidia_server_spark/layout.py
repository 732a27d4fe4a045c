"""Data-layout optimization: Z-order clustering + min-max file skipping.

The reference engine partitions datacubes over hosts/fragments along
explicit dimensions (oph_ophidiadb_query.h fragmentation model), which
serves one dimension well and the others badly. At 100 TB on object
storage the equivalent lever is FILE layout: cluster rows so that parquet
per-file column statistics prune most files for predicates on ANY of the
clustered dimensions, not just the leading sort key.

Z-ordering (Morton 1966, the public space-filling-curve construction used
by Delta/Iceberg table optimizers) interleaves the bits of the dimension
codes so nearby (d1, d2, ...) cells land in nearby z-values; range-
partitioning + sorting by z-value then gives every file a tight min/max
envelope on EVERY clustered column. All arithmetic is built-in bitwise
column algebra — whole-stage-codegen'd, no UDF, one range shuffle total.

File skipping reads those envelopes back as a manifest (one row per file:
min/max/count per column — the Iceberg/Delta stats idea, held as a tiny
DataFrame), prunes the file list driver-side against a predicate rectangle,
and scans only surviving files. The manifest is thousands of rows at 100 TB
(one per file), so the driver-side filter is free; correctness never
depends on pruning because the real predicate is re-applied after the scan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def zorder_key(cols: list, bits: int = 16) -> Column:
    """Morton interleave of non-negative integer codes, LSB-first: bit i of
    column j lands at position i * ndims + j. Codes must already lie in
    [0, 2^bits) — see `zorder_codes` for the min/max scaling that gets
    arbitrary numeric columns there. Pure JVM bitwise algebra; with the
    default 16 bits and up to 4 dims the result fits comfortably in a long."""
    ndims = len(cols)
    if ndims < 1:
        raise ValueError("zorder_key needs at least one column")
    if bits * ndims > 62:
        raise ValueError(f"{bits} bits x {ndims} dims overflows a long")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    terms = [
        F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * ndims + j)
        for i in range(bits)
        for j, c in enumerate(cs)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms).cast("long")


def zorder_codes(df: DataFrame, cols: list[str], bits: int = 16):
    """Scale numeric columns to integer codes in [0, 2^bits) by their
    global min/max — ONE aggregate pass, then a pure map. Returns
    (df_with_code_columns, code_names). Constant columns code to 0."""
    n = (1 << bits) - 1
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"__lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__hi_{c}") for c in cols],
    ).first()
    out = df
    names = []
    for c in cols:
        lo, hi = stats[f"__lo_{c}"], stats[f"__hi_{c}"]
        if lo is None or hi is None:  # all-NULL column: every row codes to 0
            code = F.lit(0).cast("long")
        else:
            span = (hi - lo) or 1.0
            code = F.least(
                F.lit(n),
                F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * n),
            ).cast("long")
        # NULL cells code to 0 explicitly — F.least skips NULL arguments, so
        # without the coalesce a NULL value would code to n (least(n, NULL)=n)
        names.append(f"__z_{c}")
        out = out.withColumn(f"__z_{c}", F.coalesce(code, F.lit(0).cast("long")))
    return out, names


def zorder_write(
    df: DataFrame, path: str, cols: list[str], files: int, bits: int = 16,
) -> None:
    """Write `df` as parquet clustered on the Z-order of `cols`: scale to
    codes (one aggregate), range-partition into `files` partitions by
    z-value (ONE shuffle — the same cost as any repartition) and sort
    within each, so every output file carries a tight min/max envelope on
    every clustered column. The helper columns never reach the files."""
    coded, names = zorder_codes(df, cols, bits)
    z = zorder_key(names, bits).alias("__zkey")
    (
        coded.withColumn("__zkey", z)
        .repartitionByRange(files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey", *names)
        .write.mode("overwrite")
        .parquet(path)
    )


def build_file_index(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """Per-file min/max/count manifest for a parquet store — the data-
    skipping index a lakehouse table format keeps in metadata, here as a
    plain (and persistable) DataFrame: one aggregate over the store,
    grouped by file. O(files) rows regardless of data size."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
    )


def pruned_read(
    spark: SparkSession,
    index: DataFrame,
    ranges: dict[str, tuple],
) -> tuple[DataFrame, int, int]:
    """Scan only the files whose [min, max] envelope intersects every
    predicate range, then RE-APPLY the exact predicate — pruning is a
    performance lever, never a correctness dependency (NULL-stat files are
    conservatively kept). Returns (df, files_read, files_total). The
    collected manifest is one row per file — driver-side by design, like
    every table format's planning step."""
    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        keep = ~((F.col(f"max_{c}") < F.lit(lo)) | (F.col(f"min_{c}") > F.lit(hi)))
        cond = cond & (keep | F.col(f"min_{c}").isNull() | F.col(f"max_{c}").isNull())
    rows = index.select("file", cond.alias("__keep")).collect()
    if not rows:
        raise ValueError("pruned_read: empty file index")
    total = len(rows)
    files = [r["file"] for r in rows if r["__keep"]]
    if not files:
        # empty store for this rectangle: an empty frame with the store schema
        df = spark.read.parquet(*[r["file"] for r in rows]).limit(0)
    else:
        df = spark.read.parquet(*files)
    for c, (lo, hi) in ranges.items():
        df = df.filter(F.col(c).between(F.lit(lo), F.lit(hi)))
    return df, len(files), total


def zorder_key_sql(cols: list[str], bits: int = 16) -> str:
    """The identical Morton interleave as portable SQL text (DuckDB/ANSI
    bitwise operators) — the cross-engine contract the correctness gate
    hashes, same role as hashing.md5_bucket's SQL twin."""
    ndims = len(cols)
    terms = [
        f"((({c} >> {i}) & 1) << {i * ndims + j})"
        for i in range(bits)
        for j, c in enumerate(cols)
    ]
    return "(" + " | ".join(terms) + ")"


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    generation: int = 1,
) -> dict:
    """File-level copy-on-write upsert — SQL MERGE semantics (matched keys
    take the update row, unmatched update rows insert) executed the way a
    lakehouse table format does it: only the files that CONTAIN a matched
    key are rewritten, everything else is left untouched on disk.

    Plan: one join of the store (tagged with input_file_name) against the
    distinct update keys finds the touched files; their rows are re-read,
    anti-joined on the keys, unioned with the full update set, and written
    as a new generation of part files; the replaced files are then removed
    driver-side (the metadata-commit analogue — single-writer, like every
    manifest swap in this repo). A 100 TB store with a point update
    rewrites a handful of files instead of the table, and the win
    compounds on Z-ordered stores where key-adjacent rows share files.

    POSIX-ONLY: this is the in-place (manifest-less) table op — its file
    moves/removes assume atomic local rename. On object-store schemes use
    snapshot_upsert, whose manifest commit goes through the scheme-aware
    commitio protocol (see BASELINE.md "Commit protocol").

    Duplicate-key stores converge: every copy of a matched key is removed
    and the update row is inserted exactly once per update row.

    Returns {files_total, files_rewritten, rows_before, files_written}."""
    import os as _os
    import shutil as _shutil

    store = spark.read.parquet(path)
    keys = [F.col(c) for c in key_cols]
    upd_keys = updates.select(*key_cols).distinct()
    # update rows take the store's column types: a widened type (a decimal
    # sum's extra digit) would write files whose footers disagree with the
    # store's, and a later read fails whenever inference picks one of them
    upd_rows = updates.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in store.schema]
    )

    # AQE picks the join strategy — update-key sets are data-sized, so no
    # forced broadcast (the repo's standing hint policy)
    tagged = store.withColumn("__file", F.input_file_name())
    touched_rows = tagged.join(upd_keys, key_cols, "left_semi")
    touched_files = sorted(
        r["__file"] for r in touched_rows.select("__file").distinct().collect()
    )
    all_files = sorted(
        r["f"] for r in
        store.select(F.input_file_name().alias("f")).distinct().collect()
    )
    if touched_files:
        survivors = (
            spark.read.parquet(*touched_files)
            .join(upd_keys, key_cols, "left_anti")
        )
        new_data = survivors.unionByName(upd_rows)
    else:
        new_data = upd_rows
    rows_before = store.count()

    tmp = path.rstrip("/") + f"__merge_g{generation}"
    new_data.write.mode("overwrite").parquet(tmp)
    moved = 0
    for fname in sorted(_os.listdir(tmp)):
        if not fname.endswith(".parquet"):
            continue
        _os.replace(
            _os.path.join(tmp, fname),
            _os.path.join(path, f"part-merge-g{generation:04d}-{moved:05d}.parquet"),
        )
        moved += 1
    _shutil.rmtree(tmp, ignore_errors=True)
    for f in touched_files:
        local = f.removeprefix("file://")
        if _os.path.exists(local):
            _os.remove(local)
    return {
        "files_total": len(all_files),
        "files_rewritten": len(touched_files),
        "rows_before": rows_before,
        "files_written": moved,
    }


# ---------------------------------------------------------------------------
# Versioned snapshots: manifest-tracked table state (time travel + vacuum)
# ---------------------------------------------------------------------------

# Below this many manifest files, snapshot_upsert's EXACT mode skips the
# stats prune: the key-bounds aggregate is one extra Spark job per commit,
# and with a handful of files the semi-join it would trim scans them all
# anyway — on a 16-batch replay over a 2-file table the prune only ever
# added cost (the round-11 layout_stream_backfill perf flag).
PRUNE_MIN_FILES = 16

# Bounded-roll cap for snapshot_upsert's cheap coalesce pack: a touched
# boundary file may keep absorbing neighboring batches (its envelope is
# NOT contained in the batch bounds) only while the files being rewritten
# hold at most this many times the update row count — past that, the
# commit re-clusters by range, which re-tightens the file envelopes and
# resets the roll. Keeps the steady-state streaming commit O(batch) both
# ways: no per-commit range-repartition sampling job, and no O(table)
# rolling file (the ADVICE r11 snowball).
ROLL_CAP_FACTOR = 4


def _manifest_dir(path: str) -> str:
    import os as _os

    d = _os.path.join(path, "_manifests")
    _os.makedirs(d, exist_ok=True)
    return d


class SnapshotConflictError(RuntimeError):
    """Another writer committed this version first (optimistic concurrency:
    the manifest create is exclusive, so the LOSING writer gets this error
    and retries against the new latest version instead of silently
    clobbering the winner's commit — the lakehouse commit protocol)."""


def _commit_manifest(path: str, v: int, tmp: str, data_dir: str | None = None) -> None:
    """Exclusive manifest commit; on conflict the LOSING writer also removes
    its own (writer-unique, uncommitted) data directory so no orphan can
    shadow or outlive the winner's files.

    The publication primitive is scheme-aware (commitio.publish_exclusive):
    hardlink create-exclusive on posix/HDFS-class stores, conditional put
    on S3-class stores — never a rename, which is copy+delete (non-atomic)
    on object stores."""
    import os as _os
    import shutil as _shutil

    from ophidia_server_spark import commitio

    final = _os.path.join(_manifest_dir(path), f"v{v}.json")
    try:
        commitio.publish_exclusive(tmp, final, commitio.commit_scheme(path))
    except FileExistsError:
        _os.unlink(tmp)
        if data_dir is not None:
            _shutil.rmtree(data_dir, ignore_errors=True)
        raise SnapshotConflictError(
            f"version {v} of {path} was committed concurrently; "
            "re-read the latest version and retry"
        ) from None


def _new_data_dir(path: str, v: int) -> str:
    """Writer-UNIQUE data directory for an attempt at version v: two
    writers racing toward the same version number write into disjoint
    directories (uuid suffix), so the loser's overwrite can never delete
    part files a winner's committed manifest references — only the
    exclusive manifest link decides the winner (the ADVICE r7 data-dir
    race). Losers self-clean in _commit_manifest; crashed writers' orphans
    are swept by vacuum."""
    import os as _os
    import uuid as _uuid

    return _os.path.join(path, f"g{v:05d}-{_uuid.uuid4().hex[:8]}")


def _stat_val(v):
    """Manifest-safe stat value: numbers and strings keep their type (both
    compare correctly against same-type predicate bounds), dates/timestamps
    become ISO strings (ISO order == chronological order), everything else
    (decimals, binaries, ...) records None — the file is then always kept,
    pruning stays conservative."""
    import datetime as _dt

    if isinstance(v, bool):
        return int(v)
    if v is None or isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (_dt.date, _dt.datetime)):
        return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
    return None


def _norm_path(p: str) -> str:
    """Canonical stats key for a MANIFEST-side data file path: strip the
    file:// scheme and make absolute. No URL-decoding here — manifest paths
    are raw local strings the writer constructed, so a literal percent
    sequence in a table path ('/data/100%20backup') must survive verbatim;
    decoding it would turn it into '/data/100 backup' and every
    file-identity comparison against the (correctly round-tripped)
    executor-reported key would silently miss. Executor-reported
    input_file_name() values go through _norm_executor_path instead."""
    import os as _os

    return _os.path.abspath(p.removeprefix("file://"))


def _norm_executor_path(p: str) -> str:
    """Canonical stats key for an EXECUTOR-reported path:
    input_file_name() percent-encodes specials (a space becomes %20, a
    literal % becomes %25), so unquote exactly inverts that encoding and
    recovers the on-disk spelling; then abspath matches the manifest-side
    _norm_path form. Without this, a relative table path (or a space in
    it) silently disabled pruning: keys never matched, _prune_by_stats
    kept every file, and nothing signalled it."""
    import os as _os
    from urllib.parse import unquote as _unquote

    return _os.path.abspath(_unquote(p.removeprefix("file://")))


def _footer_file_stats(files: list[str], stats_cols: list[str]) -> dict | None:
    """Per-file min/max/count straight from the parquet FOOTERS — a
    driver-side metadata read replacing _collect_file_stats' Spark job
    (round-14 opt, guide §1.4/§5: every stats-enabled commit paid one
    scan job over the freshly written files just to re-derive numbers the
    writer already put in the footers).

    Returns None — and the caller falls back to the Spark aggregate —
    unless every requested column in every file is PROVABLY exact from
    footer statistics: plain INT32/INT64 physical type with no or integer
    logical annotation, min/max present on every non-empty row group.
    Strings are excluded (writers may truncate binary stats), floats are
    excluded (footer stats omit NaN while Spark's max sorts NaN greatest),
    timestamps/decimals are excluded (decoded representation differs from
    the Spark aggregate's). For the allowlisted types the values are the
    identical Python ints the collect() produced, so the manifest JSON is
    byte-identical."""
    try:
        import pyarrow.parquet as pq
    except Exception:
        return None
    out: dict = {}
    any_present: set[str] = set()
    metas = []
    for f in files:
        try:
            md = pq.ParquetFile(f).metadata
        except Exception:
            return None
        metas.append((f, md))
        sch = md.schema
        for i in range(len(sch)):
            col = sch.column(i)
            if col.path in stats_cols:
                any_present.add(col.path)
    for f, md in metas:
        sch = md.schema
        idx = {}
        for i in range(len(sch)):
            col = sch.column(i)
            if col.path in any_present:
                if col.physical_type not in ("INT32", "INT64"):
                    return None
                lt = str(col.logical_type.type).upper()
                if lt not in ("NONE", "INT", "UNDEFINED"):
                    return None
                idx[col.path] = i
        cols: dict = {}
        for c in any_present:
            i = idx.get(c)
            if i is None:
                cols[c] = [None, None]  # file lacks the column (mergeSchema)
                continue
            mn = mx = None
            for g in range(md.num_row_groups):
                ch = md.row_group(g).column(i)
                st = ch.statistics
                if st is None or st.num_values == 0:
                    if st is None and ch.num_values:
                        return None  # values present but no stats recorded
                    continue
                if not st.has_min_max:
                    return None
                lo, hi = st.min, st.max
                if not isinstance(lo, int) or not isinstance(hi, int):
                    return None
                mn = lo if mn is None else min(mn, lo)
                mx = hi if mx is None else max(mx, hi)
            cols[c] = [mn, mx]
        out[_norm_path(f)] = {"rows": md.num_rows, "cols": cols}
    return out


def _collect_file_stats(spark: SparkSession, files: list[str],
                        stats_cols: list[str]) -> dict:
    """Per-file min/max/count for the manifest — from the parquet footers
    when provably exact (_footer_file_stats, no Spark job), else one
    grouped aggregate over the freshly written files (O(new data), the
    stats-collection cost every table format pays at write time). Keys are
    the _norm_path canonical form of the file paths the manifest stores."""
    if not files or not stats_cols:
        return {}
    footer = _footer_file_stats(files, stats_cols)
    if footer is not None:
        return footer
    df = spark.read.option("mergeSchema", "true").parquet(*files)
    present = [c for c in stats_cols if c in df.columns]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in present:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    out = {}
    for r in df.groupBy(F.input_file_name().alias("__f")).agg(*aggs).collect():
        f = _norm_executor_path(r["__f"])
        out[f] = {
            "rows": r["__rows"],
            "cols": {
                c: [_stat_val(r[f"__mn_{c}"]), _stat_val(r[f"__mx_{c}"])]
                for c in present
            },
        }
    return out


def _comparable(a, b) -> bool:
    num = (int, float)
    return (isinstance(a, num) and isinstance(b, num)) or (
        isinstance(a, str) and isinstance(b, str)
    )


def _envelopes_contained(
    man: dict, touched: list[str], col: str, lo_hi: tuple
) -> bool:
    """True when every touched file's recorded [min, max] envelope on `col`
    lies INSIDE [lo, hi] — the precondition for snapshot_upsert's cheap
    coalesce pack to be envelope-safe. A file that merely OVERLAPS the
    batch bounds carries rows outside them; coalescing those rows together
    with the batch would give the output file the UNION envelope, the next
    boundary-sharing batch would touch it again, and one rolling file
    would accumulate the whole table while len(touched) stays 1 (the
    ADVICE r11 snowball). Files without comparable stats on `col` return
    False — the caller then re-clusters by range, which re-tightens the
    envelopes instead of compounding them."""
    import datetime as _dt

    lo, hi = (
        _stat_val(v) if isinstance(v, (_dt.date, _dt.datetime)) else v
        for v in lo_hi
    )
    if lo is None or hi is None:
        return False
    stats = {_norm_path(k): v for k, v in (man.get("stats") or {}).items()}
    for f in touched:
        st = stats.get(_norm_path(f))
        cs = ((st or {}).get("cols") or {}).get(col)
        if not cs or cs[0] is None or cs[1] is None:
            return False
        mn, mx = cs
        if not (_comparable(mn, lo) and _comparable(mx, hi)):
            return False
        if mn < lo or mx > hi:
            return False
    return True


def _touched_rows(man: dict, touched: list[str]) -> int | None:
    """Combined manifest-recorded row count of the touched files — the
    driver-side (job-free) input to snapshot_upsert's bounded-roll rule.
    None when any touched file lacks stats: the roll size is then unknown
    and the caller must take the conservative range-split path."""
    stats = {_norm_path(k): v for k, v in (man.get("stats") or {}).items()}
    total = 0
    for f in touched:
        st = stats.get(_norm_path(f))
        if not st or not isinstance(st.get("rows"), int):
            return None
        total += st["rows"]
    return total


def _prune_by_stats(man: dict, ranges: dict) -> list[str]:
    """Files whose recorded [min, max] envelope intersects every predicate
    range; files without stats (or with non-comparable stat types) are
    conservatively kept — pruning is a performance lever, never a
    correctness dependency (the caller re-applies the predicate)."""
    import datetime as _dt

    # Normalize BOTH sides of the key match (older manifests may carry
    # raw executor paths; man["files"] carries caller-constructed ones).
    stats = {_norm_path(k): v for k, v in (man.get("stats") or {}).items()}
    norm = {
        c: (_stat_val(lo) if isinstance(lo, (_dt.date, _dt.datetime)) else lo,
            _stat_val(hi) if isinstance(hi, (_dt.date, _dt.datetime)) else hi)
        for c, (lo, hi) in ranges.items()
    }
    keep = []
    for f in man["files"]:
        st = stats.get(_norm_path(f))
        drop = False
        if st:
            for c, (lo, hi) in norm.items():
                cs = (st.get("cols") or {}).get(c)
                if not cs or cs[0] is None or cs[1] is None:
                    continue
                mn, mx = cs
                if _comparable(mn, lo) and _comparable(mx, hi) and (
                    mx < lo or mn > hi
                ):
                    drop = True
                    break
        if not drop:
            keep.append(f)
    return keep


def _read_manifest(path: str, version: int | None = None) -> dict:
    import json as _json
    import os as _os

    d = _manifest_dir(path)
    versions = sorted(
        int(f[1:-5]) for f in _os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )
    if not versions:
        raise FileNotFoundError(f"no snapshot manifests under {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"no version {v} (have {versions})")
    with open(_os.path.join(d, f"v{v}.json")) as fh:
        return _json.load(fh)


def snapshot_versions(path: str) -> list[int]:
    """All retained snapshot versions, ascending."""
    import os as _os

    d = _manifest_dir(path)
    return sorted(
        int(f[1:-5]) for f in _os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )


def snapshot_write(
    df: DataFrame, path: str, op: str = "write",
    stats_cols: list[str] | None = None,
    batch_id: int | None = None,
) -> int:
    """Append a NEW table version whose data is `df` — the manifest-swap
    commit of every lakehouse format (Delta/Iceberg semantics, original
    implementation): part files are immutable once written, and a version
    is just a JSON manifest naming its files, so concurrent readers of any
    version never see a partial state. Returns the new version number.

    The first write creates v1; later writes stack v2, v3, ... with the
    previous version fully readable (time travel) until `vacuum`.

    `stats_cols` records per-file min/max/count in the manifest (the
    Iceberg/Delta data-skipping stats) so `snapshot_read(ranges=...)`
    prunes files; omitted, the columns carry over from the parent
    manifest, so one stats-enabled write keeps the whole chain skippable."""
    import json as _json
    import os as _os

    versions = []
    parent_man = None
    try:
        versions = snapshot_versions(path)
        if versions:
            parent_man = _read_manifest(path, versions[-1])
    except FileNotFoundError:
        pass
    if stats_cols is None and parent_man:
        stats_cols = parent_man.get("stats_cols")
    v = (versions[-1] + 1) if versions else 1
    data_dir = _new_data_dir(path, v)
    df.write.mode("overwrite").parquet(data_dir)
    files = sorted(
        _os.path.join(data_dir, f)
        for f in _os.listdir(data_dir) if f.endswith(".parquet")
    )
    man = {"version": v, "op": op, "files": files,
           "parent": versions[-1] if versions else None}
    if batch_id is not None:
        # part of the SAME exclusive commit — a marker amended after the
        # commit would reopen the replay/duplication window the streaming
        # sinks close by making the batch id part of the commit itself
        man["batch_id"] = int(batch_id)
    if stats_cols:
        man["stats_cols"] = list(stats_cols)
        man["stats"] = _collect_file_stats(df.sparkSession, files, stats_cols)
    tmp = _os.path.join(_manifest_dir(path), f".v{v}.json.tmp")
    with open(tmp, "w") as fh:
        _json.dump(man, fh)
    _commit_manifest(path, v, tmp, data_dir)
    return v


def snapshot_append(
    df: DataFrame, path: str, op: str = "append",
    batch_id: int | None = None,
) -> int:
    """Append `df` as a NEW version that keeps every parent file — the
    lakehouse APPEND commit (vs snapshot_write's replace semantics): the
    new manifest lists (parent files + the new writer-unique data dir),
    so readers of the new version see old rows plus the batch, and time
    travel still serves every prior version. Parent per-file stats carry
    over scan-free; the new files get stats when the chain records
    stats_cols. `batch_id` (when given) is recorded in the manifest — the
    idempotency hook stream_append_to_snapshots replays against. Returns
    the new version number."""
    import json as _json
    import os as _os

    man = None
    try:
        man = _read_manifest(path)
    except FileNotFoundError:
        pass
    if man is None:
        # first append bootstraps the store like a write; the batch id
        # rides in the SAME exclusive commit (no amend-after window)
        return snapshot_write(df, path, op=op, batch_id=batch_id)
    v = man["version"] + 1
    data_dir = _new_data_dir(path, v)
    df.write.mode("overwrite").parquet(data_dir)
    new_files = sorted(
        _os.path.join(data_dir, f)
        for f in _os.listdir(data_dir) if f.endswith(".parquet")
    )
    out = {"version": v, "op": op, "files": man["files"] + new_files,
           "parent": man["version"]}
    if batch_id is not None:
        out["batch_id"] = int(batch_id)
    stats_cols = man.get("stats_cols")
    if stats_cols:
        out["stats_cols"] = stats_cols
        stats = dict(man.get("stats") or {})
        stats.update(
            _collect_file_stats(df.sparkSession, new_files, stats_cols)
        )
        out["stats"] = stats
    tmp = _os.path.join(_manifest_dir(path), f".v{v}.json.tmp")
    with open(tmp, "w") as fh:
        _json.dump(out, fh)
    _commit_manifest(path, v, tmp, data_dir)
    return v


def last_committed_batch(path: str) -> int:
    """The batch_id of the NEWEST manifest that records one (-1 when none)
    — what a replaying stream compares its batch id against. Batch ids are
    monotone, so walking versions newest-first and stopping at the first
    hit is O(1) manifest reads per micro-batch, not O(versions)."""
    try:
        for v in reversed(snapshot_versions(path)):
            b = _read_manifest(path, v).get("batch_id")
            if b is not None:
                return int(b)
    except FileNotFoundError:
        pass
    return -1


def stream_append_to_snapshots(
    spark: SparkSession,
    src_path: str,
    schema: str,
    table_path: str,
) -> None:
    """Structured-Streaming ingestion INTO the versioned store: each
    micro-batch commits as one snapshot APPEND version whose manifest
    carries the batch id, so at-least-once foreachBatch replays are
    idempotent the same way stream_maintain_state's generations are — a
    replayed batch (id <= the largest committed batch_id) is skipped, and
    a crash between the data write and the manifest commit leaves only an
    orphan dir that vacuum sweeps, never a half-visible version. Readers
    time-travel per micro-batch; snapshot_changes replays the ingest as a
    change feed. availableNow drains the backlog and stops."""

    def _commit(batch_df, batch_id: int) -> None:
        if batch_id <= last_committed_batch(table_path):
            return
        snapshot_append(
            batch_df, table_path, op="stream-append", batch_id=batch_id
        )

    (
        spark.readStream.schema(schema).parquet(src_path)
        .writeStream.foreachBatch(_commit)
        .option("checkpointLocation", table_path + "_ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_window_upsert_to_snapshots(
    spark: SparkSession,
    src_path: str,
    schema: str,
    table_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    width: str = "1 hour",
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = 1,
    state_partitions: int | None = None,
) -> None:
    """The REAL 100 TB ingest shape: watermarked tumbling-window
    aggregation maintained INTO the versioned store. Each micro-batch
    emits, in UPDATE output mode, only the windows the batch changed;
    foreachBatch MERGEs them into the snapshot table keyed on
    (window_start, key) — late rows inside the watermark land as CDC
    `update`s to their already-committed window, rows later than the
    watermark are dropped by the engine before they can corrupt state,
    and an at-least-once replayed batch (id <= the largest committed
    batch_id, append OR upsert manifest) re-merges nothing. Crash between
    data write and manifest commit leaves an orphan dir for vacuum, never
    a torn version — the exactly-once argument is the same manifest-CAS
    one as stream_append_to_snapshots', extended to updates.

    Table schema: window_start (string, UTC second grain), <key_col>,
    n (bigint), total (double R6). availableNow drains and stops;
    max_files_per_trigger=1 makes each source file its own micro-batch so
    the watermark ADVANCES between files (how late-data semantics are
    actually exercised; None lets the engine batch freely).

    `state_partitions` sizes the streaming state store (the number is
    frozen into the checkpoint at first start — Spark's standard
    micro-batch latency knob): per-batch cost carries one task per state
    partition regardless of rows, so a small windowed state behind a
    fast cadence wants FEWER partitions than the session's shuffle
    default, while a 100 TB key space wants more. None (the default)
    derives the width from the SOURCE BYTES at stream start —
    clamp(bytes / 32 MB, 4, 20k), the same sizing family as
    session.advise_shuffle_partitions — instead of inheriting the
    session conf (round-13 opt, guide §2.2: every micro-batch paid one
    state-store task per session shuffle partition regardless of state
    size; at sf0.1 that was 32 tasks maintaining ~150 window rows, and
    re-deriving to 4 measured the whole backfill lifecycle ~2x faster
    with byte-identical committed tables. A TB-scale source derives
    thousands of partitions from the same rule — the knob tracks data,
    not local core count). Pass an explicit int to pin it; the session
    conf is restored after the stream drains."""

    def _commit(batch_df, batch_id: int) -> None:
        if batch_id <= last_committed_batch(table_path):
            # replayed batch: commit NOTHING to the table, but still
            # process every partition — Spark 4 validates that a stateful
            # query's foreachBatch touched all state partitions
            # (STATE_STORE_COMMIT_VALIDATION_FAILED otherwise)
            batch_df.write.format("noop").mode("overwrite").save()
            return
        changed = batch_df.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            key_col, "n", "total",
        ).persist()  # the MERGE reads the batch more than once (key
        # bounds, rewrite union — plus the touched-file semi-join in
        # exact mode); one state-store evaluation instead of several
        # bootstrap on "no committed version yet", NOT on the manifests
        # dir existing — _manifest_dir() mkdirs as a side effect of the
        # batch-id lookup above. The batch id rides INSIDE snapshot_write's
        # exclusive commit (a marker amended after the commit would reopen
        # both the torn-manifest and the batch-0-replay windows).
        try:
            # this count is the batch's ONLY full evaluation (persisted);
            # it doubles as the empty-batch gate and the first-commit file
            # sizing below
            n_changed = changed.count()
            if n_changed == 0:
                # availableNow's trailing flush emits no changed windows
                # (update mode, nothing new past the watermark) — commit
                # NOTHING. A skipped empty batch replays as another no-op,
                # so idempotency is untouched, and the table never pays a
                # snapshot version (plus a full touched-file scan, because
                # empty key bounds disable pruning) for zero rows — at
                # sf0.1 this one commit was ~35% of the whole backfill
                # gate's runtime.
                return
            if not snapshot_versions(table_path):
                # stats on the merge keys + range-split files from the
                # FIRST commit: every later micro-batch's snapshot_upsert
                # prunes its touched-file scan to the files whose
                # window_start slice the batch actually hits, so the
                # commit cost tracks the batch's window span, not the
                # state table's size (the round-11 commit-floor fix — a
                # single all-windows bootstrap file would be "touched" by
                # every batch forever). The width is sized by the BATCH'S
                # ROWS (ceil(rows / 100k), same density as
                # session.sized_repartition), capped at the session
                # shuffle width: pruning works on per-file ENVELOPES, not
                # file count, so splitting a few thousand bootstrap rows
                # the session-width 32 ways only manufactured 30 tiny
                # files for the next overlapping batch to rewrite — a
                # huge bootstrap batch still splits wide.
                n_split = max(
                    1,
                    min(
                        int(
                            batch_df.sparkSession.conf.get(
                                "spark.sql.shuffle.partitions"
                            )
                        ),
                        -(-n_changed // 100_000),
                    ),
                )
                snapshot_write(
                    changed.repartitionByRange(
                        n_split, F.col("window_start")
                    ),
                    table_path, batch_id=int(batch_id),
                    stats_cols=["window_start", key_col],
                )
            else:
                snapshot_upsert(
                    batch_df.sparkSession, table_path, changed,
                    ["window_start", key_col], batch_id=batch_id,
                    range_split="window_start", touched_by="stats",
                    n_updates=n_changed,
                )
        finally:
            changed.unpersist()

    if state_partitions is None:
        # byte-derived state width (see the docstring note): one static
        # listing of the source — the readStream pays its own listing
        # anyway, this only reads file sizes on the driver
        from ophidia_server_spark.pipeline.vector_store import (
            _estimated_input_bytes,
        )

        try:
            est = _estimated_input_bytes(
                spark.read.schema(schema).parquet(src_path)
            )
        except Exception:
            est = None
        if est is not None:
            state_partitions = max(4, min(20_000, est // (32 << 20) + 1))
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    agg = (
        reader.parquet(src_path)
        .withColumn("__ts", F.col(ts_col).cast("timestamp"))
        .withWatermark("__ts", watermark)
        .groupBy(F.window("__ts", width).alias("__w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            # exact-decimal accumulation: the committed total must be
            # byte-identical no matter how many micro-batches / replays
            # built it (float sums are order-dependent)
            F.sum(F.col(value_col).cast("decimal(18,6)"))
            .cast("decimal(38,6)").cast("double").alias("total"),
        )
        .select(F.col("__w.start").alias("window_start"), key_col, "n", "total")
    )
    prev_parts = None
    if state_partitions is not None:
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(int(state_partitions)))
    try:
        (
            agg.writeStream.outputMode("update")
            .foreachBatch(_commit)
            .option("checkpointLocation", table_path + "_ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        if prev_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def snapshot_read(
    spark: SparkSession, path: str, version: int | None = None,
    ranges: dict | None = None,
) -> DataFrame:
    """Read a specific table version (latest when None) — one scan over
    exactly the files its manifest names. With `ranges` (a predicate
    rectangle {col: (lo, hi)}), the manifest's per-file stats prune the
    file list first and the exact predicate is re-applied after the scan —
    identical rows to filtering the full version, files skipped for free."""
    if ranges:
        df, _, _ = snapshot_pruned_read(spark, path, ranges, version)
        return df
    man = _read_manifest(path, version)
    # mergeSchema: a version written after a schema-evolving upsert may mix
    # files with and without the new columns; readers see NULLs for the old
    return spark.read.option("mergeSchema", "true").parquet(*man["files"])


def snapshot_pruned_read(
    spark: SparkSession, path: str, ranges: dict,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """snapshot_read(ranges=...) with the pruning visible: returns
    (df, files_read, files_total) so callers (and tests) can assert how
    many files the manifest stats actually skipped."""
    man = _read_manifest(path, version)
    keep = _prune_by_stats(man, ranges)
    if keep:
        df = spark.read.option("mergeSchema", "true").parquet(*keep)
    else:
        df = spark.read.option("mergeSchema", "true").parquet(
            *man["files"]
        ).limit(0)
    for c, (lo, hi) in ranges.items():
        df = df.filter(F.col(c).between(F.lit(lo), F.lit(hi)))
    return df, len(keep), len(man["files"])


def snapshot_upsert(
    spark: SparkSession, path: str, updates: DataFrame, key_cols: list[str],
    batch_id: int | None = None, range_split: str | None = None,
    touched_by: str = "exact", n_updates: int | None = None,
) -> dict:
    """Copy-on-write MERGE that PRESERVES history: like merge_upsert, only
    the files containing a matched key are rewritten — but the replaced
    files stay on disk, referenced by older manifests, and the new version's
    manifest carries (old files - touched) + rewritten. Readers of any
    version keep a consistent view; `vacuum` reclaims space later.

    Data-skipping stats follow the parent's `stats_cols`: kept files are
    immutable, so their stats COPY over for free; only the rewritten files
    get a fresh stats pass.

    The touched-file SCAN is itself stats-pruned (round 11 — the
    streaming-commit-floor fix): when the manifest records stats on any
    key column, one tiny aggregate over `updates` yields the batch's key
    bounds, and only files whose [min, max] envelope intersects them are
    scanned for the exact semi-join. A matched key's value lies inside
    the batch bounds on every covered column, so the pruned candidate set
    is a superset of the truly-touched files — correctness never depends
    on the stats (files without stats are conservatively scanned). Before
    this, every micro-batch commit re-read the WHOLE state table to find
    touched files — the fixed overhead that capped the windowed-ingest
    sink at ~0.2 Hz regardless of cluster size (BASELINE.md "Sustained
    streaming ingest", round-10 table).

    Pruning only pays if files have NARROW key envelopes: a file spanning
    the table's whole key range is touched by every batch and the rewrite
    degenerates to a full-table copy-on-write. `range_split` names a
    column to range-repartition the rewritten data on before writing, so
    each new file covers a contiguous key slice (AQE coalescing merges
    NEIGHBORING range partitions, keeping envelopes tight at any batch
    size) — the recipe that holds the windowed streaming sink's commit
    cost to the batch's window span at steady state.

    `touched_by="stats"` goes one step further for latency-critical
    commits: the stat-pruned candidate set IS the touched set — no exact
    semi-join job at all. Rewriting a candidate that holds no matched key
    is merely wasted copy-on-write (its rows pass through the anti-join
    unchanged into the new file), never a correctness issue; with
    range-split files the candidates and the true touched set coincide
    anyway. Falls back to the exact scan when no key column has stats
    (candidates would be every file).

    `n_updates` (optional) is the caller's row count for `updates` — the
    streaming sink already counts its persisted batch, so passing it here
    costs nothing and enables the bounded-roll rule on the cheap coalesce
    pack (see ROLL_CAP_FACTOR): without it, a touched file whose envelope
    is not contained in the batch bounds always takes the range-split
    path.

    In EXACT mode the prune is skipped when the manifest lists at most
    `PRUNE_MIN_FILES` files: the semi-join has to scan the touched files
    anyway, so on a handful of files the key-bounds aggregate is a pure
    extra job per commit that can never pay for itself (the round-11
    backfill regression — a 16-batch replay re-paid it 16 times on a
    2-file table). Stats mode keeps the bounds pass at any size: there it
    REPLACES the semi-join job, so it pays even on tiny tables.

    Returns {version, files_total, files_rewritten, files_written}."""
    import os as _os

    man = _read_manifest(path)
    upd_keys = updates.select(*key_cols).distinct()
    covered = [c for c in key_cols if c in (man.get("stats_cols") or [])]
    candidates = man["files"]
    pruned = False
    ranges: dict = {}
    worth_pruning = (
        touched_by == "stats" or len(man["files"]) > PRUNE_MIN_FILES
    )
    # On a small exact-mode table the prune is skipped, but the cheap-pack
    # envelope gate below still needs the batch's range_split bounds — if
    # that column has stats coverage, run the ONE bounds job here so prune
    # decision and gate share it (ADVICE r12: the gate used to re-pay a
    # fresh agg per commit, partially undoing the PRUNE_MIN_FILES skip);
    # once the bounds exist, the by-stats prune is a free driver-side
    # comparison, so it is applied too.
    if range_split in covered:
        worth_pruning = True
    if worth_pruning and covered and man.get("stats"):
        bounds = upd_keys.agg(
            *[F.min(c).alias(f"__lo_{c}") for c in covered],
            *[F.max(c).alias(f"__hi_{c}") for c in covered],
        ).first()
        ranges = {
            c: (bounds[f"__lo_{c}"], bounds[f"__hi_{c}"])
            for c in covered if bounds[f"__lo_{c}"] is not None
        }
        if ranges:
            candidates = _prune_by_stats(man, ranges)
            pruned = True
    if touched_by == "stats" and pruned:
        touched = sorted(_norm_path(f) for f in candidates)
    elif candidates:
        store = spark.read.option("mergeSchema", "true").parquet(*candidates)
        tagged = store.withColumn("__file", F.input_file_name())
        # Normalize BOTH sides of every file-identity comparison below —
        # executor paths via _norm_executor_path (absolute +
        # percent-encoded), manifest paths via _norm_path
        # (caller-constructed raw strings, NO decode). With a relative
        # table path the raw strings never match, `kept` would retain the
        # rewritten files too, and every upserted key would silently read
        # back duplicated.
        touched = sorted(
            _norm_executor_path(r["__file"])
            for r in tagged.join(upd_keys, key_cols, "left_semi")
            .select("__file").distinct().collect()
        )
    else:
        touched = []
    if touched:
        survivors = spark.read.option("mergeSchema", "true").parquet(
            *touched
        ).join(upd_keys, key_cols, "left_anti")
        new_data = survivors.unionByName(updates, allowMissingColumns=True)
    else:
        new_data = updates

    import json as _json

    stats_cols = man.get("stats_cols")
    obs = None
    if range_split is not None:
        cheap_pack = len(touched) <= 8
        if cheap_pack and touched:
            # envelope-safety gate on the cheap pack (ADVICE r11): the
            # coalesce is unconditionally safe when every touched file's
            # recorded envelope on the range_split column is CONTAINED in
            # the batch bounds — survivors and updates alike then lie
            # inside the batch span and any packing yields narrow-envelope
            # files. A boundary file that merely OVERLAPS the bounds rolls
            # rows from outside the batch span into the output file; left
            # unchecked, one rolling file would absorb the table while
            # len(touched) stays 1 (commit cost degrades to O(table)). The
            # bounded-roll rule below makes that growth self-limiting
            # instead of paying a range-repartition every boundary-sharing
            # commit (which is EVERY steady-state streaming commit): roll
            # while the rewrite stays O(batch) — touched rows within
            # ROLL_CAP_FACTOR x the update count, both known driver-side —
            # and re-cluster by range the moment it exceeds the cap, which
            # re-tightens the envelopes and resets the roll.
            # `ranges` already holds the batch bounds whenever range_split
            # has stats coverage (the shared bounds job above); when it
            # does not, _envelopes_contained could only return False (no
            # per-file stats on the column), so no fallback agg is run
            lo_hi = ranges.get(range_split)
            cheap_pack = lo_hi is not None and _envelopes_contained(
                man, touched, range_split, lo_hi
            )
            if not cheap_pack and n_updates:
                trows = _touched_rows(man, touched)
                cheap_pack = (
                    trows is not None
                    and trows <= ROLL_CAP_FACTOR * n_updates
                )
        if cheap_pack:
            # steady-state micro-batch: everything being rewritten already
            # lies inside the batch's key envelope (touched files are
            # contained in it, updates define it), so any packing of these
            # rows yields narrow-envelope files — skip repartitionByRange's
            # sampling job and coalesce to one file per replaced file
            n_out = max(1, len(touched))
            new_data = new_data.coalesce(n_out)
            if n_out == 1 and stats_cols:
                # exactly one output file -> its per-file stats ARE the
                # global aggregates, so they ride the write job itself
                # (Observation) instead of a follow-up stats scan —
                # one fewer job on the latency-critical commit path
                from pyspark.sql import Observation

                present = [c for c in stats_cols if c in new_data.columns]
                obs = Observation()
                new_data = new_data.observe(
                    obs,
                    F.count(F.lit(1)).alias("__rows"),
                    *[
                        a
                        for c in present
                        for a in (
                            F.min(c).alias(f"__mn_{c}"),
                            F.max(c).alias(f"__mx_{c}"),
                        )
                    ],
                )
                obs_cols = present
        else:
            # big rewrite: re-cluster into contiguous key slices; the
            # EXPLICIT partition count stops AQE coalescing from merging
            # the range partitions back into one wide-envelope file
            new_data = new_data.repartitionByRange(
                max(2, len(touched)), F.col(range_split)
            )
    v = man["version"] + 1
    data_dir = _new_data_dir(path, v)
    new_data.write.mode("overwrite").parquet(data_dir)
    new_files = sorted(
        _os.path.join(data_dir, f)
        for f in _os.listdir(data_dir) if f.endswith(".parquet")
    )
    touched_set = set(touched)
    kept = [
        f for f in man["files"]
        if _norm_path(f) not in touched_set
    ]
    out = {"version": v, "op": "upsert", "files": kept + new_files,
           "parent": man["version"]}
    if batch_id is not None:
        out["batch_id"] = int(batch_id)
    if stats_cols:
        out["stats_cols"] = stats_cols
        parent_stats = {
            _norm_path(k): v for k, v in (man.get("stats") or {}).items()
        }
        # kept files are immutable: their stats carry over without a scan
        stats = {
            _norm_path(f): parent_stats[_norm_path(f)]
            for f in kept if _norm_path(f) in parent_stats
        }
        if obs is not None and len(new_files) == 1:
            row = obs.get
            stats[_norm_path(new_files[0])] = {
                "rows": row["__rows"],
                "cols": {
                    c: [
                        _stat_val(row[f"__mn_{c}"]),
                        _stat_val(row[f"__mx_{c}"]),
                    ]
                    for c in obs_cols
                },
            }
        else:
            stats.update(_collect_file_stats(spark, new_files, stats_cols))
        out["stats"] = stats
    tmp = _os.path.join(_manifest_dir(path), f".v{v}.json.tmp")
    with open(tmp, "w") as fh:
        _json.dump(out, fh)
    _commit_manifest(path, v, tmp, data_dir)
    return {"version": v, "files_total": len(out["files"]),
            "files_rewritten": len(touched), "files_written": len(new_files)}


def vacuum(path: str, keep_last: int = 1,
           orphan_grace_seconds: float = 600.0) -> dict:
    """Drop all but the newest `keep_last` manifests and delete every data
    file no retained manifest references — the space-reclaim step that
    turns time travel from an unbounded cost into a retention policy.
    Also sweeps ORPHAN data directories (a crashed writer's uncommitted
    attempt: writer-unique dirs referenced by no manifest at all). A dir
    is only swept when it is safely dead: it has no Spark `_temporary`
    staging subdir AND its newest mtime (dir or any entry) is older than
    `orphan_grace_seconds` — a writer that started milliseconds before the
    sweep has an empty-or-staging dir with a fresh mtime and is skipped,
    so vacuum no longer deletes in-flight work it merely raced.
    Returns {kept_versions, removed_versions, deleted_files, orphan_dirs}."""
    import os as _os
    import shutil as _shutil
    import time as _time

    versions = snapshot_versions(path)
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    keep = versions[-keep_last:]
    drop = [v for v in versions if v not in keep]
    # _norm_path on BOTH sides of every membership test below: manifests
    # store whatever spelling the writer used (relative or absolute), and
    # vacuum's own `path` argument may use a different one — comparing raw
    # strings would make every LIVE data dir look unreferenced and rmtree
    # it once past the grace window (total data loss, not a missed prune).
    referenced: set[str] = set()
    for v in keep:
        referenced.update(
            _norm_path(f) for f in _read_manifest(path, v)["files"]
        )
    deleted = 0
    for v in drop:
        for f in _read_manifest(path, v)["files"]:
            local = _norm_path(f)
            if local not in referenced and _os.path.exists(local):
                _os.remove(local)
                deleted += 1
        _os.remove(_os.path.join(_manifest_dir(path), f"v{v}.json"))
        # the version's ANALYZE sidecar goes with it — stale statistics
        # describing deleted files must not outlive the retention policy
        stats_side = _os.path.join(_manifest_dir(path), f"stats_v{v}.json")
        if _os.path.exists(stats_side):
            _os.remove(stats_side)
    orphans = 0
    now = _time.time()
    for entry in sorted(_os.listdir(path)):
        full = _os.path.join(path, entry)
        if not (entry.startswith("g") and _os.path.isdir(full)):
            continue
        listing = _os.listdir(full)
        if any(
            _norm_path(_os.path.join(full, f)) in referenced
            for f in listing if f.endswith(".parquet")
        ):
            continue
        # Liveness guards: a Spark staging subdir means a writer is mid-
        # flight; a fresh mtime anywhere means the dir may belong to a
        # writer that has so far only mkdir'd (vacuously unreferenced).
        if "_temporary" in listing:
            continue
        newest = max(
            [_os.path.getmtime(full)]
            + [_os.path.getmtime(_os.path.join(full, f))
               for f in listing if _os.path.exists(_os.path.join(full, f))]
        )
        if now - newest < orphan_grace_seconds:
            continue
        _shutil.rmtree(full, ignore_errors=True)
        orphans += 1
    return {"kept_versions": keep, "removed_versions": drop,
            "deleted_files": deleted, "orphan_dirs": orphans}


def snapshot_optimize(
    spark: SparkSession,
    path: str,
    zorder_cols: list[str] | None = None,
    target_mb: int = 128,
    bits: int = 10,
) -> dict:
    """The lakehouse OPTIMIZE command for the snapshot store: rewrite the
    LATEST version as a new one whose data is (a) compacted toward
    `target_mb` files and (b) optionally Z-order-clustered on
    `zorder_cols` so min/max file skipping works on every clustered
    column. Pure layout change — the new version is row-identical to its
    parent (the gate hashes that), old versions stay readable, and vacuum
    reclaims the un-optimized files later. This is the maintenance job a
    100 TB table runs off-peak: reads before it are correct, reads after
    it are fast."""
    import json as _json
    import math as _math
    import os as _os

    man = _read_manifest(path)
    df = spark.read.option("mergeSchema", "true").parquet(*man["files"])
    rows = df.count()
    size = sum(
        _os.path.getsize(f.removeprefix("file://"))
        for f in man["files"] if _os.path.exists(f.removeprefix("file://"))
    )
    files = max(1, _math.ceil(size / (target_mb * 1024 * 1024)))
    v = man["version"] + 1
    data_dir = _new_data_dir(path, v)
    if zorder_cols:
        zorder_write(df, data_dir, zorder_cols, files=files, bits=bits)
    else:
        df.repartition(files).write.mode("overwrite").parquet(data_dir)
    new_files = sorted(
        _os.path.join(data_dir, f)
        for f in _os.listdir(data_dir) if f.endswith(".parquet")
    )
    out = {"version": v, "op": "optimize", "files": new_files,
           "parent": man["version"]}
    stats_cols = man.get("stats_cols") or (
        list(zorder_cols) if zorder_cols else None
    )
    if stats_cols:
        # after a Z-order rewrite these envelopes are TIGHT on every
        # clustered column — OPTIMIZE is what makes the skipping bite
        out["stats_cols"] = stats_cols
        out["stats"] = _collect_file_stats(spark, new_files, stats_cols)
    tmp = _os.path.join(_manifest_dir(path), f".v{v}.json.tmp")
    with open(tmp, "w") as fh:
        _json.dump(out, fh)
    _commit_manifest(path, v, tmp, data_dir)
    return {"version": v, "files_before": len(man["files"]),
            "files_after": len(new_files), "rows": rows}


def snapshot_history(spark: SparkSession, path: str) -> DataFrame:
    """The table's commit log as a DataFrame: (version, op, parent,
    n_files) straight from the manifests — O(versions) rows."""
    rows = []
    for v in snapshot_versions(path):
        m = _read_manifest(path, v)
        rows.append((m["version"], m["op"], m.get("parent"), len(m["files"])))
    return spark.createDataFrame(
        rows, "version int, op string, parent int, n_files int"
    )


def snapshot_changes(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    from_version: int = 0,
    to_version: int | None = None,
) -> DataFrame:
    """The table's CHANGE FEED (the readChangeFeed idea of lakehouse
    formats): every per-commit CDC diff after `from_version` up to
    `to_version` (latest when None), each row tagged with the version that
    committed it — what an incremental downstream consumer replays instead
    of re-reading the table. Built as a union of snapshot_diff over
    consecutive retained versions; the steady-state consumer reads one
    transition per poll (one keyed join), the multi-version range is the
    backfill path. Output: key cols + change_type + changed_cols +
    commit_version."""
    versions = [
        v for v in snapshot_versions(path)
        if v >= from_version and (to_version is None or v <= to_version)
    ]
    if len(versions) < 2:
        raise ValueError(
            f"need at least two retained versions in range (have {versions})"
        )
    feed = None
    for prev, cur in zip(versions, versions[1:]):
        d = snapshot_diff(spark, path, prev, cur, key_cols).withColumn(
            "commit_version", F.lit(cur)
        )
        feed = d if feed is None else feed.unionByName(d)
    return feed


def snapshot_diff(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two table versions: one full-outer join
    on the keys classifies every key as

        insert  — present only in v_to
        delete  — present only in v_from
        update  — present in both with any non-key column differing
                  (null-safe comparison; schema-evolved columns compare
                  with NULL on the old side, so adding a populated column
                  reads as an update)

    and unchanged keys drop out. Output: key columns + change_type +
    changed_cols (the names that differ, lexicographic). This is the diff
    a downstream consumer replays instead of re-reading the table — the
    CDC half of the snapshot store. One join, shuffle on the keys, no
    collect.

    `key_cols` must uniquely key both versions (CDC is defined on keyed
    tables); duplicate keys would cross-join in the full-outer and
    misclassify.

    `carry_cols` additionally emits old_<c>/new_<c> value pairs for the
    named columns — what incremental view maintenance needs to apply the
    change arithmetically (add the new, subtract the old) instead of
    re-aggregating the table."""
    a = snapshot_read(spark, path, v_from)
    b = snapshot_read(spark, path, v_to)
    val_cols = sorted(
        (set(a.columns) | set(b.columns)) - set(key_cols)
    )

    def side(df, tag):
        out = df
        for c in val_cols:
            if c not in df.columns:
                out = out.withColumn(c, F.lit(None))
        return out.select(
            *key_cols, *[F.col(c).alias(f"{tag}_{c}") for c in val_cols],
            F.lit(1).alias(f"__in_{tag}"),
        )

    j = side(a, "old").join(side(b, "new"), key_cols, "full_outer")
    diffs = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")), F.lit(c)
                )
                for c in val_cols
            ]
        )
    )
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(F.size(diffs) > 0, F.lit("update"))
    )
    carry = []
    for c in carry_cols or []:
        if c not in val_cols:
            raise ValueError(f"carry column {c!r} is not a non-key column")
        carry += [F.col(f"old_{c}"), F.col(f"new_{c}")]
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*key_cols, "change_type", diffs.alias("changed_cols"), *carry)
    )


def snapshot_analyze(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """ANALYZE for the snapshot store — the table-level statistics pass
    every cost-based planner wants (row count, per-column null count,
    EXACT distinct count, min, max) over exactly ONE version's files.
    Complements the per-FILE min-max stats the writer collects (those
    prune scans; these size joins and pick build sides). Exact NDV is a
    deliberate choice here: it is one shuffle per ANALYZE (a maintenance
    job), engine-portable, and the gate can hash-match it — a production
    knob could swap approx_count_distinct for the same plan shape at a
    fraction of the cost. Persists the result as
    `_manifests/stats_v{N}.json` so planners (and humans) read it without
    re-scanning, and returns it as a DataFrame:
    (column, n_rows, n_nulls, n_distinct, min_str, max_str) — min/max
    rendered as strings so one schema serves every column type.

    Shape at scale: ONE pass computing count/nulls/min/max for all
    columns (grouped-aggregate free), plus one multi-distinct aggregate
    (Spark expands it into a union of per-column distincts — k column
    shuffles over projected single columns, not k table scans)."""
    import json as _json
    import os as _os

    man = _read_manifest(path, version)
    df = spark.read.option("mergeSchema", "true").parquet(*man["files"])
    cols = [c for c in (columns or df.columns)]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            F.countDistinct(c).alias(f"__nd_{c}"),
            F.min(c).cast("string").alias(f"__mn_{c}"),
            F.max(c).cast("string").alias(f"__mx_{c}"),
        ]
    r = df.agg(*aggs).first()
    rows = [
        # `or 0`: over a ZERO-ROW version F.sum returns NULL — the
        # degenerate table a planner most needs stats for must not crash
        (c, int(r["__rows"] or 0), int(r[f"__nn_{c}"] or 0),
         int(r[f"__nd_{c}"] or 0), r[f"__mn_{c}"], r[f"__mx_{c}"])
        for c in cols
    ]
    out = {
        "version": man["version"],
        "columns": {
            c: {"n_rows": n, "n_nulls": nn, "n_distinct": nd,
                "min": mn, "max": mx}
            for c, n, nn, nd, mn, mx in rows
        },
    }
    with open(
        _os.path.join(_manifest_dir(path), f"stats_v{man['version']}.json"), "w"
    ) as fh:
        _json.dump(out, fh)
    return spark.createDataFrame(
        rows,
        "col_name string, n_rows long, n_nulls long, n_distinct long, "
        "min_str string, max_str string",
    )
