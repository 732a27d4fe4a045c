"""Z-order clustering + min-max file-skipping tests.

The scale claim under test: after zorder_write, a predicate on ANY clustered
column prunes most files via the min/max manifest, while a linear layout
(sorted by one column) only serves its leading key. Correctness never
depends on pruning — the exact predicate is re-applied post-scan.
"""

import pytest

from pyspark.sql import functions as F

from ophidia_server_spark import layout as L


def test_zorder_key_known_morton_values(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (3, 3), (5, 2)], "x long, y long"
    )
    got = [
        r["z"]
        for r in df.select(L.zorder_key(["x", "y"], bits=3).alias("z"))
        .orderBy("x", "y")
        .collect()
    ]
    # LSB-first interleave, x at even bit positions, y at odd:
    # (0,0)->0 (0,1)->2 (1,0)->1 (1,1)->3 (3,3)->15 (5,2)->0b011001=25
    assert got == [0, 2, 1, 3, 15, 25]


def test_zorder_key_sql_matches_spark(spark):
    import duckdb

    vals = [(i % 7, (i * 3) % 11) for i in range(50)]
    df = spark.createDataFrame(vals, "a long, b long")
    got = sorted(
        (r["a"], r["b"], r["z"])
        for r in df.select("a", "b", L.zorder_key(["a", "b"], 4).alias("z")).collect()
    )
    expr = L.zorder_key_sql(["a", "b"], 4)
    want = sorted(
        duckdb.sql(
            f"SELECT a, b, {expr} AS z FROM (SELECT UNNEST({[v[0] for v in vals]}) "
            f"AS a, UNNEST({[v[1] for v in vals]}) AS b)"
        ).fetchall()
    )
    assert got == want


def test_zorder_key_guards():
    with pytest.raises(ValueError, match="at least one"):
        L.zorder_key([])
    with pytest.raises(ValueError, match="overflows"):
        L.zorder_key(["a", "b", "c", "d"], bits=16)


def test_file_index_and_pruned_read_exact(spark, tables, tmp_path):
    li = tables["lineitem"].select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    path = str(tmp_path / "zli")
    L.zorder_write(li, path, ["l_partkey", "l_suppkey"], files=16, bits=10)
    idx = L.build_file_index(spark, path, ["l_partkey", "l_suppkey"])
    assert idx.count() == 16

    rect = {"l_partkey": (10, 60), "l_suppkey": (1, 4)}
    df, nread, ntotal = L.pruned_read(spark, idx, rect)
    want = sorted(
        (r["l_orderkey"], r["l_linenumber"])
        for r in li.filter(
            F.col("l_partkey").between(10, 60) & F.col("l_suppkey").between(1, 4)
        ).collect()
    )
    got = sorted((r["l_orderkey"], r["l_linenumber"]) for r in df.collect())
    assert got == want
    assert nread < ntotal  # the rectangle must actually skip files


def test_zorder_prunes_on_the_non_leading_dimension(spark, tables, tmp_path):
    """A linear sort serves only its leading key; Z-order serves both.
    Filter on l_suppkey alone and compare files touched."""
    li = tables["lineitem"].select("l_orderkey", "l_partkey", "l_suppkey")
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "lin")
    L.zorder_write(li, zpath, ["l_partkey", "l_suppkey"], files=16, bits=10)
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(lpath)
    )
    hi = li.agg(F.max("l_suppkey")).first()[0]
    rect = {"l_suppkey": (1, max(1, hi // 10))}
    _, z_read, z_total = L.pruned_read(
        spark, L.build_file_index(spark, zpath, ["l_suppkey"]), rect
    )
    _, l_read, l_total = L.pruned_read(
        spark, L.build_file_index(spark, lpath, ["l_suppkey"]), rect
    )
    assert z_total == l_total == 16
    assert z_read < z_total      # z-order skips files for the second dim
    assert z_read <= l_read      # and never does worse than the linear layout


def test_pruned_read_empty_rectangle_keeps_schema(spark, tables, tmp_path):
    li = tables["lineitem"].select("l_orderkey", "l_partkey", "l_suppkey")
    path = str(tmp_path / "zempty")
    L.zorder_write(li, path, ["l_partkey", "l_suppkey"], files=4, bits=8)
    idx = L.build_file_index(spark, path, ["l_partkey"])
    df, nread, _ = L.pruned_read(spark, idx, {"l_partkey": (-50, -10)})
    assert nread == 0 and df.count() == 0
    assert set(df.columns) == {"l_orderkey", "l_partkey", "l_suppkey"}


def test_merge_upsert_rewrites_only_touched_files(spark, tables, tmp_path):
    """A narrow key-range update against a Z-ordered store rewrites a
    strict subset of files; result has MERGE semantics exactly."""
    li = tables["lineitem"].select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    path = str(tmp_path / "zmerge")
    L.zorder_write(li, path, ["l_orderkey", "l_partkey"], files=16, bits=10)

    updates = (
        li.filter(F.col("l_orderkey") < 100)
        .withColumn("l_quantity", F.col("l_quantity") + 1000)
        .unionByName(
            spark.createDataFrame(
                [(99999991, 1, 5, 7.0)],
                "l_orderkey long, l_linenumber int, l_partkey long, "
                "l_quantity double",
            ).select(
                "l_orderkey", "l_linenumber", "l_partkey",
                F.col("l_quantity").cast(li.schema["l_quantity"].dataType),
            )
        )
    )
    stats = L.merge_upsert(
        spark, path, updates, ["l_orderkey", "l_linenumber"]
    )
    assert 0 < stats["files_rewritten"] < stats["files_total"]

    got = spark.read.parquet(path)
    want = updates.unionByName(
        li.join(updates.select("l_orderkey", "l_linenumber").distinct(),
                ["l_orderkey", "l_linenumber"], "left_anti")
    )
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )
    # the inserted row landed
    assert got.filter(F.col("l_orderkey") == 99999991).count() == 1


def test_merge_upsert_insert_only_touches_nothing(spark, tables, tmp_path):
    li = tables["lineitem"].select("l_orderkey", "l_linenumber", "l_quantity")
    path = str(tmp_path / "zins")
    L.zorder_write(li, path, ["l_orderkey"], files=8, bits=10)
    fresh = spark.createDataFrame(
        [(88888881, 1, 3.0), (88888882, 2, 4.0)],
        "l_orderkey long, l_linenumber int, l_quantity double",
    ).select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast(li.schema["l_quantity"].dataType),
    )
    stats = L.merge_upsert(spark, path, fresh, ["l_orderkey", "l_linenumber"])
    assert stats["files_rewritten"] == 0
    got = spark.read.parquet(path)
    assert got.count() == li.count() + 2


def test_merge_upsert_converges_duplicate_keys(spark, tmp_path):
    base = spark.createDataFrame(
        [(1, 10.0), (1, 11.0), (2, 20.0)], "k long, v double"
    )
    path = str(tmp_path / "dup")
    base.repartition(2).write.parquet(path)
    upd = spark.createDataFrame([(1, 99.0)], "k long, v double")
    L.merge_upsert(spark, path, upd, ["k"])
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [(1, 99.0), (2, 20.0)]


def test_merge_upsert_casts_updates_to_store_types(spark, tmp_path):
    # a decimal sum widens (18,2) -> (19,2); the merge must still write
    # the store's (18,2), in every file, or a later read of the store
    # fails whenever inference picks the wrong footer
    import glob

    from pyspark.sql.types import DecimalType

    base = spark.createDataFrame([(1,), (2,), (3,)], "k long").select(
        "k", (F.col("k") * 10).cast("decimal(18,2)").alias("v")
    )
    path = str(tmp_path / "dec")
    base.repartition(2).write.parquet(path)
    upd = base.filter("k = 2").withColumn("v", F.col("v") + F.lit(1).cast("decimal(18,2)"))
    assert upd.schema["v"].dataType == DecimalType(19, 2)
    L.merge_upsert(spark, path, upd, ["k"])
    for f in glob.glob(f"{path}/*.parquet"):
        assert spark.read.parquet(f).schema["v"].dataType == DecimalType(18, 2), f
    got = spark.read.parquet(path)
    assert got.schema["v"].dataType == DecimalType(18, 2)
    assert sorted((r.k, float(r.v)) for r in got.collect()) == [
        (1, 10.0), (2, 21.0), (3, 30.0)
    ]


def test_snapshot_time_travel_and_vacuum(spark, tables, tmp_path):
    from ophidia_server_spark.layout import (
        snapshot_read, snapshot_upsert, snapshot_versions, snapshot_write,
        vacuum,
    )

    path = str(tmp_path / "versioned")
    base = tables["lineitem"].select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").alias("qty")
    ).filter("l_orderkey < 2000")
    v1 = snapshot_write(base, path)
    assert v1 == 1
    n1 = snapshot_read(spark, path).count()
    assert n1 == base.count()

    # deterministic update slice: a key predicate, not a limit()
    updates = base.filter("l_orderkey % 7 = 0").withColumn(
        "qty", F.col("qty") + 1000
    )
    n_upd = updates.count()
    assert n_upd > 0
    res = snapshot_upsert(spark, path, updates, ["l_orderkey", "l_linenumber"])
    assert res["version"] == 2 and res["files_rewritten"] >= 1
    assert snapshot_versions(path) == [1, 2]

    # v2 sees the updates, v1 is untouched (time travel)
    v2sum = snapshot_read(spark, path, 2).agg(F.sum("qty")).first()[0]
    v1sum = snapshot_read(spark, path, 1).agg(F.sum("qty")).first()[0]
    assert float(v2sum) == float(v1sum) + n_upd * 1000
    assert snapshot_read(spark, path, 2).count() == n1

    # vacuum to the newest version only: v1 gone, v2 still reads
    out = vacuum(path, keep_last=1)
    assert out["removed_versions"] == [1] and out["deleted_files"] >= 1
    assert snapshot_versions(path) == [2]
    assert float(snapshot_read(spark, path).agg(F.sum("qty")).first()[0]) == float(v2sum)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        snapshot_read(spark, path, 1)


def test_snapshot_upsert_untouched_files_are_shared(spark, tables, tmp_path):
    from ophidia_server_spark.layout import (
        _read_manifest, snapshot_upsert, snapshot_write,
    )

    path = str(tmp_path / "shared")
    base = tables["lineitem"].select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").alias("qty")
    ).filter("l_orderkey < 2000").repartition(8, "l_orderkey")
    snapshot_write(base, path)
    one_key = base.filter("l_orderkey = 1 AND l_linenumber = 1").withColumn(
        "qty", F.lit(1.0)
    )
    res = snapshot_upsert(spark, path, one_key, ["l_orderkey", "l_linenumber"])
    m1, m2 = _read_manifest(path, 1), _read_manifest(path, 2)
    shared = set(m1["files"]) & set(m2["files"])
    # a point update rewrites only the files holding that key; the rest of
    # the table is shared between versions byte-for-byte
    assert len(shared) == len(m1["files"]) - res["files_rewritten"]
    assert len(shared) > 0


def test_snapshot_upsert_stats_mode_and_observed_stats(spark, tmp_path):
    """The round-11 commit-floor path: stats-pruned candidates AS the
    touched set (no exact semi-join job), range-split files, and the new
    single file's manifest stats fused into the write job (Observation).
    Rows must equal the exact-mode merge; the new file must carry stats."""
    from ophidia_server_spark.layout import (
        _read_manifest, snapshot_read, snapshot_upsert, snapshot_write,
    )

    rows = [(f"2024-01-{d:02d} 00:00:00", f"k{j}", d * 10 + j, float(d))
            for d in range(1, 11) for j in range(3)]
    base = spark.createDataFrame(
        rows, "window_start string, key string, n long, total double"
    ).repartitionByRange(5, F.col("window_start"))
    for mode in ("exact", "stats"):
        path = str(tmp_path / mode)
        snapshot_write(base, path, stats_cols=["window_start", "key"])
        upd = spark.createDataFrame(
            [("2024-01-09 00:00:00", "k1", 999, 9.9),
             ("2024-01-10 00:00:00", "k9", 1, 1.0)],
            "window_start string, key string, n long, total double",
        )
        res = snapshot_upsert(
            spark, path, upd, ["window_start", "key"],
            range_split="window_start", touched_by=mode,
        )
        got = {
            (r["window_start"], r["key"]): (r["n"], r["total"])
            for r in snapshot_read(spark, path).collect()
        }
        assert got[("2024-01-09 00:00:00", "k1")] == (999, 9.9)
        assert got[("2024-01-10 00:00:00", "k9")] == (1, 1.0)
        assert got[("2024-01-01 00:00:00", "k0")] == (10, 1.0)
        assert len(got) == 31  # 30 originals + 1 brand-new key
        # stats-pruned: only the file(s) covering days 9-10 were touched
        assert res["files_rewritten"] < 5
        man = _read_manifest(path)
        # every file in the new manifest carries usable window_start stats
        # (the observe-fused single-file path included)
        for f in man["files"]:
            st = man["stats"][f]["cols"]["window_start"]
            assert st[0] is not None and st[1] is not None
    # same touched files both modes on range-split files (candidates ==
    # truly touched here)
    m_exact = _read_manifest(str(tmp_path / "exact"))
    m_stats = _read_manifest(str(tmp_path / "stats"))
    assert len(m_exact["files"]) == len(m_stats["files"])


def test_snapshot_schema_evolution_on_upsert(spark, tables, tmp_path):
    from ophidia_server_spark.layout import (
        snapshot_read, snapshot_upsert, snapshot_write,
    )

    path = str(tmp_path / "evolve")
    base = tables["lineitem"].select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").alias("qty")
    ).filter("l_orderkey < 1000").repartition(4, "l_orderkey")
    snapshot_write(base, path)
    upd = base.filter("l_orderkey % 5 = 0").withColumn(
        "qty", F.col("qty") + 1
    ).withColumn("source_tag", F.lit("batch2"))
    snapshot_upsert(spark, path, upd, ["l_orderkey", "l_linenumber"])
    v2 = snapshot_read(spark, path, 2)
    assert "source_tag" in v2.columns
    tagged = v2.filter("source_tag = 'batch2'").count()
    untouched = v2.filter("source_tag IS NULL").count()
    assert tagged == upd.count()
    assert tagged + untouched == base.count()
    # v1 readable and without the new column
    assert "source_tag" not in snapshot_read(spark, path, 1).columns


def test_snapshot_optimize_preserves_rows_and_improves_layout(spark, tables, tmp_path):
    from ophidia_server_spark.layout import (
        _read_manifest, build_file_index, pruned_read, snapshot_optimize,
        snapshot_read, snapshot_write,
    )

    path = str(tmp_path / "opt")
    base = tables["lineitem"].select(
        "l_orderkey", "l_partkey", "l_suppkey", F.col("l_quantity").alias("qty")
    ).repartition(16)
    snapshot_write(base, path)
    res = snapshot_optimize(
        spark, path, zorder_cols=["l_partkey", "l_suppkey"], target_mb=1
    )
    assert res["version"] == 2
    v1 = snapshot_read(spark, path, 1)
    v2 = snapshot_read(spark, path, 2)
    assert v1.count() == v2.count() == res["rows"]
    # row-identical: same multiset of keyed rows
    a = v1.groupBy().agg(F.sum("qty"), F.sum("l_partkey")).first()
    b = v2.groupBy().agg(F.sum("qty"), F.sum("l_partkey")).first()
    assert [float(x) for x in a] == [float(x) for x in b]
    # the optimized generation actually skips files for a tight rectangle
    m2 = _read_manifest(path, 2)
    if len(m2["files"]) > 1:
        idx = build_file_index(
            spark, f"{path}/g{res['version']:05d}", ["l_partkey", "l_suppkey"]
        )
        _, read, total = pruned_read(
            spark, idx, {"l_partkey": (1, 20), "l_suppkey": (1, 3)}
        )
        assert read < total


def test_snapshot_diff_classifies_all_three_change_types(spark, tmp_path):
    from ophidia_server_spark.layout import (
        snapshot_diff, snapshot_history, snapshot_write,
    )

    path = str(tmp_path / "cdc")
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, name string, v double",
    )
    v2 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)],
        "k int, name string, v double",
    )
    snapshot_write(v1, path)
    snapshot_write(v2, path)
    d = {r["k"]: r for r in snapshot_diff(spark, path, 1, 2, ["k"]).collect()}
    assert set(d) == {2, 3, 4}  # key 1 unchanged -> absent
    assert d[2]["change_type"] == "update" and d[2]["changed_cols"] == ["name"]
    assert d[3]["change_type"] == "delete"
    assert d[4]["change_type"] == "insert"
    h = {r["version"]: r["op"] for r in snapshot_history(spark, path).collect()}
    assert h == {1: "write", 2: "write"}


def test_partitioned_write_prunes_statically_and_dynamically(spark, tables, tmp_path):
    # the OTHER layout lever next to Z-order: hive-style date partitioning.
    # Static pruning: a literal day filter must reach the scan as a
    # PartitionFilter (no data files of other days touched). Dynamic
    # pruning: joining on the partition column against a filtered dim must
    # inject a runtime subquery filter (Spark's DPP) into the fact scan.
    path = str(tmp_path / "events_by_day")
    ev = tables["events"].withColumn("day", F.to_date("ts"))
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    back = spark.read.parquet(path)

    one_day = ev.select(F.min("day").alias("d")).first()["d"]
    q = back.filter(F.col("day") == F.lit(one_day))
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan
    assert q.count() == ev.filter(F.col("day") == F.lit(one_day)).count()

    # the dim side needs a SELECTIVE predicate for Spark's DPP heuristic
    dim = ev.select("day").distinct().filter(
        F.col("day") <= F.date_add(F.lit(one_day), 2)
    )
    joined = back.join(dim, "day")
    joined.collect()
    jplan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in jplan.lower(), jplan[:2000]
    assert joined.count() == ev.join(dim, "day").count()


def test_snapshot_commit_is_exclusive_on_conflict(spark, tables, tmp_path):
    import json
    import os

    from ophidia_server_spark.layout import (
        SnapshotConflictError, _commit_manifest, snapshot_read, snapshot_write,
    )

    path = str(tmp_path / "occ")
    base = tables["region"]
    snapshot_write(base, path)
    man_dir = os.path.join(path, "_manifests")
    # the loser's race: it picked v2, wrote its tmp manifest, but another
    # writer committed v2 first — the exclusive link must refuse
    winner = {"version": 2, "op": "write", "files": [], "parent": 1}
    with open(os.path.join(man_dir, "v2.json"), "w") as fh:
        json.dump(winner, fh)
    tmp = os.path.join(man_dir, ".v2.json.tmp")
    with open(tmp, "w") as fh:
        json.dump({"version": 2, "op": "write", "files": ["loser"],
                   "parent": 1}, fh)
    import pytest as _pytest

    with _pytest.raises(SnapshotConflictError):
        _commit_manifest(path, 2, tmp)
    # the winner's manifest is untouched and the loser's tmp is cleaned up
    assert json.load(open(os.path.join(man_dir, "v2.json"))) == winner
    assert not os.path.exists(tmp)
    # a retry that re-reads the latest version lands cleanly as v3
    v3 = snapshot_write(base, path)
    assert v3 == 3
    assert snapshot_read(spark, path, 3).count() == base.count()


def test_snapshot_loser_never_clobbers_committed_data(spark, tables, tmp_path):
    # The ADVICE r7 data-dir race: writer A commits v2; writer B, who also
    # picked v2, must not delete A's committed part files when its own
    # attempt fails. Writer-unique data dirs + loser self-clean guarantee it.
    import json
    import os

    from ophidia_server_spark.layout import (
        SnapshotConflictError, _commit_manifest, _new_data_dir,
        snapshot_read, snapshot_write, vacuum,
    )

    path = str(tmp_path / "race")
    base = tables["region"]
    snapshot_write(base, path)                      # v1
    snapshot_write(base.limit(3), path)             # v2 — writer A wins
    v2_rows = snapshot_read(spark, path, 2).count()

    # writer B: same version number, its own unique dir, full data write,
    # then the losing commit
    b_dir = _new_data_dir(path, 2)
    base.limit(1).write.mode("overwrite").parquet(b_dir)
    tmp = os.path.join(path, "_manifests", ".v2.json.tmp")
    with open(tmp, "w") as fh:
        json.dump({"version": 2, "op": "write", "files": [], "parent": 1}, fh)
    import pytest as _pytest

    with _pytest.raises(SnapshotConflictError):
        _commit_manifest(path, 2, tmp, b_dir)
    # loser's dir is gone, winner's v2 still reads every row
    assert not os.path.exists(b_dir)
    assert snapshot_read(spark, path, 2).count() == v2_rows

    # a crashed writer (no commit attempt at all) leaves an orphan dir;
    # vacuum sweeps it without touching any committed version
    c_dir = _new_data_dir(path, 3)
    base.limit(2).write.mode("overwrite").parquet(c_dir)

    # in-flight writers must survive the sweep: one that has only mkdir'd
    # (fresh mtime, no files) and one mid-write (Spark _temporary staging)
    fresh_dir = _new_data_dir(path, 4)
    os.makedirs(fresh_dir, exist_ok=True)
    staging_dir = _new_data_dir(path, 5)
    os.makedirs(os.path.join(staging_dir, "_temporary"), exist_ok=True)
    old = (0, 0)
    os.utime(staging_dir, old)  # even an OLD staging dir is protected

    rep = vacuum(path, keep_last=10)  # default grace: c_dir is fresh too
    assert rep["orphan_dirs"] == 0
    assert os.path.exists(fresh_dir) and os.path.exists(staging_dir)

    # grace elapsed (simulated by aging mtimes): only the truly dead
    # crashed-writer dirs go; the _temporary one still survives
    for d in (c_dir, fresh_dir):
        for root, _dirs, fs in os.walk(d):
            os.utime(root, old)
            for f in fs:
                os.utime(os.path.join(root, f), old)
    rep = vacuum(path, keep_last=10)
    assert rep["orphan_dirs"] == 2
    assert not os.path.exists(c_dir) and not os.path.exists(fresh_dir)
    assert os.path.exists(staging_dir)
    assert snapshot_read(spark, path, 1).count() == base.count()
    assert snapshot_read(spark, path, 2).count() == v2_rows


def test_snapshot_manifest_stats_prune_time_travel_reads(spark, tables, tmp_path):
    # min-max skipping wired INTO the snapshot store: stats recorded at
    # write time prune a time-travel read's file list (file-count asserted),
    # kept files' stats carry through an upsert without a rescan, and the
    # pruned result is row-identical to filtering the full version.
    from pyspark.sql import functions as F

    from ophidia_server_spark.layout import (
        _read_manifest, snapshot_optimize, snapshot_pruned_read,
        snapshot_read, snapshot_upsert, snapshot_write,
    )

    li = tables["lineitem"].select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    ).filter("l_orderkey < 4000")
    path = str(tmp_path / "snapstats")
    snapshot_write(
        li.repartitionByRange(8, "l_orderkey"), path,
        stats_cols=["l_orderkey"],
    )
    rect = {"l_orderkey": (100, 600)}
    df1, read1, total1 = snapshot_pruned_read(spark, path, rect, version=1)
    assert total1 == 8 and 0 < read1 < total1, (read1, total1)
    full1 = snapshot_read(spark, path, 1).filter(
        F.col("l_orderkey").between(100, 600))
    assert df1.count() == full1.count() > 0

    # upsert: kept files keep their stats with no rescan; only rewritten
    # files get fresh entries — the v2 manifest still covers every file
    upd = li.filter("l_orderkey % 7 = 0").withColumn(
        "qty", (F.col("qty") + 1000).cast("decimal(18,2)"))
    snapshot_upsert(spark, path, upd, ["l_orderkey", "l_linenumber"])
    man2 = _read_manifest(path, 2)
    assert man2["stats_cols"] == ["l_orderkey"]
    assert set(man2["stats"]) == set(man2["files"])
    df2, read2, total2 = snapshot_pruned_read(spark, path, rect, version=2)
    full2 = snapshot_read(spark, path, 2).filter(
        F.col("l_orderkey").between(100, 600))
    assert df2.count() == full2.count() > 0
    # ... and v1 stays prunable after v2 exists (time travel + skipping)
    dfa, _, _ = snapshot_pruned_read(spark, path, rect, version=1)
    assert dfa.count() == full1.count()

    # OPTIMIZE with Z-order tightens envelopes and recomputes stats
    snapshot_optimize(spark, path, zorder_cols=["l_orderkey"], target_mb=1)
    df3 = snapshot_read(spark, path, ranges=rect)
    assert df3.count() == full2.count()

    # the ranges= path through snapshot_read matches the explicit call
    assert snapshot_read(spark, path, 2, ranges=rect).count() == full2.count()


def test_snapshot_change_feed_replays_commits_in_order(spark, tables, tmp_path):
    from pyspark.sql import functions as F

    from ophidia_server_spark.layout import (
        snapshot_changes, snapshot_upsert, snapshot_write,
    )

    base = tables["region"].select(
        "r_regionkey", F.col("r_name").alias("name")
    )
    path = str(tmp_path / "feed")
    snapshot_write(base, path)  # v1
    snapshot_upsert(
        spark, path,
        base.filter("r_regionkey = 0").withColumn("name", F.lit("X")),
        ["r_regionkey"],
    )  # v2: one update
    snapshot_upsert(
        spark, path,
        spark.createDataFrame([(99, "NEW")], "r_regionkey int, name string"),
        ["r_regionkey"],
    )  # v3: one insert
    feed = snapshot_changes(spark, path, ["r_regionkey"], from_version=1)
    rows = {(r["r_regionkey"], r["commit_version"]): r for r in feed.collect()}
    assert set(rows) == {(0, 2), (99, 3)}
    assert rows[(0, 2)]["change_type"] == "update"
    assert rows[(99, 3)]["change_type"] == "insert"
    # range bounds: only the second transition
    late = snapshot_changes(spark, path, ["r_regionkey"], from_version=2)
    assert [(r["r_regionkey"], r["commit_version"]) for r in late.collect()] \
        == [(99, 3)]
    # a single retained version cannot produce a feed
    import pytest as _pytest

    with _pytest.raises(ValueError, match="two retained versions"):
        snapshot_changes(spark, path, ["r_regionkey"], from_version=3)


def test_snapshot_append_and_stream_ingest_idempotency(spark, tables, tmp_path):
    from pyspark.sql import functions as F

    from ophidia_server_spark.layout import (
        last_committed_batch, snapshot_append, snapshot_changes,
        snapshot_read, snapshot_versions, snapshot_write, vacuum,
    )

    base = tables["region"].select("r_regionkey", "r_name")
    extra = tables["nation"].select(
        (F.col("n_nationkey") + 100).alias("r_regionkey"),
        F.col("n_name").alias("r_name"),
    )
    path = str(tmp_path / "app")
    snapshot_write(base, path, stats_cols=["r_regionkey"])
    v2 = snapshot_append(extra, path, batch_id=7)
    assert v2 == 2
    # append keeps every old row and adds the batch
    assert snapshot_read(spark, path, 2).count() == base.count() + extra.count()
    assert snapshot_read(spark, path, 1).count() == base.count()
    assert last_committed_batch(path) == 7
    # stats chain continues over appends: the new version still prunes
    from ophidia_server_spark.layout import snapshot_pruned_read

    df, read, total = snapshot_pruned_read(
        spark, path, {"r_regionkey": (100, 200)}, version=2
    )
    assert read < total and df.count() == extra.count()
    # the change feed sees the append as pure inserts
    feed = snapshot_changes(spark, path, ["r_regionkey"], from_version=1)
    assert feed.filter("change_type <> 'insert'").count() == 0
    assert feed.count() == extra.count()

    # streaming ingest: three files -> versions; a replayed run adds nothing
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ev = tables["events"].select("event_id", "event_type", "value")
    for i in range(3):
        ev.filter(F.pmod("event_id", F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    from ophidia_server_spark.layout import stream_append_to_snapshots

    schema = "event_id long, event_type string, value double"
    stream_append_to_snapshots(spark, src, schema, tbl)
    n_versions = len(snapshot_versions(tbl))
    assert snapshot_read(spark, tbl).count() == ev.count()
    stream_append_to_snapshots(spark, src, schema, tbl)
    assert len(snapshot_versions(tbl)) == n_versions
    assert snapshot_read(spark, tbl).count() == ev.count()
    # vacuum keeps the streamed content intact
    vacuum(tbl, keep_last=1)
    assert snapshot_read(spark, tbl).count() == ev.count()


def test_stream_window_upsert_backfill_late_and_replay(spark, tmp_path):
    # The judge-specified ingest e2e: watermarked windowed aggregation
    # maintained into the snapshot store must survive (a) late rows inside
    # the watermark (CDC update to a committed window), (b) rows later
    # than the watermark (engine-dropped, never corrupting state),
    # (c) a full at-least-once REPLAY of every batch (fresh checkpoint,
    # batch ids restart at 0) committing nothing — replayed == once.
    import os
    import shutil

    from pyspark.sql import functions as F

    from ophidia_server_spark.layout import (
        last_committed_batch, snapshot_changes, snapshot_read,
        snapshot_versions, stream_window_upsert_to_snapshots,
    )

    src = str(tmp_path / "wsrc")
    tbl = str(tmp_path / "wtbl")
    schema = "event_type string, ts timestamp, value double"

    def push(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream_window_upsert_to_snapshots(
            spark, src, schema, tbl,
            width="1 hour", watermark="2 hours",
        )

    import datetime as dt

    T = dt.datetime
    # batch 0: two windows on-time -> bootstrap version
    push([
        ("a", T(2024, 1, 1, 10, 5), 1.0),
        ("a", T(2024, 1, 1, 10, 10), 2.0),
        ("a", T(2024, 1, 1, 11, 5), 4.0),
    ])
    run()
    v_after_first = snapshot_versions(tbl)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total"])
        for r in snapshot_read(spark, tbl).collect()
    }
    assert got[("2024-01-01 10:00:00", "a")] == (2, 3.0)
    assert got[("2024-01-01 11:00:00", "a")] == (1, 4.0)

    # batch 1: a late row INSIDE the watermark (10:20 >= 11:05-2h) updates
    # the committed 10:00 window; a TOO-LATE row (08:00 < 09:05) is
    # dropped by the engine; a new 13:00 window inserts.
    push([
        ("a", T(2024, 1, 1, 10, 20), 3.0),   # late, within watermark
        ("a", T(2024, 1, 1, 8, 0), 100.0),   # beyond watermark -> dropped
        ("a", T(2024, 1, 1, 13, 30), 8.0),   # new window
    ])
    run()
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total"])
        for r in snapshot_read(spark, tbl).collect()
    }
    assert got[("2024-01-01 10:00:00", "a")] == (3, 6.0)   # late row merged
    assert got[("2024-01-01 11:00:00", "a")] == (1, 4.0)   # untouched
    assert got[("2024-01-01 13:00:00", "a")] == (1, 8.0)   # inserted
    assert ("2024-01-01 08:00:00", "a") not in got          # dropped
    assert len(got) == 3

    # CDC correctness: the second commit is exactly one update (the late-
    # patched window) + one insert (the new window); 11:00 emits nothing.
    feed = snapshot_changes(
        spark, tbl, ["window_start", "event_type"],
        from_version=v_after_first[-1],
    )
    changes = {
        (r["window_start"], r["change_type"]) for r in feed.collect()
    }
    assert changes == {
        ("2024-01-01 10:00:00", "update"),
        ("2024-01-01 13:00:00", "insert"),
    }

    # replay: wipe the CHECKPOINT only (at-least-once redelivery of every
    # batch, ids restarting at 0) -> every batch id <= last committed,
    # nothing commits, table byte-identical.
    n_versions = len(snapshot_versions(tbl))
    last_b = last_committed_batch(tbl)
    assert last_b >= 1
    shutil.rmtree(tbl + "_ckpt")
    run()
    assert len(snapshot_versions(tbl)) == n_versions
    assert last_committed_batch(tbl) == last_b
    got2 = {
        (r["window_start"], r["event_type"]): (r["n"], r["total"])
        for r in snapshot_read(spark, tbl).collect()
    }
    assert got2 == got

    # and a plain re-run against the surviving checkpoint is also a no-op
    run()
    assert len(snapshot_versions(tbl)) == n_versions


def test_snapshot_analyze_exact_stats_and_sidecar(spark, tmp_path):
    import json
    import os

    from ophidia_server_spark.layout import snapshot_analyze, snapshot_write

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, None), (3, "b")], "k long, s string"
    )
    path = str(tmp_path / "an")
    snapshot_write(df, path)
    got = {r["col_name"]: r.asDict() for r in
           snapshot_analyze(spark, path).collect()}
    assert got["k"]["n_rows"] == 4 and got["k"]["n_nulls"] == 0
    assert got["k"]["n_distinct"] == 3
    assert (got["k"]["min_str"], got["k"]["max_str"]) == ("1", "3")
    assert got["s"]["n_nulls"] == 1 and got["s"]["n_distinct"] == 2
    assert (got["s"]["min_str"], got["s"]["max_str"]) == ("a", "b")
    # stats persisted beside the manifest for planner reads
    side = os.path.join(path, "_manifests", "stats_v1.json")
    with open(side) as fh:
        persisted = json.load(fh)
    assert persisted["columns"]["k"]["n_distinct"] == 3
    # column subset
    only = snapshot_analyze(spark, path, columns=["s"]).collect()
    assert [r["col_name"] for r in only] == ["s"]


def test_snapshot_analyze_zero_row_version(spark, tmp_path):
    from ophidia_server_spark.layout import snapshot_analyze, snapshot_write

    df = spark.createDataFrame([], "k long, s string")
    path = str(tmp_path / "empty")
    snapshot_write(df, path)
    got = {r["col_name"]: r.asDict() for r in
           snapshot_analyze(spark, path).collect()}
    assert got["k"]["n_rows"] == 0 and got["k"]["n_nulls"] == 0
    assert got["k"]["n_distinct"] == 0
    assert got["k"]["min_str"] is None and got["k"]["max_str"] is None


def test_snapshot_upsert_relative_path_no_duplicates(spark, tmp_path):
    # review finding: executor paths (absolute, URL-encoded) vs manifest
    # paths (caller-constructed) must normalize on BOTH sides of the
    # touched-file match, or a relative table path duplicates every
    # upserted key
    import os

    from ophidia_server_spark.layout import snapshot_read, snapshot_upsert, snapshot_write

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    rel = os.path.relpath(str(tmp_path / "relstore"), os.getcwd())
    snapshot_write(base.repartition(2, "k"), rel)
    upd = spark.createDataFrame([(2, 99.0)], "k long, v double")
    snapshot_upsert(spark, rel, upd, ["k"])
    got = sorted(tuple(r) for r in snapshot_read(spark, rel).collect())
    assert got == [(1, 10.0), (2, 99.0), (3, 30.0)]


def test_vacuum_removes_analyze_sidecars(spark, tables, tmp_path):
    import os

    from ophidia_server_spark.layout import (
        snapshot_analyze, snapshot_append, snapshot_write, vacuum,
    )

    path = str(tmp_path / "vs")
    r = tables["region"].select("r_regionkey", "r_name")
    snapshot_write(r, path)
    snapshot_append(r.limit(2), path)
    snapshot_analyze(spark, path, version=1)
    snapshot_analyze(spark, path, version=2)
    s1 = os.path.join(path, "_manifests", "stats_v1.json")
    s2 = os.path.join(path, "_manifests", "stats_v2.json")
    assert os.path.exists(s1) and os.path.exists(s2)
    vacuum(path, keep_last=1)
    # dropped version's stale stats go with its manifest; kept one stays
    assert not os.path.exists(s1)
    assert os.path.exists(s2)


def test_snapshot_upsert_literal_percent_in_path(spark, tmp_path):
    # round-9 review finding: _norm_path URL-decoded BOTH sides, but only
    # executor-reported input_file_name() values are percent-encoded — a
    # table path with a LITERAL percent sequence ('100%20backup')
    # double-decoded on the manifest side, the touched-file keys never
    # matched, and every upserted key silently read back duplicated.
    from ophidia_server_spark.layout import (
        snapshot_read, snapshot_upsert, snapshot_write,
    )

    path = str(tmp_path / "100%20backup" / "store")
    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    snapshot_write(base.repartition(2, "k"), path, stats_cols=["k"])
    upd = spark.createDataFrame([(2, 99.0)], "k long, v double")
    rep = snapshot_upsert(spark, path, upd, ["k"])
    assert rep["files_rewritten"] >= 1
    got = sorted(tuple(r) for r in snapshot_read(spark, path).collect())
    assert got == [(1, 10.0), (2, 99.0), (3, 30.0)]


def test_vacuum_spelling_mismatch_never_deletes_live_data(spark, tmp_path):
    # round-9 review finding: vacuum compared manifest-stored spellings
    # against paths built from its OWN `path` argument without
    # normalization — written relative, vacuumed absolute, every live data
    # dir looked unreferenced and was rmtree'd past the grace window
    # (total data loss). Both sides now go through _norm_path.
    import os

    from ophidia_server_spark.layout import (
        snapshot_append, snapshot_read, snapshot_write, vacuum,
    )

    rel = os.path.relpath(str(tmp_path / "vspell"), os.getcwd())
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    snapshot_write(df, rel)
    snapshot_append(df.limit(1), rel)
    # vacuum with the ABSOLUTE spelling, zero grace: a normalization bug
    # would sweep every live dir as an orphan right here
    rep = vacuum(str(tmp_path / "vspell"), keep_last=1,
                 orphan_grace_seconds=0.0)
    assert rep["orphan_dirs"] == 0
    got = sorted(tuple(r) for r in snapshot_read(spark, rel).collect())
    assert got == [(1, 10.0), (1, 10.0), (2, 20.0)]


def test_snapshot_upsert_bounded_roll_resplits_snowball(spark, tmp_path):
    """ADVICE r11 snowball: every batch shares a boundary key slice with
    the newest file, so the file's envelope is never CONTAINED in the
    batch bounds and the cheap coalesce would roll the whole table into
    one ever-rewritten file (commit cost degrades to O(table) while
    len(touched) stays 1). The bounded-roll rule must let the file absorb
    at most ROLL_CAP_FACTOR x the batch row count, then re-split by range
    so envelopes re-tighten — commits stay O(batch) forever."""
    from ophidia_server_spark.layout import (
        ROLL_CAP_FACTOR, _read_manifest, snapshot_read, snapshot_upsert,
        snapshot_write,
    )

    def day(d):
        return f"2024-01-{d:02d} 00:00:00"

    base = spark.createDataFrame(
        [(day(1), "k0", 1, 1.0), (day(1), "k1", 1, 1.0),
         (day(2), "k0", 1, 1.0), (day(2), "k1", 1, 1.0)],
        "window_start string, key string, n long, total double",
    ).coalesce(1)
    path = str(tmp_path / "roll")
    snapshot_write(base, path, stats_cols=["window_start", "key"])

    n_upd = 3  # rows per batch -> roll cap = ROLL_CAP_FACTOR * 3 rows
    split_commits = 0
    for i in range(2, 13):
        # update the BOUNDARY day (always inside the newest file) +
        # insert the next day: bounds [day i, day i+1] overlap the
        # rolling file's envelope but never contain it
        upd = spark.createDataFrame(
            [(day(i), "k0", 100 + i, 1.0),
             (day(i + 1), "k0", i, 1.0), (day(i + 1), "k1", i, 1.0)],
            "window_start string, key string, n long, total double",
        )
        rep = snapshot_upsert(
            spark, path, upd, ["window_start", "key"],
            range_split="window_start", touched_by="stats",
            n_updates=n_upd,
        )
        if rep["files_written"] > 1:
            split_commits += 1
    # the roll must have been cut at least once (r11 behavior: never)
    assert split_commits >= 1
    man = _read_manifest(path)
    # no file may hold more than the cap's worth of rows plus one batch
    # (the commit that trips the cap writes cap + batch rows, then splits)
    max_rows = max(man["stats"][f]["rows"] for f in man["files"])
    assert max_rows <= (ROLL_CAP_FACTOR + 1) * n_upd
    assert len(man["files"]) >= 2
    got = {
        (r["window_start"], r["key"]): r["n"]
        for r in snapshot_read(spark, path).collect()
    }
    # every boundary update took; every insert landed exactly once
    for i in range(2, 13):
        assert got[(day(i), "k0")] == 100 + i
    assert got[(day(13), "k0")] == 12 and got[(day(13), "k1")] == 12
    assert got[(day(1), "k0")] == 1
    assert len(got) == 2 + 11 * 2 + 2  # days 1-2 base pairs + inserts


def test_stream_window_upsert_skips_empty_flush_commit(spark, tmp_path):
    """availableNow's trailing flush emits zero changed windows; the sink
    must commit NOTHING for it (no empty snapshot version, no full
    touched-file scan) — at sf0.1 that one commit was ~35% of the backfill
    gate's runtime. Versions == data batches, and the replayed stream
    still commits nothing."""
    import shutil

    from ophidia_server_spark.layout import (
        snapshot_read, snapshot_versions, stream_window_upsert_to_snapshots,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "tbl")
    rows = [(i, "a", f"2024-01-01 {i:02d}:30:00", 1.0) for i in range(6)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts string, value double"
    ).select(
        "event_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"), "value",
    )
    for p in (0, 1):
        df.filter(F.pmod("event_id", F.lit(2)) == p).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = "event_id long, event_type string, ts timestamp, value double"
    run = lambda: stream_window_upsert_to_snapshots(  # noqa: E731
        spark, src, schema, table, watermark="3650 days",
    )
    run()
    vs = snapshot_versions(table)
    assert len(vs) == 2  # two data micro-batches, NO empty flush version
    shutil.rmtree(table + "_ckpt")
    run()
    assert snapshot_versions(table) == vs  # full replay commits nothing
    got = sorted(
        tuple(r) for r in snapshot_read(spark, table)
        .select("window_start", "event_type", "n").collect()
    )
    assert got == [(f"2024-01-01 {i:02d}:00:00", "a", 1) for i in range(6)]


def test_footer_stats_match_spark_aggregate(spark, tmp_path):
    """Round-14: _collect_file_stats serves plain-integer stats straight
    from the parquet footers (no Spark job). The footer path must produce
    the IDENTICAL manifest dict the Spark aggregate produces, and must
    refuse (return None -> fallback) when any requested column is outside
    the exactness allowlist (strings may truncate, floats drop NaN)."""
    import os

    from pyspark.sql import functions as F

    from ophidia_server_spark import layout as L

    df = spark.range(100).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") % 7).cast("int").alias("m"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        (F.col("id") * 1.5).alias("x"),
    )
    d = str(tmp_path / "fst")
    df.repartition(3, "k").write.parquet(d)
    files = sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )
    footer = L._footer_file_stats(files, ["k", "m"])
    assert footer is not None

    # the Spark-aggregate ground truth, keyed the same way
    def spark_stats(cols):
        sdf = spark.read.option("mergeSchema", "true").parquet(*files)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
        out = {}
        for r in (
            sdf.groupBy(F.input_file_name().alias("__f")).agg(*aggs).collect()
        ):
            out[L._norm_executor_path(r["__f"])] = {
                "rows": r["__rows"],
                "cols": {c: [r[f"__mn_{c}"], r[f"__mx_{c}"]] for c in cols},
            }
        return out

    assert footer == spark_stats(["k", "m"])
    # outside the allowlist -> refuse, so _collect_file_stats falls back
    assert L._footer_file_stats(files, ["k", "s"]) is None
    assert L._footer_file_stats(files, ["x"]) is None
    # and the public entry point agrees with the aggregate either way
    assert L._collect_file_stats(spark, files, ["k", "m"]) == footer
