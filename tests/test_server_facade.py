"""End-to-end reference-UX test: submit a JSON workflow naming oph_* operators
with tasks chained by cube PID (the `cube` argument inherited from the parent
task), exactly like a reference client request."""

import pytest
from pyspark.sql import functions as F

from ophidia_server_spark.plans.server import build_default_engine
from ophidia_server_spark.store import CubeStore


@pytest.fixture()
def env(spark, tables, tmp_path):
    store = CubeStore(spark=spark, workspace=str(tmp_path))
    # stage a CSV input like a reference client would provide
    src = str(tmp_path / "lineitem_csv")
    (
        tables["lineitem"]
        .select(
            "l_returnflag", "l_linestatus",
            F.month("l_shipdate").alias("month"), "l_quantity",
        )
        .write.mode("overwrite").option("header", "true").csv(src)
    )
    return build_default_engine(spark, store), store, src


def test_json_workflow_chains_by_pid(env, tmp_path):
    eng, store, src = env
    out_csv = str(tmp_path / "out_csv")
    wf = {
        "name": "client_request",
        "variables": {"months": "3:9"},
        "tasks": [
            {
                "name": "import", "operator": "oph_importcsv",
                "arguments": {
                    "src_path": src, "container": "exp",
                    "explicit_dims": "l_returnflag|l_linestatus",
                    "implicit_dim": "month", "measure": "l_quantity",
                    "schema": "l_returnflag string, l_linestatus string, "
                              "month int, l_quantity double",
                },
            },
            {
                "name": "subset", "operator": "oph_subset",
                "arguments": {
                    "subset_dims": "month", "subset_filter": "@months",
                    "subset_type": "coord",
                },
                "dependencies": ["import"],
            },
            {
                "name": "reduce", "operator": "oph_reduce",
                "arguments": {"operation": "sum"},
                "dependencies": ["subset"],
            },
            {
                "name": "schema", "operator": "oph_cubeschema",
                "arguments": {},
                "dependencies": ["reduce"],
            },
            {
                "name": "export", "operator": "oph_exportcsv",
                "arguments": {"output_path": out_csv},
                "dependencies": ["reduce"],
            },
        ],
    }
    run = eng.run(wf)
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    # each data task emitted a PID; subset inherited import's cube
    pids = [run.results[n].value for n in ("import", "subset", "reduce")]
    assert all(isinstance(p, str) and "/" in p for p in pids)
    # provenance chain recorded
    ids = [store.entries[p].cube_id for p in pids]
    assert (ids[1], "subset", ids[0]) in store.lineage
    assert (ids[2], "reduce", ids[1]) in store.lineage
    # schema response describes the reduced cube
    assert run.results["schema"].value["measure"] == "l_quantity"
    # exported CSV exists and re-reads with the right totals
    spark = store.spark
    back = spark.read.option("header", "true").csv(out_csv)
    assert back.count() == 6  # 3 returnflags x 2 linestatus


def test_intercube_by_explicit_pids(env):
    eng, store, src = env
    wf = {
        "tasks": [
            {
                "name": "imp", "operator": "oph_importcsv",
                "arguments": {
                    "src_path": src, "container": "exp",
                    "explicit_dims": "l_returnflag|l_linestatus",
                    "implicit_dim": "month", "measure": "l_quantity",
                    "schema": "l_returnflag string, l_linestatus string, "
                              "month int, l_quantity double",
                },
            },
            {
                "name": "dup", "operator": "oph_duplicate", "arguments": {},
                "dependencies": ["imp"],
            },
            {
                "name": "diff", "operator": "oph_intercube",
                "arguments": {"operation": "sub"},
                "dependencies": ["imp", "dup"],
            },
        ]
    }
    run = eng.run(wf)
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    diff = store.get(run.results["diff"].value)
    # cube minus its duplicate is identically zero
    total = diff.df.select(
        F.sum(F.aggregate(diff.df.columns[-1], F.lit(0.0), lambda a, x: a + F.abs(x)))
    ).first()[0]
    assert total == 0.0


def test_facade_apply_merge_drilldown(env):
    eng, store, src = env
    imp_args = {
        "src_path": src, "container": "exp",
        "explicit_dims": "l_returnflag|l_linestatus",
        "implicit_dim": "month", "measure": "l_quantity",
        "schema": "l_returnflag string, l_linestatus string, "
                  "month int, l_quantity double",
    }
    wf = {
        "tasks": [
            {"name": "imp", "operator": "oph_importcsv", "arguments": imp_args},
            {
                "name": "scaled", "operator": "oph_apply",
                "arguments": {"query": "oph_mul_scalar", "parameters": "2.0|0.0"},
                "dependencies": ["imp"],
            },
            {
                "name": "merged", "operator": "oph_mergecubes",
                "arguments": {}, "dependencies": ["imp", "scaled"],
            },
            {
                "name": "peek", "operator": "oph_drilldown",
                "arguments": {"limit": 10}, "dependencies": ["imp"],
            },
        ]
    }
    run = eng.run(wf)
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    merged = store.get(run.results["merged"].value)
    row = merged.df.first()
    vals = [float(v) for v in row[merged.df.columns[-1]]]
    n = len(vals) // 2
    # second half is the scaled copy of the first half
    assert vals[n:] == [2 * v for v in vals[:n]]
    assert run.results["peek"].value["objclass"] == "grid"
    assert len(run.results["peek"].value["rowvalues"]) == 10


def test_facade_reduce2_monthly(env, spark, tables, tmp_path):
    eng, store, _src = env
    # stage a day-level CSV so reduce2 has a real time hierarchy to walk
    src = str(tmp_path / "daily_csv")
    (
        tables["lineitem"]
        .select(
            "l_returnflag", F.col("l_shipdate").cast("date").cast("string").alias("day"),
            "l_quantity",
        )
        .write.mode("overwrite").option("header", "true").csv(src)
    )
    wf = {
        "tasks": [
            {
                "name": "imp", "operator": "oph_importcsv",
                "arguments": {
                    "src_path": src, "container": "exp",
                    "explicit_dims": "l_returnflag", "implicit_dim": "day",
                    "measure": "l_quantity",
                    "schema": "l_returnflag string, day date, l_quantity double",
                },
            },
            {
                "name": "monthly", "operator": "oph_reduce2",
                "arguments": {"operation": "avg", "concept_level": "month"},
                "dependencies": ["imp"],
            },
        ]
    }
    run = eng.run(wf)
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    monthly = store.get(run.results["monthly"].value)
    row = monthly.df.first()
    # the implicit dim is now month starts: all coordinates are month floors
    assert all(str(d).endswith("-01") for d in row["__dim"])


def test_pipeline_workflow_chain(env, spark, tables, tmp_path):
    eng, store, _src = env
    src = str(tmp_path / "docs_src")
    # duplicate every doc so the dedup stage has real work
    docs = tables["documents"]
    docs.unionByName(docs).write.mode("overwrite").parquet(src)
    wf = {
        "tasks": [
            {
                "name": "dedup", "operator": "pipeline_dedup_exact",
                "arguments": {"src_path": src,
                              "output_path": str(tmp_path / "deduped")},
            },
            {
                "name": "filter", "operator": "pipeline_quality_filter",
                "arguments": {"min_quality": 0.3,
                              "output_path": str(tmp_path / "filtered")},
                "dependencies": ["dedup"],
            },
            {
                "name": "pairs", "operator": "pipeline_minhash_pairs",
                "arguments": {"threshold": 0.5,
                              "output_path": str(tmp_path / "pairs")},
                "dependencies": ["filter"],
            },
            {
                "name": "chunks", "operator": "pipeline_chunk",
                "arguments": {"chunk_tokens": 32, "overlap_tokens": 8,
                              "output_path": str(tmp_path / "chunks")},
                "dependencies": ["filter"],
            },
        ]
    }
    run = eng.run(wf)
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    n_src = spark.read.parquet(src).count()
    n_dedup = spark.read.parquet(run.results["dedup"].value).count()
    n_filtered = spark.read.parquet(run.results["filter"].value).count()
    assert n_dedup == n_src // 2          # exact dupes removed
    assert 0 < n_filtered <= n_dedup      # quality filter kept a subset
    # near-dup pairs table materialized (content checked by the parity gate)
    assert spark.read.parquet(run.results["pairs"].value).columns == [
        "doc_a", "doc_b", "est_jaccard",
    ]
    chunks = spark.read.parquet(run.results["chunks"].value)
    assert chunks.count() >= n_filtered  # every kept doc yields >= 1 chunk
    assert chunks.agg(F.max("n_tokens")).first()[0] <= 32


def test_facade_massive_over_store_catalog(env):
    eng, store, src = env
    imp = {
        "src_path": src, "container": "exp",
        "explicit_dims": "l_returnflag|l_linestatus",
        "implicit_dim": "month", "measure": "l_quantity",
        "schema": "l_returnflag string, l_linestatus string, "
                  "month int, l_quantity double",
    }
    wf = {
        "tasks": [
            {"name": "a", "operator": "oph_importcsv", "arguments": imp},
            {"name": "b", "operator": "oph_importcsv", "arguments": imp},
            # massive selection sees BOTH cubes imported earlier in this run
            # (catalog resolved at expansion time, light task per match)
            {
                "name": "schemas", "operator": "oph_cubeschema",
                "arguments": {"cube": "[container=exp]"},
                "dependencies": ["a", "b"],
            },
        ]
    }
    run = eng.run(wf)
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    vals = run.results["schemas"].value
    assert isinstance(vals, list) and len(vals) == 2
    assert all(v["measure"] == "l_quantity" for v in vals)


def test_facade_publish_and_fs(env, tmp_path):
    eng, store, src = env
    pub = str(tmp_path / "www")
    wf = {
        "tasks": [
            {
                "name": "imp", "operator": "oph_importcsv",
                "arguments": {
                    "src_path": src, "container": "exp",
                    "explicit_dims": "l_returnflag|l_linestatus",
                    "implicit_dim": "month", "measure": "l_quantity",
                    "schema": "l_returnflag string, l_linestatus string, "
                              "month int, l_quantity double",
                },
            },
            {
                "name": "pub", "operator": "oph_publish",
                "arguments": {"publish_dir": pub, "name": "mycube"},
                "dependencies": ["imp"],
            },
            {
                "name": "ls", "operator": "oph_fs",
                "arguments": {"path": pub, "file": r"\.html$"},
                "dependencies": ["pub"],
            },
            {
                "name": "unpub", "operator": "oph_unpublish",
                "arguments": {"publish_dir": pub, "name": "mycube"},
                "dependencies": ["ls"],
            },
        ]
    }
    run = eng.run(wf)
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    names = [r[1] for r in run.results["ls"].value["rowvalues"]]
    assert names == ["mycube.html"]
    import os

    assert not os.path.exists(os.path.join(pub, "mycube.html"))  # unpublished


def test_pipeline_decontaminate(env, spark, tables, tmp_path):
    eng, store, _src = env
    docs = tables["documents"]
    src = str(tmp_path / "corpus")
    docs.write.mode("overwrite").parquet(src)
    probe = str(tmp_path / "evalset")
    docs.filter(F.col("doc_id") == 0).write.mode("overwrite").parquet(probe)
    out = str(tmp_path / "clean")
    run = eng.run(
        {
            "tasks": [
                {
                    "name": "scrub", "operator": "pipeline_decontaminate",
                    "arguments": {"src_path": src, "probe_path": probe,
                                  "output_path": out},
                }
            ]
        }
    )
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    clean_ids = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert 0 not in clean_ids            # the probe doc itself is scrubbed
    assert len(clean_ids) < docs.count()  # plus its near-duplicates


def test_pipeline_sample_chain(env, spark, tables, tmp_path):
    # corpus -> stratified mix -> train/val/test split, chained by path outputs
    eng, store, _src = env
    docs = tables["documents"]
    src = str(tmp_path / "corpus")
    docs.write.mode("overwrite").parquet(src)
    mixed, split = str(tmp_path / "mixed"), str(tmp_path / "split")
    run = eng.run(
        {
            "tasks": [
                {
                    "name": "mix", "operator": "pipeline_sample",
                    "arguments": {"src_path": src, "output_path": mixed,
                                  "mode": "stratified",
                                  "fracs": {"src0": 1.0}, "default_frac": 0.5},
                },
                {
                    "name": "split", "operator": "pipeline_sample",
                    "arguments": {"output_path": split, "mode": "split",
                                  "val_frac": 0.2, "test_frac": 0.2},
                    "dependencies": ["mix"],
                },
            ]
        }
    )
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    out = spark.read.parquet(split)
    n_mixed = spark.read.parquet(mixed).count()
    assert 0 < n_mixed < docs.count()
    assert out.count() == n_mixed  # split tags, never drops
    assert set(r.split for r in out.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }


def test_facade_netcdf_cmip5_massive_workflow(env, spark, tmp_path):
    # the reference's signature flow: CMIP5-named .nc files expanded by a
    # file-massive src_path with convention=cmip5 (measure inferred per
    # file), imported with a hyperslab, reduced, exported back to NetCDF
    import numpy as np

    from ophidia_server_spark.sources import netcdf3 as nc

    eng, store, _ = env
    d = tmp_path / "cmip"
    d.mkdir()
    for name, base in (("tas_Amon_MPI.nc", 0.0), ("tas_day_IPSL.nc", 100.0)):
        ds = nc.Dataset()
        ds.dimensions = {"lat": 2, "time": 4}
        ds.variables["lat"] = nc.Variable("lat", ("lat",), {}, np.array([10.0, 20.0]))
        ds.variables["time"] = nc.Variable("time", ("time",), {}, np.arange(1.0, 5.0))
        ds.variables["tas"] = nc.Variable(
            "tas", ("lat", "time"), {},
            np.arange(8, dtype="float64").reshape(2, 4) + base,
        )
        nc.write(str(d / name), ds)

    out_nc = str(tmp_path / "nc_export")
    run = eng.run(
        {
            "name": "climate_request",
            "tasks": [
                {
                    "name": "imp", "operator": "oph_importnc",
                    "arguments": {
                        "src_path": f"[path={d};file=*.nc;convention=cmip5]",
                        "explicit_dims": "lat", "implicit_dim": "time",
                        "subset_dims": "time", "subset_filter": "2:4",
                        "subset_type": "coord", "container": "clim",
                    },
                },
            ],
        }
    )
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    pids = run.results["imp"].value  # one light task per expanded file
    assert isinstance(pids, list) and len(pids) == 2
    cube = store.get(pids[0])
    rows = {(r["lat"], r["time"]) for r in cube.long().collect()}
    assert rows == {(10.0, t) for t in (2.0, 3.0, 4.0)} | {
        (20.0, t) for t in (2.0, 3.0, 4.0)
    }

    # chain export through a follow-up request on one produced PID
    run2 = eng.run(
        {
            "tasks": [
                {
                    "name": "exp", "operator": "oph_exportnc",
                    "arguments": {"cube": pids[1], "output_path": out_nc},
                }
            ]
        }
    )
    assert run2.status == "OPH_ODB_STATUS_COMPLETED"
    files = run2.results["exp"].value
    info = eng.operators["oph_explorenc"](eng, {"src_path": files[0], "measure": "tas"}, {})
    assert info["stats"]["n"] == 6


def test_facade_netcdf4_and_zarr_chain(env, spark, tmp_path):
    # modern-archive flow: a netCDF-4 (HDF5) input imports through the same
    # oph_importnc operator, converts to a Zarr store via oph_exportzarr, and
    # re-imports chunk-parallel via oph_importzarr — all chained by PID
    import numpy as np

    from ophidia_server_spark.sources import hdf5, netcdf3 as nc

    eng, store, _ = env
    src = str(tmp_path / "v4_in.nc")
    ds = nc.Dataset()
    ds.dimensions = {"lat": 3, "time": 4}
    ds.variables["lat"] = nc.Variable("lat", ("lat",), {}, np.array([0.0, 10.0, 20.0]))
    ds.variables["time"] = nc.Variable("time", ("time",), {}, np.arange(1.0, 5.0))
    ds.variables["tas"] = nc.Variable(
        "tas", ("lat", "time"), {"units": "K"},
        np.arange(12, dtype="float64").reshape(3, 4),
    )
    hdf5.write(src, ds, compress=4, chunk_rows=2)
    zstore = str(tmp_path / "chain_zarr")

    run = eng.run(
        {
            "name": "modern_archive",
            "tasks": [
                {
                    "name": "imp", "operator": "oph_importnc",
                    "arguments": {
                        "src_path": src, "measure": "tas",
                        "explicit_dims": "lat", "implicit_dim": "time",
                        "container": "v4",
                    },
                },
                {
                    "name": "to_zarr", "operator": "oph_exportzarr",
                    "dependencies": ["imp"],
                    "arguments": {
                        "output_path": zstore, "compress": "3",
                        "per_dim_chunks": "yes",
                    },
                },
                {
                    "name": "back", "operator": "oph_importzarr",
                    "dependencies": ["to_zarr"],
                    "arguments": {
                        "src_path": zstore, "measure": "tas",
                        "explicit_dims": "lat", "implicit_dim": "time",
                        "container": "v4back",
                    },
                },
            ],
        }
    )
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    cube = store.get(run.results["back"].value)
    rows = {(r["lat"], r["time"], r["tas"]) for r in cube.long().collect()}
    assert rows == {
        (10.0 * g, float(t + 1), float(g * 4 + t)) for g in range(3) for t in range(4)
    }


def test_pipeline_redact_pii_stage(env, spark, tables, tmp_path):
    # privacy scrub as a workflow stage: corpus in, redacted corpus out,
    # chained by path like the other pipeline_* ops
    eng, store, _ = env
    src = str(tmp_path / "pii_src")
    spark.createDataFrame(
        [(1, "contact me a@b.io", "en"), (2, "clean row", "en")],
        "doc_id long, text string, lang string",
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "pii_out")
    run = eng.run(
        {
            "tasks": [
                {"name": "scrub", "operator": "pipeline_redact_pii",
                 "arguments": {"src_path": src, "output_path": out}},
            ]
        }
    )
    assert run.status == "OPH_ODB_STATUS_COMPLETED"
    rows = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert rows[1] == "contact me [EMAIL]" and rows[2] == "clean row"


def test_wait_file_subset_carry_into_importnc(env, tmp_path):
    # OPH_WAIT type=file with subset args (OPH_WAIT_operator_1.0.xml:
    # subset_dims/subset_filter/subset_type + measure + fileref/output):
    # once the watched file exists, the wait forwards the file and the
    # subset into the dependent import's arguments
    # (oph_flow_control_operators.c:2060-2185 subset_params/add_to_notify)
    import numpy as np

    from ophidia_server_spark.sources import netcdf3 as nc

    eng, store, _src = env
    ncfile = str(tmp_path / "arrived.nc")
    ds = nc.Dataset()
    ds.dimensions = {"lat": 2, "time": 5}
    ds.variables["lat"] = nc.Variable("lat", ("lat",), {}, np.array([10.0, 20.0]))
    ds.variables["time"] = nc.Variable("time", ("time",), {}, np.arange(1.0, 6.0))
    ds.variables["tas"] = nc.Variable(
        "tas", ("lat", "time"), {}, np.arange(10, dtype="f8").reshape(2, 5)
    )
    nc.write(ncfile, ds)
    # fileref indirection: the watched filename is read from a text file,
    # like the reference's src-list handoff from an external producer
    fileref = str(tmp_path / "arrival.txt")
    with open(fileref, "w") as fh:
        fh.write(ncfile + "\n")

    run = eng.run({
        "name": "wait_then_import",
        "tasks": [
            {
                "name": "arrival", "operator": "oph_wait",
                "arguments": {
                    "type": "file", "timeout": "5", "fileref": fileref,
                    "measure": "tas",
                    "subset_dims": "time", "subset_filter": "2:4",
                    "subset_type": "coord",
                },
            },
            {
                "name": "imp", "operator": "oph_importnc",
                "dependencies": ["arrival"],
                # src_path/measure/subset all arrive via the wait carry
                "arguments": {"explicit_dims": "lat", "implicit_dim": "time",
                              "container": "arrivals"},
            },
        ],
    })
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    cube = store.get(run.results["imp"].value)
    rows = {(r["lat"], r["time"], r["tas"]) for r in cube.long().collect()}
    # time subset 2..4 by coordinate: columns 1..3 of each lat row
    # (tas[lat=10][t] = t-1, tas[lat=20][t] = t+4)
    want = {(10.0, t, t - 1.0) for t in (2.0, 3.0, 4.0)} | {
        (20.0, t, t + 4.0) for t in (2.0, 3.0, 4.0)
    }
    assert rows == want
    # an explicit argument beats the carry: re-run with measure pinned
    run2 = eng.run({
        "tasks": [
            {"name": "w", "operator": "oph_wait",
             "arguments": {"type": "file", "timeout": "5",
                           "output": ncfile, "measure": "tas"}},
            {"name": "i", "operator": "oph_importnc", "dependencies": ["w"],
             "arguments": {"measure": "tas", "explicit_dims": "lat",
                           "implicit_dim": "time"}},
        ],
    })
    assert run2.status == "OPH_ODB_STATUS_COMPLETED"
    assert len(store.get(run2.results["i"].value).long().collect()) == 10


def test_pipeline_training_prep_chain(env, spark, tables, tmp_path):
    # the round-6 training-batch prep surface: logistic quality gate ->
    # sequence packing -> epoch shuffle, chained by path like cube PIDs;
    # plus SemDeDup over an embeddings parquet in the same workflow
    eng, store, _src = env
    src = str(tmp_path / "docs_src")
    tables["documents"].write.mode("overwrite").parquet(src)
    emb_src = str(tmp_path / "emb_src")
    tables["embeddings"].write.mode("overwrite").parquet(emb_src)
    wf = {
        "tasks": [
            {
                "name": "gate", "operator": "pipeline_quality_model",
                "arguments": {"src_path": src, "keep_threshold": 0.2,
                              "output_path": str(tmp_path / "gated")},
            },
            {
                "name": "pack", "operator": "pipeline_pack",
                "arguments": {"seq_len": 256, "n_buckets": 4,
                              "output_path": str(tmp_path / "packed")},
                "dependencies": ["gate"],
            },
            {
                "name": "shuffle", "operator": "pipeline_shuffle",
                "arguments": {"n_shards": 4, "salt": "epoch0",
                              "output_path": str(tmp_path / "shuffled")},
                "dependencies": ["gate"],
            },
            {
                "name": "semdedup", "operator": "pipeline_semantic_dedup",
                "arguments": {"src_path": emb_src, "n_clusters": 4,
                              "threshold": 0.3,
                              "output_path": str(tmp_path / "semdeduped")},
            },
        ]
    }
    run = eng.run(wf)
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    n_gated = spark.read.parquet(run.results["gate"].value).count()
    assert 0 < n_gated <= tables["documents"].count()
    packed = spark.read.parquet(run.results["pack"].value)
    assert packed.count() == n_gated
    assert set(packed.columns) >= {"doc_id", "bucket", "start_offset", "first_seq"}
    shuffled = spark.read.parquet(run.results["shuffle"].value)
    assert shuffled.count() == n_gated
    sd = spark.read.parquet(run.results["semdedup"].value)
    assert sd.count() == tables["embeddings"].count()
    assert sd.filter(F.col("kept") == 0).count() > 0  # threshold 0.3 prunes some


def test_pipeline_pack_rejects_bad_param(env, tmp_path):
    # descriptor validation: a non-int seq_len is a named validation error
    # at submit time, not a deep TypeError
    eng, _store, _src = env
    run = eng.run({
        "tasks": [{
            "name": "pack", "operator": "pipeline_pack",
            "arguments": {"src_path": "/nonexistent",
                          "output_path": str(tmp_path / "x"),
                          "seq_len": "lots"},
        }]
    })
    assert run.status != "OPH_ODB_STATUS_COMPLETED"
    err = run.results["pack"].error or ""
    assert "seq_len" in err and ("int" in err or "validation" in err.lower())


def test_facade_arrow_export_import_chain(env, spark, tmp_path):
    # cube -> sharded Arrow IPC -> new cube, chained as facade tasks
    eng, store, src = env
    run = eng.run({
        "tasks": [
            {"name": "i", "operator": "oph_importcsv",
             "arguments": {"src_path": src, "measure": "l_quantity",
                           "explicit_dims": "l_returnflag|l_linestatus",
                           "implicit_dim": "month",
                           "schema": "l_returnflag string, l_linestatus string, "
                                     "month int, l_quantity double"}},
            {"name": "x", "operator": "oph_exportarrow",
             "arguments": {"output_path": str(tmp_path / "arrow"), "shards": "2"},
             "dependencies": ["i"]},
            {"name": "r", "operator": "oph_importarrow",
             "arguments": {"src_path": str(tmp_path / "arrow"),
                           "measure": "l_quantity",
                           "explicit_dims": "l_returnflag|l_linestatus",
                           "implicit_dim": "month"},
             "dependencies": ["x"]},
        ]
    })
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    orig = store.get(run.results["i"].value)
    back = store.get(run.results["r"].value)
    assert {tuple(r) for r in back.long().collect()} == {
        tuple(r) for r in orig.long().collect()
    }


def test_pipeline_audit_gate_abort_and_continue(env, spark, tables, tmp_path):
    eng, _store, _src = env
    src = str(tmp_path / "docs_audit")
    tables["documents"].write.mode("overwrite").parquet(src)
    rules = [
        {"name": "text_not_null", "kind": "not_null", "col": "text"},
        # impossible contract -> must fail under abort
        {"name": "len_huge", "kind": "min_length", "col": "text", "n": 10**6},
    ]
    run = eng.run({
        "tasks": [{
            "name": "a", "operator": "pipeline_audit",
            "arguments": {"src_path": src, "rules": rules,
                          "output_path": str(tmp_path / "report")},
        }]
    })
    assert run.status != "OPH_ODB_STATUS_COMPLETED"
    assert "len_huge" in (run.results["a"].error or "")
    # on_fail=continue writes the report and completes
    run2 = eng.run({
        "tasks": [{
            "name": "a", "operator": "pipeline_audit",
            "arguments": {"src_path": src, "rules": rules, "on_fail": "continue",
                          "output_path": str(tmp_path / "report2")},
        }]
    })
    assert run2.status == "OPH_ODB_STATUS_COMPLETED"
    rep = spark.read.parquet(run2.results["a"].value)
    got = {r.rule: r.passed for r in rep.collect()}
    assert got == {"text_not_null": 1, "len_huge": 0}


def test_pipeline_sketch_stage_writes_mergeable_tables(env, spark, tables, tmp_path):
    from ophidia_server_spark.functions import sketches as sk

    eng, _store, _src = env
    src = str(tmp_path / "ev_src")
    tables["events"].write.mode("overwrite").parquet(src)
    wf = {
        "tasks": [
            {"name": "hll", "operator": "pipeline_sketch",
             "arguments": {"src_path": src, "column": "user_id", "kind": "hll",
                           "p": "8", "output_path": str(tmp_path / "hll")}},
            {"name": "dds", "operator": "pipeline_sketch",
             "arguments": {"src_path": src, "column": "value", "kind": "dds",
                           "output_path": str(tmp_path / "dds")}},
        ]
    }
    run = eng.run(wf)
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    regs = spark.read.parquet(run.results["hll"].value)
    est = sk.hll_estimate(regs, p=8).first()
    n_exact = tables["events"].select("user_id").distinct().count()
    assert abs(est.estimate - n_exact) / n_exact < 0.3
    dds = spark.read.parquet(run.results["dds"].value)
    assert set(dds.columns) == {"bucket", "c"} and dds.count() > 0
    # bad kind is a named 400-class validation error, not a traceback
    # (bloom graduated to a valid kind in round 7, so probe with tdigest)
    bad = eng.run({
        "tasks": [{"name": "s", "operator": "pipeline_sketch",
                   "arguments": {"src_path": src, "column": "user_id",
                                 "kind": "tdigest",
                                 "output_path": str(tmp_path / "x")}}]
    })
    assert bad.status != "OPH_ODB_STATUS_COMPLETED"
    assert "kind" in (bad.results["s"].error or "")


def test_facade_exportnc_netcdf4_and_cdf5_write_real_formats(env, tmp_path):
    # descriptor previously only allowed 'nc4', which the implementation
    # ignored (silent classic write); both real formats must now validate
    # AND produce their magic
    eng, _store, src = env
    for fmt, magic in (("netcdf4", b"\x89HDF"), ("cdf5", b"CDF\x05")):
        run = eng.run({
            "tasks": [
                {"name": "i", "operator": "oph_importcsv",
                 "arguments": {"src_path": src, "measure": "l_quantity",
                               "explicit_dims": "l_returnflag|l_linestatus",
                               "implicit_dim": "month",
                               "schema": "l_returnflag string, l_linestatus string, "
                                         "month int, l_quantity double"}},
                {"name": "x", "operator": "oph_exportnc",
                 "arguments": {"output_path": str(tmp_path / f"nc_{fmt}"),
                               "nc_format": fmt},
                 "dependencies": ["i"]},
            ]
        })
        assert run.status == "OPH_ODB_STATUS_COMPLETED", {
            n: (r.status, r.error) for n, r in run.results.items()
        }
        f = run.results["x"].value[0]
        assert open(f, "rb").read(4)[: len(magic)] == magic, fmt


def test_pipeline_repack_stage(env, spark, tables, tmp_path):
    import glob

    eng, _store, _src = env
    src = str(tmp_path / "docs_rp")
    tables["documents"].write.mode("overwrite").parquet(src)
    run = eng.run({
        "tasks": [{
            "name": "rp", "operator": "pipeline_repack",
            "arguments": {"src_path": src, "target_mb": "0.02",
                          "output_path": str(tmp_path / "repacked")},
        }]
    })
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    out = run.results["rp"].value
    assert len(glob.glob(f"{out}/part-*.parquet")) > 1
    assert spark.read.parquet(out).count() == tables["documents"].count()


def test_pipeline_ingest_chain_index_novelty_tokenize(env, spark, tables, tmp_path):
    # the continuous-ingest workflow: index the corpus -> novelty-gate a
    # new batch (half copies, half genuinely new) -> BPE-tokenize the
    # surviving novel docs; all three as chained workflow tasks
    import pyspark.sql.functions as F

    eng, _store, _src = env
    corpus = str(tmp_path / "corpus")
    tables["documents"].write.mode("overwrite").parquet(corpus)
    batch_df = (
        tables["documents"].filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 200000).alias("doc_id"), "text")
        .unionByName(
            spark.range(300000, 300020).select(
                F.col("id").alias("doc_id"),
                F.concat_ws(" ", F.array(*[
                    F.md5(F.concat(F.col("id").cast("string"), F.lit(f":nv{i}")))
                    for i in range(8)
                ])).alias("text"),
            )
        )
    )
    batch = str(tmp_path / "batch")
    batch_df.write.mode("overwrite").parquet(batch)
    run = eng.run({
        "tasks": [
            {"name": "index", "operator": "pipeline_dedup_index",
             "arguments": {"src_path": corpus,
                           "output_path": str(tmp_path / "mhidx")}},
            {"name": "gate", "operator": "pipeline_novelty",
             "arguments": {"src_path": batch,
                           "index_path": str(tmp_path / "mhidx"),
                           "keep": "novel",
                           "output_path": str(tmp_path / "novel")},
             "dependencies": ["index"]},
            {"name": "tok", "operator": "pipeline_tokenize",
             "arguments": {"src_path": str(tmp_path / "novel"),
                           "num_merges": 50,
                           "save_merges_path": str(tmp_path / "merges.json"),
                           "output_path": str(tmp_path / "tokens")},
             "dependencies": ["gate"]},
        ]
    })
    assert run.status == "OPH_ODB_STATUS_COMPLETED"
    novel = spark.read.parquet(str(tmp_path / "novel"))
    # every copy was gated out, every synthetic doc survived
    assert novel.filter(F.col("doc_id") < 300000).count() == 0
    assert novel.count() == 20
    toks = spark.read.parquet(str(tmp_path / "tokens"))
    assert toks.count() == 20
    assert toks.filter(F.col("n_tokens") <= 0).count() == 0
    import json as js

    merges = js.load(open(str(tmp_path / "merges.json")))
    assert merges and all(len(m) == 2 for m in merges)


def test_pipeline_export_zorder_kmeans_stages(env, spark, tables, tmp_path):
    # the loader-handoff tail of a corpus pipeline as chained facade tasks:
    # z-order the store (+ manifest), cluster the embeddings, and re-encode
    # for three trainer loader formats
    import glob

    eng, _store, _src = env
    docs = str(tmp_path / "docs_exp")
    emb = str(tmp_path / "emb_exp")
    tables["documents"].write.mode("overwrite").parquet(docs)
    tables["embeddings"].write.mode("overwrite").parquet(emb)
    run = eng.run({
        "tasks": [
            {"name": "zo", "operator": "pipeline_zorder",
             "arguments": {"src_path": docs, "columns": "doc_id|n_chars",
                           "files": "4", "bits": "10",
                           "output_path": str(tmp_path / "zo")}},
            {"name": "km", "operator": "pipeline_kmeans",
             "arguments": {"src_path": emb, "k": "4", "iters": "3",
                           "output_path": str(tmp_path / "km")}},
            {"name": "tf", "operator": "pipeline_export",
             "arguments": {"src_path": emb, "format": "tfrecord",
                           "shards": "2",
                           "output_path": str(tmp_path / "tf")}},
            {"name": "wd", "operator": "pipeline_export",
             "arguments": {"src_path": docs, "format": "webdataset",
                           "key_col": "doc_id", "shards": "2",
                           "output_path": str(tmp_path / "wd")}},
            {"name": "av", "operator": "pipeline_export",
             "arguments": {"src_path": docs, "format": "avro",
                           "shards": "2",
                           "output_path": str(tmp_path / "av")}},
        ]
    })
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    n_docs = tables["documents"].count()
    assert spark.read.parquet(str(tmp_path / "zo")).count() == n_docs
    assert spark.read.parquet(str(tmp_path / "zo_index")).count() == 4
    km = spark.read.parquet(str(tmp_path / "km"))
    assert km.count() == tables["embeddings"].count()
    assert "cluster" in km.columns
    assert len(glob.glob(str(tmp_path / "tf" / "*.tfrecord"))) == 2
    assert len(glob.glob(str(tmp_path / "wd" / "*.tar"))) == 2
    assert len(glob.glob(str(tmp_path / "av" / "*.avro"))) == 2


def test_pipeline_export_bad_format_is_param_validation_error(env, tmp_path):
    eng, _store, _src = env
    run = eng.run({
        "tasks": [{
            "name": "x", "operator": "pipeline_export",
            "arguments": {"src_path": "/tmp/nope", "format": "pickle",
                          "output_path": str(tmp_path / "o")},
        }]
    })
    assert run.status != "OPH_ODB_STATUS_COMPLETED"
    err = run.results["x"].error or ""
    assert "format" in err


def test_pipeline_select_temperature_interleave_stages(env, spark, tables, tmp_path):
    # the mix-construction tail: DSIR-select toward the English slice,
    # temperature-balance across sources, then emit the interleaved order
    eng, _store, _src = env
    docs = str(tmp_path / "docs_mix")
    tables["documents"].write.mode("overwrite").parquet(docs)
    run = eng.run({
        "tasks": [
            {"name": "sel", "operator": "pipeline_select",
             "arguments": {"src_path": docs, "k": "60", "m": "128",
                           "target_filter": "lang = 'en'",
                           "output_path": str(tmp_path / "sel")}},
            {"name": "tmp", "operator": "pipeline_sample",
             "arguments": {"src_path": str(tmp_path / "sel"),
                           "mode": "temperature", "total": "40",
                           "alpha": "0.5",
                           "output_path": str(tmp_path / "tsamp")},
             "dependencies": ["sel"]},
            {"name": "ilv", "operator": "pipeline_interleave",
             "arguments": {"src_path": str(tmp_path / "tsamp"),
                           "output_path": str(tmp_path / "order")},
             "dependencies": ["tmp"]},
        ]
    })
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    sel = spark.read.parquet(str(tmp_path / "sel"))
    assert sel.count() == 60
    assert "dsir_logweight" in sel.columns
    ts = spark.read.parquet(str(tmp_path / "tsamp"))
    assert 0 < ts.count() <= 40
    order = spark.read.parquet(str(tmp_path / "order"))
    assert order.count() == ts.count()
    pos = [r["train_pos"] for r in order.select("train_pos").collect()]
    assert len(set(pos)) == len(pos)


def test_pipeline_select_bad_k_is_param_validation_error(env, tmp_path):
    eng, _store, _src = env
    run = eng.run({
        "tasks": [{
            "name": "x", "operator": "pipeline_select",
            "arguments": {"src_path": "/tmp/nope", "k": "0",
                          "target_filter": "lang = 'en'",
                          "output_path": str(tmp_path / "o")},
        }]
    })
    assert run.status != "OPH_ODB_STATUS_COMPLETED"
    assert "k" in (run.results["x"].error or "")


def test_pipeline_drift_gate_reports_and_aborts(env, spark, tables, tmp_path):
    eng, _store, _src = env
    ref = str(tmp_path / "ref")
    new = str(tmp_path / "new")
    tables["events"].write.mode("overwrite").parquet(ref)
    tables["events"].selectExpr(
        "event_id", "ts", "user_id", "event_type", "value + 500 AS value", "props"
    ).write.mode("overwrite").parquet(new)
    # report-only: completes and writes the PSI table
    run = eng.run({
        "tasks": [{
            "name": "d", "operator": "pipeline_drift",
            "arguments": {"src_path": new, "ref_path": ref,
                          "output_path": str(tmp_path / "rep")},
        }]
    })
    assert run.status == "OPH_ODB_STATUS_COMPLETED", run.results["d"].error
    rep = spark.read.parquet(str(tmp_path / "rep"))
    psi = rep.first()["psi"]
    assert psi > 0.25
    # gated: the same shift aborts when max_psi is set
    run2 = eng.run({
        "tasks": [{
            "name": "d", "operator": "pipeline_drift",
            "arguments": {"src_path": new, "ref_path": ref, "max_psi": "0.1",
                          "output_path": str(tmp_path / "rep2")},
        }]
    })
    assert run2.status != "OPH_ODB_STATUS_COMPLETED"
    assert "psi" in (run2.results["d"].error or "")


def test_pipeline_snapshot_lifecycle(env, spark, tables, tmp_path):
    # write -> upsert -> optimize -> vacuum as chained facade tasks: the
    # versioned-table lifecycle a corpus store runs in production
    eng, _store, _src = env
    src = str(tmp_path / "snap_src")
    upd = str(tmp_path / "snap_upd")
    table = str(tmp_path / "snap_table")
    base = tables["lineitem"].select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        F.col("l_quantity").alias("qty"),
    ).filter("l_orderkey < 2000")
    base.write.mode("overwrite").parquet(src)
    base.filter("l_orderkey % 9 = 0").withColumn(
        "qty", F.col("qty") + 7
    ).write.mode("overwrite").parquet(upd)
    run = eng.run({
        "tasks": [
            {"name": "w", "operator": "pipeline_snapshot",
             "arguments": {"table_path": table, "action": "write",
                           "src_path": src}},
            {"name": "u", "operator": "pipeline_snapshot",
             "arguments": {"table_path": table, "action": "upsert",
                           "src_path": upd,
                           "key_cols": "l_orderkey|l_linenumber"},
             "dependencies": ["w"]},
            {"name": "o", "operator": "pipeline_snapshot",
             "arguments": {"table_path": table, "action": "optimize",
                           "columns": "l_partkey|l_suppkey",
                           "target_mb": "1"},
             "dependencies": ["u"]},
            {"name": "v", "operator": "pipeline_snapshot",
             "arguments": {"table_path": table, "action": "vacuum",
                           "keep_last": "1"},
             "dependencies": ["o"]},
        ]
    })
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    from ophidia_server_spark.layout import snapshot_read, snapshot_versions

    assert snapshot_versions(table) == [3]
    final = snapshot_read(spark, table)
    assert final.count() == base.count()
    n_upd = base.filter("l_orderkey % 9 = 0").count()
    got = float(final.agg(F.sum("qty")).first()[0])
    want = float(base.agg(F.sum("qty")).first()[0]) + 7 * n_upd
    assert abs(got - want) < 1e-6


def test_pipeline_classify_bootstrap_from_gopher_labels(env, spark, tables, tmp_path):
    # the CCNet bootstrap: heuristic rules label the corpus, the classifier
    # learns the rules' signal, the scored output gates the next stage
    from ophidia_server_spark.pipeline.text import gopher_quality_flags

    eng, _store, _src = env
    docs = tables["documents"].filter("doc_id < 300")
    labeled = docs.join(
        gopher_quality_flags(docs, min_words=20).select(
            "doc_id", F.col("ok_word_count").alias("label")
        ),
        "doc_id",
    )
    src = str(tmp_path / "labeled")
    labeled.write.mode("overwrite").parquet(src)
    run = eng.run({
        "tasks": [{
            "name": "c", "operator": "pipeline_classify",
            "arguments": {"src_path": src, "m": "128", "iters": "6",
                          "output_path": str(tmp_path / "scored")},
        }]
    })
    assert run.status == "OPH_ODB_STATUS_COMPLETED", run.results["c"].error
    scored = spark.read.parquet(str(tmp_path / "scored"))
    assert scored.count() == docs.count()
    j = scored.join(labeled.select("doc_id", "label"), "doc_id")
    # learned signal: average prob on positive-labeled docs exceeds negatives
    means = {
        r["label"]: r["p"]
        for r in j.groupBy("label").agg(F.avg("prob").alias("p")).collect()
    }
    if len(means) == 2:
        assert means[1] > means[0]


def test_pipeline_triplets_stage(env, spark, tables, tmp_path):
    eng, _store, _src = env
    d = tables["documents"].select("doc_id", "text").filter("doc_id < 150")
    corpus = d.unionByName(
        d.filter("doc_id % 10 = 0").select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    src = str(tmp_path / "trip_src")
    corpus.write.mode("overwrite").parquet(src)
    run = eng.run({
        "tasks": [{
            "name": "t", "operator": "pipeline_triplets",
            "arguments": {"src_path": src, "threshold": "0.5",
                          "output_path": str(tmp_path / "trip")},
        }]
    })
    assert run.status == "OPH_ODB_STATUS_COMPLETED", run.results["t"].error
    trip = spark.read.parquet(str(tmp_path / "trip"))
    rows = trip.collect()
    assert rows
    for r in rows:
        assert r["negative"] not in (r["anchor"], r["positive"])


def test_pipeline_features_stage_modes(env, spark, tables, tmp_path):
    eng, _store, _src = env
    src = str(tmp_path / "feat_src")
    tables["events"].write.mode("overwrite").parquet(src)
    run = eng.run({
        "tasks": [
            {"name": "z", "operator": "pipeline_features",
             "arguments": {"src_path": src, "mode": "standardize",
                           "output_path": str(tmp_path / "z")}},
            {"name": "w", "operator": "pipeline_features",
             "arguments": {"src_path": src, "mode": "winsorize",
                           "lower_q": "0.05", "upper_q": "0.95",
                           "output_path": str(tmp_path / "w")}},
            {"name": "i", "operator": "pipeline_features",
             "arguments": {"src_path": src, "mode": "index",
                           "col": "event_type",
                           "output_path": str(tmp_path / "i")}},
            {"name": "r", "operator": "pipeline_features",
             "arguments": {"src_path": src, "mode": "rolling", "days": "7",
                           "output_path": str(tmp_path / "r")}},
        ]
    })
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    n = tables["events"].count()
    assert spark.read.parquet(str(tmp_path / "z")).count() == n
    assert "zscore" in spark.read.parquet(str(tmp_path / "z")).columns
    assert spark.read.parquet(str(tmp_path / "w")).filter("was_clipped = 1").count() > 0
    assert spark.read.parquet(str(tmp_path / "i_vocab")).count() == 5
    assert "n_7d" in spark.read.parquet(str(tmp_path / "r")).columns


def test_pipeline_vector_index_build_then_probe(env, spark, tables, tmp_path):
    eng, _store, _src = env
    src = str(tmp_path / "emb")
    tables["embeddings"].write.mode("overwrite").parquet(src)
    idx = str(tmp_path / "ivf_store")
    run = eng.run({
        "tasks": [
            {"name": "b", "operator": "pipeline_vector_index",
             "arguments": {"index_path": idx, "action": "build",
                           "src_path": src, "kind": "ivf", "n_cells": "8"}},
            {"name": "p", "operator": "pipeline_vector_index",
             "arguments": {"index_path": idx, "action": "probe",
                           "query_path": src, "query_id": "3", "k": "5",
                           "output_path": str(tmp_path / "hits")},
             "dependencies": ["b"]},
        ]
    })
    assert run.status == "OPH_ODB_STATUS_COMPLETED", {
        n: (r.status, r.error) for n, r in run.results.items()
    }
    hits = spark.read.parquet(str(tmp_path / "hits"))
    assert 0 < hits.count() <= 5
    assert "vec_id" in hits.columns
    # bad query id surfaces a named error
    run2 = eng.run({
        "tasks": [{
            "name": "p", "operator": "pipeline_vector_index",
            "arguments": {"index_path": idx, "action": "probe",
                          "query_path": src, "query_id": "999999",
                          "output_path": str(tmp_path / "h2")},
        }]
    })
    assert run2.status != "OPH_ODB_STATUS_COMPLETED"
    assert "not found" in (run2.results["p"].error or "")


def test_pipeline_sketch_hll_rolling_kind(env, spark, tables, tmp_path):
    eng, _store, _src = env
    src = str(tmp_path / "ev_wau")
    tables["events"].write.mode("overwrite").parquet(src)
    run = eng.run({
        "tasks": [{
            "name": "w", "operator": "pipeline_sketch",
            "arguments": {"src_path": src, "kind": "hll_rolling",
                          "column": "user_id", "days": "7", "p": "8",
                          "output_path": str(tmp_path / "wau")},
        }]
    })
    assert run.status == "OPH_ODB_STATUS_COMPLETED", run.results["w"].error
    wau = spark.read.parquet(str(tmp_path / "wau"))
    assert wau.count() > 0
    assert set(wau.columns) == {"day", "estimate"}
    assert wau.filter("estimate <= 0").count() == 0


_REFLECT = "reflect('java.lang.System', 'getProperty', 'java.version') IS NOT NULL"


@pytest.mark.parametrize("bad", [
    _REFLECT, "lang = 'en' OR " + _REFLECT, "lang = 'en' OR TRUE", "nope = 1",
    "lang = 'en' AND", "lang IN ('en')", "lang = en", "",
])
def test_pipeline_select_target_filter_is_a_grammar_not_sql(env, tables, tmp_path, bad):
    eng, _store, _src = env
    docs = str(tmp_path / "docs_tf")
    tables["documents"].write.mode("overwrite").parquet(docs)
    run = eng.run({"tasks": [{
        "name": "sel", "operator": "pipeline_select",
        "arguments": {"src_path": docs, "k": "5", "m": "64", "target_filter": bad,
                      "output_path": str(tmp_path / "sel")}}]})
    assert run.status != "OPH_ODB_STATUS_COMPLETED"
    err = run.results["sel"].error or ""
    assert "ValueError" in err and "target_filter" in err


def test_target_filter_renders_quoted_columns_and_literals():
    from ophidia_server_spark.plans.server import _target_filter_sql

    cols = ["lang", "n_chars", "score"]
    assert _target_filter_sql("lang = 'en' and n_chars >= 10 AND score<>0.5", cols) == (
        "`lang` = 'en' AND `n_chars` >= 10 AND `score` <> 0.5D")
    assert _target_filter_sql(r"lang != 'o\'b\\r'", cols) == r"`lang` != 'o\'b\\r'"


@pytest.fixture()
def bare(spark, tmp_path):
    store = CubeStore(spark=spark, workspace=str(tmp_path))
    return build_default_engine(spark, store), store


def _run(eng, *tasks):
    return eng.run({"tasks": [{"name": n, "operator": op, "arguments": a,
                               "dependencies": deps} for n, op, a, deps in tasks]})


def test_randcube_runs_with_the_number_the_descriptor_read(bare):
    # strtol reads "10.0" as 10, and the operator gets that 10
    eng, store = bare
    run = _run(eng, ("r", "oph_randcube", {"nrows": "10.0", "nvalues": "3"}, []))
    assert run.status == "OPH_ODB_STATUS_COMPLETED", run.results["r"].error
    assert store.get(run.results["r"].value).df.count() == 10


def test_subset_offset_is_an_integral_real(bare):
    eng, store = bare
    sub = {"subset_dims": "index", "subset_filter": "3"}
    run = _run(eng, ("r", "oph_randcube", {"nrows": "2", "nvalues": "6"}, []),
               *((f"s{i}", "oph_subset", {**sub, "offset": off}, ["r"])
                 for i, off in enumerate(["1.0", "1", "0.5"])))
    cells = [sorted(store.get(run.results[s].value).long().collect()) for s in ("s0", "s1")]
    assert cells[0] == cells[1] and len(cells[0]) == 2 * 3
    half = run.results["s2"]
    assert half.status == "OPH_ODB_STATUS_ERROR"
    assert half.error.startswith("ValueError: expected an integer parameter")


def test_mergecubes_of_one_cube_is_a_named_error(bare):
    eng, _ = bare
    run = _run(eng, ("r", "oph_randcube", {"nrows": "2"}, []),
               ("m", "oph_mergecubes", {}, ["r"]))
    assert run.results["m"].error == "ValueError: mergecubes needs at least 2 cubes"
