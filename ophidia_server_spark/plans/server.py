"""Request facade: reference-style JSON workflows over the default operator
set, with tasks chained by cube PID.

This is the user-facing parity layer: the reference's clients submit a JSON
workflow whose tasks name operators (`oph_importcsv`, `oph_subset`,
`oph_reduce`, ...) and reference cubes by PID; each data operator emits the
PID of its output cube which dependents receive via their `cube` argument
(dependency `cube` propagation, oph_workflow_engine.c notify path). Here the
same contract runs on Spark: operators resolve PIDs through a CubeStore,
build lazy DataFrame plans, register results back, and return the new PID.

Argument conventions follow the reference XML descriptors: multivalue args are
`|`-separated strings, subsets are `dim1|dim2` + `filter1|filter2` pairs,
`operation` names the reduction kernel.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ophidia_server_spark.cube import DIM_COL, MEASURE_COL, Cube
from ophidia_server_spark.functions.lits import as_int, double_sql, string_sql
from ophidia_server_spark.operators import cube_ops as C
from ophidia_server_spark.operators import io_ops as IO
from ophidia_server_spark.plans.workflow import WorkflowEngine, WorkflowError
from ophidia_server_spark.store import CubeStore
from ophidia_server_spark.subset import quote_ident


# primitives whose result is not an array over the cube's implicit dim, or
# whose parameter is program text: oph_apply refuses them by name
_UNSERVED_PRIMITIVES = {
    "oph_predicate": "its condition is program text, not numeric parameters",
    "oph_math": "its function name is program text, not numeric parameters",
    "oph_find": "its condition is program text, not numeric parameters",
    "oph_gsl_sd": "it returns one scalar per row, not an array",
    "oph_percentile": "it returns one scalar per row, not an array",
}

_FILTER_CLAUSE = re.compile(
    r"\s*(?P<col>\w+)\s*(?P<op><>|!=|<=|>=|=|<|>)\s*"
    r"(?:'(?P<str>(?:[^'\\]|\\.)*)'|(?P<num>[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?))"
    r"\s*(?:(?P<more>AND)\b|\Z)", re.IGNORECASE | re.ASCII)


def _target_filter_sql(text: str, columns: list[str]) -> str:
    """A request's row filter as SQL text: `<column> <op> <literal>` clauses
    joined by AND, op one of = != <> < <= > >=, the column one of
    `columns`, the literal a quoted string or a number. Anything else is a
    ValueError: the text never reaches the SQL parser as it came."""
    clauses, pos = [], 0
    while True:
        m = _FILTER_CLAUSE.match(text, pos)
        if m is None or m["col"] not in columns:
            raise ValueError(
                f"target_filter {text!r} is not `<column> <op> <literal>` clauses "
                f"joined by AND over the columns {columns}")
        if m["str"] is not None:
            lit = string_sql(re.sub(r"\\(.)", r"\1", m["str"]))
        elif re.fullmatch(r"[-+]?\d+", m["num"]):
            lit = str(as_int(m["num"]))
        else:
            lit = double_sql(m["num"])
        clauses.append(f"{quote_ident(m['col'])} {m['op']} {lit}")
        pos = m.end()
        if not m["more"]:
            return " AND ".join(clauses)


def _input_arg(args: dict, inputs: dict, key: str) -> str:
    """The task's `key` argument (`cube` or `src_path`), else the first
    parent output that is a non-empty string: the reference propagates the
    parent task's output into the argument the task does not set (dep type
    `single`/`embedded`)."""
    value = args.get(key)
    if value:
        return str(value)
    for v in inputs.values():
        if isinstance(v, str) and v:
            return v
    raise ValueError(f"no {key} argument and no parent output to inherit")


def build_default_engine(spark: SparkSession, store: CubeStore) -> WorkflowEngine:
    """WorkflowEngine wired with the default datacube operator set.

    Every data operator is a closure over (spark, store): resolve input PIDs,
    build the Spark plan, register the output cube (lazily — no materialize
    unless the operator is an export), return the new PID as the task value.
    """

    def op_importcsv(engine, args: dict[str, Any], inputs):
        cube = IO.oph_importcsv(
            spark, args["src_path"],
            explicit_dims=str(args["explicit_dims"]).split("|"),
            implicit_dim=args["implicit_dim"],
            value=args["measure"],
            schema=args.get("schema"),
        )
        return store.register(cube, args["container"])

    def op_importparquet(engine, args, inputs):
        cube = IO.oph_importparquet(
            spark, args["src_path"],
            explicit_dims=str(args["explicit_dims"]).split("|"),
            implicit_dim=args["implicit_dim"],
            value=args["measure"],
        )
        return store.register(cube, args["container"], task="importparquet")

    def op_randcube(engine, args, inputs):
        from ophidia_server_spark.cube import randcube

        cube = randcube(spark, nrows=args["nrows"], array_len=args["nvalues"])
        return store.register(cube, args["container"], task="randcube")

    def op_subset(engine, args, inputs):
        pid = _input_arg(args, inputs, "cube")
        dims = str(args["subset_dims"]).split("|")
        filters = str(args["subset_filter"]).split("|")
        cube = store.get(pid)
        out = C.oph_subset(cube, dict(zip(dims, filters)),
                           subset_type=args["subset_type"], offset=args["offset"])
        return store.register(out, args["container"], parents=[pid], task="subset")

    def op_reduce(engine, args, inputs):
        pid = _input_arg(args, inputs, "cube")
        cube = store.get(pid)
        dims, kernel = C.reduce_exprs(cube, args["operation"])
        # reduce collapses the implicit dim; pack each row's scalar in place
        # as a length-1 array over implicit dim `__r` = [0], in the kernel's
        # own select, so the result stays a cube (the reference keeps reduced
        # cubes addressable). Exact with no re-aggregation: a cube holds one
        # row per explicit-dim key.
        packed = Cube(cube.df.selectExpr(*dims, f"array(0) AS {DIM_COL}",
                                         f"array({kernel}) AS {MEASURE_COL}"),
                      cube.explicit_dims, ("__r",), measure=cube.measure)
        return store.register(packed, args["container"], parents=[pid], task="reduce")

    def op_aggregate(engine, args, inputs):
        pid = _input_arg(args, inputs, "cube")
        cube = store.get(pid)
        out = C.oph_aggregate(
            cube, args["operation"],
            str(args["group_dims"]).split("|") if args.get("group_dims") else
            list(cube.explicit_dims)[1:],
        )
        return store.register(out, args["container"], parents=[pid], task="aggregate")

    def op_intercube(engine, args, inputs):
        pids = str(args["cubes"]).split("|") if args.get("cubes") else [
            v for v in inputs.values() if isinstance(v, str)
        ]
        if len(pids) != 2:
            raise ValueError("oph_intercube needs exactly 2 cubes")
        out = C.oph_intercube(store.get(pids[0]), store.get(pids[1]), args["operation"])
        return store.register(out, args["container"], parents=pids, task="intercube")

    def op_reduce2(engine, args, inputs):
        from ophidia_server_spark.functions.hierarchy import concept_level

        pid = _input_arg(args, inputs, "cube")
        cube = store.get(pid)
        out = C.oph_reduce2(cube, args["operation"], concept_level(args["concept_level"]))
        return store.register(out, args["container"], parents=[pid], task="reduce2")

    def op_aggregate2(engine, args, inputs):
        from ophidia_server_spark.functions.hierarchy import concept_level

        pid = _input_arg(args, inputs, "cube")
        out = C.oph_aggregate2(store.get(pid), args["operation"], args["dim"],
                               concept_level(args["concept_level"]))
        return store.register(out, args["container"], parents=[pid], task="aggregate2")

    def op_rollup(engine, args, inputs):
        pid = _input_arg(args, inputs, "cube")
        out = C.oph_rollup(store.get(pid), args["dim"])
        return store.register(out, args["container"], parents=[pid], task="rollup")

    def op_drilldown(engine, args, inputs):
        pid = _input_arg(args, inputs, "cube")
        # drilldown explodes to the long form; returned as a response value
        # (the reference renders it as a grid)
        from ophidia_server_spark.plans.response import grid

        return grid(C.oph_drilldown(store.get(pid)), title=f"drilldown {pid}",
                    limit=args["limit"])

    def op_permute(engine, args, inputs):
        pid = _input_arg(args, inputs, "cube")
        out = C.oph_permute(store.get(pid), str(args["dim_order"]).split("|"))
        return store.register(out, args["container"], parents=[pid], task="permute")

    def op_mergecubes(engine, args, inputs):
        pids = str(args["cubes"]).split("|") if args.get("cubes") else [
            v for v in inputs.values() if isinstance(v, str)
        ]
        out = C.oph_mergecubes_n([store.get(p) for p in pids])
        return store.register(out, args["container"], parents=pids, task="mergecubes")

    def op_apply(engine, args, inputs):
        from ophidia_server_spark.functions.primitives import PRIMITIVES

        pid = _input_arg(args, inputs, "cube")
        name = args["query"]
        if name in _UNSERVED_PRIMITIVES:
            raise ValueError(f"primitive {name!r} is not served by oph_apply: "
                             f"{_UNSERVED_PRIMITIVES[name]}")
        if name not in PRIMITIVES:
            raise KeyError(f"unknown primitive {name!r}; known: {sorted(PRIMITIVES)}")
        # primitive parameters come as |-separated floats, e.g. query=
        # oph_mul_scalar;parameters=2.0|1.0 (mirrors the reference's
        # primitive-call strings without embedding a SQL-ish parser); integer
        # parameters take integral floats (functions/lits.py as_int)
        params = [float(x) for x in str(args.get("parameters", "")).split("|") if x]
        prim_fn = PRIMITIVES[name](*params)
        out = C.oph_apply(store.get(pid), prim_fn)
        return store.register(out, args["container"], parents=[pid], task="apply")

    def op_duplicate(engine, args, inputs):
        return store.duplicate(_input_arg(args, inputs, "cube"))

    def op_delete(engine, args, inputs):
        store.delete(_input_arg(args, inputs, "cube"))
        return None

    def op_metadata(engine, args, inputs):
        pid = _input_arg(args, inputs, "cube")
        mode = args["mode"]
        if mode == "insert":
            store.metadata_put(pid, args["metadata_key"], args["metadata_value"])
            return pid
        if mode == "delete":
            store.metadata_delete(pid, args["metadata_key"])
            return pid
        return store.metadata_get(pid, args.get("metadata_key"))

    def op_cubeschema(engine, args, inputs):
        return store.cubeschema(_input_arg(args, inputs, "cube"))

    def op_explorecube(engine, args, inputs):
        return store.explorecube_response(_input_arg(args, inputs, "cube"), limit=args["limit"])

    def op_publish(engine, args, inputs):
        pid = _input_arg(args, inputs, "cube")
        out = IO.oph_publish(
            store.get(pid), args["publish_dir"], args.get("name", f"cube_{store.entries[pid].cube_id}"),
            limit=args["limit"],
        )
        return out

    def op_unpublish(engine, args, inputs):
        IO.oph_unpublish(args["publish_dir"], args["name"])
        return None

    def op_fs(engine, args, inputs):
        from ophidia_server_spark.plans.response import grid as _grid  # noqa: F401

        entries = IO.oph_fs(args["path"], file_filter=args.get("file"),
                            recursive=args["recursive"] == "yes")
        return {
            "objclass": "grid", "title": f"fs ls {args['path']}",
            "rowkeys": ["type", "name", "size"],
            "rowfieldtypes": ["string", "string", "bigint"],
            "rowvalues": [[e["type"], e["name"], e["size"]] for e in entries],
        }

    def op_exportcsv(engine, args, inputs):
        pid = _input_arg(args, inputs, "cube")
        IO.oph_exportcsv(store.get(pid), args["output_path"])
        return pid

    # -- LLM-pipeline operators: corpus jobs as workflow tasks ---------------
    def op_pipe_dedup(engine, args, inputs):
        from ophidia_server_spark.pipeline.dedup import dedup_exact
        from ophidia_server_spark.pipeline.packing import dedup_lines

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        level = args["level"]
        if level == "document":
            res = dedup_exact(
                spark.read.parquet(src), args["text_col"]
            )
        elif level == "line":
            res = dedup_lines(
                spark.read.parquet(src), args["text_col"],
                args["key_col"],
                scope=args["scope"],
            )
        else:
            raise ValueError(f"unknown dedup level: {level}")
        res.write.mode("overwrite").parquet(out)
        return out

    def op_pipe_quality_filter(engine, args, inputs):
        from ophidia_server_spark.pipeline.text import quality_score

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        docs = spark.read.parquet(src)
        scored = quality_score(docs, args["text_col"])
        kept = docs.join(
            scored.filter(F.col("quality") >= args["min_quality"]).select(
                "doc_id"
            ),
            "doc_id",
            "left_semi",
        )
        kept.write.mode("overwrite").parquet(out)
        return out

    def op_pipe_minhash(engine, args, inputs):
        from ophidia_server_spark.pipeline.dedup import minhash_lsh_pairs

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        minhash_lsh_pairs(
            spark.read.parquet(src), args["text_col"], jaccard_threshold=args["threshold"],
        ).write.mode("overwrite").parquet(out)
        return out

    def op_pipe_chunk(engine, args, inputs):
        from ophidia_server_spark.pipeline.text import chunk_documents

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        chunk_documents(
            spark.read.parquet(src), args["chunk_tokens"], args["overlap_tokens"],
            args["text_col"],
        ).write.mode("overwrite").parquet(out)
        return out

    def op_pipe_sample(engine, args, inputs):
        from ophidia_server_spark.pipeline.sampling import (
            fixed_k_sample, group_fixed_k_sample, hash_sample,
            stratified_sample, temperature_sample, train_val_test_split,
            weighted_sample,
        )

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        df = spark.read.parquet(src)
        mode = args["mode"]
        if mode == "bernoulli":
            res = hash_sample(df, args["frac"], args["key_col"], args.get("salt", ""))
        elif mode == "stratified":
            res = stratified_sample(
                df, dict(args["fracs"]), args["strata_col"], args["key_col"],
                args["default_frac"], args.get("salt", "mix"),
            )
        elif mode == "split":
            res = train_val_test_split(df, args["val_frac"], args["test_frac"],
                                       args["key_col"], args.get("salt", "split"))
        elif mode == "fixed_k":
            res = fixed_k_sample(df, args["k"], args["key_col"], args.get("salt", "resv"))
        elif mode == "group_fixed_k":
            res = group_fixed_k_sample(
                df, args["k"], args["strata_col"],
                args["key_col"], args.get("salt", "gresv"),
            )
        elif mode == "temperature":
            res = temperature_sample(
                df, args["total"], args["alpha"], args["strata_col"],
                args["key_col"], args.get("salt", "temp"),
            )
        elif mode == "weighted":
            res = weighted_sample(
                df, args["weight_col"], args["rate_scale"],
                args["key_col"], args.get("salt", "wsamp"),
            )
        else:
            raise ValueError(f"unknown sampling mode: {mode}")
        res.write.mode("overwrite").parquet(out)
        return out

    def op_pipe_vector_index(engine, args, inputs):
        # ANN serving stage: build the partition-pruned vector store, or
        # probe an existing one (query vector by row id) into a parquet stage
        from ophidia_server_spark.pipeline import vector_store as vstore

        action = args["action"]
        path = str(args["index_path"])
        if action == "build":
            src = _input_arg(args, inputs, "src_path")
            df = spark.read.parquet(src)
            kind = args["kind"]
            if kind == "ivf":
                vstore.ivf_build(df, path, n_cells=args["n_cells"],
                                 id_col=args["key_col"], vec_col=args["vec_col"])
            elif kind == "lsh":
                vstore.lsh_build(df, path, bits=args["bits"],
                                 id_col=args["key_col"], vec_col=args["vec_col"])
            else:
                raise ValueError(f"unknown index kind: {kind}")
            return path
        if action == "probe":
            out = str(args["output_path"])
            idx = vstore.load_index(path)
            qsrc = args.get("query_path") or _input_arg(args, inputs, "src_path")
            qid = args["query_id"]
            qrow = (
                spark.read.parquet(qsrc)
                .filter(F.col(idx.id_col) == qid)
                .select(idx.vec_col)
                .first()
            )
            if qrow is None:
                raise ValueError(f"query id {qid} not found in {qsrc}")
            qvec = [float(x) for x in qrow[0]]
            probe = vstore.ivf_probe if idx.kind == "ivf" else vstore.lsh_probe
            res = probe(spark, idx, qvec, k=args["k"])
            res.write.mode("overwrite").parquet(out)
            return out
        raise ValueError(f"unknown vector-index action: {action}")

    def op_pipe_features(engine, args, inputs):
        # feature-engineering stage: clip / standardize / scale / encode /
        # rolling windows over a tabular stage
        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        df = spark.read.parquet(src)
        mode = args["mode"]
        vcol = args["value_col"]
        gcol = args["group_col"]
        if mode == "standardize":
            from ophidia_server_spark.pipeline.features import (
                standardize_by_group,
            )

            res = standardize_by_group(df, vcol, gcol)
        elif mode == "minmax":
            from ophidia_server_spark.pipeline.features import minmax_by_group

            res = minmax_by_group(df, vcol, gcol)
        elif mode == "index":
            from ophidia_server_spark.pipeline.features import string_index

            res, vocab = string_index(df, args.get("col", gcol))
            vocab.write.mode("overwrite").parquet(out.rstrip("/") + "_vocab")
        elif mode == "winsorize":
            from ophidia_server_spark.functions.sketches import (
                winsorize_by_group,
            )

            res = winsorize_by_group(df, vcol, gcol, args["lower_q"], args["upper_q"])
        elif mode == "rolling":
            from ophidia_server_spark.streaming.windows import (
                rolling_user_window,
            )

            res = rolling_user_window(df, args["days"], args["ts_col"], args["key_col"], vcol)
        else:
            raise ValueError(f"unknown features mode: {mode}")
        res.write.mode("overwrite").parquet(out)
        return out

    def op_pipe_triplets(engine, args, inputs):
        # contrastive training pairs: LSH near-dup positives + content-
        # addressed random negatives (optionally hard negatives from a
        # lower-similarity band)
        from ophidia_server_spark.pipeline.contrastive import (
            contrastive_triplets, contrastive_triplets_hard,
        )
        from ophidia_server_spark.pipeline.dedup import ngram_jaccard_pairs

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        df = spark.read.parquet(src)
        thr = args["threshold"]
        pairs = ngram_jaccard_pairs(df, args["text_col"], threshold=thr)
        hard_lo = args["hard_band_min"]
        if hard_lo > 0:
            hard = ngram_jaccard_pairs(
                df, args["text_col"], threshold=hard_lo
            ).filter(F.col("jaccard") < thr).selectExpr(
                "doc_a AS id_a", "doc_b AS id_b", "jaccard"
            )
            res = contrastive_triplets_hard(
                df, pairs.selectExpr("doc_a AS id_a", "doc_b AS id_b", "jaccard"),
                hard, args["key_col"], args["n_buckets"],
            )
        else:
            res = contrastive_triplets(
                df, pairs.selectExpr("doc_a AS id_a", "doc_b AS id_b", "jaccard"),
                args["key_col"], args["n_buckets"],
            )
        res.write.mode("overwrite").parquet(out)
        return out

    def op_pipe_classify(engine, args, inputs):
        # quality-classifier bootstrap: train logreg on a labeled stage,
        # score a corpus stage, write (id, prob, keep)
        from pyspark.storagelevel import StorageLevel

        from ophidia_server_spark.pipeline import classifier as clf
        from ophidia_server_spark.pipeline.dsir import hashed_gram_counts

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        m = args["m"]
        labeled = spark.read.parquet(src)
        text_col = args["text_col"]
        id_col = args["key_col"]
        feats = hashed_gram_counts(labeled, m, text_col, id_col)
        if args["features"] == "presence":
            feats = feats.select(
                id_col, "bucket", F.lit(1.0).alias("c")
            ).distinct()
        else:
            feats = clf.tf_normalize(feats, id_col)
        feats = feats.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            res = clf.logreg_train(
                feats,
                labeled.select(id_col, args["label_col"]),
                m=m,
                iters=args["iters"],
                lr=args["lr"],
                id_col=id_col,
                label_col=args["label_col"],
            )
            scored = clf.logreg_predict(
                feats, labeled.select(id_col), res.weights, res.bias,
                id_col=id_col,
                threshold=args["threshold"],
            )
            scored.write.mode("overwrite").parquet(out)
        finally:
            feats.unpersist()
        return out

    def op_pipe_snapshot(engine, args, inputs):
        # versioned-table stage: write / upsert / optimize / vacuum against
        # a snapshot store (layout.py manifest-swap commits)
        from ophidia_server_spark import layout as lay

        path = str(args["table_path"])
        action = args["action"]
        if action == "write":
            src = _input_arg(args, inputs, "src_path")
            v = lay.snapshot_write(spark.read.parquet(src), path)
            return f"{path}@v{v}"
        if action == "upsert":
            src = _input_arg(args, inputs, "src_path")
            keys = args["key_cols"]
            if isinstance(keys, str):
                keys = [k for k in keys.split("|") if k]
            res = lay.snapshot_upsert(
                spark, path, spark.read.parquet(src), list(keys)
            )
            return f"{path}@v{res['version']}"
        if action == "optimize":
            cols = args.get("columns")
            if isinstance(cols, str):
                cols = [c for c in cols.split("|") if c]
            res = lay.snapshot_optimize(
                spark, path, zorder_cols=list(cols) if cols else None,
                target_mb=args["target_mb"],
            )
            return f"{path}@v{res['version']}"
        if action == "vacuum":
            lay.vacuum(path, keep_last=args["keep_last"])
            return path
        raise ValueError(f"unknown snapshot action: {action}")

    def op_pipe_select(engine, args, inputs):
        # DSIR target-domain selection: keep the k most target-like docs
        from ophidia_server_spark.pipeline.dsir import dsir_select

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        df = spark.read.parquet(src)
        res = dsir_select(
            df,
            args["k"],
            F.expr(_target_filter_sql(str(args["target_filter"]), df.columns)),
            m=args["m"],
            alpha=args["alpha"],
            gumbel_scale=args["gumbel_scale"],
            text_col=args["text_col"],
            id_col=args["key_col"],
        )
        res.write.mode("overwrite").parquet(out)
        return out

    def op_pipe_interleave(engine, args, inputs):
        # round-robin training order across sources/languages/clusters
        from ophidia_server_spark.pipeline.sampling import interleave_groups

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        df = spark.read.parquet(src)
        res = interleave_groups(df, args["strata_col"], args["key_col"], args["salt"])
        res.write.mode("overwrite").parquet(out)
        return out

    def op_pipe_drift(engine, args, inputs):
        # PSI drift check between a reference stage and a new batch; abort
        # the workflow when psi exceeds the threshold (the audit-gate shape)
        from ophidia_server_spark.pipeline.audit import drift_report

        ref = spark.read.parquet(str(args["ref_path"]))
        new = spark.read.parquet(_input_arg(args, inputs, "src_path"))
        out = str(args["output_path"])
        rep = drift_report(ref, new, args["value_col"], args["n_buckets"])
        rep.write.mode("overwrite").parquet(out)
        psi = rep.select("psi").first()["psi"]
        limit = args["max_psi"]
        if limit and psi > limit:
            raise ValueError(
                f"drift gate failed: psi {psi} exceeds max_psi {limit}"
            )
        return out

    def op_pipe_contamination(engine, args, inputs):
        from ophidia_server_spark.pipeline.dedup import shingle_sets
        from ophidia_server_spark.pipeline.text import contamination_flags

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        docs = spark.read.parquet(src)
        probe_src = spark.read.parquet(str(args["probe_path"]))
        probe = shingle_sets(probe_src, args["text_col"]).select(
            F.explode("shingles").alias("s")
        )
        flags = contamination_flags(docs, probe, args["text_col"])
        kept = docs.join(
            flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi"
        )
        kept.write.mode("overwrite").parquet(out)
        return out

    def op_pipe_redact_pii(engine, args, inputs):
        # privacy scrub stage: replace PII spans with typed placeholders and
        # write the redacted corpus (text column swapped in place)
        from ophidia_server_spark.pipeline.text import redact_pii

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        tc = args["text_col"]
        docs = spark.read.parquet(src)
        red = redact_pii(docs, tc).drop(tc).withColumnRenamed(f"{tc}_redacted", tc)
        red.select(*docs.columns).write.mode("overwrite").parquet(out)
        return out

    def op_pipe_pack(engine, args, inputs):
        from ophidia_server_spark.pipeline.packing import pack_sequences

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        pack_sequences(
            spark.read.parquet(src), seq_len=args["seq_len"], n_buckets=args["n_buckets"],
            text_col=args["text_col"],
        ).write.mode("overwrite").parquet(out)
        return out

    def op_pipe_shuffle(engine, args, inputs):
        from ophidia_server_spark.pipeline.packing import global_shuffle

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        global_shuffle(
            spark.read.parquet(src), n_shards=args["n_shards"], salt=args["salt"],
        ).write.mode("overwrite").parquet(out)
        return out

    def op_pipe_quality_model(engine, args, inputs):
        # logistic quality gate: score + filter at keep_threshold, writing
        # the surviving corpus rows (score columns ride along for audit)
        from ophidia_server_spark.pipeline.packing import quality_logistic

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        docs = spark.read.parquet(src)
        scored = quality_logistic(docs, keep_threshold=args["keep_threshold"],
                                  text_col=args["text_col"])
        kept = docs.join(
            scored.filter(F.col("keep") == 1).select("doc_id"), "doc_id", "left_semi"
        )
        kept.write.mode("overwrite").parquet(out)
        return out

    def op_pipe_semantic_dedup(engine, args, inputs):
        from ophidia_server_spark.pipeline.similarity import semantic_dedup

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        semantic_dedup(
            spark.read.parquet(src), n_clusters=args["n_clusters"], threshold=args["threshold"],
            id_col=args["id_col"], vec_col=args["vec_col"],
        ).write.mode("overwrite").parquet(out)
        return out

    def op_pipe_repack(engine, args, inputs):
        # loader-handoff sharding: rewrite the stage's parquet near a
        # target file size (io_ops.repack_parquet)
        from ophidia_server_spark.operators.io_ops import repack_parquet

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        repack_parquet(spark.read.parquet(src), out, target_mb=args["target_mb"])
        return out

    def op_pipe_sketch(engine, args, inputs):
        # mergeable-summary stage: write a sketch table (HLL registers /
        # count-min counters / DDSketch buckets) for a column — downstream
        # jobs combine per-stage sketches instead of re-scanning the corpus
        from ophidia_server_spark.functions import sketches as sk

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        df = spark.read.parquet(src)
        kind = args["kind"]
        col = str(args["column"])
        if kind == "hll":
            res = sk.hll_registers(df, col, p=args["p"])
        elif kind == "cms":
            res = sk.cms_sketch(df, col, d=args["d"], w=args["w"])
        elif kind == "dds":
            res = sk.dds_sketch(df, col, alpha=args["alpha"])
        elif kind == "bloom":
            res = sk.bloom_bits(df, col, m_bits=args["m_bits"], k=args["k"])
        elif kind == "hll_rolling":
            # the WAU/MAU dashboard table: trailing-N-day distinct estimates
            res = sk.hll_rolling_distinct(df, col, args["ts_col"], days=args["days"], p=args["p"])
        else:
            raise ValueError(f"unknown sketch kind: {kind}")
        res.write.mode("overwrite").parquet(out)
        return out

    def op_pipe_dedup_index(engine, args, inputs):
        # ingest-side artifact: materialize the corpus's banded MinHash
        # signatures once (mode=build); mode=append grows an existing index
        # with ONLY the new batch's rows — the historical corpus is never
        # re-shingled, so a daily crawl chains novelty-gate -> append
        from ophidia_server_spark.pipeline.dedup import (
            minhash_index_append, minhash_index_build)

        src = _input_arg(args, inputs, "src_path")
        fn = minhash_index_append if args["mode"] == "append" else minhash_index_build
        return fn(spark.read.parquet(src), str(args["output_path"]), args["text_col"])

    def op_pipe_novelty(engine, args, inputs):
        # continuous-ingest novelty gate: verdicts for a new batch against
        # the materialized index; keep=novel writes only the genuinely new
        # docs (the filter stage a daily crawl chains before append)
        from ophidia_server_spark.pipeline.dedup import dedup_incremental

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        batch = spark.read.parquet(src)
        verdicts = dedup_incremental(batch, str(args["index_path"]), args["text_col"],
                                     jaccard_threshold=args["threshold"])
        if args["keep"] == "novel":
            res = batch.join(
                verdicts.filter(F.col("is_novel") == 1).select("doc_id"),
                "doc_id", "left_semi",
            )
        else:
            res = verdicts
        res.write.mode("overwrite").parquet(out)
        return out

    def op_pipe_export(engine, args, inputs):
        # loader-handoff stage: re-encode a parquet stage into the format
        # the downstream trainer consumes (executor-sharded sinks)
        from ophidia_server_spark.operators import io_ops

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        fmt = args["format"]
        df = spark.read.parquet(src)
        shards = args["shards"]
        if fmt == "tfrecord":
            io_ops.oph_exporttfrecord(df, out, shards=shards)
        elif fmt == "webdataset":
            io_ops.oph_exportwebdataset(df, out, args["key_col"], shards=shards)
        elif fmt == "avro":
            io_ops.oph_exportavro(df, out, shards=shards, codec=args["codec"])
        else:
            raise ValueError(f"unknown export format: {fmt}")
        return out

    def op_pipe_zorder(engine, args, inputs):
        # layout-optimization stage: rewrite the stage's parquet clustered
        # on the Z-order of the named columns, then persist the min/max
        # file manifest next to it for pruned reads
        from ophidia_server_spark import layout as lay

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        cols = args["columns"]
        if isinstance(cols, str):
            cols = [c for c in cols.split("|") if c]
        lay.zorder_write(spark.read.parquet(src), out, list(cols),
                         files=args["files"], bits=args["bits"])
        lay.build_file_index(spark, out, list(cols)).write.mode(
            "overwrite"
        ).parquet(out.rstrip("/") + "_index")
        return out

    def op_pipe_kmeans(engine, args, inputs):
        # full-corpus clustering stage: Lloyd's k-means, assignments written
        # for downstream per-cluster sampling / SemDeDup-style pruning
        from ophidia_server_spark.pipeline import clustering as cl

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        res = cl.kmeans_lloyd(spark.read.parquet(src), k=args["k"], iters=args["iters"],
                              vec_col=args["vec_col"], id_col=args["id_col"])
        res.assignments.write.mode("overwrite").parquet(out)
        return out

    def op_pipe_tokenize(engine, args, inputs):
        # real BPE as a pipeline stage: train merges on the source corpus
        # (or reuse a prior stage's merge table) and write the token table
        import json as _json

        from ophidia_server_spark.pipeline import bpe

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        docs = spark.read.parquet(src)
        if args.get("merges_path"):
            with open(str(args["merges_path"])) as fh:
                merges = [tuple(m) for m in _json.load(fh)]
        else:
            merges = bpe.bpe_train(docs, args["text_col"], num_merges=args["num_merges"])
        if args.get("save_merges_path"):
            with open(str(args["save_merges_path"]), "w") as fh:
                _json.dump([list(m) for m in merges], fh)
        bpe.bpe_apply(docs, merges, args["text_col"]).write.mode("overwrite").parquet(out)
        return out

    def op_pipe_audit(engine, args, inputs):
        # data-quality gate: run declared contract rules, write the audit
        # table, and FAIL the task if any rule fails (the contract check a
        # pipeline chains between stages)
        from ophidia_server_spark.pipeline.audit import corpus_audit

        src = _input_arg(args, inputs, "src_path")
        out = str(args["output_path"])
        rules = [(r["name"], r["kind"], r) for r in args["rules"]]
        report = corpus_audit(spark.read.parquet(src), rules,
                              max_violation_frac=args["max_violation_frac"])
        report.write.mode("overwrite").parquet(out)
        failed = [r.rule for r in report.collect() if not r.passed]
        if failed and args["on_fail"] == "abort":
            raise ValueError(f"audit rules failed: {', '.join(failed)}")
        return out

    def op_importarrow(engine, args, inputs):
        cube = IO.oph_importarrow(
            spark, str(args["src_path"]),
            [d for d in str(args.get("explicit_dims", "")).split("|") if d],
            args["implicit_dim"], args["measure"],
            measure=args.get("measure"),
        )
        return store.register(cube, args["container"], task="importarrow")

    def op_exportarrow(engine, args, inputs):
        pid = _input_arg(args, inputs, "cube")
        return IO.oph_exportarrow(store.get(pid), str(args["output_path"]), shards=args["shards"])

    def op_importnc(engine, args, inputs):
        # src_path may come directly or from file-massive expansion (which
        # also supplies measure under convention=cmip5); subset_dims/
        # subset_filter apply the import-time hyperslab
        paths = str(args["src_path"]).split("|")
        subset = None
        if args.get("subset_dims"):
            dims = str(args["subset_dims"]).split("|")
            filts = str(args.get("subset_filter", "")).split("|")
            subset = dict(zip(dims, filts))
        cube = IO.oph_importnc(
            spark, paths, args["measure"],
            explicit_dims=[d for d in str(args.get("explicit_dims", "")).split("|") if d],
            implicit_dim=args["implicit_dim"],
            subset=subset,
            subset_type=args["subset_type"],
        )
        return store.register(cube, args["container"], task="importnc")

    def op_exportnc(engine, args, inputs):
        pid = _input_arg(args, inputs, "cube")
        return IO.oph_exportnc(
            store.get(pid), str(args["output_path"]),
            per_dim_files=args["per_dim_files"] == "yes",
            nc_format=args["nc_format"],
            compress=args.get("compress"),
        )

    def op_explorenc(engine, args, inputs):
        return IO.oph_explorenc(spark, str(args["src_path"]), args.get("measure"))

    def op_importzarr(engine, args, inputs):
        subset = None
        if args.get("subset_dims"):
            dims = str(args["subset_dims"]).split("|")
            filts = str(args.get("subset_filter", "")).split("|")
            subset = dict(zip(dims, filts))
        cube = IO.oph_importzarr(
            spark, str(args["src_path"]), args["measure"],
            explicit_dims=[d for d in str(args.get("explicit_dims", "")).split("|") if d],
            implicit_dim=args["implicit_dim"],
            subset=subset,
            subset_type=args["subset_type"],
        )
        return store.register(cube, args["container"], task="importzarr")

    def op_exportzarr(engine, args, inputs):
        pid = _input_arg(args, inputs, "cube")
        return IO.oph_exportzarr(
            store.get(pid), str(args["output_path"]),
            compress=args.get("compress"),
            per_dim_chunks=args["per_dim_chunks"] == "yes",
        )

    def resolve_pid(cid: str) -> str:
        """Expanded cube id -> its PID, one lookup; an explicit PID the store
        does not hold is a named workflow error."""
        pid = store.by_id.get(int(cid)) if cid.isdigit() else None
        if pid is None:
            raise WorkflowError(f"massive selection names unknown cube {cid}")
        return pid

    return WorkflowEngine(
        {
            "oph_importcsv": op_importcsv,
            "oph_importnc": op_importnc,
            "oph_exportnc": op_exportnc,
            "oph_explorenc": op_explorenc,
            "oph_importzarr": op_importzarr,
            "oph_exportzarr": op_exportzarr,
            "oph_importparquet": op_importparquet,
            "oph_importarrow": op_importarrow,
            "oph_exportarrow": op_exportarrow,
            "oph_randcube": op_randcube,
            "oph_subset": op_subset,
            "oph_reduce": op_reduce,
            "oph_reduce2": op_reduce2,
            "oph_aggregate": op_aggregate,
            "oph_aggregate2": op_aggregate2,
            "oph_intercube": op_intercube,
            "oph_rollup": op_rollup,
            "oph_drilldown": op_drilldown,
            "oph_permute": op_permute,
            "oph_mergecubes": op_mergecubes,
            "oph_apply": op_apply,
            "oph_duplicate": op_duplicate,
            "oph_delete": op_delete,
            "oph_metadata": op_metadata,
            "oph_cubeschema": op_cubeschema,
            "oph_explorecube": op_explorecube,
            "oph_exportcsv": op_exportcsv,
            "oph_publish": op_publish,
            "oph_unpublish": op_unpublish,
            "oph_fs": op_fs,
            "pipeline_dedup_exact": op_pipe_dedup,
            "pipeline_quality_filter": op_pipe_quality_filter,
            "pipeline_redact_pii": op_pipe_redact_pii,
            "pipeline_minhash_pairs": op_pipe_minhash,
            "pipeline_chunk": op_pipe_chunk,
            "pipeline_decontaminate": op_pipe_contamination,
            "pipeline_sample": op_pipe_sample,
            "pipeline_pack": op_pipe_pack,
            "pipeline_shuffle": op_pipe_shuffle,
            "pipeline_quality_model": op_pipe_quality_model,
            "pipeline_semantic_dedup": op_pipe_semantic_dedup,
            "pipeline_audit": op_pipe_audit,
            "pipeline_sketch": op_pipe_sketch,
            "pipeline_repack": op_pipe_repack,
            "pipeline_dedup_index": op_pipe_dedup_index,
            "pipeline_novelty": op_pipe_novelty,
            "pipeline_tokenize": op_pipe_tokenize,
            "pipeline_export": op_pipe_export,
            "pipeline_zorder": op_pipe_zorder,
            "pipeline_kmeans": op_pipe_kmeans,
            "pipeline_select": op_pipe_select,
            "pipeline_interleave": op_pipe_interleave,
            "pipeline_drift": op_pipe_drift,
            "pipeline_snapshot": op_pipe_snapshot,
            "pipeline_classify": op_pipe_classify,
            "pipeline_triplets": op_pipe_triplets,
            "pipeline_features": op_pipe_features,
            "pipeline_vector_index": op_pipe_vector_index,
        },
        catalog=store.as_catalog,  # callable: re-snapshot per massive expansion
        pid_resolver=resolve_pid,
    )
