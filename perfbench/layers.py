"""Per-layer metrics of a traced run, from its spans and Spark job census.

Each operation (HTTP request or pass) yields values for the layers it went
through. A reported metric is the mean over the operations that went
through that layer, so the request mix does not dilute it; a layer the
workload never reaches reports 0. `spark.untagged_jobs` is a count over
the whole window, and `setup.*`/`session.*` are once per run. `trace.*`
are the traced run's own summary (end-to-end metrics and wall time):
subtract the untraced run's to get the tracing overhead.
"""

from __future__ import annotations

import statistics

from census import census_by_group
from spans import union_seconds

CUBE_OPS = ("op.oph_subset", "op.oph_apply", "op.oph_reduce")
PIPELINE_STAGES = {
    "op.pipeline_quality_filter": "quality_filter",
    "op.pipeline_dedup_exact": "dedup_exact",
    "op.pipeline_minhash_pairs": "minhash_pairs",
    "op.pipeline_chunk": "chunk",
}


def _request_layers(b, rid: str, spans, op) -> dict[str, float]:
    """httpd/workflow/store/filters/cube_ops/response values of one served
    workflow, from the spans the proxy engine recorded under its jobid."""
    out: dict[str, float] = {}
    runs = [s for s in spans if s.name == "engine.run"]
    if not runs:
        return out
    run = runs[0]
    calls = [s for s in spans if s.name.startswith("op.")]
    total = lambda name: sum(s.dur for s in spans if s.name == name)  # noqa: E731
    out["workflow.run_s"] = run.dur
    out["workflow.self_s"] = run.dur - union_seconds((s.start, s.end) for s in calls)
    out["workflow.tasks"] = len(calls)
    if op.kind:  # a client-timed request: the rest of its wall is httpd's
        out["httpd.overhead_s"] = op.wall_s - run.dur
    entries, lineage = b.request_starts.get(rid, (0, 0))
    out["store.entries"], out["store.lineage_rows"] = entries, lineage
    if any(s.name == "filters.compile_massive" for s in spans):
        matched = sum(s.name == "workflow.pid_resolver" for s in spans)
        out["store.as_catalog_s"] = total("store.as_catalog")
        out["filters.compile_massive_s"] = total("filters.compile_massive")
        out["workflow.pid_resolve_s"] = total("workflow.pid_resolver")
        out["filters.matched"] = matched
        out["filters.match_ratio"] = matched / max(1, entries)
    if any(s.name in CUBE_OPS for s in calls):
        out["cube_ops.plan_s"] = sum(s.dur for s in calls if s.name in CUBE_OPS)
    if any(s.name == "op.oph_explorecube" for s in calls):
        out["response.explore_s"] = total("op.oph_explorecube")
    for name, stage in PIPELINE_STAGES.items():
        if any(s.name == name for s in calls):
            out[f"pipeline.stage_s.{stage}"] = total(name)
    return out


def per_layer(b, ops, summ: dict[str, float], names) -> dict[str, float]:
    """Every metric in `names`, from the run's ops, spans and census."""
    groups = [g for op in ops for g in op.groups]
    census, untagged = census_by_group(b.sc, groups, since_job_id=b.window_job)
    by_request = b.tracer.by_request()
    samples: dict[str, list[float]] = {}
    for op in ops:
        values = dict(op.layer)
        http_ids = [g[len("http-job-"):] for g in op.groups if g.startswith("http-job-")]
        for rid in http_ids:
            values.update(_request_layers(b, rid, by_request.get(rid, []), op))
        c = {}
        for g in op.groups:
            for k, v in census[g].as_dict().items():
                c[k] = c.get(k, 0) + v
        for k, v in c.items():
            values[f"spark.{k}"] = v
        values["spark.driver_s"] = op.wall_s - c.get("job_busy_s", 0.0)
        for suffix, (metric, iters) in b.iters.items():
            for g in op.groups:
                if g.endswith(suffix):
                    values[metric] = census[g].jobs / iters
        for k, v in values.items():
            samples.setdefault(k, []).append(float(v))
    out = {name: 0.0 for name in names}
    for k, vs in samples.items():
        if k in out:
            out[k] = statistics.fmean(vs)
    out["spark.untagged_jobs"] = float(untagged)
    for k, v in b.setup.items():
        if k in out:
            out[k] = v
    for k, v in summ.items():
        out[f"trace.{k}"] = v
    return out
