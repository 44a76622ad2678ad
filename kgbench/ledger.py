"""The per-layer metric set printed by a traced run.

Every traced run prints every name below (a layer the workload never
calls reads 0), so runs of different workloads line up column by
column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import eventlog
from .trace import BOUNDARY, Tracer

CKPT_STAGES = ("pages", "sentences", "mentions", "aliases", "linked",
               "nodes", "triples", "triple_counts")
PREP_LAYERS = ("lines", "pii", "curate", "decontaminate", "sample",
               "shard")
DROPPING = ("curate", "decontaminate", "sample")


def _spec() -> dict[str, str]:
    spec = {
        "sources.pages.wall_s": "s",
        "sources.pages.rows_out": "count",
        "sources.pages.extract_ok_share": "ratio",
        "sources.sentences.wall_s": "s",
        "sources.sentences.rows_out": "count",
    }
    for m, u in (("wall_s", "s"), ("task_s", "s"), ("busy_share", "ratio"),
                 ("rows_in", "count"), ("rows_out", "count"),
                 ("backend_calls", "count"),
                 ("backend_attempts_per_call", "ratio")):
        spec[f"operators.infer.{m}"] = u
    for m, u in (("wall_s", "s"), ("task_s", "s"), ("shuffle_mb", "MB"),
                 ("vocab_rows", "count"), ("linked_share", "ratio")):
        spec[f"operators.linking.{m}"] = u
    for m, u in (("wall_s", "s"), ("task_s", "s"), ("shuffle_mb", "MB"),
                 ("rows_out", "count")):
        spec[f"operators.triples.{m}"] = u
    for layer in PREP_LAYERS:
        for m, u in (("wall_s", "s"), ("task_s", "s"), ("shuffle_mb", "MB"),
                     ("rows_in", "count"), ("rows_out", "count")):
            spec[f"operators.{layer}.{m}"] = u
        if layer in DROPPING:
            spec[f"operators.{layer}.kept_share"] = "ratio"
    spec["plans.queries.q_prep.wall_s"] = "s"
    spec["plans.queries.driver_s"] = "s"
    spec["plans.queries.jobs"] = "count"
    for stage in CKPT_STAGES:
        spec[f"plans.checkpoint.{stage}.write_s"] = "s"
        spec[f"plans.checkpoint.{stage}.written_mb"] = "MB"
    spec["plans.checkpoint.resume_rerun_stages"] = "count"
    spec["pass.driver_s"] = "s"
    spec["pass.jobs"] = "count"
    spec["jvm.gc_s"] = "s"
    spec["jvm.spill_mb"] = "MB"
    spec["trace.untraced_wall_s"] = "s"
    spec["trace.traced_wall_s"] = "s"
    spec["trace.overhead_s"] = "s"
    return spec


PER_LAYER = _spec()


def _first_df(args: tuple) -> DataFrame | None:
    return next((a for a in args if isinstance(a, DataFrame)), None)


def census(tracer: Tracer) -> dict[str, float]:
    """Row counts of the first call of each wrapped layer in the traced
    pass. Untimed; call it before the pass releases its frames."""
    from promptner_spark.operators.linking import norm_surface

    first = {}
    for c in tracer.captures:
        first.setdefault(c.func, c)
    m: dict[str, float] = {}

    def share(a: float, b: float) -> float:
        return a / b if b else 0.0

    with tracer.span("census"):
        if c := first.get("pages_with_extracted_text"):
            n = c.out.count()
            m["sources.pages.rows_out"] = n
            m["sources.pages.extract_ok_share"] = share(
                c.out.where(F.col("extract_ok")).count(), n)
        if c := first.get("split_sentences"):
            m["sources.sentences.rows_out"] = c.out.count()
        if c := first.get("extract_mentions"):
            m["operators.infer.rows_in"] = _first_df(c.args).count()
            m["operators.infer.rows_out"] = c.out.count()
        if c := first.get("link_mentions"):
            m["operators.linking.vocab_rows"] = _first_df(c.args).select(
                norm_surface(F.col("surface"))).distinct().count()
            m["operators.linking.linked_share"] = share(
                c.out.where(F.col("entity_id").isNotNull()).count(),
                c.out.count())
        if c := first.get("emit_triples"):
            m["operators.triples.rows_out"] = c.out.count()
        for func, layer in (("strip_common_lines", "lines"),
                            ("decontaminate", "decontaminate"),
                            ("mixture_sample", "sample"),
                            ("shard_pack", "shard")):
            if c := first.get(func):
                m[f"operators.{layer}.rows_in"] = _first_df(c.args).count()
                m[f"operators.{layer}.rows_out"] = c.out.count()
        if "operators.lines.rows_out" in m:
            # scrub_text is a column expression over the line-stripped
            # frame: map-only, so its rows are that frame's rows
            m["operators.pii.rows_in"] = m["operators.lines.rows_out"]
            m["operators.pii.rows_out"] = m["operators.lines.rows_out"]
        if c := first.get("curate_flags"):
            m["operators.curate.rows_in"] = _first_df(c.args).count()
            m["operators.curate.rows_out"] = c.out.where(
                F.col("is_kept")).count()
        for layer in DROPPING:
            if f"operators.{layer}.rows_in" in m:
                m[f"operators.{layer}.kept_share"] = share(
                    m[f"operators.{layer}.rows_out"],
                    m[f"operators.{layer}.rows_in"])
    return m


def per_layer(tracer: Tracer, root, jobs: list[eventlog.Job],
              cores: int, extra: dict[str, float]) -> tuple[dict, list]:
    """(metric → value for every PER_LAYER name, fused-group rows) of
    the traced pass rooted at span ``root``."""
    spans = tracer.subtree(root)
    ids = {s.id for s in spans}
    pass_jobs = [j for j in jobs if j.span in ids]
    attributed = eventlog.attribute(spans, pass_jobs)
    layers = eventlog.layer_table(spans, attributed)
    out = dict.fromkeys(PER_LAYER, 0.0)
    for name, row in layers.items():
        for m in ("wall_s", "task_s", "shuffle_mb"):
            if f"{name}.{m}" in out:
                out[f"{name}.{m}"] = row[m]
    infer = layers.get("operators.infer")
    if infer and infer["wall_s"]:
        out["operators.infer.busy_share"] = (
            infer["task_s"] / (infer["wall_s"] * cores))
    for s in spans:
        if s.kind == BOUNDARY and "stage" in s.info:
            out[f"plans.checkpoint.{s.info['stage']}.write_s"] += s.dur
    queries = [s for s in spans if s.name.startswith("plans.queries.")]
    for s in queries:
        key = f"{s.name}.wall_s"
        if key in out:
            out[key] += s.dur
        sub = {x.id for x in tracer.subtree(s)}
        qjobs = [j for j in pass_jobs if j.span in sub]
        out["plans.queries.driver_s"] += eventlog.driver_s(s, qjobs)
        out["plans.queries.jobs"] += len(qjobs)
    out["pass.driver_s"] = eventlog.driver_s(root, pass_jobs)
    out["pass.jobs"] = len(pass_jobs)
    out["jvm.spill_mb"] = sum(j.spill_mb for j in pass_jobs)
    out.update({k: v for k, v in extra.items() if k in out})
    return out, eventlog.group_table(attributed)
