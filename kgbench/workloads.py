"""The benchmark's workloads. Each calls only public functions of
``promptner_spark``.

A workload runs *passes*. ``run`` is the timed part of one pass;
``finish`` is its untimed tail (output check, optional census, release)
and returns the reasons the pass's output is wrong, if any.
``warmup`` is the one pass of set-up and ``check_warmup`` its check,
made outside the set-up time; ``final_checks`` are the untimed checks
made once after the timed window.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

from pyspark.sql import functions as F

from .checks import oracle_mismatch
from .ledger import CKPT_STAGES
from .trace import BOUNDARY, STEP, Tracer

# Stages whose row counts the CLI summary reports (python -m
# promptner_spark prints these).
CLI_STAGES = ["pages", "sentences", "mentions", "nodes", "triples",
              "triple_counts"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    n_docs = 0          # generated documents
    replicate = 1       # corpus replication inside the program

    def __init__(self, spark, sf_dir: str, work_dir: str):
        self.spark, self.sf_dir, self.work_dir = spark, sf_dir, work_dir
        self.tracer: Tracer | None = None

    @property
    def docs_per_pass(self) -> int:
        return self.n_docs * self.replicate

    def step(self, name: str):
        return (self.tracer.span(name, STEP) if self.tracer is not None
                else nullcontext())

    def warmup(self):
        return self.run()

    def check_warmup(self, handle) -> list[str]:
        return self.finish(handle)

    def run(self):
        raise NotImplementedError

    def finish(self, handle, census=None) -> list[str]:
        if census is not None:
            census(handle)
        return []

    def final_checks(self) -> list[str]:
        return []

    def install(self, tracer: Tracer) -> None:
        """Wrap the layers this workload reaches."""
        self.tracer = tracer
        t = tracer
        t.wrap("promptner_spark.sources.pages", "pages_with_extracted_text",
               "sources.pages")
        t.wrap("promptner_spark.sources.sentences", "split_sentences",
               "sources.sentences")
        t.wrap("promptner_spark.operators.infer", "extract_mentions",
               "operators.infer", before=self._count_backend)
        t.wrap("promptner_spark.operators.linking", "link_mentions",
               "operators.linking")
        for f in ("canonicalize", "nodes_table", "emit_triples",
                  "triple_counts"):
            t.wrap("promptner_spark.operators.triples", f,
                   "operators.triples")
        for mod, f in (("lines", "strip_common_lines"),
                       ("pii", "scrub_text"), ("curate", "curate_flags"),
                       ("decontaminate", "decontaminate"),
                       ("sample", "mixture_sample"), ("shard", "shard_pack")):
            t.wrap(f"promptner_spark.operators.{mod}", f, f"operators.{mod}")
        t.wrap("promptner_spark.plans.checkpoint", "write_stage",
               "plans.checkpoint", kind=BOUNDARY,
               info=lambda a, k: {"stage": a[2] if len(a) > 2
                                  else k.get("stage")})
        for mod, f in (("plans.pipeline", "build_pipeline"),
                       ("plans.pipeline", "run_pipeline"),
                       ("plans.checkpoint", "stage_row_counts"),
                       ("operators.prep", "prepare_training_data")):
            t.wrap(f"promptner_spark.{mod}", f, f"{mod}.{f}", kind=STEP)
        sc = self.spark.sparkContext
        self.backend_calls = sc.accumulator(0)
        self.backend_attempts = sc.accumulator(0)

    def _count_backend(self, args, kwargs):
        from promptner_spark.operators.model import default_backend_factory

        from .counting import counting_factory

        args, kwargs = list(args), dict(kwargs)
        if len(args) > 2:
            args[2] = counting_factory(args[2] or default_backend_factory,
                                       self.backend_calls,
                                       self.backend_attempts)
        else:
            kwargs["backend_factory"] = counting_factory(
                kwargs.get("backend_factory") or default_backend_factory,
                self.backend_calls, self.backend_attempts)
        return tuple(args), kwargs

    def backend_metrics(self) -> dict[str, float]:
        calls = self.backend_calls.value
        return {"operators.infer.backend_calls": calls,
                "operators.infer.backend_attempts_per_call":
                    self.backend_attempts.value / calls if calls else 0.0}


class KgFlagship(Workload):
    """build_pipeline with the xxhash64 band family over the replicated,
    vocabulary-scaled corpus; triples sunk to noop."""

    name = "kg_flagship"
    n_docs = 1000
    replicate = 4

    def __init__(self, *a):
        super().__init__(*a)
        self.digest = None

    def run(self):
        from promptner_spark.plans.pipeline import build_pipeline

        res = build_pipeline(self.spark, self.sf_dir,
                             replicate=self.replicate,
                             vocab_scale=self.replicate)
        with self.step("sink"):
            _noop(res.triples)
        return res

    def finish(self, res, census=None) -> list[str]:
        try:
            cols = [F.col(c) for c in res.triple_counts.columns]
            row = res.triple_counts.select(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
            ).first()
            digest = (row["n"], str(row["h"]))
            if census is not None:
                census(res)
        finally:
            res.unpersist()
        if digest[0] == 0:
            return ["no triples"]
        if self.digest is None:
            self.digest = digest
        return [] if digest == self.digest else [
            f"triple_counts digest {digest} != first pass {self.digest}"]

    def final_checks(self) -> list[str]:
        from promptner_spark.plans.queries import ORACLE_SQL, QUERIES

        got = QUERIES["q_pipeline_triples"](self.spark, self.sf_dir).toPandas()
        bad = oracle_mismatch(got, ORACLE_SQL["q_pipeline_triples"],
                              self.sf_dir)
        return [] if bad is None else [f"q_pipeline_triples: {bad}"]


class PrepFunnel(Workload):
    """The registry's q_prep: prepare_training_data over the documents
    as q_prep composes it, manifest sunk to noop."""

    name = "prep_funnel"
    n_docs = 1000

    def _frame(self):
        from promptner_spark.plans.queries import QUERIES

        with self.step("plans.queries.q_prep"):
            return QUERIES["q_prep"](self.spark, self.sf_dir)

    def run(self):
        df = self._frame()
        with self.step("sink"):
            _noop(df)

    def warmup(self):
        return self._frame().toPandas()

    def check_warmup(self, got) -> list[str]:
        from promptner_spark.plans.queries import ORACLE_SQL

        bad = oracle_mismatch(got, ORACLE_SQL["q_prep"], self.sf_dir)
        return [] if bad is None else [f"q_prep: {bad}"]


class KgResume(Workload):
    """The CLI path: run_pipeline + stage_row_counts into a fresh
    checkpoint root, then a resume call on the completed root."""

    name = "kg_resume"
    n_docs = 500

    def __init__(self, *a):
        super().__init__(*a)
        self.n_roots = 0

    def _markers(self, root: str) -> dict[str, int]:
        out = {}
        for stage in CKPT_STAGES:
            p = os.path.join(root, stage, "_SUCCESS_STAGE")
            out[stage] = os.stat(p).st_mtime_ns if os.path.exists(p) else -1
        return out

    def run(self):
        from promptner_spark.plans.checkpoint import stage_row_counts
        from promptner_spark.plans.pipeline import run_pipeline
        from promptner_spark.sources.pages import pages_with_extracted_text

        self.n_roots += 1
        root = os.path.join(self.work_dir, f"ckpt{self.n_roots}")
        spark, sf = self.spark, self.sf_dir

        def pages():
            return pages_with_extracted_text(spark, sf,
                                             replicate=self.replicate)

        run_pipeline(spark, sf, root, pages_source=pages)
        counts = stage_row_counts(spark, root, CLI_STAGES)
        before = self._markers(root)
        with self.step("resume"):
            run_pipeline(spark, sf, root, pages_source=pages)
        return root, counts, before

    def finish(self, handle, census=None) -> list[str]:
        root, counts, before = handle
        bad = []
        try:
            for stage in CLI_STAGES:
                n = self.spark.read.parquet(
                    os.path.join(root, stage, "data")).count()
                if n != counts[stage] or n == 0:
                    bad.append(f"{stage}: manifest {counts[stage]} != "
                               f"re-read {n}")
            after = self._markers(root)
            rerun = [s for s in CKPT_STAGES if after[s] != before[s]]
            if rerun or -1 in before.values():
                bad.append(f"resume re-ran stages {rerun}")
            if census is not None:
                census(handle)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return bad

    def written_mb(self, root: str) -> dict[str, float]:
        out = {}
        for stage in CKPT_STAGES:
            total = 0
            for dirpath, _, files in os.walk(os.path.join(root, stage)):
                total += sum(os.path.getsize(os.path.join(dirpath, f))
                             for f in files)
            out[f"plans.checkpoint.{stage}.written_mb"] = total / float(1 << 20)
        return out


WORKLOADS = {w.name: w for w in (KgFlagship, PrepFunnel, KgResume)}
