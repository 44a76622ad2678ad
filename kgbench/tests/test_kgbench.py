"""Tests of the benchmark's own code; none of them starts Spark.

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics

import pandas as pd
import pytest

from kgbench import eventlog, gen, stats
from kgbench.checks import frame_mismatch, oracle_mismatch
from kgbench.trace import BOUNDARY, LAYER, STEP, SPAN_PROP, Span

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


# ---------------------------------------------------------------- stats

def test_quartiles_match_statistics_quantiles():
    vals = [3.1, 2.9, 3.4, 3.0, 5.2, 3.3, 2.8, 3.2, 3.05, 3.15]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartiles(vals) == (q1, q2, q3)
    assert stats.median(vals) == statistics.median(vals)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / q2)


def test_summarize_runs():
    runs = [{"correct": True, "attempted": 3, "failed": 0,
             "metrics": {"wall_s": {"value": v, "unit": "s"}}}
            for v in (4.0, 5.0, 6.0, 5.5, 4.5)]
    s = stats.summarize(runs)["wall_s"]
    assert s["n"] == 5 and s["median"] == 5.0
    assert s["spread"] == pytest.approx(stats.spread([4, 5, 6, 5.5, 4.5]))


def test_spread_of_constant_values_is_zero_and_single_value_is_safe():
    assert stats.spread([2.0, 2.0, 2.0]) == 0.0
    assert stats.quartiles([4.0]) == (4.0, 4.0, 4.0)
    with pytest.raises(ValueError):
        stats.median([])


# ------------------------------------------------------- event-log reader

def _write_log(path, events):
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def _job(jid, span, submit_ms, end_ms, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": submit_ms, "Stage IDs": stages,
         "Properties": {SPAN_PROP: str(span)} if span is not None else {}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": end_ms, "Job Result": {"Result": "JobSucceeded"}},
    ]


def _task(stage, run_ms, gc_ms=0, sw=0, records=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                "Disk Bytes Spilled": spill,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": sw},
                "Input Metrics": {"Records Read": records}}}


def _spans():
    # pass(0) ─ build(1, step) ─ pages(2) infer(3); link(4); sink(5)
    return [
        Span(0, "pass", STEP, None, 100.0, 110.0),
        Span(1, "plans.pipeline.build_pipeline", STEP, 0, 100.0, 104.0),
        Span(2, "sources.pages", LAYER, 1, 100.0, 100.1),
        Span(3, "operators.infer", LAYER, 1, 100.1, 100.2),
        Span(4, "operators.linking", LAYER, 0, 104.0, 106.0),
        Span(5, "sink", STEP, 0, 106.5, 110.0),
    ]


def test_event_log_reader_on_a_tiny_synthetic_log(tmp_path):
    MB = 1 << 20
    events = (
        _job(0, 1, 100_300, 103_900, [0, 1])        # boundary in build
        + [_task(0, 2000, gc_ms=100, sw=2 * MB, records=500),
           _task(0, 1000), _task(1, 500)]
        + _job(1, 4, 104_500, 105_500, [2, 3])       # inside linking
        + [_task(2, 300, sw=MB), _task(3, 200, spill=MB)]
        + _job(2, 5, 106_600, 109_600, [4, 2])       # sink; stage 2 reused
        + [_task(4, 800)]
        + _job(3, None, 111_000, 112_000, [5])        # outside any span
        + [_task(5, 999)])
    path = tmp_path / "app-1"
    _write_log(path, events)
    jobs = eventlog.read_jobs(str(path))
    assert [j.id for j in jobs] == [0, 1, 2, 3]
    j0, j1, j2, _ = jobs
    assert (j0.span, j0.tasks, j0.task_s, j0.gc_s) == (1, 3, 3.5, 0.1)
    assert j0.shuffle_write_mb == 2.0 and j0.records_in == 500
    assert (j1.tasks, j1.spill_mb, j1.shuffle_write_mb) == (2, 1.0, 1.0)
    assert (j2.tasks, j2.task_s) == (1, 0.8)   # stage 2 counted once, in j1
    assert j2.end - j2.submit == pytest.approx(3.0)

    spans = _spans()
    att = eventlog.attribute(spans, jobs)
    got = {a.job.id: (a.group, a.credit) for a in att}
    assert got == {
        0: (("sources.pages", "operators.infer"), "operators.infer"),
        1: (("operators.linking",), "operators.linking"),
        2: (("operators.linking",), "operators.linking"),
    }
    table = eventlog.layer_table(spans, att)
    infer = table["operators.infer"]
    assert infer["jobs"] == 1 and infer["task_s"] == pytest.approx(3.5)
    # own span self time 0.1 s + the 3.6 s boundary job run outside it
    assert infer["wall_s"] == pytest.approx(3.7)
    link = table["operators.linking"]
    # 2.0 s span (job 1 inside it) + 3.0 s sink job outside it
    assert link["wall_s"] == pytest.approx(5.0)
    assert table["sources.pages"]["jobs"] == 0
    groups = {g["group"]: g for g in eventlog.group_table(att)}
    infer_group = groups["sources.pages+operators.infer"]
    assert infer_group["wall_s"] == pytest.approx(3.6)
    assert infer_group["records_in"] == 500
    # pass 10 s; jobs cover 3.6 + 1.0 + 3.0 s of it
    assert eventlog.driver_s(spans[0], jobs[:3]) == pytest.approx(2.4)


def test_boundary_takes_no_credit_for_fused_upstream_layers():
    spans = [
        Span(0, "pass", STEP, None, 0.0, 10.0),
        Span(1, "operators.infer", LAYER, 0, 1.0, 1.5),
        Span(2, "plans.checkpoint", BOUNDARY, 0, 2.0, 5.0),
        Span(3, "plans.checkpoint", BOUNDARY, 0, 6.0, 7.0),
    ]
    jobs = [eventlog.Job(0, 2, 2.5, 4.5), eventlog.Job(1, 3, 6.5, 6.9)]
    att = eventlog.attribute(spans, jobs)
    assert att[0].group == ("operators.infer", "plans.checkpoint")
    assert att[0].credit == "operators.infer"
    assert att[1].group == ("plans.checkpoint",)
    assert att[1].credit == "plans.checkpoint"


def test_union_and_self_times():
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_s([]) == 0
    st = eventlog.self_times(_spans())
    assert st[0] == pytest.approx(10 - 4 - 2 - 3.5)
    assert st[1] == pytest.approx(4 - 0.2)


# ------------------------------------------------------------ oracle check

def test_oracle_check_passes_an_equal_frame_and_flags_a_wrong_one(tmp_path):
    sf = gen.write_sf_dir(str(tmp_path), n_docs=50, seed=3)
    sql = ("SELECT lang, count(*) AS n, sum(n_chars) AS c FROM documents "
           "GROUP BY lang")
    docs = pd.read_parquet(os.path.join(sf, "documents.parquet"))
    right = (docs.groupby("lang").agg(n=("doc_id", "size"),
                                      c=("n_chars", "sum"))
             .reset_index().sample(frac=1, random_state=0))
    assert oracle_mismatch(right, sql, sf) is None
    wrong = right.copy()
    wrong.loc[wrong.index[0], "c"] += 1
    assert "values differ" in oracle_mismatch(wrong, sql, sf)
    assert "rows" in oracle_mismatch(right.iloc[1:], sql, sf)
    assert "columns" in frame_mismatch(right.rename(columns={"n": "m"}),
                                       right)


# ---------------------------------------------------------------- inputs

def test_generator_is_byte_identical_per_seed(tmp_path):
    a = gen.write_sf_dir(str(tmp_path / "a"), 300, seed=7)
    b = gen.write_sf_dir(str(tmp_path / "b"), 300, seed=7)
    c = gen.write_sf_dir(str(tmp_path / "c"), 300, seed=8)
    read = [open(os.path.join(d, "documents.parquet"), "rb").read()
            for d in (a, b, c)]
    assert read[0] == read[1] != read[2]
    docs = pd.read_parquet(os.path.join(a, "documents.parquet"))
    assert (docs.n_chars == docs.text.str.len()).all()
    assert docs.text.str.endswith(" dup").any()
    # curate must have distinct texts to keep
    assert docs.text.nunique() > 0.9 * len(docs)


def test_benchmark_json_lists_every_per_layer_metric():
    from kgbench.ledger import PER_LAYER

    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json next to the benchmark")
    with open(path) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
