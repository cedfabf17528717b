"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import copy
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from dce_spark.report import CheckResult, ValidationReport, ValidationStats  # noqa: E402


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


# ------------------------------------------------------------- generator


def test_events_same_seed_same_bytes(tmp_path):
    a = gen.events_table(7, 20_000, str(tmp_path / "a"))
    b = gen.events_table(7, 20_000, str(tmp_path / "b"))
    c = gen.events_table(8, 20_000, str(tmp_path / "c"))
    assert a == b
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert _tree_bytes(str(tmp_path / "a")) != _tree_bytes(str(tmp_path / "c"))


def test_day_batch_and_corpus_same_seed_same_bytes(tmp_path):
    for d in ("a", "b"):
        os.makedirs(tmp_path / d)
        gen.day_batch(3, 1, 5_000, str(tmp_path / d / "day.parquet"))
        gen.corpus(3, 2_000, str(tmp_path / d / "docs"), str(tmp_path / d / "emb"))
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))


def test_corpus_plants_recorded_structure(tmp_path):
    t = gen.corpus(5, 4_000, str(tmp_path / "docs"), str(tmp_path / "emb"))
    import pyarrow.parquet as pq

    docs = pq.read_table(str(tmp_path / "docs")).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert len(text) == t.docs
    assert t.exact_groups and t.near_pairs and t.semantic_pairs
    for g in t.exact_groups:
        assert 2 <= len(g) <= 4 and len({text[i] for i in g}) == 1
    for a, b in t.near_pairs:
        ta, tb = text[a].split(), text[b].split()
        assert len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) <= 1


# --------------------------------------------------------- span arithmetic


def _span(name, layer, start, end, parent, op=0):
    return spans.Span(name, layer, start, end, parent, op)


def test_self_times_subtract_children():
    s = [
        _span("op", "op", 0.0, 10.0, None),
        _span("api.f", "api", 1.0, 4.0, 0),
        _span("parser.g", "parser", 2.0, 3.0, 1),
        _span("api.h", "api", 5.0, 9.0, 0),
    ]
    assert spans.self_times(s) == [3.0, 2.0, 1.0, 4.0]


def test_self_time_counts_overlapping_children_once():
    s = [
        _span("p", "x", 0.0, 10.0, None),
        _span("a", "y", 1.0, 5.0, 0),
        _span("b", "y", 4.0, 6.0, 0),
        _span("c", "y", 9.0, 12.0, 0),  # runs past its parent: clipped
    ]
    assert spans.self_times(s)[0] == 10.0 - 5.0 - 1.0


def test_per_op_summary_busy_counts_outermost_layer_spans():
    s = [
        _span("op", "op", 0.0, 10.0, None),
        _span("api.validate_df", "api", 1.0, 9.0, 0),
        _span("api.parse", "api", 2.0, 3.0, 1),  # nested in its own layer
        _span("parser.parse_str", "parser", 4.0, 6.0, 1),
        _span("op", "op", 20.0, 21.0, None, op=1),
    ]
    ops = spans.per_op_summary(s)
    o = ops[0]
    assert o["op_s"] == 10.0 and o["unattributed_s"] == 2.0
    assert o["api.busy_s"] == 8.0 and o["api.calls"] == 1
    assert o["api.self_s"] == 5.0 + 1.0
    assert o["parser.busy_s"] == 2.0 and o["parser.calls"] == 1
    assert o["api.validate_df.busy_s"] == 8.0 and o["api.parse.calls"] == 1
    # layer self times plus the root's own time make up the op
    assert o["layer_self_sum_s"] + o["unattributed_s"] == o["op_s"]
    assert ops[1] == {"op_s": 1.0, "unattributed_s": 1.0}


def test_tracer_wraps_and_restores_layer_functions():
    from dce_spark import api, parser

    orig = parser.parse_str
    t = spans.Tracer()
    assert t.install() > 0
    try:
        assert parser.parse_str is not orig
        with t.op(0):
            api.parse_contract_yaml(workloads.DAILY_CONTRACT)
    finally:
        t.uninstall()
    assert parser.parse_str is orig
    names = [s.name for s in t.spans]
    assert names[0] == "op" and "api.parse_contract_yaml" in names
    assert "parser.parse_yaml" in names
    assert all(s.op == 0 for s in t.spans)


def test_tail_is_highest_percentile_with_ten_beyond():
    times = [float(i) for i in range(1, 41)]  # 40 samples
    assert run.tail(times) == (30.0, 75.0)
    assert run.tail(times[:21]) == (11.0, 100.0 * 11 / 21)  # the median, 10 beyond
    # no percentile above the median has 10 samples beyond: the median
    assert run.tail(times[:20]) == (10.5, 50.0)
    assert run.tail(times[:19]) == (10.0, 50.0)
    assert run.tail([3.0, 1.0, 2.0]) == (2.0, 50.0)
    assert run.tail([2.0, 1.0]) == (1.5, 50.0)
    assert run.tail([5.0]) == (5.0, 50.0)


def test_tail_never_reads_below_the_median():
    import statistics

    for n in range(1, 45):
        times = [float((7 * i) % n) for i in range(n)]
        assert run.tail(times)[0] >= statistics.median(times)


def test_glue_check_fails_a_trace_its_layers_do_not_explain():
    m = {"trace.op_p50_s": 2.0, "trace.overhead_s": 0.05, "trace.unattributed_s": 0.09}
    assert run.glue_check(m) == []  # within 5 % of the op
    assert run.glue_check({**m, "trace.unattributed_s": 0.3})
    # a larger measured overhead widens the limit
    assert run.glue_check({**m, "trace.unattributed_s": 0.3, "trace.overhead_s": 0.4}) == []


# ----------------------------------------------------------- output checks


def _batch_report(t: gen.EventsTruth) -> ValidationReport:
    """A report carrying exactly the planted counts."""
    r = ValidationReport()
    props = dict(sorted(((k, v / t.rows) for k, v in t.label_counts.items()),
                        key=lambda kv: (-kv[1], kv[0])))
    for name, cat, obs in [
        ("schema.nullability:user_id", "schema", {"null_count": t.null_user_id}),
        ("schema.nullability:event_id", "schema", {"null_count": 0}),
        ("constraints.allowedvalues:event_type", "constraints",
         {"violations": t.bad_event_type}),
        ("constraints.range:value", "constraints", {"violations": t.out_of_range}),
        ("quality.completeness:user_id", "quality",
         {"non_null": t.rows - t.null_user_id, "total": t.rows}),
        ("quality.completeness:event_id", "quality", {"non_null": t.rows, "total": t.rows}),
        ("quality.uniqueness:event_id", "quality", {"duplicates": t.duplicate_ids}),
        ("quality.freshness:ts", "quality", {"max_ts_epoch": t.max_ts_epoch}),
        ("custom:negative_values", "custom", {"value": t.negative_value}),
        ("ml.class_balance:label", "ml", {"proportions": props, "total": t.rows}),
        ("ml.target_leakage:score", "ml", {"correlation": t.corr_score}),
        ("ml.target_leakage:value", "ml", {"correlation": t.corr_value}),
    ]:
        r.add(CheckResult(name=name, category=cat, passed=False, observed=obs))
    r.stats = ValidationStats(records_validated=t.rows)
    return r


def test_batch_check_catches_a_wrong_report(tmp_path):
    t = gen.events_table(2, 20_000, str(tmp_path / "ev"))
    good = _batch_report(t)
    assert workloads.check_batch_report(good, t) == []

    bad = copy.deepcopy(good)
    workloads._find(bad, "constraints.range:value").observed["violations"] += 1
    assert any("constraints.range:value" in p for p in workloads.check_batch_report(bad, t))

    bad = copy.deepcopy(good)
    bad.stats.records_validated -= 1
    assert workloads.check_batch_report(bad, t)

    bad = copy.deepcopy(good)
    bad.checks = [c for c in bad.checks if c.name != "custom:negative_values"]
    assert workloads.check_batch_report(bad, t)


def test_day_check_catches_wrong_records_and_window():
    t = gen.DayTruth(rows=100, null_user_id=2, bad_event_type=1, out_of_range=1)

    def rep(records):
        r = ValidationReport()
        r.add(CheckResult("schema.nullability:user_id", "schema", False,
                          observed={"null_count": 2}))
        r.add(CheckResult("constraints.allowedvalues:event_type", "constraints", False,
                          observed={"violations": 1}))
        r.add(CheckResult("constraints.range:value", "constraints", False,
                          observed={"violations": 1}))
        r.stats = ValidationStats(records_validated=records)
        return r

    good = {d: rep(100) for d in range(5, 8)}
    assert workloads.check_day_reports(good, 7, 3, t) == []
    assert workloads.check_day_reports({**good, 7: rep(99)}, 7, 3, t)
    assert workloads.check_day_reports({**good, 4: rep(100)}, 7, 3, t)


def test_survivor_check_catches_duplicates_and_ungated_docs():
    t = gen.CorpusTruth(docs=10, exact_groups=[[1, 2, 3], [4, 5]])
    kept = set(range(10))
    assert workloads.check_survivors([0, 1, 4, 6], kept, t) == []
    assert workloads.check_survivors([0, 1, 2, 4], kept, t)  # group kept twice
    assert workloads.check_survivors([0, 1, 6], kept, t)  # group lost
    assert workloads.check_survivors([1, 4, 9], kept - {9}, t)  # not kept
