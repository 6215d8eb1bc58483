"""Tests of the benchmark's own statistics and reporting code.

    python3 -m pytest perfbench -q
"""
import json
import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import run  # noqa: E402
import stats  # noqa: E402

DECLARED = json.loads((HERE.parent / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("n", [20, 21, 39, 40, 99, 100, 199, 200, 999,
                               1000, 5000, 10_000, 123_456])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    p = stats.tail_percentile(n)
    assert stats.samples_beyond(n, p) >= stats.MIN_BEYOND
    higher = [q for q in stats.PERCENTILES if q > p]
    assert all(stats.samples_beyond(n, q) < stats.MIN_BEYOND
               for q in higher)
    # counted on real data: at least ten samples lie above the value
    xs = np.arange(n, dtype=float)
    assert (xs > stats.percentile(xs, p)).sum() >= stats.MIN_BEYOND


def test_tail_percentile_none_below_twenty():
    assert stats.tail_percentile(19) is None
    assert stats.summarize([1.0] * 19)["tail"] is None


def test_summary_carries_sample_count():
    s = stats.summarize([3.0, 1.0, 2.0, 5.0])
    assert s["n"] == 4 and s["p50"] == 2.5


def test_trend_flags_a_ramp_only():
    assert stats.trend([10.0] * 10 + [5.0] * 10)["flag"]
    assert not stats.trend([5.0, 5.1] * 10)["flag"]


def test_metric_needs_a_unit_and_a_finite_value():
    assert stats.metric(1, "ms") == {"value": 1.0, "unit": "ms"}
    with pytest.raises(ValueError):
        stats.metric(1.0, "")
    with pytest.raises(ValueError):
        stats.metric(float("nan"), "ms")


def test_every_declared_metric_has_a_unit():
    for m in DECLARED["end_to_end"] + DECLARED["per_layer"]:
        assert m["unit"], m["name"]


def test_check_metrics_rejects_missing_extra_and_wrong_unit():
    decl = [{"name": "a", "unit": "ms"}, {"name": "b", "unit": "s"}]
    ok = {"a": stats.metric(1, "ms"), "b": stats.metric(2, "s")}
    stats.check_metrics(ok, decl)
    with pytest.raises(ValueError):
        stats.check_metrics({"a": ok["a"]}, decl)
    with pytest.raises(ValueError):
        stats.check_metrics({**ok, "c": stats.metric(1, "s")}, decl)
    with pytest.raises(ValueError):
        stats.check_metrics({**ok, "b": stats.metric(2, "ms")}, decl)


def fake_cycle():
    """A finished run's series, counts and values, without Spark."""
    ser = {name: [1.0, 2.0, 3.0] for name in (
        "setup_s", "build.wall_s", "visible_s", "streaming.union_topk_ms",
        "streaming.fold_s", "query.topk_ms", "build.assign_docids_s",
        "build.write_data_s", "build.term_stats_s", "analyzer.tokens_per_s",
        "codec.decode_postings_per_s", "codec.bm25_partial_per_s",
        "codec.encode_postings_per_s", "query.open_ms", "query.repeat_ms",
        "query.first_touch_ms", "streaming.batch_index_s",
        "streaming.combined_open_ms", "streaming.first_answer_ms",
        "streaming.union_local_ms", "streaming.compact_merge_s",
        "rotation.swap_ms", "serving.switch_ms", "spark.job_floor_ms")}
    ser["query_ms"] = [float(x) for x in range(1, 101)]
    counts = {f"{n}.{k}": [1, 1] for n in (
        "build", "query.topk", "streaming.batch", "streaming.union_topk",
        "streaming.compact_merge") for k in ("jobs", "stages", "tasks")}
    values = dict(qps=10.0, n_turns=100, text_bytes=1000, index_bytes=900,
                  docstore_bytes=500, postings_bytes=400, fold_bytes=950,
                  union_text_bytes=1100, cache_resident_share=0.5,
                  generations=3, distinct_terms=66, postings_per_query=9.0,
                  working_set_bytes=4e6, term_cache_cap=256,
                  term_cache_bytes=2**28, warmup_s=9.0)
    values["trace.overhead_pct"] = 1.0
    return SimpleNamespace(series=ser, counts=counts, values=values,
                           phases={"setups": 1.0}, attempted=7,
                           failures=[])


def test_end_to_end_metrics_match_the_declaration():
    stats.check_metrics(run.end_to_end(fake_cycle()),
                        DECLARED["end_to_end"])


def test_per_layer_metrics_match_the_declaration():
    layers = {"bench", "build", "fixtures", "query", "rotation",
              "serving", "streaming"}
    tracer = SimpleNamespace(self_seconds=lambda: {k: 1.0 for k in layers})
    stats.check_metrics(run.per_layer(fake_cycle(), tracer, 5.0, 0.1),
                        DECLARED["per_layer"])


def test_report_prints_every_series_with_its_sample_count(capsys):
    c = fake_cycle()
    args = SimpleNamespace(workload="w", seed=1, seconds=5, trace=0)
    run.report(c, "why", args, 5.0, 0.1)
    out = capsys.readouterr().out
    for name, xs in c.series.items():
        assert f"# {name}: n={len(xs)} " in out
    assert "# attempted=7 failed=0" in out
