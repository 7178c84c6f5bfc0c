"""Span bookkeeping, the layer table's arithmetic and the summaries."""

import itertools

import pytest

from perfbench import sparkstats
from perfbench.run import summary
from perfbench.trace import Tracer, layer_table


def _clock(times):
    it = iter(times)
    return lambda: next(it)


def test_spans_nest_and_sum():
    tr = Tracer("r1", clock=_clock([0.0, 1.0, 3.0, 4.0, 6.0, 10.0]))
    with tr.span("outer"):
        with tr.span("inner", rows=5):
            pass
        with tr.span("inner", rows=7):
            pass
    outer, a, b = tr.spans
    assert (outer["parent"], a["parent"], b["parent"]) == (None, 0, 0)
    assert {s["run_id"] for s in tr.spans} == {"r1"}
    assert tr.total("inner") == 2.0 + 2.0
    assert tr.count("inner", "rows") == 12


def test_layer_table_shares_and_residual():
    t = layer_table(10.0, 20.0, [("scan", 1.0, 4.0), ("pipeline", 5.0, 10.0),
                                 ("sink", 3.5, 5.0)])
    assert [r["wall_share"] for r in t["rows"]] == [0.1, 0.5, 0.35]
    assert [r["task_share"] for r in t["rows"]] == [0.2, 0.5, 0.25]
    assert t["unattributed_s"] == pytest.approx(0.5)
    assert t["unattributed_frac"] == pytest.approx(0.05)
    assert not t["flagged"]


@pytest.mark.parametrize("parts_wall,flagged", [(8.9, True), (9.0, False),
                                                 (11.0, False), (11.1, True)])
def test_layer_table_flags_either_way_past_a_tenth(parts_wall, flagged):
    t = layer_table(10.0, 10.0, [("all", parts_wall, 0.0)])
    assert t["flagged"] is flagged


def test_layer_table_needs_a_positive_stage():
    with pytest.raises(ValueError):
        layer_table(0.0, 1.0, [])


def test_summary_tail_needs_ten_samples_beyond_it():
    assert summary([3.0, 1.0, 2.0])["tail"] is None
    assert summary([3.0, 1.0, 2.0])["median"] == 2.0
    s = summary([float(v) for v in range(1, 21)])
    assert s["tail"] == {"pct": 50, "value": 10.0}  # 10 samples lie above p50
    s = summary([float(v) for v in range(1, 101)])
    assert s["tail"] == {"pct": 90, "value": 90.0}
    assert all(len([v for v in range(1, n + 1) if v > summary(
        [float(v) for v in range(1, n + 1)])["tail"]["value"]]) >= 10
        for n in itertools.chain(range(11, 40), (57, 99, 250)))


@pytest.mark.parametrize("text,value", [
    ("4,000", 4000.0),
    ("0 ms", 0.0),
    ("total (min, med, max (stageId: taskId))\n2.4 s (459 ms, 665 ms, 698 ms "
     "(stage 5.0: task 14))", 2.4),
    ("total (min, med, max (stageId: taskId))\n1500.3 KiB (370.9 KiB, 374.1 KiB, "
     "382.0 KiB (stage 5.0: task 11))", 1500.3 * 1024),
    ("44.6 MiB", 44.6 * 2 ** 20),
    ("1.5 m", 90.0),
])
def test_parse_rendered_sql_metric(text, value):
    assert sparkstats.parse_metric(text) == pytest.approx(value)


def test_parse_rejects_unknown_units():
    with pytest.raises(ValueError):
        sparkstats.parse_metric("3 parsecs")
