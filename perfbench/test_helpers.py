"""Unit tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from spans import Tracer  # noqa: E402


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),   # overlaps its sibling: covered once
        _span(4, 2, 1.5, 2.0),   # grandchild: only its parent subtracts it
        _span(5, 1, 9.0, 12.0),  # runs past the parent: clipped
    ]
    got = stats.self_times(spans)
    assert got[1] == pytest.approx(10.0 - (5.0 + 1.0))
    assert got[2] == pytest.approx(3.0 - 0.5)
    assert got[3] == pytest.approx(3.0)
    assert got[4] == pytest.approx(0.5)
    assert got[5] == pytest.approx(3.0)


def test_tracer_spans_nest_and_account_for_wall():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    outer, a, b = tr.spans
    assert a["parent"] == b["parent"] == outer["id"]
    st = stats.self_times(tr.spans)
    total = outer["end"] - outer["start"]
    assert st[outer["id"]] + st[a["id"]] + st[b["id"]] == pytest.approx(total)


def test_tracer_install_wraps_and_restores(monkeypatch):
    import types

    mod = types.ModuleType("real_estate_project1_etl_spark.operators.fake")

    def public(x):
        return x + 1

    public.__module__ = mod.__name__
    mod.public = public
    holder = types.ModuleType("holder")
    holder.public = public
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    import spans

    monkeypatch.setattr(spans, "MODULE_LAYER", {mod.__name__: "operators.fake"})
    tr = Tracer()
    tr.install(extra_modules=[holder])
    assert holder.public(1) == 2 and mod.public(2) == 3
    assert [s["name"] for s in tr.spans] == ["operators.fake:public"] * 2
    tr.uninstall()
    assert holder.public is public and mod.public is public


def test_interval_union():
    assert stats.interval_union([]) == 0.0
    assert stats.interval_union([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(list(range(10))) == (None, None)
    # 20 samples: the median has 10 beyond it, p75 only 5
    assert stats.tail_percentile(list(range(1, 21))) == (50, 10.0)
    # 100 samples: p90 has exactly 10 beyond it, p95 only 5
    assert stats.tail_percentile(list(range(1, 101))) == (90, 90.0)
    assert stats.tail_percentile(list(range(1, 1001))) == (99, 990.0)


def test_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert stats.nearest_rank(xs, 50) == 3
    assert stats.nearest_rank(xs, 100) == 5
    assert stats.nearest_rank(xs, 1) == 1


def _checkpoint(tmp_path, batches, committed):
    src = tmp_path / "sources" / "0"
    com = tmp_path / "commits"
    src.mkdir(parents=True)
    com.mkdir()
    for bid, files in batches.items():
        lines = ["v1"] + [json.dumps({"path": f"file:///in/{f}", "timestamp": 1, "batchId": bid})
                          for f in files]
        (src / str(bid)).write_text("\n".join(lines) + "\n")
    for bid, at in committed.items():
        p = com / str(bid)
        p.write_text('v1\n{"nextBatchWatermarkMs":0}\n')
        os.utime(p, ns=(int(at * 1e9), int(at * 1e9)))
    return str(tmp_path)


def test_lag_extraction_from_checkpoint_logs(tmp_path):
    ckpt = _checkpoint(
        tmp_path,
        {0: ["a.tsv"], 1: ["b.tsv", "c.tsv"], 2: ["d.tsv"]},
        {0: 100.5, 1: 103.25},  # batch 2 planned but never committed
    )
    committed = stats.committed_files(ckpt)
    assert committed == {"a.tsv": [(0, 100.5)], "b.tsv": [(1, 103.25)],
                         "c.tsv": [(1, 103.25)]}
    lags, problems = stats.file_lags(
        {"a.tsv": 100.0, "b.tsv": 101.0, "c.tsv": 102.0, "d.tsv": 102.5}, committed)
    assert lags == pytest.approx({"a.tsv": 0.5, "b.tsv": 2.25, "c.tsv": 1.25})
    assert problems == ["d.tsv: committed in 0 batches"]


def test_compacted_source_log_is_read(tmp_path):
    _checkpoint(tmp_path, {10: ["k.tsv"]}, {8: 49.0, 9: 50.0, 10: 51.0})
    src = tmp_path / "sources" / "0"
    # batch 9 compacts the log: entries of batches 0..9, each with its batchId
    (src / "9.compact").write_text("v1\n" + "\n".join(
        json.dumps({"path": f"file:///in/f{b}.tsv", "timestamp": 1, "batchId": b})
        for b in range(10)) + "\n")
    (src / "8").write_text("v1\n" + json.dumps(
        {"path": "file:///in/f8.tsv", "timestamp": 1, "batchId": 8}) + "\n")
    committed = stats.committed_files(str(tmp_path))
    assert committed["f9.tsv"] == [(9, 50.0)] and committed["k.tsv"] == [(10, 51.0)]
    assert committed["f8.tsv"] == [(8, 49.0)]  # in "8" and in "9.compact": once
    assert "f3.tsv" not in committed  # batch 3 has no commit entry


def test_file_in_two_batches_is_a_problem(tmp_path):
    ckpt = _checkpoint(tmp_path, {0: ["a.tsv"], 1: ["a.tsv"]}, {0: 1.0, 1: 2.0})
    lags, problems = stats.file_lags({"a.tsv": 0.0}, stats.committed_files(ckpt))
    assert lags == {} and problems == ["a.tsv: committed in 2 batches"]

