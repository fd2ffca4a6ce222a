"""Tests of the benchmark's own helpers, plus a tiny-size smoke run of
each workload through its output gate.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark; skip them with ``-k "not smoke"``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, stats  # noqa: E402
from perfbench.trace import Span, Tracer, covered, self_times  # noqa: E402


def test_percentile_refuses_fewer_than_ten_beyond():
    with pytest.raises(stats.TooFewSamples, match="n=99"):
        stats.percentile(range(99), 0.9)
    with pytest.raises(stats.TooFewSamples, match="n=19"):
        stats.percentile(range(19), 0.5)


def test_percentile_value_and_count():
    assert stats.percentile(range(1, 101), 0.9) == (90, 100)
    assert stats.percentile(range(1, 21), 0.5) == (10, 20)
    assert stats.min_samples(0.9) == 100
    assert stats.min_samples(0.5) == 20


def test_spread_matches_statistics_quantiles():
    s = stats.spread([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
    assert (s["q1"], s["median"], s["q3"]) == (2.75, 5.5, 8.25)
    assert s["iqr_frac"] == pytest.approx(1.0)


def test_fingerprint_is_order_insensitive_and_typed():
    a = pd.DataFrame({"k": [1, 2], "t": pd.to_datetime([1, 2], unit="s", utc=True),
                      "x": ["a", None]})
    b = a.iloc[::-1].copy()
    b["t"] = b["t"].dt.tz_convert("UTC").astype("datetime64[us, UTC]")
    assert stats.fingerprint(a, ["k", "t", "x"]) == stats.fingerprint(b, ["k", "t", "x"])
    c = a.copy()
    c.loc[1, "x"] = "b"
    assert stats.fingerprint(a, ["k", "x"]) != stats.fingerprint(c, ["k", "x"])
    d = stats.diff_rows(c, a, ["k", "x"])
    assert (d["missing"], d["unexpected"]) == (1, 1)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert covered([(-1, 2), (8, 12)], 0, 10) == pytest.approx(4)
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "parent", 0.0, 10.0),
        Span(2, "a", 1.0, 4.0, parent=1),
        Span(3, "b", 3.0, 6.0, parent=1),   # overlaps a: union is 1..6
        Span(4, "c", 2.0, 3.0, parent=2),   # grandchild: not the parent's child
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_parents_wrap_and_adoption():
    import threading

    class Box:
        def work(self, n):
            return n + 1

    tr = Tracer("t", adopters=("outer",))
    tr.wrap(Box, "work", "box.work", lambda _self, n: {"n": n})
    with tr.span("outer"):
        assert Box().work(1) == 2
        t = threading.Thread(target=lambda: Box().work(5))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    tr.uninstall()
    assert Box.work.__name__ == "work" and not hasattr(Box.work, "__wrapped__")
    outer = tr.named("outer")[0]
    kids = tr.named("box.work")
    assert [k.parent for k in kids] == [outer.id, outer.id]
    assert sorted(k.attrs["n"] for k in kids) == [1, 5]


def test_generator_is_seeded_and_program_free():
    a = gen.cdc_events(3, n_convs=30, avg_turns=4, hot_turns=20, n_files=5)
    b = gen.cdc_events(3, n_convs=30, avg_turns=4, hot_turns=20, n_files=5)
    pd.testing.assert_frame_equal(a, b)
    assert set(a["op"]) == {"insert", "update", "delete"}
    assert a.duplicated(["seq"]).any()          # verbatim redeliveries
    with open(os.path.join(ROOT, "perfbench", "gen.py")) as f:
        src = f.read()
    assert "import aktuell_spark" not in src and "from aktuell_spark" not in src


def test_dedup_feed_mixes_new_changed_and_stale():
    base, upd = gen.dedup_feed(4, n_base=40, n_base_files=2, n_new=100, dup_frac=0.2,
                               changed_frac=0.3, stale_frac=0.1, n_files=20)
    assert len(base) == 40 and sorted(base["file"].unique()) == [0, 1]
    assert sorted(upd["file"].unique()) == list(range(20))
    both = pd.concat([base, upd])
    # changed texts carry a new seq for a doc that arrived earlier
    assert both["doc_id"].nunique() == 140
    assert both["seq"].nunique() == 170 and len(both) == 180
    # stale copies repeat an earlier event verbatim, old seq and all
    assert both.duplicated(["doc_id", "text", "seq"]).sum() == 10
    latest = gen.dedup_latest(both)
    assert len(latest) == 140 and latest["seq"].is_unique


def test_batch_files_reads_compacted_log(tmp_path):
    from perfbench import harness

    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)

    def entry(name, batch):
        return json.dumps({"path": f"file:///feed/{name}", "batchId": batch})

    (src / "8").write_text("v1\n" + entry("f8", 8) + "\n")
    (src / "9.compact").write_text(
        "v1\n" + "\n".join(entry(f"f{b}", b) for b in range(10)) + "\n")
    (src / "10").write_text("v1\n" + entry("f10", 10) + "\n")
    files = harness.batch_files(str(tmp_path), 0)
    assert files == {f"f{b}": b for b in range(11)}


def test_commit_times_needs_every_table(tmp_path):
    from perfbench import harness

    a, b = tmp_path / "a", tmp_path / "b"
    for d, epochs in ((a, (0, 1)), (b, (0,))):
        d.mkdir()
        for e in epochs:
            (d / str(e)).write_text("")
    os.utime(a / "0", (100, 100))
    os.utime(b / "0", (200, 200))
    # epoch 1 is committed on one table only: its output is not in sync yet
    assert harness.commit_times([str(a), str(b)]) == {0: 200}


def test_capacity_lag_trend_and_steady_rule():
    from perfbench import capacity

    flat = [(t, 5.0 + 0.5 * (t % 2)) for t in range(30)]
    rising = [(t, 5.0 + 0.5 * t) for t in range(30)]
    for lags, want in ((flat, True), (rising, False)):
        row = dict(capacity.lag_trend(lags, 30.0), failed=0)
        assert capacity.steady(row) is want
    assert capacity.lag_trend(rising, 30.0)["slope"] == pytest.approx(0.5)
    assert not capacity.steady(dict(capacity.lag_trend(flat, 30.0), failed=1))
    rows = [{"scale": 2.0, "lag_p90_s": 14.0, "steady": True},
            {"scale": 1.0, "lag_p90_s": 10.0, "steady": True},
            {"scale": 3.0, "lag_p90_s": 16.0, "steady": True}]
    # 3x is steady but past the latency limit of 1.5 x the 1x lag p90
    assert capacity.capacity(rows) == 2.0
    assert [r["within_limit"] for r in rows] == [True, True, False]


def test_lww_image_drops_deleted_keys():
    ev = pd.DataFrame({
        "seq": [1, 2, 3, 4], "op": ["insert", "update", "insert", "delete"],
        "conv_id": ["a", "a", "b", "b"], "turn_idx": [0, 0, 0, 0],
        "role": ["user"] * 3 + [None], "text": ["x", "y", "z", None],
        "tool": [None] * 4, "ts": pd.to_datetime([1, 2, 3, 4], unit="s", utc=True),
    })
    img = gen.lww_image(ev)
    assert img["text"].tolist() == ["y"]


def test_stop_processes_waits_for_orphans():
    """A grandchild orphaned by its parent is adopted, stopped and reaped."""
    script = textwrap.dedent("""
        import os, subprocess, sys
        sys.path.insert(0, sys.argv[1])
        from perfbench import harness
        harness.adopt_orphans()
        out = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"],
                             capture_output=True, text=True, check=True)
        orphan = int(out.stdout)
        assert harness.stop_processes(grace_s=1, term_after_s=0.5) == []
        try:
            os.kill(orphan, 0)
        except ProcessLookupError:
            print("gone")
    """)
    proc = subprocess.run([sys.executable, "-c", script, ROOT],
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == "gone"


def test_benchmark_json_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    from perfbench import layers, run

    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOAD_NAMES)
    assert {m["name"] for m in bench["end_to_end"]} == set(run.E2E_UNITS)
    assert [m["name"] for m in bench["per_layer"]] == list(layers.NAMES)
    from perfbench import workloads

    for w in bench["workloads"]:
        for rate in workloads.RATES[w["name"]]["full"].values():
            assert f"{rate:g} events/s" in w["why"]


@pytest.mark.parametrize("workload", ["cdc_live", "index_dedup"])
def test_smoke_tiny_run_passes_output_gate(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "4", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0, proc.stdout[-2000:]
    assert out["attempted"] >= 1
