"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import run, streamlog
from perfbench.spans import Span, self_times
from perfbench.stats import backlog_grows, percentile, tail_percentile


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(reversed(xs), 99) == 99
    assert percentile([7.0], 95) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n, p", [
    (19, None),  # even p75 would leave only 4 beyond
    (40, 75.0),
    (100, 90.0),
    (199, 90.0),  # p95 would leave 9
    (200, 95.0),
    (1000, 99.0),
    (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert n - percentile(range(n), p) - 1 >= 10


def test_self_time_subtracts_child_coverage_once():
    spans = [
        Span("a", "root", None, 0.0, 10.0),
        Span("b", "child", "a", 1.0, 3.0),
        Span("c", "child", "a", 2.0, 5.0),  # overlaps b
        Span("d", "child", "a", 8.0, 12.0),  # runs past its parent
        Span("e", "grandchild", "b", 1.5, 2.5),
    ]
    st = self_times(spans)
    assert st["a"] == pytest.approx(10 - (4 + 2))
    assert st["b"] == pytest.approx(2 - 1)
    assert st["c"] == pytest.approx(3)
    assert st["e"] == pytest.approx(1)


def _batch_commits(due, batch_s, per_batch):
    """Commit time of each file when a batch starting every ``batch_s``
    takes at most ``per_batch`` files in arrival order."""
    done, queue, t = [], sorted(due), 0.0
    while queue:
        t += batch_s
        ready = [d for d in queue if d <= t][:per_batch]
        done += [t + batch_s] * len(ready)
        queue = queue[len(ready):]
    return done


def test_backlog_flat_when_service_keeps_up():
    due = [i * 0.1 for i in range(100)]  # 10 files/s for 10 s
    grows, slope = backlog_grows(due, _batch_commits(due, 1.0, 50), files_per_s=10)
    assert not grows
    assert abs(slope) < 1.0


def test_backlog_grows_when_service_falls_behind():
    due = [i * 0.1 for i in range(100)]
    grows, slope = backlog_grows(due, _batch_commits(due, 1.0, 5), files_per_s=10)
    assert grows
    assert slope == pytest.approx(5, rel=0.3)


def _write_log(path, entries):
    with open(path, "w") as fh:
        fh.write("v1\n" + "\n".join(json.dumps(e) for e in entries) + "\n")


def test_source_log_joins_commits_across_compact_file(tmp_path):
    ckpt = tmp_path / "ckpt"
    src, commits = ckpt / "sources" / "0", ckpt / "commits"
    src.mkdir(parents=True)
    commits.mkdir()

    def entry(i, batch):
        return {"path": f"file:///w/dir%20x/part-{i:05d}.csv", "timestamp": 0,
                "batchId": batch, "action": "add"}

    # batches 0-9 survive only in the compaction of batch 9
    _write_log(src / "9.compact", [entry(i, i) for i in range(10)])
    _write_log(src / "10", [entry(10, 10), entry(11, 10)])
    _write_log(src / "11", [entry(12, 11)])
    (src / ".11.crc").write_text("")
    for b in range(12):  # batch 11 never committed
        if b < 11:
            (commits / str(b)).write_text("v1\n{}\n")
            os.utime(commits / str(b), ns=(0, (1000 + b) * 10**9))
    (commits / ".0.crc").write_text("")

    got = streamlog.file_commit_times(str(ckpt))
    assert got["part-00000.csv"] == 1000.0
    assert got["part-00009.csv"] == 1009.0
    assert got["part-00010.csv"] == got["part-00011.csv"] == 1010.0
    assert "part-00012.csv" not in got
    assert len(got) == 12


def test_benchmark_json_lists_the_metrics_run_py_emits():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
