"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    Tracer, batch_files, commit_times, created_at, event_file_name,
    percentile, self_times, summarize, union_seconds,
)
from probes import job_span, parse_metric, summarize_groups  # noqa: E402
from run import END_TO_END, LAYERS, UNITS  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_percentile_is_nearest_rank():
    values = list(range(1, 11))
    assert percentile(values, 50) == 5
    assert percentile(values, 90) == 9
    assert percentile(values, 100) == 10
    assert percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_picks_highest_percentile_with_ten_beyond():
    s = summarize(range(100))
    assert (s["n"], s["p50"], s["tail_pct"], s["tail"]) == (100, 49, 90.0, 89)
    s = summarize(range(1000))
    assert (s["tail_pct"], s["tail"]) == (99.0, 989)
    s = summarize(range(40))  # 75th has 10 beyond it, 90th only 4
    assert (s["tail_pct"], s["tail"]) == (75.0, 29)


def test_summarize_small_sample_has_no_tail():
    s = summarize([0.2, 0.1, 0.3])
    assert s == {"n": 3, "p50": 0.2, "tail_pct": None, "tail": None}
    assert summarize([])["p50"] is None


def test_union_seconds_merges_overlaps():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert union_seconds([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past parent
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10 - 4 - 1)
    assert got[1] == pytest.approx(3 - 1)
    assert got[2] == pytest.approx(2)
    assert got[3] == pytest.approx(1)
    assert got[4] == pytest.approx(3)


def test_tracer_nests_spans_and_is_inert_when_disabled():
    t = Tracer(enabled=True)
    with t.span("outer", "r1"):
        with t.span("inner", "r1"):
            pass
    inner, outer = t.spans
    assert (inner["name"], inner["parent"], inner["rid"]) == (
        "inner", outer["id"], "r1")
    assert outer["parent"] is None
    totals = t.span_totals()
    assert totals["outer"]["count"] == 1
    assert totals["outer"]["self_s"] <= totals["outer"]["total_s"]

    off = Tracer(enabled=False)
    with off.span("x"):
        off.add("c")
    assert off.spans == [] and dict(off.counters) == {}


def test_tracer_suspended_records_nothing_and_resumes():
    t = Tracer(enabled=True)
    with t.suspended():
        with t.span("untraced"):
            t.add("c")
    assert t.enabled and t.spans == [] and dict(t.counters) == {}
    with t.span("traced"):
        pass
    assert [s["name"] for s in t.spans] == ["traced"]


def test_summarize_groups_driver_gap_parallelism_and_skew():
    jobs = [{"submissionTime": 1000, "completionTime": 3000},
            {"submissionTime": 2000, "completionTime": 4000},
            {"submissionTime": 9000, "completionTime": None}]
    spans = [job_span(j) for j in jobs if job_span(j)]
    assert spans == [(1.0, 3.0), (2.0, 4.0)]
    stats = {"spark.jobs": 3, "spark.stages": 2, "spark.tasks": 8,
             "spark.task_s": 12.0, "spark.cpu_s": 6.0, "spark.gc_s": 0.1,
             "spark.shuffle_read_bytes": 10, "spark.shuffle_write_bytes": 10,
             "spark.spill_bytes": 0, "job_spans": spans,
             "stage_skew": [(9.0, 1.0), (3.0, 5.0)]}
    out = summarize_groups([stats], wall_s=10.0)
    assert out["spark.driver_gap_s"] == pytest.approx(10.0 - 3.0)
    assert out["spark.parallelism"] == pytest.approx(1.2)
    # task-time weighted: (9 * 1 + 3 * 5) / 12
    assert out["spark.skew"] == pytest.approx(2.0)
    assert summarize_groups([], wall_s=1.0)["spark.skew"] == 1.0


def test_stop_descendants_ends_orphans_and_children():
    # run in a child process: adopt_orphans changes the process it runs in
    code = textwrap.dedent("""
        import os, subprocess, sys
        sys.path.insert(0, sys.argv[1])
        from harness import adopt_orphans, descendants, stop_descendants
        adopt_orphans()
        # the shell exits at once, leaving its sleep an orphan
        subprocess.run(["sh", "-c", "sleep 60 &"], check=True)
        child = subprocess.Popen(["sleep", "60"])
        assert child.pid in descendants(os.getpid())
        assert len(descendants(os.getpid())) == 2
        assert stop_descendants(grace_s=5) == 2
        assert descendants(os.getpid()) == set()
        assert stop_descendants() == 0
    """)
    here = os.path.dirname(os.path.abspath(__file__))
    subprocess.run([sys.executable, "-c", code, here], check=True, timeout=60)


def test_benchmark_json_matches_what_the_command_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for metric in bench["end_to_end"]:
        assert END_TO_END[metric["name"]] == metric["unit"]
    listed = [w["name"] for w in bench["workloads"]]
    per_layer = [m["name"] for m in bench["per_layer"]]
    for name in listed:
        assert sorted(LAYERS[name]) == sorted(per_layer), name
    for metric in bench["per_layer"]:
        assert UNITS[metric["name"]] == metric["unit"]


def _write_log(path, entries):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def _write_offsets(ckpt, batch, offsets):
    path = os.path.join(ckpt, "offsets", str(batch))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n{}\n" + "".join(
            ("-" if o is None else json.dumps({"logOffset": o})) + "\n"
            for o in offsets))


def test_offset_log_maps_batches_to_file_creation_times(tmp_path):
    ckpt = str(tmp_path)
    names = [event_file_name(i, 1_700_000_000_000_000_000 + i * 500_000_000)
             for i in range(4)]
    paths = [f"file:///x/events/{n}" for n in names]
    # source offsets 0..1 rolled up into a compact file, offset 2 in its own
    # file; a second source (the join's other input) lists the same files
    for src in ("0", "1"):
        _write_log(os.path.join(ckpt, "sources", src, "1.compact"), [
            {"path": paths[0], "timestamp": 1, "batchId": 0},
            {"path": paths[1], "timestamp": 1, "batchId": 1},
            {"path": paths[2], "timestamp": 1, "batchId": 1},
        ])
        _write_log(os.path.join(ckpt, "sources", src, "2"), [
            {"path": paths[3], "timestamp": 1, "batchId": 2}])
    # query batch 1 is a watermark batch that read nothing, so query batch
    # ids run ahead of the sources' own offsets
    _write_offsets(ckpt, 0, [0, 0])
    _write_offsets(ckpt, 1, [0, 0])
    _write_offsets(ckpt, 2, [1, 1])
    _write_offsets(ckpt, 3, [2, None])
    assert batch_files(ckpt) == {0: {paths[0]}, 1: set(),
                                 2: {paths[1], paths[2]}, 3: {paths[3]}}
    newest = {b: max(created_at(p) for p in ps)
              for b, ps in batch_files(ckpt).items() if ps}
    assert newest == {
        0: pytest.approx(1_700_000_000.0),
        2: pytest.approx(1_700_000_001.0),
        3: pytest.approx(1_700_000_001.5),
    }
    assert batch_files(str(tmp_path / "missing")) == {}
    with pytest.raises(ValueError):
        created_at("file:///x/events/part-0000.parquet")


def test_commit_times_read_commit_log(tmp_path):
    d = tmp_path / "commits"
    d.mkdir()
    for b in (0, 1):
        (d / str(b)).write_text("v1\n{}\n")
    (d / ".1.crc").write_text("")
    os.utime(d / "1", (5.0, 5.0))
    got = commit_times(str(tmp_path))
    assert set(got) == {0, 1} and got[1] == 5.0
    assert commit_times(str(tmp_path / "missing")) == {}


def test_parse_metric_units():
    assert parse_metric("38 ms") == pytest.approx(0.038)
    assert parse_metric("1.2 s") == pytest.approx(1.2)
    assert parse_metric("16.0 MiB") == 16 * 1024 * 1024
    assert parse_metric("1,234") == 1234
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "5 ms (0 ms, 5 ms, 5 ms (stage 17.0: task 16))") == pytest.approx(0.005)
    assert parse_metric("(min, med, max)") == 0.0
