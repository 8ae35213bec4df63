"""Tests of the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import Checks, file_latencies, percentile, summary  # noqa: E402
from gen import EventMaker, RelayEvents, _Ahead, run_schedule, write_file  # noqa: E402
from relay import (  # noqa: E402
    _backlog_max,
    _phase_stats,
    drop_commit,
    read_commit_times,
    read_source_log,
)


def test_same_seed_same_events():
    a, b, c = RelayEvents(5), RelayEvents(5), RelayEvents(6)
    ea = a.batch(500, 1.0)
    assert ea == b.batch(500, 1.0)
    assert ea != c.batch(500, 1.0)
    ma, mb, mc = EventMaker(5), EventMaker(5), EventMaker(6)
    ea = [ma.event(1.0) for _ in range(500)]
    assert ea == [mb.event(1.0) for _ in range(500)]
    assert ea != [mc.event(1.0) for _ in range(500)]


def _check_update_chain(events, key_of):
    """Updates and deletes follow a live document; an update's
    post-image is its pre-image with the updated fields applied."""
    live = set()
    for ev in events:
        if ev["operationType"] == "drop":
            continue
        key = (ev["ns"]["db"], ev["ns"]["coll"], ev["documentKey"])
        if ev["operationType"] == "insert":
            assert key not in live
            live.add(key)
        else:
            assert key in live
            before = json.loads(ev["fullDocumentBeforeChange"])
            assert key_of(before) == json.loads(ev["documentKey"])["_id"]
            if ev["operationType"] == "delete":
                live.discard(key)
        if ev["operationType"] == "update":
            after = json.loads(ev["fullDocument"])
            changed = json.loads(ev["updateDescription"]["updatedFields"])
            assert after == {**before, **changed}
    return live


def test_updates_and_deletes_follow_a_live_document():
    m = EventMaker(3)
    _check_update_chain([m.event(1.0) for _ in range(2000)], lambda d: d["rid"])
    lines, _ = RelayEvents(3).batch(20000, 1.0)
    _check_update_chain([json.loads(x) for x in lines], lambda d: d["_id"])


def test_relay_mix_covers_ops_id_types_and_collections():
    lines, n_out = RelayEvents(11).batch(3000, 1.0)
    evs = [json.loads(x) for x in lines]
    assert {e["operationType"] for e in evs} == {
        "insert", "update", "replace", "delete", "drop"}
    assert {e["ns"]["coll"] for e in evs} == {"users", "orders", "items", "audit"}
    id_types = {
        type(json.loads(e["documentKey"])["_id"]).__name__
        for e in evs if "documentKey" in e
    }
    assert id_types == {"dict", "int", "str"}  # ObjectId/compound are dicts
    assert any(e["ns"]["db"] == "scratch" for e in evs)
    assert n_out == sum(e["ns"]["db"] == "appdb" and e["operationType"] != "drop"
                        for e in evs)


def test_schedule_is_a_function_of_the_seed(tmp_path):
    start = time.time() - 100  # all due already: no waiting
    outs = []
    for run in ("a", "b"):
        out, stage = tmp_path / run / "in", tmp_path / run / "stage"
        out.mkdir(parents=True)
        stage.mkdir()
        man = run_schedule(9, str(out), str(stage), start, 0.1, [(50, 0.5), (200, 0.5)])
        assert not os.listdir(stage)  # every file renamed in
        outs.append((
            {f: (out / f).read_text() for f in sorted(os.listdir(out))},
            [(m["file"], m["phase"], m["n"], m["n_out"]) for m in man],
        ))
    assert outs[0] == outs[1]
    files, man = outs[0]
    assert [m[2] for m in man] == [5] * 5 + [20] * 5


def test_files_made_ahead_in_chunks_match_files_made_whole():
    ticks = [(0, 10, 1.0), (1, 2500, 1.1), (1, 2500, 1.2)]
    ahead = _Ahead(RelayEvents(4), ticks)
    for _ in range(4):  # file 0 whole, file 1 in chunks of 1000, 1000, 500
        ahead.step()
    assert ahead.next == 2 and ahead.buffered == 2510
    got = [ahead.take(i) for i in range(3)]
    ref = RelayEvents(4)
    assert got == [ref.batch(n, due) for _phase, n, due in ticks]
    assert ahead.buffered == 0


def test_write_file_renames_into_place(tmp_path):
    (tmp_path / "in").mkdir()
    (tmp_path / "stage").mkdir()
    write_file(str(tmp_path / "stage"), str(tmp_path / "in"), "f.json", ['{"a": 1}'])
    assert os.listdir(tmp_path / "stage") == []
    assert (tmp_path / "in" / "f.json").read_text() == '{"a": 1}\n'


def _synthetic_checkpoint(root, commits: dict[int, float], batches: dict[int, list[str]]):
    src = root / "sources" / "0"
    src.mkdir(parents=True)
    (root / "commits").mkdir()
    # batch 0 in a compacted entry, the rest plain, as the file source
    # log leaves them
    for b, files in batches.items():
        name = f"{b}.compact" if b == 0 else str(b)
        lines = ["v1"] + [
            json.dumps({"path": f"file:///x/in/{f}", "timestamp": 1, "batchId": b})
            for f in files
        ]
        (src / name).write_text("\n".join(lines))
    for b, t in commits.items():
        p = root / "commits" / str(b)
        p.write_text("v1\n{}")
        os.utime(p, (t, t))
        (root / "commits" / f".{b}.crc").write_text("")


def test_latency_from_a_synthetic_commit_log(tmp_path):
    _synthetic_checkpoint(
        tmp_path,
        commits={0: 1000.5, 1: 1001.25},
        batches={0: ["a", "b"], 1: ["c"], 2: ["d"]},  # 2 never committed
    )
    commits = read_commit_times(str(tmp_path))
    batches = read_source_log(str(tmp_path))
    assert batches == {0: ["a", "b"], 1: ["c"], 2: ["d"]}
    due = {"a": 1000.0, "b": 1000.25, "c": 1001.0, "d": 1001.1}
    lat = {f: round(v, 6) for f, v in file_latencies(commits, batches, due).items()}
    assert lat == {"a": 0.5, "b": 0.25, "c": 0.25}
    drop_commit(str(tmp_path), 1)
    assert sorted(os.listdir(tmp_path / "commits")) == [".0.crc", "0"]


def test_backlog_peak():
    manifest = [
        {"file": "a", "written": 0.0, "n": 10},
        {"file": "b", "written": 1.0, "n": 10},
        {"file": "c", "written": 3.0, "n": 10},
    ]
    # a+b committed at 2.0, c at 4.0
    assert _backlog_max(manifest, {0: 2.0, 1: 4.0}, {0: ["a", "b"], 1: ["c"]}) == 20


def test_summary_labels_the_tail_by_sample_support():
    xs = [float(i) for i in range(1, 1001)]
    s = summary(xs)
    assert s["tail_label"] == "p99" and s["n"] == 1000
    assert s["tail"] == pytest.approx(percentile(xs, 99.0))
    assert s["p50"] == 500.5
    assert summary(xs[:120])["tail_label"] == "p90"  # 12 beyond it
    assert summary(xs[:99])["tail_label"] == "p80"
    small = summary([3.0, 1.0, 2.0])
    assert small["tail_label"] == "max" and small["tail"] == 3.0


def _open_loop(stalled=(), growth=0.0):
    """Synthetic manifest + commit log: 1 s at the low rate in one
    batch, (no warm phase,) 6 s of 0.05 s files at the high rate in
    batches of ten committed 0.4 s after their last file was due, then
    1 s at the burst rate."""
    manifest, commits, batches = [], {100: 92.0, 200: 110.0}, {100: [], 200: []}
    for i in range(20):
        manifest.append({"file": f"l{i}", "phase": 0, "due": 90 + i * 0.05,
                         "written": 90 + i * 0.05, "n": 10, "n_out": 9})
        batches[100].append(f"l{i}")
    for i in range(120):
        manifest.append({"file": f"f{i}", "phase": 2, "due": 100 + i * 0.05,
                         "written": 100 + i * 0.05, "n": 1000, "n_out": 900})
        batches.setdefault(i // 10, []).append(f"f{i}")
    for i in range(20):
        manifest.append({"file": f"o{i}", "phase": 3, "due": 106 + i * 0.05,
                         "written": 106 + i * 0.05, "n": 2000, "n_out": 1800})
        batches[200].append(f"o{i}")
    for b in range(12):
        commits[b] = 100 + b * 0.5 + 0.45 + 0.4 + growth * b
        if b in stalled:
            commits[b] += 3.0
    return manifest, commits, batches


def test_phase_latency_over_files():
    calm = _phase_stats(*_open_loop())
    high = calm["high"]
    assert high["n"] == 120 and high["tail_label"] == "p90"
    # files wait 0.4 s (last of a batch) to 0.85 s (first)
    assert high["p50"] == pytest.approx(0.625)
    assert high["tail"] == pytest.approx(0.805)
    assert not high["growing"] and high["meets_limit"]
    assert calm["burst"]["tail_label"] == "max"
    assert calm["burst"]["tail"] == pytest.approx(110 - 106)
    assert not calm["burst"]["meets_limit"]


def test_a_stall_shows_in_the_tail():
    # a stall holds back every file due while it lasts: here 1.5 s of
    # input, 30 of the phase's 120 files, wait 3 s longer; the median
    # hardly moves, the tail (p90: 12 files beyond) takes the stall
    calm = _phase_stats(*_open_loop())["high"]
    stalled = _phase_stats(*_open_loop(stalled=(2, 3, 4)))["high"]
    assert stalled["p50"] == pytest.approx(calm["p50"], abs=0.1)
    assert stalled["tail"] > calm["tail"] + 2.5
    assert not stalled["meets_limit"]


def test_growing_backlog_fails_the_limit():
    grown = _phase_stats(*_open_loop(growth=0.3))["high"]
    assert grown["growing"] and not grown["meets_limit"]


def test_checks_count_what_ran():
    c = Checks()
    c.expect(True, "a")
    c.expect(False, "b")
    assert (c.run, c.errors) == (2, ["b"])


def test_supervisor_stops_an_orphaned_grandchild():
    """A process the measurement leaves behind, even one whose parent
    has exited, is inherited and stopped before the supervisor returns.
    Run in its own interpreter: becoming a subreaper is process-wide."""
    script = f"""
import ctypes, subprocess, sys, time
sys.path.insert(0, {HERE!r})
import run
ctypes.CDLL(None).prctl(run.PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
run.EXIT_GRACE_S, run.KILL_AFTER_S = 0.5, 0.5
subprocess.run([sys.executable, "-c",
                "import subprocess; subprocess.Popen(['sleep', '60'])"],
               check=True)
assert run._descendants(), "the orphaned sleep was not inherited"
t0 = time.monotonic()
assert run._stop_descendants() == []
assert not run._descendants()
print(time.monotonic() - t0)
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert float(out.stdout) < 5
