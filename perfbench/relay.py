"""``relay_stream``: the CDC relay under an open-loop load.

The relay is ``build_relay`` (user pipeline ``$match`` + ``$set``,
op filter, Debezium envelope, per-collection topic routing) over the
file change-event source, into the exactly-once parquet sink
(``start_parquet_relay``) — the Kafka stand-in, as no broker runs
offline.  A separate generator process (``gen.py``) writes one file
per tick at a ladder of fixed offered rates; an event's latency is the
time its micro-batch's ``commits/`` entry landed minus the time the
event was due.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

from common import file_latencies, listing, summary
from gen import RelayEvents, write_file

PIPELINE = json.dumps(
    [{"$match": {"ns.db": "appdb"}}, {"$set": {"relayedBy": "perfbench"}}]
)
# The open-loop schedule: (phase, offered events/s, share of --seconds),
# one file per TICK_S.  Rates are set from the relay's measured trigger
# costs on 3 Spark cores of a 4-core host, with the generator on the
# fourth: a trigger took 0.6-0.8 s at 100-200 rows, 0.65-1.3 s at
# 11k-40k rows and 1.5-1.7 s at 158k-177k rows (a floor of ~0.7 s plus
# ~5 us a row).  ``low`` (~150 rows a trigger) is the floor; ``high``
# carries 11k-40k rows a trigger, where the per-row cost is a third of
# the trigger; ``burst`` (150k events in 1 s, ~150k rows a trigger, the
# per-row regime) is beyond what one thread generates live (12 us an
# event) and is made ahead.  A 1 s burst kept its tail at 1.9-2.7 s,
# about the limit; a burst long enough to outrun the relay's ~100k
# rows/s does not fit the run.  ``warm`` is untimed: it moves the JIT
# onto the large-batch path before ``high`` and absorbs the step from
# ``low``.
SCHEDULE = (("low", 200.0, 0.15), ("warm", 20000.0, None),
            ("high", 20000.0, 0.75), ("burst", 150000.0, 0.1))
WARM_S = 1.5
TICK_S = 0.1  # one file per tick
TAIL_LIMIT_S = 2.5  # about three per-trigger floors
CATCHUP_FILES, CATCHUP_PER_FILE = 10, 5000  # backlog staged per crash
RECOVERIES = 3  # crash/restart cycles: events_per_s is their median


def _start(spark, src: str, ckpt: str, sink: str):
    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.job import (
        RelaySettings,
        start_parquet_relay,
    )

    settings = RelaySettings(
        stream_reader_name="relay",
        kafka_prefix="bench",
        checkpoint_dir=ckpt,
        pipeline=PIPELINE,
    )
    # take every file present at each trigger: the stream keeps up
    # instead of draining one tick per trigger
    events = stream_change_events_json(spark, src, max_files_per_trigger=10**6)
    return start_parquet_relay(events, settings, sink), settings


def _dirs(root: str) -> dict[str, str]:
    d = {k: os.path.join(root, k) for k in ("in", "stage", "ckpt", "sink")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    return d


def _wait_for(path: str, timeout: float) -> float:
    end = time.time() + timeout
    while not os.path.exists(path):
        if time.time() > end:
            raise TimeoutError(f"{path} did not appear in {timeout}s")
        time.sleep(0.005)
    return time.time()


def _stop(q) -> None:
    q.stop()
    q.awaitTermination(60)


def read_source_log(ckpt_loc: str) -> dict[int, list[str]]:
    """batch id -> input file names, from the file source's metadata
    log (plain and ``.compact`` entries alike)."""
    out: dict[int, set[str]] = {}
    root = os.path.join(ckpt_loc, "sources", "0")
    for name in os.listdir(root):
        if name.startswith("."):
            continue
        with open(os.path.join(root, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(int(e["batchId"]), set()).add(
                        os.path.basename(e["path"])
                    )
    return {b: sorted(f) for b, f in out.items()}


def read_commit_times(ckpt_loc: str) -> dict[int, float]:
    root = os.path.join(ckpt_loc, "commits")
    return {
        int(n): os.stat(os.path.join(root, n)).st_mtime_ns / 1e9
        for n in os.listdir(root)
        if n.isdigit()
    }


def drop_commit(ckpt_loc: str, batch: int) -> None:
    """Remove a batch's commit entry and its checksum file, as a crash
    between the sink's write and Spark's commit would leave it."""
    for name in (str(batch), f".{batch}.crc"):
        p = os.path.join(ckpt_loc, "commits", name)
        if os.path.exists(p):
            os.remove(p)


def _backlog_max(manifest: list[dict], commits: dict[int, float],
                 batch_files: dict[int, list[str]]) -> int:
    """Largest count of written-but-uncommitted events at any moment."""
    n_of = {m["file"]: m["n"] for m in manifest}
    steps = [(m["written"], m["n"]) for m in manifest]
    for b, files in batch_files.items():
        if b in commits:
            steps.append((commits[b], -sum(n_of.get(f, 0) for f in files)))
    level = peak = 0
    for _t, dn in sorted(steps):
        level += dn
        peak = max(peak, level)
    return peak


def _phase_stats(manifest, commits, batch_files):
    """Latency per ladder phase, over the whole phase, one sample per
    input file (a file's events share its due time and its batch's
    commit): the median and the tail of ``summary``.  Also whether the
    phase's backlog grew (its last third waited clearly longer than its
    first third)."""
    lat = file_latencies(commits, batch_files,
                         {m["file"]: m["due"] for m in manifest})
    stats = {}
    for i, (name, rate, share) in enumerate(SCHEDULE):
        if share is None:
            continue
        xs = [lat[m["file"]] for m in manifest
              if m["phase"] == i and m["file"] in lat]
        third = max(1, len(xs) // 3)
        growing = (statistics.median(xs[-third:])
                   > 1.5 * statistics.median(xs[:third]) + 0.5)
        s = summary(xs)
        stats[name] = {
            **s,
            "rate": rate,
            "growing": growing,
            "meets_limit": s["tail"] <= TAIL_LIMIT_S and not growing,
        }
    return stats


def _translate_ms(spark, repeats: int = 20) -> float:
    """Median wall of translating the relay's user pipeline onto a
    change-event frame (the plan is built, not run)."""
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        translate_pipeline,
    )
    from pymongo_change_stream_reader_spark.schema import CHANGE_EVENT_SCHEMA

    frame = spark.createDataFrame([], CHANGE_EVENT_SCHEMA)
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        translate_pipeline(PIPELINE)(frame).schema  # noqa: B018 (forces analysis)
        walls.append(1000 * (time.perf_counter() - t0))
    return statistics.median(walls)


def _read_progress(path: str, want: set[int]) -> dict[int, dict]:
    """batch id -> the progress row of each batch that read data,
    waiting for the rows of ``want`` (listener events arrive
    asynchronously)."""
    end = time.time() + 30
    while True:
        out = {}
        with open(path) as fh:
            for line in fh:
                r = json.loads(line)
                if r.get("event") == "progress" and r.get("numInputRows"):
                    out[r["batchId"]] = r
        if want <= set(out) or time.time() > end:
            return out
        time.sleep(0.05)


def _check_sink(spark, d: dict, settings) -> tuple[int, int]:
    """Compare the sink's (topic, key, value) multiset against a batch
    ``build_relay`` over the same files.  Returns (expected records,
    missing + duplicated records)."""
    from pyspark.sql import functions as F

    from pymongo_change_stream_reader_spark.sources.change_events import (
        read_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.job import build_relay

    cols = ["topic", "key", "value"]
    want = build_relay(read_change_events_json(spark, d["in"]), settings)
    got = spark.read.parquet(d["sink"]).select(*cols)
    a = want.select(*cols).groupBy(*cols).agg(F.count("*").alias("w"))
    b = got.groupBy(*cols).agg(F.count("*").alias("g"))
    diff = (
        a.join(b, cols, "full_outer")
        .select(F.abs(F.coalesce("w", F.lit(0)) - F.coalesce("g", F.lit(0))).alias("d"),
                F.coalesce("w", F.lit(0)).alias("w"))
        .agg(F.sum("w").alias("n"), F.sum("d").alias("bad"))
        .first()
    )
    return int(diff["n"] or 0), int(diff["bad"] or 0)


def run(spark, work: str, seed: int, seconds: float, tracer=None) -> dict:
    """One measured run; returns the metrics, the check outcome and
    the per-layer figures."""
    from pymongo_change_stream_reader_spark.streaming.metrics import (
        attach_metrics_recorder,
    )

    span = tracer.span if tracer else (lambda name, batch=None: nullcontext())
    d = _dirs(os.path.join(work, "timed"))
    progress_log = os.path.join(work, "progress.jsonl")
    rec = attach_metrics_recorder(spark, progress_log)
    # set-up: the relay starts cold and relays one file
    warm_lines, warm_out = RelayEvents(seed + 7919).batch(300, time.time())
    write_file(d["stage"], d["in"], "warm.json", warm_lines)
    t0 = time.perf_counter()
    q, settings = _start(spark, d["in"], d["ckpt"], d["sink"])
    ckpt = settings.checkpoint_location
    _wait_for(os.path.join(ckpt, "commits", "0"), 170)
    setup_s = time.perf_counter() - t0
    phases = ",".join(
        f"{rate}:{WARM_S if share is None else seconds * share}"
        for _n, rate, share in SCHEDULE)
    manifest_path = os.path.join(work, "manifest.json")
    start = time.time() + 0.5
    gen = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
        "--seed", str(seed), "--out", d["in"], "--stage", d["stage"],
        "--manifest", manifest_path, "--start", repr(start),
        "--tick", str(TICK_S), "--phases", phases,
    ])
    try:
        with span("relay.open_loop"):
            gen.wait(timeout=WARM_S + seconds + 60)
            if gen.returncode != 0:
                raise RuntimeError(f"generator exited {gen.returncode}")
            with span("relay.drain"):
                q.processAllAvailable()
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        _stop(q)
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    commits = read_commit_times(ckpt)
    batch_files = read_source_log(ckpt)
    progress = _read_progress(progress_log, set(commits))
    stats = _phase_stats(manifest, commits, batch_files)

    # crash cycles: drop the last commits/ entry, as a crash after the
    # sink committed but before Spark's commit leaves it; while the
    # relay is down a backlog builds up.  Time the restart until the
    # dropped commit is back, then the backlog's catch-up (the engine's
    # trigger time for the batches that read it).
    maker = RelayEvents(seed + 1)
    backlog_out = 0
    recoveries, catchups = [], []
    with span("relay.recovery"):
        for cycle in range(RECOVERIES):
            files, n = set(), 0
            for i in range(CATCHUP_FILES):
                lines, n_out = maker.batch(CATCHUP_PER_FILE, time.time())
                n += n_out
                name = f"backlog{cycle}-{i:03d}.json"
                write_file(d["stage"], d["in"], name, lines)
                files.add(name)
            backlog_out += n
            last = max(read_commit_times(ckpt))
            drop_commit(ckpt, last)
            t0 = time.time()
            q, _ = _start(spark, d["in"], d["ckpt"], d["sink"])
            try:
                recoveries.append(
                    _wait_for(os.path.join(ckpt, "commits", str(last)), 120) - t0)
                q.processAllAvailable()
            finally:
                _stop(q)
            batches = {b for b, fs in read_source_log(ckpt).items() if files & set(fs)}
            rows = _read_progress(progress_log, batches)
            catchups.append((n, sum(
                rows[b]["durationMs"]["triggerExecution"] / 1000.0 for b in batches)))
    spark.streams.removeListener(rec)

    with span("relay.check"):
        expected, bad = _check_sink(spark, d, settings)
    errors: list[str] = []
    traced: dict = {}
    if tracer is not None:
        import batchq

        traced["pipeline.translate_ms"] = _translate_ms(spark)
        with span("queries"):
            more, errors = batchq.run(spark, tracer, work, seed)
        traced.update(more)
    n_out = sum(m["n_out"] for m in manifest)
    sustained = max(
        [s["rate"] for s in stats.values() if s["meets_limit"]], default=0.0
    )
    lag = [m["written"] - m["due"] for m in manifest]
    # per-trigger figures over the measured phases only
    measured = {m["file"] for m in manifest
                if SCHEDULE[m["phase"]][2] is not None}
    progress = {b: p for b, p in progress.items()
                if measured & set(batch_files.get(b, []))}
    files_per_trigger = [len(batch_files[b]) for b in progress]

    def med(key):
        vals = [p["durationMs"].get(key, 0) for p in progress.values()]
        return statistics.median(vals) if vals else 0.0

    layers = {
        "sources.latest_offset_ms": med("latestOffset"),
        "sources.get_batch_ms": med("getBatch"),
        "sources.backlog_events_max": _backlog_max(manifest, commits, batch_files),
        "gen.lag_s": max(lag),
        "relay.query_planning_ms": med("queryPlanning"),
        "relay.add_batch_ms": med("addBatch"),
        "relay.wal_commit_ms": med("walCommit"),
        "relay.commit_offsets_ms": med("commitOffsets"),
        "relay.trigger_ms": med("triggerExecution"),
        "relay.rows_per_trigger": statistics.median(
            [p["numInputRows"] for p in progress.values()] or [0]),
        "relay.triggers": len(progress),
        "relay.files_per_trigger": statistics.median(files_per_trigger or [0]),
        "relay.sink_files": len(listing(d["sink"])),
    }
    for name, s in stats.items():
        layers[f"relay.{name}.latency_p50_s"] = s["p50"]
        layers[f"relay.{name}.latency_tail_s"] = s["tail"]
    layers["relay.max_sustained_events_per_s"] = sustained
    layers["relay.recovery_s"] = statistics.median(recoveries)
    layers.update(traced)
    return {
        "setup_part_s": setup_s,
        "metrics": {
            "events_per_s": statistics.median(n / t for n, t in catchups),
        },
        "attempted": expected,
        "failed": bad + abs(expected - warm_out - n_out - backlog_out),
        "check_errors": errors,
        "layers": layers,
        "info": {
            "phases": stats,
            "tail_limit_s": TAIL_LIMIT_S,
            "max_sustained_events_per_s": sustained,
            "recoveries_s": recoveries,
            "catchup_events_per_s": [n / t for n, t in catchups],
            "generator_lag_s_max": max(lag),
            "sink_records_expected": expected,
            "generator_records": warm_out + n_out + backlog_out,
        },
    }

