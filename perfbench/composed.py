"""``composed_relay``: a backlog's catch-up through the eight-store
composed relay on a cold start, then a crash and its replay.

The relay is ``start_composed_relay`` wired the way the package's entry
point wires it from its environment settings (``EngineSettings`` ->
ANN vector decode, ``er_spec_from_config``, every store path), over the
file change-event source at one file per trigger.  The backlog (one
file: the join/star dimension rows and skewed-key fact events, so
updates and deletes hit documents inserted earlier in it) is staged
before the query starts; the ANN store starts from a trained snapshot.
Timed: query start until the backlog's batch is committed.  Then the
benchmark simulates a crash after the stores committed but before
Spark's commit (stop, drop the ``commits/`` entry) and times the
restart until the replayed epoch is committed again.

One cold batch is the whole timed region: the eight stores cost 140-190
driver jobs per batch (tens of seconds on a 4-core host), and a seeded
warm batch after it does not fit the benchmark's time budget.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import nullcontext

from common import Checks, listing, next_job_id
from gen import EventMaker, write_file

BACKLOG_EVENTS = 300
SNAPSHOT_VECTORS = 200
RECOVERIES = 1  # crash/restart cycles (per-layer metric: one suffices)
# the streamed batch's census and the traced one's differ by the
# stream's own per-trigger jobs plus run-to-run jitter of a job in the
# store applies (measured: 0 to 2 apart)
STREAM_JOB_SLACK = 2
STORES = ("replica", "dedup", "bm25", "ann", "aggview", "joinview",
          "starview", "erregistry")
# composed_apply_batch keyword(s) that enable each store
STORE_KW = {
    "replica": ("replica_path",),
    "dedup": ("dedup_index_path", "dedup_flags_path"),
    "bm25": ("bm25_index_path",),
    "ann": ("ann_index_path",),
    "aggview": ("agg_view_path",),
    "joinview": ("join_view_path",),
    "starview": ("star_view_path",),
    "erregistry": ("er_registry_path",),
}


def settings(root: str):
    """The entry point's settings object, as the environment of a
    deployment with every store enabled would build it."""
    from pymongo_change_stream_reader_spark.config import EngineSettings

    p = lambda name: os.path.join(root, name)  # noqa: E731
    return EngineSettings(
        stream_reader_name="composed",
        mongo_uri="mongodb://unused",
        kafka_bootstrap_servers="unused:9092",
        full_document="updateLookup",
        commit_interval=1,
        replica_buckets=4,  # REPLICA_BUCKETS sized to a 4-core host
        checkpoint_dir=p("ckpt"),
        replica_path=p("replica"),
        dedup_index_path=p("lsh"),
        dedup_flags_path=p("flags"),
        bm25_index_path=p("bm25"),
        ann_index_path=p("ivf"),
        ann_vec_col="embedding",
        agg_view_path=p("aggview"),
        agg_group_path="$.k",
        agg_value_path="$.value_cents",
        agg_value_type="long",
        join_view_path=p("joinview"),
        star_view_path=p("starview"),
        star_view_dims=[
            {"side": "d", "fk_path": "$.fk", "dim_id_path": "$._id"},
            {"side": "e", "fk_path": "$.fk2", "dim_id_path": "$._id"},
        ],
        star_side_path="$.sside",
        er_registry_path=p("erregistry"),
        er_fields=[
            {"name": "k", "path": "$.k", "dtype": "string",
             "weight": 0.5, "scorer": "edit"},
            {"name": "value_cents", "path": "$.value_cents",
             "dtype": "long", "weight": 0.5, "scorer": "numeric"},
        ],
        er_id_path="$.rid",
        er_threshold=0.9,
        er_block_field="k",
        er_max_block=64,
    )


def wire(events, cfg):
    """(events, store keyword arguments) exactly as the entry point
    derives them: the embedding decoded out of the post-image into a
    typed column, the ER spec built from the declarative fields."""
    from pyspark.sql import functions as F

    from pymongo_change_stream_reader_spark.streaming.er_registry import (
        er_spec_from_config,
    )

    events = events.withColumn(
        "_ann_vec",
        F.from_json(
            F.get_json_object(F.col("fullDocument"), f"$.{cfg.ann_vec_col}"),
            "array<double>",
        ),
    )
    er_spec, er_field_paths = er_spec_from_config(
        cfg.er_fields, cfg.er_threshold, cfg.er_block_field,
        block_kind=cfg.er_block_kind, block_param=cfg.er_block_param,
        max_block_size=cfg.er_max_block, id_mode=cfg.er_id_mode,
    )
    kw = dict(
        replica_path=cfg.replica_path,
        dedup_index_path=cfg.dedup_index_path,
        dedup_flags_path=cfg.dedup_flags_path,
        bm25_index_path=cfg.bm25_index_path,
        n_buckets=cfg.replica_buckets,
        ann_index_path=cfg.ann_index_path,
        ann_vec_col="_ann_vec",
        ann_key_col=cfg.ann_key_col,
        ann_kind=cfg.ann_kind,
        agg_view_path=cfg.agg_view_path,
        agg_group_path=cfg.agg_group_path,
        agg_value_path=cfg.agg_value_path,
        agg_value_type=cfg.agg_value_type,
        agg_track_minmax=cfg.agg_track_minmax,
        join_view_path=cfg.join_view_path,
        join_side_path=cfg.join_side_path,
        join_fk_path=cfg.join_fk_path,
        join_dim_id_path=cfg.join_dim_id_path,
        join_join_type=cfg.join_join_type,
        star_view_path=cfg.star_view_path,
        star_view_dims=cfg.star_view_dims,
        star_side_path=cfg.star_side_path,
        star_join_type=cfg.star_join_type,
        er_registry_path=cfg.er_registry_path,
        er_spec=er_spec,
        er_id_path=cfg.er_id_path,
        er_field_paths=er_field_paths,
    )
    return events, kw


def _bootstrap_ann(spark, cfg, seed: int) -> None:
    """The ANN store starts from a trained snapshot (string ids, the
    documentKey type the relay feeds it)."""
    import random

    from pymongo_change_stream_reader_spark.operators.similarity import (
        write_ivf_index,
    )

    rng = random.Random(seed)
    rows = [
        (json.dumps({"_id": f"snap-{i}"}),
         [round(rng.uniform(-1, 1), 4) for _ in range(8)])
        for i in range(SNAPSHOT_VECTORS)
    ]
    snap = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    write_ivf_index(snap, cfg.ann_index_path, nlist=8, train_iters=1)


def _wait_commit(ckpt: str, batch: int, timeout: float = 170) -> float:
    path = os.path.join(ckpt, "commits", str(batch))
    end = time.time() + timeout
    while not os.path.exists(path):
        if time.time() > end:
            raise TimeoutError(f"batch {batch} not committed in {timeout}s")
        time.sleep(0.005)
    return os.stat(path).st_mtime_ns / 1e9


def _replica_rows(spark, cfg) -> dict[str, object]:
    from pymongo_change_stream_reader_spark.streaming.materialize import (
        read_replica,
    )

    return {r["key"]: json.loads(r["doc"])
            for r in read_replica(spark, cfg.replica_path).collect()}


def _agg_rows(spark, cfg) -> dict[str, tuple[int, int]]:
    from pymongo_change_stream_reader_spark.streaming.agg_view import (
        read_agg_view,
    )

    return {r["grp"]: (int(r["n_docs"]), int(r["sum_val"]))
            for r in read_agg_view(spark, cfg.agg_view_path).collect()
            if r["grp"] is not None}


def duckdb_expected(in_dir: str) -> tuple[dict, dict]:
    """Replica and aggregate view recomputed by DuckDB from the
    generated files: the last event per key by cluster time, deletes
    removed; then count and sum of value_cents per group."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"""
        CREATE VIEW live AS
        SELECT documentKey AS key, fullDocument AS doc FROM (
          SELECT *, row_number() OVER (
            PARTITION BY documentKey
            ORDER BY clusterTime.t DESC, clusterTime.i DESC) AS rn
          FROM read_json('{in_dir}/*.json', format='newline_delimited',
            columns={{'operationType': 'VARCHAR',
                      'clusterTime': 'STRUCT(t BIGINT, i INTEGER)',
                      'documentKey': 'VARCHAR', 'fullDocument': 'VARCHAR'}})
          WHERE operationType IN ('insert', 'update', 'replace', 'delete'))
        WHERE rn = 1 AND operationType <> 'delete'
    """)
    replica = {k: json.loads(d) for k, d in con.execute("SELECT key, doc FROM live").fetchall()}
    agg = {
        g: (int(n), int(s))
        for g, n, s in con.execute("""
            SELECT json_extract_string(doc, '$.k') AS g, count(*),
                   sum(CAST(json_extract(doc, '$.value_cents') AS BIGINT))
            FROM live WHERE json_extract_string(doc, '$.k') IS NOT NULL
            GROUP BY 1""").fetchall()
    }
    con.close()
    return replica, agg


def _only(kw: dict, store: str) -> dict:
    """The store keywords with every store but ``store`` disabled."""
    out = dict(kw)
    for s, keys in STORE_KW.items():
        if s != store:
            for k in keys:
                out[k] = None
    return out


def _read(spark, path: str):
    from pymongo_change_stream_reader_spark.sources.change_events import (
        read_change_events_json,
    )

    return read_change_events_json(spark, path)


def run(spark, work: str, seed: int, seconds: float, tracer=None) -> dict:
    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.composed_relay import (
        composed_apply_batch,
        start_composed_relay,
    )

    span = tracer.span if tracer else (lambda name, batch=None: nullcontext())
    root = os.path.join(work, "composed")
    d = {k: os.path.join(root, k) for k in ("in", "stage")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    cfg = settings(root)
    ckpt = cfg.checkpoint_location
    maker = EventMaker(seed)
    backlog = maker.dims(time.time()) + [
        maker.event(time.time()) for _ in range(BACKLOG_EVENTS)
    ]
    write_file(d["stage"], d["in"], "backlog.json",
               [json.dumps(e) for e in backlog])

    t_setup = time.perf_counter()
    with span("composed.setup"):
        _bootstrap_ann(spark, cfg, seed)
        events, kw = wire(stream_change_events_json(spark, d["in"]), cfg)
    setup_part_s = time.perf_counter() - t_setup

    def start():
        return start_composed_relay(
            events, ckpt, trigger_interval=f"{cfg.commit_interval} seconds", **kw
        )

    # the backlog's catch-up: query start until its batch is committed
    with span("composed.catchup"):
        j0 = next_job_id(spark)
        t0 = time.time()
        q = start()
        try:
            catchup_s = _wait_commit(ckpt, 0) - t0
        finally:
            q.stop()
            q.awaitTermination(60)
        jobs = next_job_id(spark) - j0

    # crash after every store committed epoch 0, before Spark's commit:
    # drop the commits/ entry and time the restart until it is back;
    # the stores' read-back must not change across the replays
    before = {s: listing(kw[STORE_KW[s][0]]) for s in STORES[1:]}
    replica_before = _replica_rows(spark, cfg)
    recoveries = []
    with span("composed.recovery"):
        for _ in range(RECOVERIES):
            for name in ("0", ".0.crc"):
                p = os.path.join(ckpt, "commits", name)
                if os.path.exists(p):
                    os.remove(p)
            t0 = time.time()
            q = start()
            try:
                recoveries.append(_wait_commit(ckpt, 0) - t0)
            finally:
                q.stop()
                q.awaitTermination(60)

    checks = Checks()
    probe = {}
    with span("composed.check"):
        for s in before:
            checks.expect(before[s] == listing(kw[STORE_KW[s][0]]),
                          f"{s}: files changed by the replay")
        replica = _replica_rows(spark, cfg)
        checks.expect(replica == replica_before,
                      "replica: read-back changed by the replay")
        want_replica, want_agg = duckdb_expected(d["in"])
        checks.expect(replica == want_replica,
                      f"replica != DuckDB recompute ({len(replica)} vs "
                      f"{len(want_replica)} keys)")
        agg = _agg_rows(spark, cfg)
        checks.expect(agg == want_agg,
                      f"aggview != DuckDB recompute: {agg} vs {want_agg}")
        # every store with a marker or epoch pointer reports the epoch
        # as replayed (the replica has none: its LWW merge is
        # idempotent, and its read-back above held).  The traced run
        # asks each store alone, to time its probe.
        replay_batch = wire(_read(spark, d["in"]), cfg)[0]
        if tracer is None:
            out = composed_apply_batch(replay_batch, 0, ckpt,
                                       **{**kw, "replica_path": None})
        else:
            out = {}
            for s in STORES:
                with span(f"store.{s}.replay_probe") as sp:
                    out[s] = composed_apply_batch(
                        replay_batch, 0, ckpt, **_only(kw, s))[s]
                probe[s] = sp["end"] - sp["start"]
            checks.expect(_replica_rows(spark, cfg) == replica_before,
                          "replica: read-back changed by a re-apply")
        for s in STORES[1:]:
            checks.expect(out[s] == "replayed-skip",
                          f"{s}: replay outcome {out[s]!r}")

    layers = {f"store.{s}.replay_probe_s": v for s, v in probe.items()}
    layers["composed.jobs_per_batch"] = jobs
    layers["composed.batch_s"] = catchup_s
    layers["composed.recovery_s"] = statistics.median(recoveries)
    if tracer is not None:
        layers.update(traced_batch(spark, tracer, work, seed, d["in"],
                                   catchup_s, jobs, checks))
    return {
        "setup_part_s": setup_part_s,
        "metrics": {"events_per_s": len(backlog) / catchup_s},
        "attempted": checks.run,
        "failed": len(checks.errors),
        "check_errors": checks.errors,
        "layers": layers,
        "info": {
            "catchup_s": catchup_s,
            "backlog_events": len(backlog),
            "recoveries_s": recoveries,
        },
    }


def _store_calls(pinned, shared, epoch: int, kw: dict) -> dict:
    """Each store's batch function with the arguments
    ``composed_apply_batch`` passes it (its defaults: text and key
    columns, 16 buckets, LSH 32 hashes x 8 bands over 3-shingles,
    retain 2), in its order."""
    from pymongo_change_stream_reader_spark.streaming.agg_view import agg_view_batch
    from pymongo_change_stream_reader_spark.streaming.ann_relay import ann_ingest_batch
    from pymongo_change_stream_reader_spark.streaming.dedup_relay import dedup_flag_batch
    from pymongo_change_stream_reader_spark.streaming.er_registry import (
        er_registry_cdc_batch,
    )
    from pymongo_change_stream_reader_spark.streaming.index_relay import bm25_ingest_batch
    from pymongo_change_stream_reader_spark.streaming.join_view import join_view_batch
    from pymongo_change_stream_reader_spark.streaming.materialize import (
        materialize_change_batch,
    )
    from pymongo_change_stream_reader_spark.streaming.star_view import (
        DimSide,
        star_view_batch,
    )

    nb, text, key = kw["n_buckets"], "fullDocument", "documentKey"
    # the batch carries updateDescription, so the replica takes its
    # delta path and reduces on its own, as in the composed relay
    return {
        "replica": lambda: materialize_change_batch(
            pinned, kw["replica_path"], nb, retain=2, return_df=False),
        "dedup": lambda: dedup_flag_batch(
            pinned, kw["dedup_index_path"], kw["dedup_flags_path"], text, key,
            32, 8, 3, epoch_id=epoch, scope="traced"),
        "bm25": lambda: bm25_ingest_batch(pinned, kw["bm25_index_path"], text, key),
        "ann": lambda: ann_ingest_batch(
            pinned, kw["ann_index_path"], kw["ann_vec_col"],
            kw["ann_key_col"] or key, kw["ann_kind"]),
        "aggview": lambda: agg_view_batch(
            pinned, kw["agg_view_path"], epoch,
            group_path=kw["agg_group_path"], value_path=kw["agg_value_path"],
            value_type=kw["agg_value_type"], n_buckets=nb, retain=2,
            track_minmax=kw["agg_track_minmax"], reduced=shared),
        "joinview": lambda: join_view_batch(
            pinned, kw["join_view_path"], epoch, side_path=kw["join_side_path"],
            fk_path=kw["join_fk_path"], dim_id_path=kw["join_dim_id_path"],
            n_buckets=nb, retain=2, join_type=kw["join_join_type"],
            reduced=shared),
        "starview": lambda: star_view_batch(
            pinned, kw["star_view_path"], epoch,
            [DimSide(**x) for x in kw["star_view_dims"]],
            side_path=kw["star_side_path"], n_buckets=nb, retain=2,
            join_type=kw["star_join_type"], reduced=shared),
        "erregistry": lambda: er_registry_cdc_batch(
            pinned, kw["er_registry_path"], epoch, kw["er_spec"],
            id_path=kw["er_id_path"], field_paths=kw["er_field_paths"],
            n_buckets=nb, retain=2, reduced=shared),
    }


def traced_batch(spark, tracer, work, seed, backlog_dir, stream_wall,
                 stream_jobs, checks) -> dict:
    """The per-layer run: the same backlog applied again, into a second
    set of fresh stores, by pinning it, calling ``reduce_batch_shared``
    and then each store's batch function one at a time, in
    ``composed_apply_batch``'s order — the traced single-threaded
    baseline of the batch the stream applied.  Same input, same (empty)
    store state: its job count matches the streamed batch's census up
    to STREAM_JOB_SLACK."""
    from pymongo_change_stream_reader_spark.streaming.materialize import (
        reduce_batch_shared,
    )

    cfg = settings(os.path.join(work, "traced"))
    _bootstrap_ann(spark, cfg, seed)
    frame, kw = wire(_read(spark, backlog_dir), cfg)
    out = {}
    with tracer.span("composed.traced_batch", batch=0) as root:
        with tracer.span("composed.pin", batch=0) as sp:
            pinned = frame.localCheckpoint(eager=False)
            pinned.count()
        out["composed.pin_s"] = sp["end"] - sp["start"]
        with tracer.span("composed.reduce", batch=0) as sp:
            shared = reduce_batch_shared(pinned).localCheckpoint(eager=True)
        out["composed.reduce_s"] = sp["end"] - sp["start"]
        for s, call in _store_calls(pinned, shared, 0, kw).items():
            path = kw[STORE_KW[s][0]]
            files0 = listing(path)
            with tracer.span(f"store.{s}", batch=0) as sp:
                call()
            files1 = listing(path)
            out[f"store.{s}.wall_s"] = sp["end"] - sp["start"]
            out[f"store.{s}.jobs_per_batch"] = sp["jobs"]
            out[f"store.{s}.files_written"] = len(files1.keys() - files0.keys())
            out[f"store.{s}.state_bytes"] = sum(files1.values())
    wall = root["end"] - root["start"]
    gap = tracer.self_times()[root["id"]]
    store_walls = sum(out[f"store.{s}.wall_s"] for s in STORES)
    out["composed.overlap_ratio"] = store_walls / stream_wall
    out["composed.traced_batch_s"] = wall
    out["composed.traced_jobs_per_batch"] = root["jobs"]
    out["composed.unaccounted_s"] = gap
    checks.expect(abs(stream_jobs - root["jobs"]) <= STREAM_JOB_SLACK,
                  f"job census: stream {stream_jobs} vs traced {root['jobs']}, "
                  f"more than {STREAM_JOB_SLACK} apart")
    checks.expect(gap <= 0.05 * wall,
                  f"traced batch: {gap:.3f}s of {wall:.3f}s outside every layer span")
    return out
