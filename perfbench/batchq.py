"""The batch query surface, timed in the traced ``relay_stream`` run.

The headline queries that read only the change-event table run over
an ``events`` table generated from the seed: one untimed pass, then
one traced pass (one span per query, its driver jobs counted), each
result checked against the query's DuckDB oracle.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random

QUERIES = (
    "cdc_envelope",
    "cdc_op_counts",
    "cdc_replica_table",
    "pipeline_match_project",
    "pipeline_addfields_compute",
    "pipeline_group_agg",
    "pipeline_set_window_fields",
)
N_EVENTS = 2000


def write_events_table(sf_dir: str, seed: int) -> None:
    """``events`` in the layout the query loaders read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    t0 = dt.datetime(2024, 1, 1)
    ts = sorted(rng.uniform(0, 30 * 86400) for _ in range(N_EVENTS))
    types = ("signup", "purchase", "click", "error", "view")
    table = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(seconds=s) for s in ts], pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(N_EVENTS // 20) for _ in ts], pa.int64()),
        "event_type": [rng.choice(types) for _ in ts],
        "value": [round(rng.uniform(1, 200), 2) for _ in ts],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in ts],
    })
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))


def _norm(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, dt.datetime):
        return f"ts:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def _rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def run(spark, tracer, work: str, seed: int) -> tuple[dict, list[str]]:
    """Per-query seconds and per-module job counts, plus check errors."""
    import duckdb

    from pymongo_change_stream_reader_spark.queries import (
        oracle_sqls,
        release_caches,
        spark_queries,
    )

    sf_dir = os.path.join(work, "sf")
    write_events_table(sf_dir, seed)
    qs, oracles = spark_queries(), oracle_sqls()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    for name in QUERIES:  # untimed pass: codegen, listing
        qs[name](spark, sf_dir).count()
        release_caches(spark)
    layers: dict[str, float] = {}
    errors: list[str] = []
    for name in QUERIES:
        with tracer.span(f"query.{name}") as sp:
            df = qs[name](spark, sf_dir)
            got = df.collect()
        release_caches(spark)
        layers[f"query.{name}.s"] = sp["end"] - sp["start"]
        module = qs[name].__module__.rsplit(".", 1)[-1]
        key = f"queries.{module}.jobs"
        layers[key] = layers.get(key, 0) + sp["jobs"]
        want = con.sql(oracles[name])
        if _rows(df.columns, got) != _rows([d[0] for d in want.description],
                                          want.fetchall()):
            errors.append(f"query {name}: result differs from its DuckDB oracle")
    con.close()
    layers["queries.total_s"] = sum(
        layers[f"query.{n}.s"] for n in QUERIES)
    return layers, errors
