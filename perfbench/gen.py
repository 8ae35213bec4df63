"""Change-event generator: the stand-in for the Mongo change stream.

Two shapes, both a pure function of the seed:

- ``RelayEvents``: the reference's mix of insert / update / replace /
  delete / drop, ``_id`` as ObjectId, int, string or a compound
  document, spread over four collections (so routing fans out to four
  topics) plus a ``scratch`` database the relay's user pipeline filters
  away.  Events are serialized straight to JSON lines (about 12 us an
  event, a quarter of building dicts and ``json.dumps``-ing them), so
  one thread can offer tens of thousands of events a second.
- ``EventMaker``: documents for the eight-store relay: a skewed key set
  (updates hit standing state), with the fields the stores read
  (group/value for the aggregate view, side/fk for the join and star
  views, ``rid`` for the entity registry, an embedding for the ANN
  index, text for dedup and BM25) plus the dimension rows the views
  join to.

Per-key state is tracked so an update or delete only ever follows a
live document, and each update's post-image is the pre-image with its
``updatedFields`` applied — the stream a real cursor would produce.

Run as a program, this is the open-loop load generator: one thread
writing one file per tick on a fixed schedule, whatever the engine is
doing.  Each file is written outside the watched dir and renamed in
(the file source lists a half-written file and then fails on it).

    python3 perfbench/gen.py --seed 7 --out IN --stage STAGE \
        --manifest M.json --start EPOCH_S --tick 0.1 --phases 200:5,2000:5
"""

from __future__ import annotations

import argparse
import datetime as _dt
import json
import os
import random
import time

COLLECTIONS = ("users", "orders", "items", "audit")
WORDS = (
    "stream change event relay topic offset commit replica index batch "
    "query merge shard cursor token resume schema document vector text "
    "window key value sink source trigger state store view join star"
).split()
EMB_DIM = 8
N_DIMS_D, N_DIMS_E = 12, 6
RELAY_KEYS = 4000
AHEAD_EVENTS = 300_000  # ~150 MB of generated, unwritten events


def _iso(ts: float) -> str:
    return (
        _dt.datetime.fromtimestamp(ts, _dt.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3]
        + "Z"
    )


def _head(seed: int, seq: int, wall: str) -> str:
    """Resume token, cluster time and wall time of event ``seq``."""
    return (
        f'{{"_id": {{"_data": "{seed:08x}{seq:016x}"}}, '
        f'"clusterTime": {{"t": {1_700_000_000 + seq // 1000}, '
        f'"i": {seq % 1000 + 1}}}, "wallTime": "{wall}", '
    )


class RelayEvents:
    """Deterministic relay-shape events as JSON lines; ``seq`` is the
    global event index."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seed = seed
        self.seq = 0
        # (db, coll, _id JSON) -> (a, tag) of the live document
        self.live: dict[tuple[str, str, str], tuple[int, str]] = {}
        # per key: the _id's JSON and the documentKey field's JSON
        # (a string holding the key document, as the cursor gives it)
        self.keys = []
        for n in range(RELAY_KEYS):
            kind = n % 4
            if kind == 0:
                _id = {"$oid": f"{seed % 65536:04x}{n:020x}"}
            elif kind == 1:
                _id = n
            elif kind == 2:
                _id = f"user-{n}"
            else:
                _id = {"tenant": n % 17, "name": f"n{n}"}
            self.keys.append(
                (json.dumps(_id), json.dumps(json.dumps({"_id": _id}))))

    def batch(self, n: int, wall: float) -> tuple[list[str], int]:
        """``n`` events stamped ``wall``, and how many reach the relay's
        sink (not dropped by the user pipeline, not a ``drop``)."""
        rng, live, keys = self.rng, self.live, self.keys
        rnd, below = rng.random, rng.randrange
        wall_s = _iso(wall)
        out, n_out = [], 0
        for _ in range(n):
            self.seq += 1
            head = _head(self.seed, self.seq, wall_s)
            coll = COLLECTIONS[below(4)]
            if rnd() < 0.04:
                out.append(head + '"operationType": "drop", '
                           f'"ns": {{"db": "appdb", "coll": "{coll}"}}}}')
                continue
            db = "scratch" if rnd() < 0.05 else "appdb"
            id_json, key_json = keys[below(RELAY_KEYS)]
            state_key = (db, coll, id_json)
            before = live.get(state_key)
            if before is None:
                op = "insert"
            else:
                x = rnd()
                op = "update" if x < 0.6 else "replace" if x < 0.8 else "delete"
            if op in ("insert", "replace"):
                after = (below(1000),
                         " ".join([WORDS[below(len(WORDS))] for _ in range(3)]))
            elif op == "update":
                after = (below(1, 100_000), before[1])
            else:
                after = None
            line = (head + f'"operationType": "{op}", '
                    f'"ns": {{"db": "{db}", "coll": "{coll}"}}, '
                    f'"documentKey": {key_json}')
            if before is not None:
                line += ', "fullDocumentBeforeChange": ' + json.dumps(
                    f'{{"_id": {id_json}, "a": {before[0]}, "tag": "{before[1]}"}}')
            if op == "update":
                line += (', "updateDescription": {"updatedFields": '
                         + json.dumps(f'{{"a": {after[0]}}}')
                         + ', "removedFields": [], "truncatedArrays": []}')
            if after is None:
                del live[state_key]
            else:
                live[state_key] = after
                line += ', "fullDocument": ' + json.dumps(
                    f'{{"_id": {id_json}, "a": {after[0]}, "tag": "{after[1]}"}}')
            out.append(line + "}")
            n_out += db == "appdb"
        return out, n_out


class EventMaker:
    """Deterministic composed-shape events; ``seq`` is the global event
    index."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seed = seed
        self.seq = 0
        self.live: dict[str, dict] = {}  # documentKey -> current doc

    def _key(self) -> tuple[str, int]:
        # skewed reuse: low ranks recur, so updates and deletes hit
        # state written by earlier events
        rid = min(int(self.rng.paretovariate(0.9)), 600)
        return json.dumps({"_id": rid}), rid

    def _text(self, n: int) -> str:
        return " ".join(self.rng.choice(WORDS) for _ in range(n))

    def _doc(self, rid: int) -> dict:
        r = self.rng
        return {
            "_id": rid,
            "side": "f",
            "sside": "f",
            "fk": f"d{rid % N_DIMS_D}",
            "fk2": f"e{rid % N_DIMS_E}",
            "rid": rid,
            "k": f"g{r.randrange(8)}",
            "value_cents": r.randrange(1, 100_000),
            "text": self._text(12),
            "embedding": [round(r.uniform(-1, 1), 4) for _ in range(EMB_DIM)],
        }

    def _base(self, op: str, coll: str, wall: float) -> dict:
        self.seq += 1
        return {
            "_id": {"_data": f"{self.seed:08x}{self.seq:016x}"},
            "operationType": op,
            "clusterTime": {"t": 1_700_000_000 + self.seq // 1000,
                            "i": self.seq % 1000 + 1},
            "wallTime": _iso(wall),
            "ns": {"db": "appdb", "coll": coll},
        }

    def event(self, wall: float) -> dict:
        key, rid = self._key()
        before = self.live.get(key)
        if before is None:
            op = "insert"
        else:
            op = self.rng.choices(("update", "replace", "delete"), (6, 2, 2))[0]
        ev = self._base(op, "facts", wall)
        ev["documentKey"] = key
        if op in ("insert", "replace"):
            after = self._doc(rid)
        elif op == "update":
            new_val = self.rng.randrange(1, 100_000)
            after = {**before, "value_cents": new_val}
            ev["updateDescription"] = {
                "updatedFields": json.dumps({"value_cents": new_val}),
                "removedFields": [],
                "truncatedArrays": [],
            }
        else:
            after = None
        if before is not None:
            ev["fullDocumentBeforeChange"] = json.dumps(before)
        if after is None:
            self.live.pop(key, None)
        else:
            self.live[key] = after
            ev["fullDocument"] = json.dumps(after)
        return ev

    def dims(self, wall: float) -> list[dict]:
        """Dimension rows for the join and star views (side ``d`` for
        both views; ``sside`` tells the star view's two sides apart)."""
        out = []
        for prefix, count in (("d", N_DIMS_D), ("e", N_DIMS_E)):
            for i in range(count):
                _id = f"{prefix}{i}"
                doc = {
                    "_id": _id, "side": "d", "sside": prefix,
                    "dim_name": f"dim {_id}", "text": self._text(4),
                    "embedding": [round(self.rng.uniform(-1, 1), 4)
                                  for _ in range(EMB_DIM)],
                }
                ev = self._base("insert", "dims", wall)
                ev["documentKey"] = json.dumps({"_id": _id})
                ev["fullDocument"] = json.dumps(doc)
                self.live[ev["documentKey"]] = doc
                out.append(ev)
        return out


def write_file(stage: str, out: str, name: str, lines: list[str]) -> None:
    """Write JSON lines outside the watched dir, then rename in (atomic
    on one filesystem)."""
    tmp = os.path.join(stage, name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(out, name))


class _Ahead:
    """The schedule's files, made in order in chunks of CHUNK events, so
    that a large file can be made ahead of its turn in the slack
    between writing smaller ones."""

    CHUNK = 1000

    def __init__(self, maker: RelayEvents, ticks: list[tuple[int, int, float]]):
        self.maker, self.ticks = maker, ticks
        self.next = 0  # the file being made
        self.lines: list[str] = []  # its events so far
        self.n_out = 0
        self.done: dict[int, tuple[list[str], int]] = {}
        self.buffered = 0  # events made and not yet taken
        self.cost = 20e-6  # generation seconds an event, as last measured

    def step(self) -> None:
        """Make up to CHUNK more events of the next file."""
        _phase, n, due = self.ticks[self.next]
        k = min(self.CHUNK, n - len(self.lines))
        t0 = time.perf_counter()
        lines, n_out = self.maker.batch(k, due)
        self.cost = (time.perf_counter() - t0) / k
        self.lines += lines
        self.n_out += n_out
        self.buffered += k
        if len(self.lines) == n:
            self.done[self.next] = (self.lines, self.n_out)
            self.next += 1
            self.lines, self.n_out = [], 0

    def behind(self) -> bool:
        """Would a file not made yet miss its due time if the rest were
        made from now at a third of a thread (3x the cost last seen)?"""
        t = time.time() - 3 * self.cost * len(self.lines)
        for _phase, n, due in self.ticks[self.next:]:
            t += 3 * self.cost * n
            if t > due:
                return True
        return False

    def take(self, idx: int) -> tuple[list[str], int]:
        while self.next <= idx:
            self.step()
        lines, n_out = self.done.pop(idx)
        self.buffered -= len(lines)
        return lines, n_out


def run_schedule(
    seed: int,
    out: str,
    stage: str,
    start: float,
    tick: float,
    phases: list[tuple[float, float]],
) -> list[dict]:
    """The open loop: for each phase (rate events/s, seconds), one file
    per tick holding rate*tick events stamped with the tick's due time,
    written when due.  While waiting for a file's due time, later files
    are made ahead (up to AHEAD_EVENTS) when making them in their turn
    would not be on time, so a short phase can offer more than one
    thread generates live.  Returns the manifest (one row per file)."""
    ticks = []  # (phase, events, due)
    due = start
    for phase, (rate, seconds) in enumerate(phases):
        for _ in range(max(1, round(seconds / tick))):
            ticks.append((phase, max(1, round(rate * tick)), due))
            due += tick
    files = _Ahead(RelayEvents(seed), ticks)
    manifest = []
    for idx, (phase, n, due) in enumerate(ticks):
        lines, n_out = files.take(idx)
        while (files.next < len(ticks) and files.buffered < AHEAD_EVENTS
               and time.time() + files.cost * _Ahead.CHUNK < due
               and files.behind()):
            files.step()
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"{idx:06d}.json"
        write_file(stage, out, name, lines)
        manifest.append({
            "file": name, "phase": phase, "due": due,
            "written": time.time(), "n": n, "n_out": n_out,
        })
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--tick", type=float, default=0.1)
    ap.add_argument("--phases", required=True,
                    help="rate:seconds[,rate:seconds...]")
    a = ap.parse_args()
    phases = [tuple(float(x) for x in p.split(":")) for p in a.phases.split(",")]
    manifest = run_schedule(a.seed, a.out, a.stage, a.start, a.tick, phases)
    with open(a.manifest, "w") as fh:
        json.dump(manifest, fh)


if __name__ == "__main__":
    main()
