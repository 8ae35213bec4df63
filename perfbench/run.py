"""The repository's benchmark: one workload per run, from the root of a
checkout.

    python3 perfbench/run.py --workload relay_stream --seed 1 \
        --seconds 12 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``relay_stream`` (relay.py): open-loop generator process at a ladder
  of fixed rates into the parquet relay;
- ``composed_relay`` (composed.py): backlog drain through the
  eight-store composed relay, then a simulated crash and its replay.

Each run sets up its own session in a fresh directory under
``.perfbench_work/``, checks the program's outputs outside the timed
region, and prints detail lines followed by one JSON result line:
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer metrics (zero for a layer the workload
does not reach) and writes the span file to ``.perfbench_out/``.

The command is a supervisor: it measures in a child process and, on
every path out, stops and reaps every process the child left behind
before it exits (Spark's JVM outlives its Python driver by a second or
more while its shutdown hooks run).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

# set in the measuring child: the supervisor's start, on the monotonic
# clock perf_counter reads, so setup_s counts from the command's start
CHILD_ENV = "PERFBENCH_T0"
if CHILD_ENV in os.environ:
    T_PROCESS = float(os.environ[CHILD_ENV])

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    canary_s,
    cpu_times,
    host_fit,
    nproc,
    session_conf,
    steal_frac,
)

WORKLOADS = ("relay_stream", "composed_relay")
PR_SET_CHILD_SUBREAPER = 36
EXIT_GRACE_S = 10  # left-behind processes may end on their own this long
KILL_AFTER_S = 5  # then SIGTERM, and this much later SIGKILL


def _work_dir(pid: int) -> str:
    return os.path.abspath(os.path.join(".perfbench_work", f"run-{pid}"))


def _descendants() -> list[int]:
    """Every live or zombie process below this one, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended while listed
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), ()):
            out.append(pid)
            todo.append(pid)
    return out


def _reap_zombies() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_descendants() -> list[int]:
    """Wait for every descendant to end, signalling the stragglers;
    returns those that outlived SIGKILL (none, unless stuck in the
    kernel).  As child subreaper this process inherits the orphans, so
    it reaps them all."""
    start = time.monotonic()
    sent = None
    while True:
        _reap_zombies()
        left = _descendants()
        if not left:
            return []
        waited = time.monotonic() - start
        if waited > EXIT_GRACE_S + 2 * KILL_AFTER_S:
            return left
        sig = (signal.SIGKILL if waited > EXIT_GRACE_S + KILL_AFTER_S
               else signal.SIGTERM if waited > EXIT_GRACE_S else None)
        if sig is not None and sig != sent:
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def supervise() -> int:
    """Run the measurement in a child process; whichever way it ends,
    stop and reap every process it started, then remove its work dir."""
    try:
        ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # without it, processes orphaned early escape the reaping

    def on_term(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
        env={**os.environ, CHILD_ENV: repr(T_PROCESS)},
    )
    rc = 1
    try:
        rc = child.wait()
    finally:
        if child.poll() is None:
            child.terminate()
        stuck = _stop_descendants()
        if stuck:
            print(f"perfbench: processes {stuck} did not end", file=sys.stderr)
            rc = rc or 1
        shutil.rmtree(_work_dir(child.pid), ignore_errors=True)
        try:
            os.rmdir(".perfbench_work")
        except OSError:
            pass  # absent, or another run's dir is in it
    return rc


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM: it exits at EOF on its
    stdin once its shutdown hooks have run.  Waiting for it here keeps
    the run dir in use until nothing writes to it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    if CHILD_ENV not in os.environ:
        return supervise()
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sys.path.insert(0, os.getcwd())
    if importlib.util.find_spec("pymongo_change_stream_reader_spark") is None:
        print("perfbench: run from the root of a checkout of the "
              "repository (pymongo_change_stream_reader_spark not found)",
              file=sys.stderr)
        return 2
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    work = _work_dir(os.getpid())
    os.makedirs(work)
    spark = None
    try:
        # Spark's task slots leave one core free: for the relay's
        # generator process, and for the composed relay's driver-side
        # store threads (with all cores as slots its catch-up was slower
        # and more spread: 31-38 s vs 29-33 s over four interleaved pairs)
        spark_cpus = max(1, nproc() - 1)
        host = host_fit(work, spark_cpus)
        canary_before = canary_s()
        steal_before = cpu_times()

        from pymongo_change_stream_reader_spark.session import get_spark

        spark = get_spark(app_name="perfbench", extra_conf=session_conf(work))
        session_s = time.perf_counter() - T_PROCESS
        tracer = None
        if a.trace:
            from common import Tracer

            tracer = Tracer(spark, f"{a.workload}-{a.seed}")
        if a.workload == "relay_stream":
            import relay as workload
        else:
            import composed as workload
        res = workload.run(spark, work, a.seed, a.seconds, tracer)
        canary_after = canary_s()
        canary = canary_after / canary_before
        steal = steal_frac(steal_before, cpu_times())
        metrics = {"setup_s": session_s + res["setup_part_s"], **res["metrics"]}
        layers = {
            "session.start_s": session_s,
            "host.canary_ratio": canary,
            "host.steal_frac": steal,
            **res["layers"],
        }
        if tracer is not None:
            # tracing overhead: spans recorded x the measured cost of one
            layers["trace.overhead_ms"] = (
                1000 * len(tracer.spans) * tracer.cost_per_span_s())
            out = os.path.abspath(".perfbench_out")
            os.makedirs(out, exist_ok=True)
            span_file = os.path.join(out, f"spans-{a.workload}-{a.seed}.jsonl")
            tracer.write(span_file)
            print(f"perfbench: spans written to {span_file}")
        correct = res["failed"] == 0 and not res.get("check_errors")
        print("perfbench: " + json.dumps({
            "workload": a.workload, "seed": a.seed, "host": host,
            "host_canary_ratio": canary, "host_steal_frac": steal, "checks": res.get("check_errors", []),
            "info": res["info"],
        }, default=str))
        for m in spec["end_to_end"] + spec["per_layer"]:
            if m["name"] in metrics or m["name"] in layers:
                value = metrics.get(m["name"], layers.get(m["name"]))
                print(f"perfbench: {m['name']} = {value:.6g} {m['unit']}")
        if a.trace:
            chosen = {m["name"]: m["unit"] for m in spec["per_layer"]}
            values = {n: float(layers.get(n, 0.0)) for n in chosen}
        else:
            chosen = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            values = {n: float(metrics[n]) for n in chosen}
        print(json.dumps({
            "correct": correct,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {n: {"value": values[n], "unit": u}
                        for n, u in chosen.items()},
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
