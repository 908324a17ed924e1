"""Benchmark entry point.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 20 --trace 0

Runs one workload (see BENCHMARK.json and perfbench/DESIGN.md) from the
root of a checkout and prints, as its last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it stamps the run (core count, versions, seed) and
carries the figures that are not metrics: the error rate, the median and
tail latency and the series-cache traffic.

A run starts one worker process, which sets up the engine and runs the
workload. ``setup_s`` runs from the worker's start until it is ready for
its first timed operation. Every run makes the same fixed amount of
work; ``--seconds`` is recorded but does not size it. Inputs are
prepared once per checkout under ``.perfbench/`` (untimed); everything
a run writes goes to a run-scoped directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
REQUIRED = ("__spark_entry__.py", "pyperustats_spark", "tools/parity.py")
WORKLOADS = ("headline", "series-cache")
# With the engine's default 8g heap the JVM grows its heap before it
# collects, and peak RSS read 2000 or 2650 MB on the same workload
# depending on when it did (spread 0.28); with 1g the spread stays
# inside peak_rss_mb's bound (DESIGN.md).
DRIVER_MEMORY = "1g"
RUN_DEADLINE_S = 170  # a run must end within 180 s


def prepare() -> str:
    """Untimed input preparation; returns the dataset directory."""
    import datagen
    from worker import HEADLINE

    data = os.path.join(STATE, f"data-v{datagen.VERSION}")
    if not datagen.valid(data, HEADLINE):
        sys.path.insert(0, ROOT)
        import __spark_entry__ as entry
        from tools.parity import normalize_rows
        datagen.build(data, entry.oracle_sql(), HEADLINE, normalize_rows)
    return data


def child_env(work: str, cpus: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # the same set iteration order in the engine's Python code every run
        "PYTHONHASHSEED": "0",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell"]),
    })
    return env


def start_child(args: list[str], env: dict) -> tuple[subprocess.Popen, float]:
    """Start a worker in its own process group, so that reap() can wait
    for every process it starts (the JVM, Python workers)."""
    started = time.time()
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py")] + args,
                            env=env, cwd=ROOT, start_new_session=True,
                            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
    return proc, started


def finish_child(proc: subprocess.Popen, out: str, timeout_s: float) -> dict:
    """Wait for a worker to write its result and exit, then stop the rest
    of its process group."""
    try:
        _, err = proc.communicate(timeout=timeout_s)
    finally:
        reap(proc)
    if proc.returncode != 0:
        sys.stderr.write(err.decode(errors="replace")[-4000:])
        raise RuntimeError(f"worker exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def reap(proc: subprocess.Popen) -> None:
    """Kill the worker's whole process group (the JVM, Python workers)
    and wait until none of it runs."""
    if proc.poll() is None:
        proc.kill()
        proc.wait()
    while group_alive(proc.pid):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def group_alive(pgid: int) -> bool:
    """Whether a process of group *pgid* is still running (zombies left
    for the init process to collect do not count)."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process exited while we looked
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}",
              file=sys.stderr)
        return 2

    data = prepare()
    deadline = time.time() + RUN_DEADLINE_S
    cpus = str(len(os.sched_getaffinity(0)))  # what nproc prints
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(STATE, "runs"))
    try:
        env = child_env(work, cpus)
        out = os.path.join(work, "run.json")
        proc, start = start_child(
            ["--workload", args.workload, "--seed", str(args.seed),
             "--trace", str(args.trace), "--data", data, "--repo", ROOT,
             "--work", work, "--out", out], env)
        result = finish_child(proc, out, deadline - time.time())
        if args.trace:
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                STATE, "traces", f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = result["setup"]["ready_at"] - start
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": int(cpus), "SPARK_GRAFT_CPUS": cpus,
        "spark": result["versions"]["spark"], "duckdb": duckdb.__version__,
        "setup": result["setup"], "jvm": result["jvm"], "rss_mb": result["rss_mb"],
        "traffic": result["traffic"],
        "error_rate": result["failed"] / result["attempted"],
        "op_p50_s": result["op_p50_s"], "op_tail_s": result["op_tail_s"],
        "op_s": result["op_s"],
        "failures": result["failures"],
    }
    values = (result["per_layer"] if args.trace else
              dict(result["end_to_end"], setup_s=setup_s))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if {m["name"] for m in declared} != set(values):
        raise RuntimeError("measured metrics differ from BENCHMARK.json: "
                           f"{sorted({m['name'] for m in declared} ^ set(values))}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    print(json.dumps(stamp))
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
