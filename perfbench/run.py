"""Benchmark entry point.

    python3 perfbench/run.py --workload text --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh engine process (``worker.py``) on
``local[<cores>]`` and prints one JSON object as the last line of
standard output. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics from a traced run. Timings in the
JSON are CPU seconds of the engine's process tree (the worker, its JVM,
PySpark's daemon and Python workers); wall-clock medians are printed
above it. ``setup_s`` covers starting that process until the engine's
session is ready and the inputs are opened, input generation excluded.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("text", "ann_index")
#: Units of the end-to-end metrics, in BENCHMARK.json order.
E2E_UNITS = {
    "setup_s": "s",
    "build_cpu_s": "s",
    "query_cpu_s": "s",
    "rewrite_cpu_s": "s",
    "round_cpu_s": "s",
    "recall": "ratio",
}
HARD_LIMIT_S = 170


def worker_env(work: str, event_dir: str | None) -> dict:
    """Keep every file the engine process writes inside ``work``."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={work}/spark-local",
    ]
    if event_dir:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_WAREHOUSE": f"{work}/warehouse",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in conf) + " pyspark-shell",
        "SPARK_SUBMIT_OPTS": (env.get("SPARK_SUBMIT_OPTS", "") + " " + jvm).strip(),
        "SPARK_LAUNCHER_OPTS": jvm,
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def session_pids(sid: int) -> list[int]:
    """Processes of session ``sid``. PySpark's worker daemon moves to a
    process group of its own but stays in the worker's session."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed
            continue
        if int(stat[stat.rindex(")") + 2:].split()[3]) == sid:
            pids.append(int(pid))
    return pids


def stop_session(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's session and wait for it to end."""
    deadline = time.time() + 30
    while time.time() < deadline:
        pids = session_pids(proc.pid)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if proc.pid in pids:
            proc.wait()
        time.sleep(0.1)
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(f"{ROOT}/hadoop_tfidf_spark/session.py"):
        print("engine package hadoop_tfidf_spark not found next to perfbench/", file=sys.stderr)
        return 2

    work = f"{ROOT}/.perfbench_work/{a.workload}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_dir = f"{work}/eventlog" if a.trace else None
    if event_dir:
        os.makedirs(event_dir)
    cmd = [sys.executable, f"{HERE}/worker.py", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work]
    if event_dir:
        cmd += ["--event-dir", event_dir]

    t_start = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT,
                            env=worker_env(work, event_dir), start_new_session=True)
    setup_s = setup_wall = result = None
    timer = signal.signal(signal.SIGALRM, lambda *_: proc.kill())
    signal.alarm(HARD_LIMIT_S)
    try:
        for line in proc.stdout:
            if line.startswith("READY ") and setup_s is None:
                _, gen_wall, setup_s = line.split()
                setup_wall = time.perf_counter() - t_start - float(gen_wall)
                setup_s = float(setup_s)
            elif line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                print(line, end="", flush=True)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, timer)
        stop_session(proc)
    if proc.returncode != 0 or result is None or setup_s is None:
        print(f"worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1

    e2e = dict(result["e2e"], setup_s=setup_s)
    named = dict(result["named"], setup_wall_s=(setup_wall, "s"))
    for name, (value, unit) in named.items():
        print(f"{a.workload}: {name} = {value:.6g} {unit}")
    for name, value in e2e.items():
        print(f"{a.workload}: {name} = {value:.6g} {E2E_UNITS.get(name, 's')}")
    saved = f"{ROOT}/.perfbench_work/untraced-{a.workload}-{a.seed}-{a.seconds:g}.json"
    if a.trace:
        if os.path.exists(saved):
            with open(saved) as fh:
                base = json.load(fh)
            for name in e2e.keys() & base.keys():
                print(f"trace overhead {name}: traced - untraced = "
                      f"{e2e[name] - base[name]:+.6g} {E2E_UNITS.get(name, 's')}")
        else:
            print("trace overhead: no untraced run of this workload, seed and length recorded")
        metrics = result["layers"]
        from tracing import PER_LAYER
        units = PER_LAYER
    else:
        with open(saved, "w") as fh:
            json.dump(e2e, fh)
        metrics, units = e2e, E2E_UNITS
    out = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
