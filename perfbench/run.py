"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_kb --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload runs in a child process
(``worker.py``) in a session of its own, on ``local[min(cores, nproc)]``
with the pinned driver memory and scratch directories under
``.perfbench/``. When the child has exited, any process left in its
session (a JVM, a ``pyspark.daemon``) is killed and counted as a failed
operation. The last line of standard output is the result object with
the metrics named in ``BENCHMARK.json``; the line before it echoes the
run configuration and every end-to-end number with its unit.
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
sys.path.insert(0, HERE)

from probe import session_procs  # noqa: E402

WORKLOADS = ("extract_kb", "job_resume", "registry_mix")
CHILD_TIMEOUT_S = 170.0


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace").strip()[:120]
    except OSError:
        return "?"


def sweep(sid: int) -> list[str]:
    """Kill every process still in session ``sid`` after a short grace
    for those already exiting, and wait until none is left. Returns the
    command lines of those that had to be killed."""
    deadline = time.time() + 2
    while session_procs(sid) and time.time() < deadline:
        time.sleep(0.05)
    left = [(p["pid"], cmdline(p["pid"])) for p in session_procs(sid)]
    for pid, _ in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while session_procs(sid) and time.time() < deadline:
        time.sleep(0.05)
    return [f"{cmd} [{pid}]" for pid, cmd in left]


def spark_versions() -> dict:
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--max-cores", type=int, default=4)
    ap.add_argument("--driver-memory", default="3g")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "dup_ocropy_spark")):
        print("perfbench: the program (dup_ocropy_spark/) is not in this checkout",
              file=sys.stderr)
        return 2

    cores = min(a.max_cores, len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench")
    out = os.path.join(work, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    tmp, local = os.path.join(out, "tmp"), os.path.join(out, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    config = {"master": f"local[{cores}]", "nproc": len(os.sched_getaffinity(0)),
              "driver_memory": a.driver_memory, "local_dirs": os.path.relpath(local, ROOT),
              **spark_versions()}
    env = dict(os.environ, PERFBENCH_T0=repr(t0), TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
               SPARK_DRIVER_MEMORY=a.driver_memory, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cores", str(cores), "--out", out]
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                             start_new_session=True)
    try:
        code = child.wait(timeout=max(1.0, CHILD_TIMEOUT_S - (time.time() - t0)))
    except subprocess.TimeoutExpired:
        print("perfbench: workload timed out", file=sys.stderr)
        code = None
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        survivors = sweep(child.pid)
    if code != 0:
        print(f"perfbench: workload exited with {code}", file=sys.stderr)
        return 1
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    res["attempted"] += 1
    if survivors:
        res["failed"] += 1
        res["failures"].append(f"left running after teardown: {', '.join(survivors)}")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(local, ignore_errors=True)

    values = res["values"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in values and not a.trace:
            print(f"perfbench: metric {m['name']} was not measured", file=sys.stderr)
            return 1
        # a layer this workload does not reach reads 0
        metrics[m["name"]] = {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
    for failure in res["failures"]:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    units = {"turns_per_s": "1/s", "resume_s": "s"}
    units.update({m["name"]: m["unit"] for m in spec["end_to_end"]})
    echo = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "config": config,
            "host.calib_ops_per_s": values["host.calib_ops_per_s"],
            "failed_frac": res["failed"] / res["attempted"],
            "end_to_end": {k: f"{values[k]:.6g} {u}" for k, u in units.items() if k in values}}
    if a.trace:
        echo["spans"] = os.path.relpath(os.path.join(out, "spans.json"), ROOT)
    print(json.dumps(echo))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
