"""Measurement helpers that sit outside the program: process accounting
from ``/proc``, Spark's status stores read through py4j, in-memory trace
spans, and a host calibration loop.

Nothing here imports the program; the Spark readers take a live
``SparkSession``.
"""

from __future__ import annotations

import os
import re
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc


def session_procs(sid: int) -> list[dict]:
    """Every live (not zombie) process whose session id is ``sid``: pid,
    comm and CPU seconds, its own plus those of its reaped children."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[0] is field 3 (state): session is field 6, utime..cstime 14..17
        if int(fields[3]) != sid or fields[0] == "Z":
            continue
        ticks = sum(int(x) for x in fields[11:15])
        out.append({"pid": int(name), "comm": comm, "cpu_s": ticks / CLK_TCK})
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcAccount:
    """CPU and peak worker memory of this process's session, split into
    the driver (this process), the JVM and the Python workers."""

    def __init__(self):
        self.sid = os.getsid(0)
        self.me = os.getpid()

    def cpu(self) -> dict[str, float]:
        acc = {"driver": 0.0, "jvm": 0.0, "python": 0.0}
        for p in session_procs(self.sid):
            if p["pid"] == self.me:
                acc["driver"] += p["cpu_s"]
            elif p["comm"] == "java":
                acc["jvm"] += p["cpu_s"]
            elif p["comm"].startswith("python"):
                acc["python"] += p["cpu_s"]
        return acc

    def peak_worker_rss_mb(self) -> float:
        return max((vm_hwm_mb(p["pid"]) for p in session_procs(self.sid)
                    if p["pid"] != self.me and p["comm"].startswith("python")),
                   default=0.0)


def host_calibration(seconds: float = 0.3) -> float:
    """Operations per second of a fixed CPU-and-memory loop that touches
    nothing of the program: a drift stamp for the host, timed in the same
    run as the workload."""
    table = list(range(1 << 16))
    ops = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        acc = 0
        for i in range(0, 1 << 16, 7):
            acc += table[(i * 2654435761) & 0xFFFF]
        ops += (1 << 16) // 7 + 1
    return ops / (time.perf_counter() - t0)


# ------------------------------------------------------- Spark status store

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "ns": 1e-9, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}
_VALUE = re.compile(r"^([\d,.]+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric ('8.1 s (...)', '1.4 MiB', '2,296')
    in base units: seconds, bytes or a count."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkProbe:
    """Reads jobs, stages and SQL executions that finished since the last
    ``mark()`` from the stores that fill with ``spark.ui.enabled=false``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.gateway = sc._gateway  # noqa: SLF001
        self.store = sc._jsc.sc().statusStore()  # noqa: SLF001
        self.sql = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        self.quantiles = self.gateway.new_array(self.gateway.jvm.double, 2)
        self.quantiles[0] = 0.5
        self.quantiles[1] = 1.0
        self.job_mark = -1
        self.exec_mark = -1
        self.mark()

    def mark(self) -> None:
        jobs = self.store.jobsList(None)
        self.job_mark = max([self.job_mark] + [jobs.apply(i).jobId() for i in range(jobs.size())])
        execs = self.sql.executionsList()
        self.exec_mark = max([self.exec_mark] + [execs.apply(i).executionId()
                                                  for i in range(execs.size())])

    def _stage(self, sid: int) -> dict | None:
        from py4j.protocol import Py4JError

        try:
            s = self.store.lastStageAttempt(sid)
        except Py4JError:  # a stage that was never attempted
            return None
        if str(s.status()) != "COMPLETE":
            return None  # skipped: its output came from an earlier job
        start, end = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
        ratio = 1.0
        summ = self.store.taskSummary(sid, s.attemptId(), self.quantiles)
        if summ.isDefined() and s.numTasks() > 1:
            dur = summ.get().duration()
            p50, pmax = dur.apply(0), dur.apply(1)
            ratio = pmax / p50 if p50 > 0 else 1.0
        return {"id": sid, "start": start, "end": end, "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3, "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3, "input_b": s.inputBytes(),
                "output_b": s.outputBytes(), "shuffle_w_b": s.shuffleWriteBytes(),
                "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "task_max_over_p50": ratio}

    def collect(self) -> dict:
        """Jobs (with their completed stages) and SQL executions (with
        their totals by metric name) since the last mark; moves the mark."""
        jobs = []
        js = self.store.jobsList(None)
        for i in range(js.size()):
            j = js.apply(i)
            if j.jobId() <= self.job_mark:
                continue
            sids = j.stageIds()
            stages = [s for s in (self._stage(sids.apply(k)) for k in range(sids.size())) if s]
            jobs.append({"id": j.jobId(), "start": _opt_ms(j.submissionTime()),
                         "end": _opt_ms(j.completionTime()), "stages": stages})
        execs = []
        es = self.sql.executionsList()
        for i in range(es.size()):
            e = es.apply(i)
            if e.executionId() <= self.exec_mark:
                continue
            names = {}
            ms = e.metrics()
            for k in range(ms.size()):
                names[ms.apply(k).accumulatorId()] = ms.apply(k).name()
            totals: dict[str, float] = {}
            it = self.sql.executionMetrics(e.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                name = names.get(kv._1())
                if name:
                    totals[name] = totals.get(name, 0.0) + parse_sql_metric(kv._2())
            execs.append({"id": e.executionId(), "start": e.submissionTime() / 1000.0,
                          "end": _opt_ms(e.completionTime()),
                          "plan": e.physicalPlanDescription(), "metrics": totals})
        jobs.sort(key=lambda j: j["id"])
        execs.sort(key=lambda e: e["id"])
        self.mark()
        return {"jobs": jobs, "execs": execs}


def stage_totals(collected: dict) -> dict:
    """Sums over every completed stage of the collected jobs."""
    stages = [s for j in collected["jobs"] for s in j["stages"]]
    metrics = [e["metrics"] for e in collected["execs"]]

    def sql(name: str) -> float:
        return sum(m.get(name, 0.0) for m in metrics)

    return {
        "tasks": sum(s["tasks"] for s in stages),
        "task_max_over_p50": max((s["task_max_over_p50"] for s in stages), default=1.0),
        "executor_run_s": sum(s["run_s"] for s in stages),
        "jvm_cpu_s": sum(s["cpu_s"] for s in stages),
        "gc_s": sum(s["gc_s"] for s in stages),
        "input_mb": sum(s["input_b"] for s in stages) / 2 ** 20,
        "output_mb": sum(s["output_b"] for s in stages) / 2 ** 20,
        "shuffle_mb": sum(s["shuffle_w_b"] for s in stages) / 2 ** 20,
        "spill_mb": sum(s["spill_b"] for s in stages) / 2 ** 20,
        "scan_s": sql("scan time"),
        "python_run_s": sql("time to run Python workers"),
        "to_python_mb": sql("data sent to Python workers") / 2 ** 20,
        "from_python_mb": sql("data returned from Python workers") / 2 ** 20,
    }


# ----------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory (name, start, end, parent) and written at exit.
    Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None) -> int | None:
        if not self.enabled or start is None or end is None:
            return None
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent})
        return len(self.spans) - 1

    def add_spark(self, collected: dict, parent: int | None,
                  lo: float | None = None, hi: float | None = None) -> None:
        """SQL execution, job and stage spans of ``collected`` under
        ``parent``; with a window, only those that start inside it. A job
        nests under the execution whose interval holds its start."""
        def inside(t: float) -> bool:
            return lo is None or lo - 0.01 <= t <= hi

        execs = []
        for e in collected["execs"]:
            if inside(e["start"]):
                end = e["end"] or e["start"]
                execs.append((e["start"], end, self.add(f"sql {e['id']}", e["start"], end, parent)))
        for j in collected["jobs"]:
            if not inside(j["start"]):
                continue
            owner = next((sid for a, b, sid in execs if a <= j["start"] <= b), parent)
            jid = self.add(f"job {j['id']}", j["start"], j["end"], owner)
            for s in j["stages"]:
                self.add(f"stage {s['id']}", s["start"], s["end"], jid)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = union_length([(c["start"], c["end"]) for c in self.children(span["id"])],
                               span["start"], span["end"])
        return (span["end"] - span["start"]) - covered

    def coverage(self, span: dict, kinds: tuple[str, ...]) -> float:
        """Share of ``span`` covered by spans below it whose names start
        with one of ``kinds``."""
        found, todo = [], [span["id"]]
        while todo:
            for c in self.children(todo.pop()):
                if c["name"].startswith(kinds):
                    found.append((c["start"], c["end"]))
                todo.append(c["id"])
        wall = span["end"] - span["start"]
        return union_length(found, span["start"], span["end"]) / wall if wall > 0 else 0.0

    def dump(self) -> list[dict]:
        return [dict(s, self_s=self.self_time(s)) for s in self.spans]


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
