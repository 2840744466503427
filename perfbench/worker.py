"""One benchmark run of one workload, in this process.

``run.py`` starts this file in its own session and reads the result file
it writes. Order of a run: host calibration, input generation and oracle
(before Spark, cached), set-up (imports, ``get_spark``, a fixed warm-up),
verification against the oracle, the timed window, then, for traced runs,
a traced window and the kernel replay, and last a teardown that leaves no
JVM or Python worker behind. ``setup_s`` is the time from process start
to the first timed pass less calibration, generation and verification.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_PROC = float(os.environ.get("PERFBENCH_T0", time.time()))
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import probe  # noqa: E402

KB_CONVS = 3000
RESUME_CONVS = 1000
RESUME_BUCKETS = 8
RESUME_FAIL_AFTER = 3
QUERIES = ("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash", "dedup_paragraphs",
           "dedup_semantic_topk", "ann_cosine_topk", "quality_score", "q3_topk_revenue",
           "a6_moving_stats")
DATA = os.path.join(HERE, "data")
GOLDEN = os.path.join(HERE, "golden.json")


class Run:
    """Operations attempted and failed, and the measured values."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.values: dict[str, float] = {}

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}")


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------- workloads


class Extraction:
    """``extract()`` over seeded transcripts into the noop sink."""

    def __init__(self, size: int, seed: int, cores: int):
        self.size, self.seed, self.cores = size, seed, cores

    def prepare(self) -> None:
        self.meta = inputs.prepare(self.seed, self.size, self.cores)
        self.turns = self.meta["rows"]

    def bind(self, spark) -> None:
        self.df = spark.read.parquet(self.meta["input"])

    def verify(self, spark, run: Run) -> None:
        """One full extraction, which also warms the timed path: row count,
        counts per reject_reason and checksum against the oracle. The
        checksum is ``dataset_checksum``'s row hash, XORed over the groups
        of the same aggregation."""
        from pyspark.sql import functions as F

        from dup_ocropy_spark.plans.extract import extract
        from dup_ocropy_spark.plans.lineage import dataset_checksum, row_checksum_col

        groups = (extract(self.df).groupBy("reject_reason")
                  .agg(F.count("*").alias("n"), F.bit_xor(row_checksum_col()).alias("c"))
                  .collect())
        n = sum(g["n"] for g in groups)
        rejects = {g["reject_reason"] or "": g["n"] for g in groups}
        checksum = 0
        for g in groups:
            checksum ^= g["c"]
        want = inputs.cached_checksum(
            self.meta, lambda: dataset_checksum(spark.read.parquet(self.meta["oracle"])))
        run.check("row count", n == self.meta["rows"], f"{n} != {self.meta['rows']}")
        run.check("rejects", rejects == self.meta["rejects"], f"{rejects} != {self.meta['rejects']}")
        run.check("checksum", checksum == want, f"{checksum} != {want}")

    def one_pass(self, spark, run: Run) -> dict:
        from dup_ocropy_spark.plans.extract import extract

        t0 = time.time()
        noop(extract(self.df))
        return {"start": t0, "end": time.time(), "turns": self.turns}

    def replay_input(self) -> str:
        return self.meta["input"]


class JobResume(Extraction):
    """``run_with_checkpoints`` crashed after bucket 3, then restarted;
    every pass writes into a fresh directory and is checked."""

    def __init__(self, size: int, seed: int, cores: int, scratch: str):
        super().__init__(size, seed, cores)
        self.scratch = scratch
        self.k = 0

    def verify(self, spark, run: Run) -> None:
        """Only the oracle checksum: every timed pass checks its own output."""
        from dup_ocropy_spark.plans.lineage import dataset_checksum

        self.want = inputs.cached_checksum(
            self.meta, lambda: dataset_checksum(spark.read.parquet(self.meta["oracle"])))

    def one_pass(self, spark, run: Run) -> dict:
        from dup_ocropy_spark.plans.resume import run_with_checkpoints

        out = os.path.join(self.scratch, f"pass-{self.k}")
        self.k += 1
        t0 = time.time()
        crashed = False
        try:
            run_with_checkpoints(self.df, out, RESUME_BUCKETS, fail_after_bucket=RESUME_FAIL_AFTER)
        except RuntimeError as e:
            crashed = "injected failure" in str(e)
        t1 = time.time()
        written = run_with_checkpoints(self.df, out, RESUME_BUCKETS)
        t2 = time.time()
        manifests = []
        mdir = os.path.join(out, "_manifest")
        for f in sorted(os.listdir(mdir)):
            with open(os.path.join(mdir, f)) as fh:
                manifests.append(json.load(fh))
        shutil.rmtree(out, ignore_errors=True)
        rows = sum(m["row_count"] for m in manifests)
        checksum = 0
        for m in manifests:
            checksum ^= m["checksum"]
        skipped = RESUME_BUCKETS - len(written)
        run.check("crash injected", crashed, "first run did not stop at the injected failure")
        run.check("manifest rows", rows == self.meta["rows"], f"{rows} != {self.meta['rows']}")
        run.check("manifest checksum", checksum == self.want, f"{checksum} != {self.want}")
        run.check("buckets skipped", skipped == RESUME_FAIL_AFTER + 1, f"{skipped}")
        return {"start": t0, "end": t2, "turns": self.turns, "resume_s": t2 - t1,
                "skipped": skipped}


class Registry:
    """The query list over the vendored sf tables into noop."""

    def prepare(self) -> None:
        pass

    def bind(self, spark) -> None:
        import dup_ocropy_spark.operators as ops
        from dup_ocropy_spark.operators.registry import REGISTRY

        ops.load_all()
        self.registry = REGISTRY

    def verify(self, spark, run: Run) -> None:
        import duckdb

        import golden
        from dup_ocropy_spark.plans.cache import release_shared

        with open(GOLDEN) as f:
            gold = json.load(f)
        con = duckdb.connect()
        for t in os.listdir(DATA):
            con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{os.path.join(DATA, t)}')")
        for q in QUERIES:
            got = self.registry[q].spark(spark, DATA).toPandas()
            release_shared()
            sql = self.registry[q].sql
            if sql is not None:
                ok, detail = golden.same(got, con.sql(sql).df())
            else:
                digest = golden.digest(got)
                ok, detail = digest == gold[q], f"{digest} != {gold[q]}"
            run.check(q, ok, detail)
        con.close()

    def one_pass(self, spark, run: Run) -> dict:
        from dup_ocropy_spark.plans.cache import release_shared

        t0 = time.time()
        spans = []
        for q in QUERIES:
            a = time.time()
            noop(self.registry[q].spark(spark, DATA))
            release_shared()
            spans.append((q, a, time.time()))
        return {"start": t0, "end": time.time(), "turns": 0, "queries": spans}

    def replay_input(self) -> None:
        return None


# --------------------------------------------------------------- tracing


class Traced:
    """Per-pass Spark and /proc readings for the traced window."""

    def __init__(self, spark, tracer: probe.Tracer, root: int | None):
        self.probe = probe.SparkProbe(spark)
        self.tracer = tracer
        self.root = root

    def record(self, p: dict) -> dict:
        """Spans and layer values of one pass that just ended."""
        got = self.probe.collect()
        pid = self.tracer.add("pass", p["start"], p["end"], self.root)
        layer = {f"extract.{k}": v for k, v in probe.stage_totals(got).items()}
        for q, a, b in p.get("queries", []):
            qid = self.tracer.add(f"query {q}", a, b, pid)
            self.tracer.add_spark(got, qid, a, b)
            t = probe.stage_totals({"jobs": [j for j in got["jobs"] if a - 0.01 <= j["start"] <= b],
                                    "execs": []})
            layer.update({f"operators.{q}_s": b - a, f"operators.{q}_shuffle_mb": t["shuffle_mb"],
                          f"operators.{q}_spill_mb": t["spill_mb"],
                          f"operators.{q}_task_max_over_p50": t["task_max_over_p50"]})
        if "resume_s" in p:
            layer.update(self._buckets(got, pid))
        if "queries" not in p and "resume_s" not in p:
            self.tracer.add_spark(got, pid)
        span = self.tracer.spans[pid]
        layer["trace.job_coverage"] = self.tracer.coverage(span, ("job ",))
        layer["trace.span_coverage"] = self.tracer.coverage(span, ("sql ", "job "))
        return layer

    def _buckets(self, got: dict, pid: int) -> dict:
        """Bucket spans from the SQL executions: each parquet write opens a
        bucket, its count read-back and checksum follow it."""
        groups: list[list[dict]] = []
        sums = {"write": 0.0, "readback": 0.0, "checksum": 0.0}
        for e in got["execs"]:
            kind = ("write" if "InsertIntoHadoopFsRelationCommand" in e["plan"]
                    else "checksum" if "bit_xor" in e["plan"] else "readback")
            sums[kind] += (e["end"] or e["start"]) - e["start"]
            if kind == "write" or not groups:
                groups.append([])
            groups[-1].append(e)
        for g in groups:
            a, b = g[0]["start"], max(e["end"] or e["start"] for e in g)
            bid = self.tracer.add("bucket", a, b, pid)
            self.tracer.add_spark(got, bid, a, b)
        t = probe.stage_totals(got)
        return {"resume.bucket_write_s": sums["write"], "resume.readback_s": sums["readback"],
                "lineage.checksum_s": sums["checksum"], "resume.scan_mb": t["input_mb"],
                "resume.bytes_written_mb": t["output_mb"]}


# ----------------------------------------------------------------- window


def window(wl, spark, run: Run, seconds: float, acct: probe.ProcAccount,
           traced: Traced | None) -> list[dict]:
    """Back-to-back passes until ``seconds`` have elapsed (closed loop,
    one pass at a time); each pass carries its CPU split."""
    passes = []
    t_end = time.time() + seconds
    while time.time() < t_end:
        c0 = acct.cpu()
        try:
            p = wl.one_pass(spark, run)
        except Exception as e:  # noqa: BLE001 — a failed pass is counted, the run goes on
            run.check("pass", False, f"{type(e).__name__}: {e}")
            continue
        c1 = acct.cpu()
        run.check("pass", True)
        p["cpu"] = {k: c1[k] - c0[k] for k in c0}
        if traced:
            p["layer"] = traced.record(p)
            p["traced_end"] = time.time()
        passes.append(p)
    return passes


def summarize(passes: list[dict], cores: int) -> dict:
    walls = [p["end"] - p["start"] for p in passes]
    cpu = [sum(p["cpu"].values()) for p in passes]
    out = {
        "pass_s": median(walls),
        "cpu_s": median(cpu),
        "proc.jvm_cpu_s": median([p["cpu"]["jvm"] for p in passes]),
        "proc.python_cpu_s": median([p["cpu"]["python"] for p in passes]),
        "proc.core_utilization": median([c / (w * cores) for c, w in zip(cpu, walls)]),
    }
    turns = sum(p["turns"] for p in passes)
    if turns:
        out["turns_per_s"] = turns / sum(walls)
    if "resume_s" in passes[0]:
        out["resume_s"] = median([p["resume_s"] for p in passes])
        out["resume.buckets_skipped"] = median([p["skipped"] for p in passes])
    return out


# ------------------------------------------------------------------ main


def stop_spark(spark) -> None:
    """Stop Spark, shut the py4j gateway, close the JVM's stdin (the
    gateway server exits on EOF) and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    jvm_proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    if jvm_proc is not None:
        jvm_proc.stdin.close()
        jvm_proc.wait(timeout=60)


def warm_workers(spark, cores: int) -> None:
    """A fixed small extraction, one slice per core: starts every Python
    worker and imports the kernels in it."""
    import pandas as pd

    from dup_ocropy_spark.plans.extract import extract
    from dup_ocropy_spark.sources.transcripts import synth_conv

    pdf = pd.concat([synth_conv(i)[0] for i in range(4 * cores)], ignore_index=True)
    noop(extract(spark.createDataFrame(pdf.drop(columns=["ts"]))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    run = Run()
    tracer = probe.Tracer(bool(a.trace))
    acct = probe.ProcAccount()
    root = tracer.add("workload", T_PROC, T_PROC, None)
    excluded = 0.0

    t = time.time()
    run.values["host.calib_ops_per_s"] = probe.host_calibration()
    excluded += time.time() - t

    if a.workload == "extract_kb":
        wl = Extraction(KB_CONVS, a.seed, a.cores)
    elif a.workload == "job_resume":
        wl = JobResume(RESUME_CONVS, a.seed, a.cores, os.path.join(a.out, "scratch"))
    else:
        wl = Registry()
    t_gen = time.time()
    wl.prepare()
    excluded += time.time() - t_gen
    tracer.add("generate", t_gen, time.time(), root)

    t_imp = time.time()
    from dup_ocropy_spark.session import get_spark

    t_gs = time.time()
    tracer.add("import", t_imp, t_gs, root)
    spark = get_spark(f"local[{a.cores}]", app_name=f"perfbench_{a.workload}",
                      shuffle_partitions=a.cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false",
                                  "spark.sql.warehouse.dir": os.path.join(a.out, "warehouse")})
    t_w = time.time()
    warm_workers(spark, a.cores)
    wl.bind(spark)
    t_v = time.time()
    run.values["session.start_s"] = t_w - t_gs
    run.values["session.python_worker_init_s"] = t_v - t_w
    tracer.add("get_spark", t_gs, t_w, root)
    tracer.add("warm_up", t_w, t_v, root)

    wl.verify(spark, run)
    excluded += time.time() - t_v
    tracer.add("verify", t_v, time.time(), root)

    t_first = time.time()
    run.values["setup_s"] = t_first - T_PROC - excluded
    passes = window(wl, spark, run, a.seconds, acct, None)
    if not passes:
        raise RuntimeError("no pass succeeded")
    run.values.update(summarize(passes, a.cores))
    run.values["peak_worker_rss_mb"] = acct.peak_worker_rss_mb()

    if a.trace:
        traced = window(wl, spark, run, a.seconds, acct, Traced(spark, tracer, root))
        layers = [p["layer"] for p in traced]
        for k in layers[0]:
            run.values[k] = median([x.get(k, 0.0) for x in layers])
        for k in ("trace.job_coverage", "trace.span_coverage"):
            run.values[k] = min(x[k] for x in layers)
        traced_wall = median([p["traced_end"] - p["start"] for p in traced])
        run.values["trace.overhead_frac"] = traced_wall / run.values["pass_s"] - 1.0
        replay_input = wl.replay_input()
        if replay_input:
            from pyspark.sql.pandas.types import to_arrow_schema

            from dup_ocropy_spark.config import DEFAULT_CONFIG
            from dup_ocropy_spark.kernels.oracle import EXTRACT_SCHEMA
            from kernel_replay import replay

            schema = to_arrow_schema(spark.createDataFrame([], EXTRACT_SCHEMA).schema)
            t_r = time.time()
            run.values.update(replay(replay_input, DEFAULT_CONFIG.arrow_batch_rows, schema,
                                     max_seconds=min(a.seconds, 5.0)))
            tracer.add("kernel replay", t_r, time.time(), root)

    stop_spark(spark)
    if a.trace:
        tracer.spans[root]["end"] = time.time()
        with open(os.path.join(a.out, "spans.json"), "w") as f:
            json.dump(tracer.dump(), f)
    with open(os.path.join(a.out, "result.json"), "w") as f:
        json.dump({"attempted": run.attempted, "failed": run.failed,
                   "failures": run.failures, "values": run.values}, f)


if __name__ == "__main__":
    main()
