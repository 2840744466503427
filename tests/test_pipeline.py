"""End-to-end Spark pipeline tests: per-turn equality vs the oracle /
construction ground truth, determinism across partitionings, skew,
reassembly ordering, lineage, resume (FIXTURES.md sections 1-3)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import DataFrameReader, functions as F

from dup_ocropy_spark.kernels.oracle import extract_frame
from dup_ocropy_spark.plans import resume
from dup_ocropy_spark.plans.extract import conversation_text, extract, ordered, reject_report
from dup_ocropy_spark.plans.lineage import dataset_checksum, write_output_with_lineage
from dup_ocropy_spark.plans.resume import (
    bucket_col, committed_buckets, read_checkpointed, run_with_checkpoints,
)
from dup_ocropy_spark.sources.transcripts import (
    synth_expected, synth_transcripts, write_transcripts,
)

N_CONVS = 60


@pytest.fixture(scope="module")
def transcripts(spark):
    return synth_transcripts(spark, N_CONVS).cache()


@pytest.fixture(scope="module")
def extracted_pdf(spark, transcripts):
    return (extract(transcripts)
            .orderBy("conv_id", "turn_idx")
            .toPandas())


def test_per_turn_equality_vs_construction(spark, extracted_pdf):
    """north_rule invariant: per-turn text equality vs ground truth under
    stable (conv_id, turn_idx) ordering."""
    expected = (synth_expected(spark, N_CONVS)
                .orderBy("conv_id", "turn_idx").toPandas())
    assert len(extracted_pdf) == len(expected)
    assert (extracted_pdf["conv_id"].values == expected["conv_id"].values).all()
    assert (extracted_pdf["turn_idx"].values == expected["turn_idx"].values).all()
    mism = extracted_pdf["extracted_text"].values != expected["expected_text"].values
    assert mism.sum() == 0, extracted_pdf[mism].head()


def test_extract_keeps_null_turn_idx(spark):
    """A null turn_idx survives the Spark extraction stage as null."""
    df = spark.createDataFrame(
        [("c", None, "user", "<p>a paragraph that is long enough</p>", None),
         ("c", 3, "user", "another payload long enough to pass", None)],
        "conv_id string, turn_idx int, role string, text string, tool string")
    rows = extract(df).orderBy("extracted_text").collect()
    assert [r.turn_idx for r in rows] == [None, 3]
    assert rows[0].extracted_text == "a paragraph that is long enough"


def test_per_turn_equality_vs_oracle(spark, transcripts, extracted_pdf):
    """Spark output == single-process oracle over the same rows."""
    raw = transcripts.orderBy("conv_id", "turn_idx").toPandas()
    oracle = extract_frame(raw).reset_index(drop=True)
    got = extracted_pdf.reset_index(drop=True)
    pd.testing.assert_series_equal(got["extracted_text"], oracle["extracted_text"])
    pd.testing.assert_series_equal(got["reject_reason"], oracle["reject_reason"])
    # spans equality (struct cells arrive as dicts via Arrow)
    def key(s):
        return (s["block_id"], s["start"], s["end"], s["label"], round(s["score"], 6))

    for g, o in zip(got["spans"], oracle["spans"]):
        assert [key(s) for s in g] == [key(s) for s in o]


def test_determinism_across_parallelism(spark, transcripts):
    """Same input at two partitionings -> identical output set (guards the
    imap_unordered -> deterministic upgrade; SURVEY.md section 5)."""
    a = extract(transcripts, repartition=2)
    b = extract(transcripts, repartition=16)
    assert dataset_checksum(a) == dataset_checksum(b)
    assert a.count() == b.count()


def test_ordered_output_is_totally_ordered(spark, transcripts):
    rows = ordered(extract(transcripts)).select("conv_id", "turn_idx").collect()
    keys = [(r.conv_id, r.turn_idx) for r in rows]
    assert keys == sorted(keys)


def test_skewed_hot_conversation(spark):
    """1 hot conv with ~100x median turns: salted repartition keeps the
    map stage balanced and output unaffected."""
    df = synth_transcripts(spark, 12, hot_every=100, hot_turns=800)
    out = extract(df, repartition=8)
    sizes = (out.withColumn("p", F.spark_partition_id())
             .groupBy("p").count().toPandas()["count"])
    assert len(sizes) == 8
    # hot conv alone (~800 turns) exceeds a fair share; salting must spread it
    assert sizes.max() < sizes.sum() * 0.35
    exp = synth_expected(spark, 12, hot_every=100, hot_turns=800)
    joined = (out.join(exp, ["conv_id", "turn_idx"])
              .where(F.col("extracted_text") != F.col("expected_text")))
    assert joined.count() == 0


def test_conversation_reassembly(spark, transcripts, extracted_pdf):
    conv = conversation_text(extract(transcripts)).orderBy("conv_id").toPandas()
    pdf = extracted_pdf[extracted_pdf["extracted_text"] != ""]
    exp = (pdf.sort_values(["conv_id", "turn_idx"])
           .groupby("conv_id")["extracted_text"].apply("\n".join))
    got = conv.set_index("conv_id")["conv_text"]
    assert got.to_dict() == exp.to_dict()


def test_reject_report(spark, transcripts):
    rep = reject_report(extract(transcripts)).toPandas()
    reasons = set(rep["reject_reason"].dropna())
    # the synthetic grammar always plants empty/blank/too-short fixtures
    assert {"empty", "blank", "too_short"} <= reasons


def test_lineage(spark, transcripts, tmp_path):
    out = extract(transcripts)
    lin = write_output_with_lineage(out, str(tmp_path / "out"), "snap-1")
    pdf = lin.toPandas()
    assert pdf["row_count"].sum() == out.count()
    assert (pdf["source_snapshot"] == "snap-1").all()
    back = spark.read.parquet(str(tmp_path / "out_lineage"))
    assert back.count() == len(pdf)


def test_resume_idempotent(spark, transcripts, tmp_path):
    """Kill after bucket k, restart, final table identical to a clean run
    (resume fixture, FIXTURES.md section 3)."""
    out_dir = str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoints(transcripts, out_dir, n_buckets=4, fail_after_bucket=1)
    done_before = committed_buckets(out_dir)
    assert 0 < len(done_before) < 4
    # restart completes the remaining buckets only
    entries = run_with_checkpoints(transcripts, out_dir, n_buckets=4)
    assert {e["bucket"] for e in entries} == set(range(4)) - done_before
    resumed = read_checkpointed(spark, out_dir)
    direct = extract(transcripts)
    assert resumed.count() == direct.count()
    assert dataset_checksum(resumed) == dataset_checksum(direct)
    # re-running a completed checkpoint is a no-op
    assert run_with_checkpoints(transcripts, out_dir, n_buckets=4) == []


def _manifests(out_dir: str) -> dict[int, dict]:
    mdir = os.path.join(out_dir, "_manifest")
    out = {}
    for f in os.listdir(mdir):
        with open(os.path.join(mdir, f)) as fh:
            m = json.load(fh)
        out[m["bucket"]] = m
    return out


def test_resume_manifests_match_committed_buckets(spark, transcripts, tmp_path):
    """After a crash and a restart, each manifest's row count and checksum
    are those of its bucket as read_checkpointed reads it back."""
    out_dir = str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoints(transcripts, out_dir, n_buckets=4, fail_after_bucket=1)
    run_with_checkpoints(transcripts, out_dir, n_buckets=4)
    manifests = _manifests(out_dir)
    assert set(manifests) == set(range(4))
    back = read_checkpointed(spark, out_dir)
    for b, m in manifests.items():
        part = back.where(bucket_col(4) == b)
        assert m["row_count"] == part.count() > 0
        assert m["checksum"] == dataset_checksum(part)


def test_resume_reads_each_bucket_back_in_one_job(spark, transcripts, tmp_path, monkeypatch):
    """Every Spark job from the start of a bucket's read-back to the next
    bucket's extraction falls in that bucket's job group: one per bucket."""
    sc = spark.sparkContext
    groups: list[str] = []
    real_extract, real_parquet = resume.extract, DataFrameReader.parquet

    def extract_in_group(*a, **kw):
        sc.setJobGroup(f"write-{tmp_path.name}", "bucket write")
        return real_extract(*a, **kw)

    def parquet_in_group(self, *paths, **kw):
        groups.append(f"readback-{tmp_path.name}-{len(groups)}")
        sc.setJobGroup(groups[-1], "bucket read-back")
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(resume, "extract", extract_in_group)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet_in_group)
    try:
        run_with_checkpoints(transcripts, str(tmp_path / "ckpt"), n_buckets=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(groups) == 3
    tracker = sc.statusTracker()
    assert [len(tracker.getJobIdsForGroup(g)) for g in groups] == [1, 1, 1]


def test_write_transcripts_scrambled_then_reordered(spark, tmp_path):
    path = str(tmp_path / "tr")
    write_transcripts(spark, path, 10)
    df = spark.read.parquet(path)
    assert df.count() == synth_transcripts(spark, 10).count()
    out = ordered(extract(df)).select("conv_id", "turn_idx").toPandas()
    keys = list(zip(out["conv_id"], out["turn_idx"]))
    assert keys == sorted(keys)


def test_mask_column_forces_boundaries(spark):
    """J5/G8 analog: an optional per-turn mask column splits blocks at the
    given raw offsets, end-to-end through the distributed stage."""
    import pandas as pd

    pdf = pd.DataFrame({
        "conv_id": ["c1", "c1"],
        "turn_idx": pd.array([0, 1], dtype="int32"),
        "role": ["user", "user"],
        "text": ["aaaa bbbb cccc dddd eeee ffff gggg hhhh"] * 2,
        "tool": ["", ""],
        "mask": [None, [20]],
    })
    df = spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, role string, text string, "
             "tool string, mask array<int>")
    out = extract(df).orderBy("turn_idx").collect()
    assert [(s["start"], s["end"]) for s in out[0].spans] == [(0, 39)]
    assert [(s["start"], s["end"]) for s in out[1].spans] == [(0, 19), (20, 39)]
