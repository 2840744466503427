"""Relational recasts of the reference operator inventory (SURVEY.md §2).

Each query is the Spark-first expression of one reference operator family,
with its DuckDB oracle twin. Reference citations are on each registration.

Conventions for oracle parity:
  * every computed column aliased identically on both sides
  * doubles rounded (6 dp) on both sides before output
  * every window/top-k has a total-order tie-break (determinism)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from dup_ocropy_spark.functions.intervals import interval_overlap, intervals_intersect
from dup_ocropy_spark.functions.runs import run_label_col
from dup_ocropy_spark.operators.registry import register, table


# ---------------------------------------------------------------------------
# P-family: validation gates as filters (ocropus-nlbin:61-69, rpred:82-96)
# ---------------------------------------------------------------------------

@register(
    "p1_p8_gates",
    sql="""
    SELECT doc_id, n_chars,
           CASE WHEN n_chars < 100 THEN 'too_short'
                WHEN n_chars > 500 THEN 'too_long'
                ELSE 'ok' END AS gate,
           CASE WHEN CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE)
                     / length(text) > 0.95
                THEN 'passthrough' ELSE 'flatten' END AS branch
    FROM documents WHERE length(text) > 0
    """,
    doc="P1 check_page size gate (ocropus-nlbin:61-69) + P8 already-binary "
        "passthrough branch (ocropus-nlbin:192-199) in one per-doc gate frame: "
        "reject-reason column plus skip-flattening branch when >=95%% of the "
        "payload is already in the target alphabet",
)
def p1_p8_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").where(F.length("text") > 0)
    gate = (F.when(F.col("n_chars") < 100, "too_short")
            .when(F.col("n_chars") > 500, "too_long")
            .otherwise("ok"))
    frac = (F.length(F.regexp_replace("text", "[^a-z ]", "")).cast("double")
            / F.length("text"))
    branch = F.when(frac > 0.95, "passthrough").otherwise("flatten")
    return d.select("doc_id", "n_chars", gate.alias("gate"),
                    branch.alias("branch"))


@register(
    "p6_select_regions_topk",
    sql="""
    SELECT source, doc_id, n_chars, rk FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents WHERE n_chars > 100
    ) WHERE rk <= 3
    """,
    doc="select_regions: keep nbest regions scoring above min "
        "(ocrolib/morph.py:190-207)",
)
def p6_select_regions_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").where(F.col("n_chars") > 100)
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (d.select("source", "doc_id", "n_chars",
                     F.row_number().over(w).alias("rk"))
            .where(F.col("rk") <= 3))


# ---------------------------------------------------------------------------
# G-family: scale estimation, run labeling, interval joins (gpageseg/morph)
# ---------------------------------------------------------------------------

@register(
    "g1_estimate_scale",
    sql="""
    SELECT d.doc_id, d.source, round(sqrt(d.n_chars), 6) AS csize,
           round(s.scale, 6) AS scale, s.n_docs
    FROM documents d
    JOIN (SELECT source, quantile_cont(sqrt(n_chars), 0.5) AS scale,
                 count(*) AS n_docs
          FROM documents WHERE n_chars BETWEEN 50 AND 550
          GROUP BY source) s USING (source)
    WHERE sqrt(d.n_chars) BETWEEN 0.5 * s.scale AND 4.0 * s.scale
    """,
    doc="estimate_scale + compute_boxmap, folded: per-source median "
        "sqrt(size) of in-band components (ocrolib/psegutils.py:45-53), "
        "then keep components whose size sits in a band around that scale "
        "(psegutils.py:55-63). Doc grain with scale/n_docs carried per "
        "row, so both G-operators stay oracle-checked from one driver "
        "slot (the reference chains them the same way: estimate_scale's "
        "output IS compute_boxmap's threshold). Join strategy left to "
        "AQE — the per-source aggregate is broadcast at runtime.",
)
def g1_estimate_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    scales = (d.where(F.col("n_chars").between(50, 550))
              .groupBy("source")
              .agg(F.percentile(F.sqrt("n_chars"), F.lit(0.5)).alias("_scale"),
                   F.count("*").alias("n_docs")))
    return (d.join(scales, "source")
            .where(F.sqrt("n_chars").between(0.5 * F.col("_scale"),
                                             4.0 * F.col("_scale")))
            .select("doc_id", "source",
                    F.round(F.sqrt("n_chars"), 6).alias("csize"),
                    F.round("_scale", 6).alias("scale"), "n_docs"))


_RUN_LABEL_SQL = """
      SELECT event_id, user_id, event_type,
             CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id,
             ts
      FROM (
        SELECT event_id, user_id, event_type, ts,
               CASE WHEN event_type IS DISTINCT FROM
                         lag(event_type) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                    THEN 1 ELSE 0 END AS boundary
        FROM events
      )
"""


def _run_label_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-run labeling: the 1-D recast of morph.label connected
    components (ocrolib/morph.py:14-27) — boundary-flag cumsum window."""
    e = table(spark, sf_dir, "events")
    run = run_label_col("event_type", ["user_id"], ["ts", "event_id"])
    return e.select("event_id", "user_id", "event_type",
                    run.alias("run_id"), "ts")


@register(
    "g4_run_extents",
    sql=f"""
    SELECT user_id, run_id, count(*) AS n_events,
           min(event_id) AS first_event, max(event_id) AS last_event
    FROM ({_RUN_LABEL_SQL})
    GROUP BY user_id, run_id
    """,
    doc="G3 label + G4 find_objects in one query: connected-component "
        "labeling as boundary-cumsum over the ordered stream (morph.py:14-27 "
        "recast -> run_id), then bbox per label as min/max extents per run "
        "(morph.py:29-42)",
)
def g4_run_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_run_label_df(spark, sf_dir)
            .groupBy("user_id", "run_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("event_id").alias("first_event"),
                 F.max("event_id").alias("last_event")))


# interval sets for the overlap joins: blocks = 'view' events, seeds = 'click'
_BLOCKS_SQL = """
  SELECT event_id AS block_id, user_id,
         value AS bs, value + 3.0 AS be
  FROM events WHERE event_type = 'view'
"""
_SEEDS_SQL = """
  SELECT event_id AS seed_id, user_id,
         value AS ss, value + 5.0 AS se,
         event_id % 7 AS label
  FROM events WHERE event_type = 'click'
"""


def _blocks_seeds(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    e = table(spark, sf_dir, "events")
    # disambiguate the self-join: rename the key on each side (avoids the
    # trivially-true `user_id == user_id` self-join hazard)
    blocks = (e.where(F.col("event_type") == "view")
              .select(F.col("event_id").alias("block_id"),
                      F.col("user_id").alias("b_user"),
                      F.col("value").alias("bs"),
                      (F.col("value") + 3.0).alias("be")))
    seeds = (e.where(F.col("event_type") == "click")
             .select(F.col("event_id").alias("seed_id"),
                     F.col("user_id").alias("s_user"),
                     F.col("value").alias("ss"),
                     (F.col("value") + 5.0).alias("se"),
                     (F.col("event_id") % 7).alias("label")))
    return blocks, seeds


@register(
    "g11_propagate_labels",
    sql=f"""
    SELECT b.user_id, b.block_id,
           CASE WHEN count(DISTINCT s.label) = 1 THEN min(s.label)
                ELSE 0 END AS resolved_label,
           count(*) AS n_seed_matches
    FROM ({_BLOCKS_SQL}) b JOIN ({_SEEDS_SQL}) s
      ON b.user_id = s.user_id AND b.bs < s.se AND s.ss < b.be
    GROUP BY b.user_id, b.block_id
    """,
    doc="propagate_labels: seed labels onto overlapping components, "
        "conflicts -> 0 (morph.py:174-188) as an interval join + agg; "
        "equi-key on user_id, no broadcast hint (seeds scale with events)",
)
def g11_propagate_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    blocks, seeds = _blocks_seeds(spark, sf_dir)
    j = blocks.join(seeds, _interval_cond())
    return (j.groupBy(F.col("b_user").alias("user_id"), F.col("block_id"))
            .agg(F.when(F.count_distinct("label") == 1, F.min("label"))
                 .otherwise(F.lit(0)).alias("resolved_label"),
                 F.count("*").alias("n_seed_matches")))


def _interval_cond():
    return ((F.col("b_user") == F.col("s_user"))
            & intervals_intersect(F.col("bs"), F.col("be"), F.col("ss"), F.col("se")))


@register(
    "g13_keep_remove_marked",
    sql=f"""
    SELECT b.user_id, b.block_id, 'kept' AS mark FROM ({_BLOCKS_SQL}) b
    WHERE EXISTS (SELECT 1 FROM ({_SEEDS_SQL}) s
                  WHERE s.user_id = b.user_id AND b.bs < s.se AND s.ss < b.be)
    UNION ALL
    SELECT b.user_id, b.block_id, 'removed' AS mark FROM ({_BLOCKS_SQL}) b
    WHERE NOT EXISTS (SELECT 1 FROM ({_SEEDS_SQL}) s
                      WHERE s.user_id = b.user_id AND b.bs < s.se AND s.ss < b.be)
    """,
    doc="keep_marked + remove_marked (morph.py:135-149): LEFT SEMI and LEFT "
        "ANTI interval joins, unioned with a mark tag so both join strategies "
        "are driver-checked in one query; no broadcast hint — the seed side "
        "is an unbounded fraction of events, AQE picks the strategy",
)
def g13_keep_remove_marked(spark: SparkSession, sf_dir: str) -> DataFrame:
    blocks, seeds = _blocks_seeds(spark, sf_dir)
    kept = (blocks.join(seeds, _interval_cond(), "left_semi")
            .select(F.col("b_user").alias("user_id"), "block_id",
                    F.lit("kept").alias("mark")))
    removed = (blocks.join(seeds, _interval_cond(), "left_anti")
               .select(F.col("b_user").alias("user_id"), "block_id",
                       F.lit("removed").alias("mark")))
    return kept.unionByName(removed)


@register(
    "g14_correspondences",
    sql=f"""
    SELECT b.block_id % 5 AS label_a, s.label AS label_b,
           count(*) AS n_pairs
    FROM ({_BLOCKS_SQL}) b JOIN ({_SEEDS_SQL}) s
      ON b.user_id = s.user_id AND b.bs < s.se AND s.ss < b.be
    GROUP BY b.block_id % 5, s.label
    """,
    doc="correspondences (morph.py:151-161): distinct overlapping-label "
        "pairs between two labelings of the same domain, with pair "
        "multiplicity — overlap join -> groupBy(label_a, label_b)",
)
def g14_correspondences(spark: SparkSession, sf_dir: str) -> DataFrame:
    blocks, seeds = _blocks_seeds(spark, sf_dir)
    j = blocks.join(seeds, _interval_cond())
    return (j.groupBy((F.col("block_id") % 5).alias("label_a"),
                      F.col("label").alias("label_b"))
            .agg(F.count("*").alias("n_pairs")))


@register(
    "g15_all_neighbors",
    sql="""
    SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
           count(*) AS n_pairs
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
    GROUP BY a.l_returnflag, b.l_returnflag
    """,
    doc="all_neighbors: adjacent-label pairs via positional self-join "
        "(morph.py:209-223)",
)
def g15_all_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    a = li.alias("a")
    b = li.alias("b")
    j = a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_linenumber") + 1 == F.col("b.l_linenumber")))
    return (j.groupBy(F.col("a.l_returnflag").alias("flag_a"),
                      F.col("b.l_returnflag").alias("flag_b"))
            .agg(F.count("*").alias("n_pairs")))


@register(
    "g16_renumber_ordered",
    sql="""
    SELECT p_partkey,
           dense_rank() OVER (PARTITION BY p_brand
                              ORDER BY p_size, p_partkey) AS new_id
    FROM part
    """,
    doc="renumber_labels_ordered / renumber_by_xcenter: densify ids in "
        "position order (morph.py:229-272)",
)
def g16_renumber_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy("p_size", "p_partkey")
    return p.select("p_partkey", F.dense_rank().over(w).alias("new_id"))


@register(
    "g20_interval_overlap",
    sql=f"""
    SELECT b.block_id, s.seed_id,
           round(greatest(0.0, least(b.be, s.se) - greatest(b.bs, s.ss)), 6)
             AS overlap
    FROM ({_BLOCKS_SQL}) b JOIN ({_SEEDS_SQL}) s
      ON b.user_id = s.user_id AND b.bs < s.se AND s.ss < b.be
    """,
    doc="sl.* rectangle algebra: overlap width via greatest/least "
        "(ocrolib/sl.py:13-155); equi-key join, strategy left to AQE",
)
def g20_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    blocks, seeds = _blocks_seeds(spark, sf_dir)
    j = blocks.join(seeds, _interval_cond())
    overlap = interval_overlap(F.col("bs"), F.col("be"), F.col("ss"), F.col("se"))
    return j.select("block_id", "seed_id", F.round(overlap, 6).alias("overlap"))


# ---------------------------------------------------------------------------
# O-family: ordering / top-k / histograms
# ---------------------------------------------------------------------------

@register(
    "o1_reading_order",
    sql="""
    SELECT event_id, user_id, rn FROM (
      SELECT event_id, user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn <= 5
    """,
    doc="reading_order + topsort: total order within a group "
        "(psegutils.py:127-181 collapsed to 1-D)",
)
def o1_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (e.select("event_id", "user_id", F.row_number().over(w).alias("rn"))
            .where(F.col("rn") <= 5))


# O6 chist (ocrolib/common.py:471-478) is registered inside
# g6_top_separator_runs (relational2.py): each top-run row carries its
# run's event_type and the corpus-wide count of that type (type_total),
# so the folded oracle still checks the histogram aggregate per row.
# The freed driver slot went to dedup_paragraphs (registry folding
# policy, PLANS.md).


# ---------------------------------------------------------------------------
# H-family: reassembly / layout analytics (ocropus-hocr)
# ---------------------------------------------------------------------------

@register(
    "h2_paragraph_breaks",
    sql="""
    SELECT event_id, user_id,
           CASE WHEN gap > 3600 THEN 1 ELSE 0 END AS is_break
    FROM (
      SELECT event_id, user_id,
             epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)) AS gap
      FROM events
    ) WHERE gap IS NOT NULL
    """,
    doc="paragraph-break detection: consecutive-item gap thresholds via "
        "lag window (ocropus-hocr:101-113)",
)
def h2_paragraph_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (e.select("event_id", "user_id", gap.alias("gap"))
            .where(F.col("gap").isNotNull())
            .select("event_id", "user_id",
                    F.when(F.col("gap") > 3600, 1).otherwise(0).alias("is_break")))


@register(
    "h4_reassembly",
    sql="""
    SELECT user_id,
           string_agg(event_type, ',' ORDER BY ts, event_id) AS journey,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
    doc="line->page assembly under stable ordering: collect + sort + join "
        "(ocropus-hocr:91-153); JVM-side only, no Python",
)
def h4_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread (r6, measured): collect_list's partial aggregation
    # carries every input row, so a pre-exchange to widen the scan stage
    # only adds a second full shuffle of the 1M structs — 0.96 s native
    # vs 1.40 s spread at sf1.0. The narrow scan stage does nothing but
    # project; the groupBy exchange already parallelizes the real work
    # (per-user array_sort + join).
    e = table(spark, sf_dir, "events")
    return (e.groupBy("user_id")
            .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                        lambda s: s["event_type"]),
                    ",").alias("journey"),
                 F.count("*").alias("n_events")))


@register(
    "h3_font_size_estimate",
    sql="""
    SELECT doc_id,
           CAST(floor(least(greatest(
             100.0 * n_chars / (SELECT quantile_cont(n_chars, 0.5) FROM documents),
             30.0), 300.0) / 10.0) * 10 AS BIGINT) AS relsize
    FROM documents
    """,
    doc="font-size estimate: per-item size / corpus median, clipped 30..300%%, "
        "rounded to 10%% (ocropus-hocr:135-141)",
)
def h3_font_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    med = d.agg(F.percentile("n_chars", F.lit(0.5)).alias("m"))
    rel = F.least(F.greatest(100.0 * F.col("n_chars") / F.col("m"), F.lit(30.0)), F.lit(300.0))
    return (d.crossJoin(F.broadcast(med))
            .select("doc_id", (F.floor(rel / 10.0) * 10).cast("bigint").alias("relsize")))


# ---------------------------------------------------------------------------
# A-family: metrics (ocropus-errs / econf)
# ---------------------------------------------------------------------------

_PAIRS_SQL = """
  SELECT a.doc_id, a.source,
         substr(a.text, 1, 40) AS pred, substr(b.text, 1, 40) AS gt
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
"""


def _doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    a = d.alias("a")
    b = d.alias("b")
    return (a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
            .select(F.col("a.doc_id").alias("doc_id"),
                    F.col("a.source").alias("source"),
                    F.substring(F.col("a.text"), 1, 40).alias("pred"),
                    F.substring(F.col("b.text"), 1, 40).alias("gt")))


@register(
    "a5_error_report",
    sql=f"""
    SELECT doc_id, source, levenshtein(pred, gt) AS lev,
           length(gt) AS gt_len,
           round(CAST(levenshtein(pred, gt) AS DOUBLE)
                 / greatest(length(gt), 1), 6) AS err_rate
    FROM ({_PAIRS_SQL})
    """,
    doc="A5 per-item error report (ocropus-errs:54-56: sorted (err, len, "
        "fname) rows) — subsumes A1 levenshtein (ocrolib/edist.py:6-19, "
        "built-in JVM levenshtein, the lev column); driver sorts rows, so "
        "the report order key (err desc) is a consumer-side orderBy",
)
def a5_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    lev = F.levenshtein("pred", "gt")
    return (_doc_pairs(spark, sf_dir)
            .select("doc_id", "source", lev.alias("lev"),
                    F.length("gt").alias("gt_len"),
                    F.round(lev.cast("double")
                            / F.greatest(F.length("gt"), F.lit(1)), 6)
                    .alias("err_rate")))


@register(
    "a3_error_rate",
    sql=f"""
    SELECT source,
           round(CAST(sum(levenshtein(pred, gt)) AS DOUBLE)
                 / sum(length(gt)), 6) AS err_rate,
           count(*) AS n_pairs
    FROM ({_PAIRS_SQL}) GROUP BY source
    """,
    doc="error-rate reduce: sum(err)/sum(len) (ocropus-errs:36-66). "
        "Dialect note: DuckDB levenshtein counts BYTES, Spark counts "
        "codepoints (= the reference's Python edist) — the twin matches on "
        "ASCII corpora (the driver's); non-ASCII authority is "
        "kernels/edist, golden-tested",
)
def a3_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_doc_pairs(spark, sf_dir)
            .groupBy("source")
            .agg(F.round(F.sum(F.levenshtein("pred", "gt")).cast("double")
                         / F.sum(F.length("gt")), 6).alias("err_rate"),
                 F.count("*").alias("n_pairs")))


@register(
    "a4_confusion_topk",
    sql="""
    SELECT prev_type, event_type, n FROM (
      SELECT prev_type, event_type, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, prev_type, event_type)
               AS rk
      FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
      ) WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ) WHERE rk <= 10
    """,
    doc="confusion-matrix reduce + most_common(k): pair counts, partial agg "
        "free in Spark (ocropus-econf:47-111)",
)
def a4_confusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (e.select("event_type", F.lag("event_type").over(w).alias("prev_type"))
             .where(F.col("prev_type").isNotNull())
             .groupBy("prev_type", "event_type").agg(F.count("*").alias("n")))
    # global top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, no single-partition window at scale); total order => deterministic
    return pairs.orderBy(F.desc("n"), "prev_type", "event_type").limit(10)


@register(
    "a6_moving_stats",
    sql="""
    SELECT event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
             AS mavg
    FROM events
    """,
    doc="MovingStats: running mean of last n (ocrolib/common.py:871-882)",
)
def a6_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return e.select("event_id", F.round(F.avg("value").over(w), 6).alias("mavg"))


# ---------------------------------------------------------------------------
# J-family: key joins with missing accounting (ocropus-errs:38-46)
# ---------------------------------------------------------------------------

@register(
    "j1_missing_accounting",
    sql="""
    SELECT g.source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN p.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing
    FROM documents g
    LEFT JOIN (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) p
      ON g.doc_id = p.doc_id
    GROUP BY g.source
    """,
    doc="pred<->gt filename join with missing-file accounting as a left "
        "join + null counting (ocropus-errs:38-46)",
)
def j1_missing_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    pred = d.where(F.col("doc_id") % 7 != 0).select(F.col("doc_id").alias("p_doc_id"))
    # pred is ~6/7 of the table — never broadcast it; plain equi-join
    return (d.join(pred, d.doc_id == pred.p_doc_id, "left")
            .groupBy("source")
            .agg(F.count("*").alias("n_total"),
                 F.sum(F.when(F.col("p_doc_id").isNull(), 1).otherwise(0))
                 .alias("n_missing")))


# ---------------------------------------------------------------------------
# OLAP parity: grouped aggregation + broadcast-join top-k (SURVEY.md §2.9/2.10)
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    sql="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="grouped-aggregation parity check (TPC-H Q1 shape); partial+final "
        "agg comes free from Catalyst",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count("*").alias("count_order")))


@register(
    "q3_topk_revenue",
    sql="""
    SELECT l_orderkey, revenue, o_orderdate FROM (
      SELECT l.l_orderkey,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
             CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
             row_number() OVER (
               ORDER BY round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) DESC,
                        l.l_orderkey) AS rk
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY l.l_orderkey, o.o_orderdate
    ) WHERE rk <= 10
    """,
    doc="join + top-k: no forced broadcasts (orders/customer scale with the "
        "fact table; AQE broadcasts at runtime when a side is actually "
        "small), single shuffle per join key, TakeOrderedAndProject top-k",
)
def q3_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    # join order (r6): orders x filtered-customer FIRST — the selective
    # c_mktsegment filter shrinks orders ~5x before the fact table joins,
    # so the big lineitem exchange carries only matching orderkeys (and
    # AQE can broadcast the reduced build side, dropping the lineitem
    # shuffle entirely at bench scale). Inner joins commute: results
    # identical, oracle SQL untouched. No forced broadcast — at 100 TB
    # AQE falls back to SMJ on the same reduced side.
    oc = o.join(c, o.o_custkey == c.c_custkey)
    j = li.join(oc, li.l_orderkey == oc.o_orderkey)
    agg = (j.groupBy("l_orderkey", "o_orderdate")
           .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                .alias("revenue")))
    return (agg.select("l_orderkey", "revenue",
                       F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
            .orderBy(F.desc("revenue"), "l_orderkey")  # TakeOrderedAndProject
            .limit(10))
