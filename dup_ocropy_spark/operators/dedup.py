"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), character-shingle Jaccard (SQL-expressible, the
oracle-checkable baseline), MinHash+LSH (the scale path: shingle ->
minhash -> band -> bucket-join), and SimHash (bitwise near-dup).

Scale notes (100 TB): exact dedup is one shuffle on a 16-byte hash;
shingle-join dedup is bounded by dropping high-document-frequency
shingles (stop-shingles) before the self-join, the standard guard
against quadratic blowup on boilerplate; MinHash/LSH replaces the
full shingle join with b tiny bucket joins whose keys are
(band, minhash-of-band) — each bucket is small by construction and
AQE's skew-join splits any pathological bucket.

Caching: the pair helpers persist shared intermediates (shingles /
signatures) through ``plans/cache.persist_shared``; the consuming
job/test calls ``plans.cache.release_shared()`` after its terminal
action, which frees exactly the library's blocks (asserted in
test_cache_discipline). The two-phase job mode sidesteps executor-memory
residency entirely by materializing the signature table to parquet —
the documented 100 TB production path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from dup_ocropy_spark.plans.cache import persist_shared

from dup_ocropy_spark.operators.registry import register, spread_small_input, table

# char-shingle parameters shared by jaccard + minhash so results compare
SHINGLE_LEN = 20
SHINGLE_STRIDE = 10
MAX_SHINGLE_DF = 20  # stop-shingle cutoff


@register(
    "dedup_exact",
    sql="""
    SELECT doc_id, n_copies FROM (
      SELECT doc_id,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk,
             count(*) OVER (PARTITION BY md5(text)) AS n_copies
      FROM documents
    ) WHERE rk = 1
    """,
    doc="exact dedup, keep-first survivor set (min doc_id per text hash) "
        "with per-group multiplicity (n_copies; sum(n_copies-1) = duplicate "
        "rows removed): one shuffle on a 16-byte hash key at any scale",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_keep_first(table(spark, sf_dir, "documents"))


def exact_keep_first(d: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Survivor set (min ``id_col`` per text hash) + group multiplicity.

    Any orderable key works — callers with a natural string key (e.g.
    conv_id) pass it directly instead of minting a surrogate hash whose
    birthday collisions would silently drop non-duplicates at 1e9-doc
    scale."""
    from pyspark.sql import Window as W

    w = W.partitionBy(F.md5("text")).orderBy(id_col)
    wc = W.partitionBy(F.md5("text"))
    return (d.select(id_col,
                     F.row_number().over(w).alias("rk"),
                     F.count("*").over(wc).alias("n_copies"))
            .where(F.col("rk") == 1).select(id_col, "n_copies"))


# --- sub-document exact dedup (C4 / Dolma paragraph dedup) ----------------
# The corpora those pipelines dedupe carry newline-delimited paragraphs;
# this corpus is single-line word text, so the unit is grafted to a fixed
# word tile — same operator shape (explode units, keep the globally first
# occurrence of each repeated unit, reassemble), different splitter.
TILE_WORDS = 8        # words per dedup unit
TILE_MIN_CHARS = 20   # shorter units never dedup (C4's short-line guard:
#                       dropping every later "Yes." would shred documents)


@register(
    "dedup_paragraphs",
    sql=f"""
    WITH w AS (
      SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
    ), tiles AS (
      SELECT doc_id, x.pos AS pos, x.tile AS tile FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(0, CAST(ceil(len(ws) / {TILE_WORDS}.0) AS BIGINT)),
                 t -> struct_pack(
                   pos := t,
                   tile := array_to_string(
                     list_slice(ws, t * {TILE_WORDS} + 1,
                                t * {TILE_WORDS} + {TILE_WORDS}), ' ')))) AS x
        FROM w)
    ), marked AS (
      SELECT doc_id, pos, tile,
             (length(trim(tile)) < {TILE_MIN_CHARS})
             OR (row_number() OVER (PARTITION BY md5(tile)
                                    ORDER BY doc_id, pos) = 1) AS keep
      FROM tiles
    )
    SELECT doc_id,
           count(*) AS n_units,
           count(*) FILTER (WHERE keep) AS n_kept,
           md5(coalesce(string_agg(tile, ' ' ORDER BY pos)
                          FILTER (WHERE keep), '')) AS kept_md5
    FROM marked GROUP BY doc_id
    """,
    doc="C4/Dolma-style sub-document exact dedup: explode each doc into "
        "fixed 8-word tiles (the paragraph unit grafted to a single-line "
        "corpus), keep the globally FIRST occurrence of every repeated "
        "tile (min (doc_id, pos); within-doc repeats dedup too), guard "
        "units under 20 chars from deduping, reassemble. Output per doc: "
        "unit/survivor counts + md5 of the deduped text",
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_dedup(table(spark, sf_dir, "documents"))


def paragraph_dedup(d: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", tile_words: int = TILE_WORDS,
                    min_chars: int = TILE_MIN_CHARS) -> DataFrame:
    """Corpus-wide sub-document exact dedup (C4 'three-sentence span' /
    Dolma paragraph dedup, unit = fixed word tile).

    Scale shape: one shuffle keyed on the unit hash (the first-occurrence
    window — rows carry the tile text anyway for reassembly, so hashing
    the partition key only narrows the key bytes), then one shuffle back
    on the doc id; both AQE-splittable. No self-join, no all-pairs —
    exact sub-document dedup is linear in corpus size.

    Determinism: 'first' is the smallest (id, pos); id is unique and pos
    is unique within a doc, so survivor choice never depends on
    partitioning.
    """
    from pyspark.sql import Window as W

    # own projection for the split array: referencing it k times inside
    # the tiling lambda would inline the split k times (CLAUDE.md)
    ws = d.select(id_col, F.split(F.trim(text_col), " ").alias("ws"))
    n_tiles = F.ceil(F.size("ws") / F.lit(tile_words)).cast("int")
    tile_of = lambda t: F.array_join(  # noqa: E731
        F.slice("ws", t * tile_words + 1, tile_words), " ")
    tiles = ws.select(
        id_col,
        F.posexplode(F.transform(F.sequence(F.lit(0), n_tiles - 1), tile_of))
         .alias("pos", "tile"))
    first = W.partitionBy(F.md5("tile")).orderBy(id_col, "pos")
    keep = ((F.length(F.trim("tile")) < min_chars)
            | (F.row_number().over(first) == 1))
    marked = tiles.select(id_col, "pos", "tile", keep.alias("keep"))
    kept_sorted = F.transform(
        F.array_sort(F.collect_list(  # collect_list drops the null (=cut) rows
            F.when(F.col("keep"), F.struct(F.col("pos"), F.col("tile"))))),
        lambda s: s["tile"])
    return (marked.groupBy(id_col)
            .agg(F.count("*").alias("n_units"),
                 F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
                 F.md5(F.array_join(kept_sorted, " ")).alias("kept_md5")))


# DuckDB's generate_series table function rejects lateral column params,
# so build a global position series and filter per doc; the per-doc tail
# window (not generally on the stride grid) is unioned in separately.
_SHINGLES_SQL = f"""
  SELECT DISTINCT doc_id, substr(text, CAST(p AS INT), {SHINGLE_LEN}) AS sh
  FROM documents,
       (SELECT unnest(generate_series(
            1,
            (SELECT greatest(max(length(text)) - {SHINGLE_LEN - 1}, 1)
             FROM documents),
            {SHINGLE_STRIDE})) AS p)
  WHERE p <= greatest(length(text) - {SHINGLE_LEN - 1}, 1)
  UNION
  SELECT doc_id,
         substr(text, CAST(greatest(length(text) - {SHINGLE_LEN - 1}, 1) AS INT),
                {SHINGLE_LEN}) AS sh
  FROM documents
"""


def shingles_of(d: DataFrame) -> DataFrame:
    """Positional char shingles per doc (JVM-side: sequence + explode +
    substring, no Python). Input: (doc_id, text). May carry per-doc
    duplicate shingles (two windows with equal text): the minhash
    consumer is a per-doc ``min`` aggregate, identical over a multiset
    and its set — so the former row-level ``.distinct()`` here was a
    full exchange of every (doc_id, 20-char shingle) row paid for
    nothing (r6: its removal drops one Exchange from every minhash
    plan; map-side partial min-agg now collapses each scan partition to
    one row per doc before the only shuffle). Set-semantics consumers
    (Jaccard doc-frequency / overlap counts) apply ``.distinct()``
    themselves in ``jaccard_filtered_shingles``.

    The final window position is always included: a bare stride sequence
    leaves up to stride-1 tail chars uncovered, so two docs differing
    only in the tail would compare as identical shingle sets (the stream
    gate hit this as real data loss; the batch estimate just lost
    fidelity). The DuckDB twin unions the same tail window. The
    ``array_distinct`` below keeps POSITIONS unique (the tail position
    can coincide with a stride point), not shingle values."""
    d = spread_small_input(d)
    last = F.greatest(F.length("text") - F.lit(SHINGLE_LEN - 1), F.lit(1))
    pos = F.explode(F.array_distinct(F.concat(
        F.sequence(F.lit(1), last, F.lit(SHINGLE_STRIDE)),
        F.array(last)))).alias("p")
    return (d.select("doc_id", "text", pos)
            .select("doc_id", F.substring(F.col("text"), F.col("p").cast("int"), SHINGLE_LEN)
                    .alias("sh")))


@register(
    "dedup_ngram_jaccard",
    sql=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    df AS (SELECT sh, count(*) AS docfreq FROM sh GROUP BY sh),
    sh2 AS (SELECT s.doc_id, s.sh FROM sh s JOIN df USING (sh)
            WHERE df.docfreq <= {MAX_SHINGLE_DF}),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6)
             AS jaccard
    FROM inter
    JOIN counts ca ON ca.doc_id = doc_a
    JOIN counts cb ON cb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= 0.2
    """,
    doc="n-gram Jaccard near-dup: shingle explode -> stop-shingle filter "
        "-> self-join -> set overlap; the exact baseline MinHash approximates",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(table(spark, sf_dir, "documents"))


def jaccard_filtered_shingles(docs: DataFrame) -> DataFrame:
    """Phase-1 artifact: (doc_id, sh) after the stop-shingle cap. The
    two-phase job materializes THIS as a parquet table; the in-memory path
    persists it instead. The ``.distinct()`` (set semantics: docfreq and
    overlap counts are over per-doc shingle SETS, matching the DuckDB
    twin's SELECT DISTINCT) lives here, not in ``shingles_of`` — the
    minhash path needs no dedupe and skips that exchange entirely."""
    sh = persist_shared(shingles_of(docs).distinct())
    df_counts = sh.groupBy("sh").agg(F.count("*").alias("docfreq"))
    return (sh.join(df_counts.where(F.col("docfreq") <= MAX_SHINGLE_DF), "sh")
            .select("doc_id", "sh"))


def jaccard_pairs(docs: DataFrame, threshold: float = 0.2) -> DataFrame:
    # the shingle set feeds three consumers (docfreq filter, per-doc counts,
    # the self-join's two sides) — persist so the explode runs once, not 3x
    # (measured ~1.7x at sf0.1; jobs/dedup_job.py --two-phase materializes
    # the filtered-shingle table as parquet instead, the 100 TB pattern)
    sh2 = persist_shared(jaccard_filtered_shingles(docs))
    return jaccard_pairs_from(sh2, threshold)


def jaccard_pairs_from(sh2: DataFrame, threshold: float = 0.2) -> DataFrame:
    """Phase 2: exact Jaccard pairs from a (doc_id, sh) filtered-shingle
    table (persisted frame or re-read parquet)."""
    counts = sh2.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh2.alias("a")
    b = sh2.alias("b")
    inter = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("n_inter")))
    # counts is one row per doc = O(corpus): never broadcast it; these are
    # plain equi-joins on doc id, SMJ/AQE picks the strategy
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    j = (inter
         .join(ca, F.col("doc_a") == F.col("ca.doc_id"))
         .join(cb, F.col("doc_b") == F.col("cb.doc_id")))
    jac = F.col("n_inter").cast("double") / (F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("n_inter"))
    return (j.where(jac >= threshold)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))


# ---------------------------------------------------------------------------
# MinHash + LSH (rows-only check: DuckDB lacks xxhash64)
# ---------------------------------------------------------------------------

# b bands x r rows; candidate probability for a pair at jaccard s is
# 1-(1-s^r)^b. 16x2 (32 minhashes) puts the S-curve threshold at
# (1/b)^(1/r) = 0.25: >=0.99 recall at s>=0.5 (gated in
# tests/test_recall_gates.py), at the cost of more low-s candidates —
# acceptable because candidates are verified by exact overlap downstream.
# The former 8x4 config's threshold (0.59) silently missed ~60% of s=0.5
# pairs.
N_BANDS = 16
ROWS_PER_BAND = 2


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): per-doc min of xxhash64(sh, seed) for each
    of b*r seeded hashes, rows of a band combined into one bucket key.
    All JVM expressions — the shuffle is one groupBy(doc_id)."""
    mins = [
        F.min(F.xxhash64(F.col("sh"), F.lit(k))).alias(f"mh{k}")
        for k in range(N_BANDS * ROWS_PER_BAND)
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"mh{b * ROWS_PER_BAND + r}")
                         for r in range(ROWS_PER_BAND)]).alias("band_key"),
        )
        for b in range(N_BANDS)
    ])
    return (sig.select("doc_id", F.explode(bands).alias("bk"))
            .select("doc_id", F.col("bk.band").alias("band"),
                    F.col("bk.band_key").alias("band_key")))


@register(
    "dedup_minhash_lsh",
    sql=None,  # hash functions differ across engines -> rows-only check
    doc="MinHash+LSH candidate pairs: shingle -> 32 seeded minhashes -> "
        "16 banded bucket keys (16x2: S-curve threshold 0.25) -> "
        "per-bucket pair join (the 100TB-scale path; "
        "bucket joins replace the quadratic shingle self-join)",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidates(table(spark, sf_dir, "documents"))


def minhash_candidates(docs: DataFrame) -> DataFrame:
    sh = shingles_of(docs)
    # both sides of the bucket self-join read the signatures: persist so the
    # shingle explode + 32-hash agg run once (3x at sf0.1;
    # jobs/dedup_job.py --two-phase materializes the signature table)
    sig = persist_shared(minhash_signatures(sh))
    return minhash_pairs_from(sig)


def minhash_pairs_from(sig: DataFrame) -> DataFrame:
    """Phase 2: candidate pairs from a (doc_id, band, band_key) signature
    table (persisted frame or re-read parquet)."""
    a = sig.alias("a")
    b = sig.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())
    return pairs


# ---------------------------------------------------------------------------
# SimHash (vectorized numpy inside mapInPandas; rows-only check)
# ---------------------------------------------------------------------------

def _token_hash64(token: str) -> int:
    """Deterministic 64-bit token hash (blake2b; Python's hash() is salted
    per process and would break cross-run/cross-executor determinism)."""
    import hashlib

    return int.from_bytes(hashlib.blake2b(token.encode("utf-8"), digest_size=8).digest(), "big")


def _simhash_batch(batches):
    powers = np.uint64(1) << np.arange(64, dtype=np.uint64)
    bitpos = np.arange(64, dtype=np.uint64)
    for pdf in batches:
        out_ids: list = []
        doc_token_idx: list[np.ndarray] = []
        # hash AND bit-decompose each distinct token ONCE per batch (corpus
        # vocabulary is tiny relative to token count; the old per-doc
        # ``hv[:, None] >> arange(64)`` rebuilt the +-1 bit matrix for
        # every occurrence — r6: decompose only the unique-token rows,
        # then per doc it is one fancy-index + integer column sum, exact
        # by construction)
        token_index: dict[str, int] = {}
        hashes: list[int] = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            # null/blank docs emit NO signature (see simhash_signatures:
            # any shared placeholder value pairs them all with each other)
            if not isinstance(text, str):
                continue
            tokens = text.lower().split()
            if not tokens:
                continue
            idx = np.empty(len(tokens), dtype=np.int64)
            get = token_index.get
            for j, t in enumerate(tokens):
                k = get(t)
                if k is None:
                    k = token_index[t] = len(hashes)
                    hashes.append(_token_hash64(t))
                idx[j] = k
            out_ids.append(doc_id)
            doc_token_idx.append(idx)
        if not out_ids:
            yield pd.DataFrame({
                "doc_id": out_ids,
                "simhash": np.array([], dtype=np.uint64).view(np.int64),
            })
            continue
        hv = np.array(hashes, dtype=np.uint64)
        bits_pm = (2 * ((hv[:, None] >> bitpos) & np.uint64(1)).astype(np.int64)
                   - 1)
        signs = np.empty((len(out_ids), 64), dtype=bool)
        for i, idx in enumerate(doc_token_idx):
            signs[i] = bits_pm[idx].sum(axis=0) >= 0
        # vectorized bit-pack: sum of selected powers per row, exact in
        # uint64 (the true value is < 2^64)
        packed = (signs.astype(np.uint64) * powers).sum(axis=1, dtype=np.uint64)
        yield pd.DataFrame({
            "doc_id": out_ids,
            "simhash": packed.view(np.int64),
        })


# 7 bit-blocks over the 64-bit fingerprint (widths 10,9,9,9,9,9,9).
# Pigeonhole: k blocks catch at most k-1 flipped bits with one block left
# clean, so 7 blocks GUARANTEE every pair at hamming <= 6 shares at least
# one unmodified block -> the per-block equi-join has 100% recall at the
# <=6 threshold (the block-split design of Manku, Jain & Das Sarma,
# "Detecting Near-Duplicates for Web Crawling", WWW 2007).
SIMHASH_HAMMING_MAX = 6
_SIMHASH_BLOCKS = [(0, 10), (10, 9), (19, 9), (28, 9), (37, 9), (46, 9), (55, 9)]
assert len(_SIMHASH_BLOCKS) == SIMHASH_HAMMING_MAX + 1
assert sum(w for _, w in _SIMHASH_BLOCKS) == 64
# packed-key invariant (simhash_pairs_from): (index << 10) | bits is
# collision-free only while every block is <= 10 bits wide
assert max(w for _, w in _SIMHASH_BLOCKS) <= 10


@register(
    "dedup_simhash",
    sql=None,
    doc="SimHash near-dup: 64-bit sign-sum fingerprint per doc (Arrow-batch "
        "numpy), banded into 7 bit-blocks (pigeonhole-complete for "
        "hamming<=6), per-block equi-join, bit_count(xor) rerank in the JVM",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(table(spark, sf_dir, "documents"))


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """Phase-1 artifact: (doc_id, simhash) — the 64-bit fingerprints.

    The id column keeps its INPUT type (string conv_ids work — a
    hardcoded 'doc_id long' schema crashed Arrow conversion for the
    curate pipeline's keys). Null/whitespace-only docs emit NO signature
    row at all: a shared placeholder hash (the old zero init) made every
    payload-less doc an exact simhash match of every other — O(k^2)
    phantom pairs and one giant bogus cluster."""
    id_type = dict(docs.dtypes)["doc_id"]
    return docs.select("doc_id", "text").mapInPandas(
        _simhash_batch, schema=f"doc_id {id_type}, simhash long")


def simhash_pairs(docs: DataFrame) -> DataFrame:
    # persist: the self-join would otherwise run the Python signature UDF
    # twice (measured 2x wall at sf0.1; jobs/dedup_job.py --two-phase
    # materializes the signature table as parquet instead); spread BEFORE
    # mapInPandas so the Python signature kernel and the band-join probe
    # of a one-split input do not run as a single task
    docs = spread_small_input(docs)
    return simhash_pairs_from(persist_shared(simhash_signatures(docs)))


def simhash_pairs_from(sig: DataFrame) -> DataFrame:
    """Phase 2: hamming<=6 pairs from a (doc_id, simhash) signature table
    (persisted frame or re-read parquet).

    The (block index, block bits) pair is packed into ONE long join key,
    ``(index << 10) | bits`` — collision-free because every block is
    <= 10 bits wide (the width assert below the block table) — so the
    self-join hashes/compares a single long instead of a two-column key
    and the explode emits plain longs instead of structs (r6: 3.0 ->
    1.5 s at sf1.0 on the pair phase, output identical)."""
    keys = F.array(*[
        (F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))
         + F.lit(c << 10)).alias("k")
        for c, (off, w) in enumerate(_SIMHASH_BLOCKS)
    ])
    ca = sig.select("doc_id", "simhash", F.explode(keys).alias("bk")) \
        .alias("ca")
    cb = ca.alias("cb")
    # hamming filter BEFORE the distinct: bit_count(xor) is a codegen
    # expression evaluated on the join output stream, so rows failing the
    # threshold never reach the distinct's shuffle — the exchange carries
    # only true pairs x block multiplicity (<=7) instead of every bucket
    # collision (3.8M candidate rows -> ~60k at sf0.1; the hot-bucket
    # size^2 blowup all lands map-side).
    hamming = F.bit_count(F.col("ca.simhash").bitwiseXOR(F.col("cb.simhash")))
    return (ca.join(cb, (F.col("ca.bk") == F.col("cb.bk"))
                    & (F.col("ca.doc_id") < F.col("cb.doc_id")))
            .where(hamming <= SIMHASH_HAMMING_MAX)
            .select(F.col("ca.doc_id").alias("doc_a"),
                    F.col("cb.doc_id").alias("doc_b"),
                    hamming.alias("hamming"))
            .distinct())


def dedup_clusters(docs: DataFrame,
                   pairs: DataFrame | None = None) -> DataFrame:
    """Transitive near-dup closure: candidate pairs -> connected
    components -> one canonical survivor (min doc_id) per cluster.

    Pair-based dedup alone is NOT transitive (streaming/extract_stream.py
    documents the gap: if B, a near-dup of A, is dropped, a C resembling
    only B survives). This is the batch authority that closes clusters:
    ``connected_components`` min-label propagation over the pair graph —
    duplicate clusters are near-cliques, so it converges in 2-3 joins.

    -> (doc_id, component, keep): every doc keyed to its cluster id with
    the survivor marked, so callers can either filter (keep) or aggregate
    cluster sizes for accounting. Docs in no pair are their own
    singleton component.
    """
    from dup_ocropy_spark.operators.graph import connected_components

    if pairs is None:
        pairs = minhash_candidates(docs)
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")))
    out = (docs.select("doc_id")
           .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
           .select("doc_id",
                   F.coalesce("component", F.col("doc_id")).alias("component")))
    return out.withColumn("keep", F.col("doc_id") == F.col("component"))


def doc_fingerprints(d: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, fp): the whitespace-collapsed case-folded md5 fingerprint —
    the SAME definition as quality_score's fp column and the streaming
    dedup key (functions/text.normalized_fp, single source of truth).
    Note the deliberately different relation of the batch exact-dedup
    operators (dedup_exact / exact_keep_first): those key on RAW
    md5(text) byte-identity."""
    from dup_ocropy_spark.functions.text import normalized_fp

    return d.select(F.col(id_col), normalized_fp("text").alias("fp"))


def dedup_against_snapshot(new_docs: DataFrame, seen_fps: DataFrame,
                           id_col: str = "doc_id"
                           ) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup: the daily-ingest pattern. A new batch is
    deduped (a) against everything already accepted — ``seen_fps`` is the
    materialized fingerprint table from prior runs — and (b) within
    itself (keep-first). -> (fresh docs, updated fingerprint table to
    write back for the next run).

    100 TB shape: the corpus-history state is the fp TABLE (16-byte
    hashes + ids), never the corpus; per run this is one left-anti join
    on fp (AQE-planned — the history side is large but the join is a
    plain equi-join on a uniform hash) plus the in-batch keep-first
    window. The updated table is history ∪ new survivors — append-only,
    so production writes just the new rows as a partition."""
    from dup_ocropy_spark.functions.text import normalized_fp

    batch = new_docs.withColumn("fp", normalized_fp("text"))
    unseen = batch.join(seen_fps.select("fp"), "fp", "left_anti")
    from pyspark.sql import Window as W

    w = W.partitionBy("fp").orderBy(id_col)
    fresh = (unseen.withColumn("_rk", F.row_number().over(w))
             .where(F.col("_rk") == 1).drop("_rk"))
    updated = (seen_fps.select(id_col, "fp")
               .unionByName(fresh.select(id_col, "fp")))
    return fresh.drop("fp"), updated
