"""Benchmark decontamination: drop training documents that overlap an
evaluation set.

The standard pretraining hygiene step (GPT-3 App. C / The Pile run
n-gram overlap against every benchmark): a training document sharing
enough contiguous word n-grams with any eval document is contaminated
and must not be trained on, or the benchmark stops measuring
generalization.

Unlike the dedup family's STRIDED char shingles (which compare whole
documents and only match when windows align), contamination is about
CONTAINED overlap at arbitrary offsets, so the unit here is the word
n-gram at every word position — case-folded, whitespace-split, exactly
what the published recipes use (GPT-3: 13-gram; default 8 here).

Spark-first shape: the benchmark side is SMALL by construction (eval
sets are thousands of docs, the corpus is billions), so its distinct
n-gram set is broadcast and the corpus-side check is a broadcast hash
join inside the scan stage — zero shuffles of the training corpus except
the per-doc hit count aggregation on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dup_ocropy_spark.operators.registry import spread_small_input
from dup_ocropy_spark.plans.cache import persist_shared

NGRAM_WORDS = 8


def word_ngrams(d: DataFrame, n: int = NGRAM_WORDS,
                hashed: bool = False) -> DataFrame:
    """(doc_id, gram): distinct case-folded word n-grams at EVERY word
    position. Pure JVM array expressions (split / sequence / slice /
    array_join); ~n_words grams per doc before distinct. With
    ``hashed=True`` each gram is xxhash64'd to an int64 (what
    ``contamination`` joins on — 8-byte keys instead of strings)."""
    # filter empties instead of trim: F.trim strips only spaces, so a
    # leading \n/\t would otherwise inject an empty first "word" and a
    # malformed n-gram covering n-1 real words
    words = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")

    def _starts(arr):
        n_starts = F.size(arr) - (n - 1)
        return F.when(n_starts >= 1, F.sequence(F.lit(1), n_starts)) \
            .otherwise(F.array().cast("array<int>"))

    if hashed:
        # each word is xxhash64'd ONCE into a materialized array column,
        # and a gram is the xxhash64 of its n word-hashes — no
        # per-position slice+array_join string is ever built (the
        # construction cost that dominated this operator's wall,
        # SCALE.md 6a), and the membership relation holds 8-byte longs
        # instead of ~n*6-byte strings. The word-hash array MUST live in
        # its own projection: referenced 8x by the gram lambda, an
        # inlined expression would re-hash the whole array per access
        # (measured O(n^2): 4s -> 30s). Gram identity is hash-of-hashes;
        # both sides share the definition, and a 2^-64 collision adds
        # one phantom hit to a thresholded count — the standard trade.
        wh = F.transform(words, lambda w: F.xxhash64(w))
        base = d.select("doc_id", wh.alias("_wh"))
        grams = F.transform(
            _starts(F.col("_wh")),
            lambda i: F.xxhash64(*[F.get(F.col("_wh"), i + F.lit(j) - 1)
                                   for j in range(n)]))
        # per-doc dedupe with array_distinct BEFORE the explode: a
        # row-level .distinct() would shuffle the whole explosion
        return base.select("doc_id",
                           F.explode(F.array_distinct(grams)).alias("gram"))

    grams = F.transform(_starts(words),
                        lambda i: F.array_join(F.slice(words, i, n), " "))
    return d.select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))


# Auto broadcast guard: above this many benchmark characters the distinct
# hashed-gram relation stops being executor-broadcastable. The estimate:
# ~1 gram start per ~6 chars (avg word+space), ~48 bytes per entry in the
# broadcast hash relation -> 64M chars ~ 10.7M grams ~ 0.5 GB. Published
# eval batteries are a few MB of text (<< the cap); the shuffle path
# exists for decontaminating against a large prior CORPUS (e.g. a test
# split of the training set itself), where the gram relation is
# corpus-sized and must stay distributed.
BENCH_BROADCAST_MAX_CHARS = 64_000_000


def contamination(docs: DataFrame, benchmark: DataFrame,
                  min_ngrams: int = 2, n: int = NGRAM_WORDS,
                  broadcast: bool | None = None) -> DataFrame:
    """(doc_id, n_hits, contaminated) for every training doc: how many of
    its distinct word n-grams appear anywhere in the benchmark. Both
    inputs need (doc_id, text).

    ``broadcast=None`` (auto) measures the benchmark's total text size
    (one tiny agg on the SMALL side — never touches the corpus) and
    broadcasts its gram set only under ``BENCH_BROADCAST_MAX_CHARS``;
    above it, the join runs as an ordinary shuffle join on the 8-byte
    gram hash (AQE picks SMJ/shuffled-hash), the corpus paying one
    exchange of its exploded grams instead of an un-broadcastable build
    side. Hit counts are identical either way (test-pinned)."""
    if broadcast is None:
        total_chars = benchmark.agg(
            F.sum(F.length("text")).alias("c")).collect()[0]["c"] or 0
        broadcast = total_chars <= BENCH_BROADCAST_MAX_CHARS
    bench_grams = (
        word_ngrams(benchmark.select(F.lit("b").alias("doc_id"), "text"), n,
                    hashed=True)
        .select("gram").distinct())
    if broadcast:
        bench_grams = F.broadcast(bench_grams)
    # spread the corpus scan: the per-row gram hashing (xxhash64 per word
    # + per position) is the operator's whole cost and runs in the SCAN
    # stage
    hits = (word_ngrams(spread_small_input(docs).select("doc_id", "text"),
                        n, hashed=True)
            .join(bench_grams, "gram")
            .groupBy("doc_id").agg(F.count("*").alias("n_hits")))
    return (docs.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                    (F.coalesce("n_hits", F.lit(0)) >= min_ngrams)
                    .alias("contaminated")))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  min_ngrams: int = 2, n: int = NGRAM_WORDS,
                  broadcast: bool | None = None
                  ) -> tuple[DataFrame, DataFrame]:
    """-> (clean docs, 1-row stats). The drop is accounted for, never
    silent (the curation reject-report discipline).

    The verdict is persisted via ``plans/cache.persist_shared`` — clean
    and stats both consume it, and without the persist the corpus-wide
    n-gram scan would execute once per consumer. Callers that
    materialize both release it with ``plans.cache.release_shared()``
    (as jobs/decontaminate_job.py does), which frees exactly the
    library's tracked blocks — never ``clearCache()``, which would also
    evict caches the user owns."""
    verdict = persist_shared(
        contamination(docs, benchmark, min_ngrams, n, broadcast))
    clean = (docs.join(verdict.where(~F.col("contaminated"))
                 .select("doc_id"), "doc_id"))
    stats = verdict.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("contaminated").cast("int")).alias("n_contaminated"),
        F.max("n_hits").alias("max_hits"))
    return clean, stats
