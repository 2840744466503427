"""Distributed BPE codec training over a document corpus (L12 at scale).

Shape: the corpus collapses to a DISTINCT-WORD frequency table in one
shuffle (the standard BPE trick — 100 TB of text is ~10^8 distinct
words, a small DataFrame), then each ROUND is

    explode adjacent symbol pairs (weighted by word count)
      -> groupBy(pair).sum -> top scan_window(k) pairs to the driver
      -> greedy symbol-disjoint selection of up to k merges (kernel code)
      -> ONE mapInPandas pass applying all k merges to the word table

so driver state is only the merge list, per-round traffic is the word
table, and a realistic 32k-merge codec costs ~n_merges/k Spark jobs
rather than one scheduler round-trip per merge (the round-3 latency
defect). localCheckpoint truncates the iterative lineage (the
topsort/connected-components rule). Merges are IDENTICAL to the
single-process kernel (``kernels/bpe.py`` bpe_merges_batched,
test-pinned) because both share the count-desc/lexicographic tie-break,
the scan window, and the disjoint-selection rule; batch=1 reproduces
classic sequential BPE exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from dup_ocropy_spark.kernels import bpe
from dup_ocropy_spark.operators.registry import spread_small_input


def corpus_word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) over the corpus — one explode + one shuffle. Splits
    on the kernel's explicit WS_CHARS class (``bpe.ws_regex_java``), NOT
    Java's ASCII-only ``\\s``: the kernel and the trainer must segment
    words identically or they train different codecs (the 'IDENTICAL
    merges' contract; pinned on a non-ASCII-whitespace corpus)."""
    words = F.explode(F.filter(F.split(F.col(text_col), bpe.ws_regex_java()),
                               lambda x: x != "")).alias("word")
    # spread: the regex split + explode IS this pass's cost and runs in
    # the scan stage (3.4 s single-task on the one-row-group sf1.0 file)
    return (spread_small_input(docs).select(words)
            .groupBy("word").agg(F.count("*").alias("count")))


# Vocabulary size under which the merge ROUNDS run on the driver via the
# pinned-equal kernel instead of iterated Spark jobs. The corpus pass
# (word counting) is always distributed; what this bounds is the
# iterated STATE — 64k (word, count) rows is a few MB, far under every
# bounded-reducer cap in this repo (the IVF sample, the scan-window
# collect), while 13 rounds of Spark jobs on a 31-word vocabulary were
# ~0.4 s of pure scheduler latency each (r6 measurement: 8.8 s -> ~1.6 s
# at sf1.0). A real 10^8-distinct-word corpus stays on the distributed
# rounds, whose O(rounds/K) wall the r5 series pinned.
BPE_DRIVER_VOCAB_MAX = 65_536
# ... and the byte bound on the same collect: a few whitespace-free
# "words" (base64 blobs, minified code) fit the row cap yet are MBs each,
# and the driver kernel holds one Python str per symbol. 4M chars is the
# row cap's "few MB" at 64 chars/word; natural-language vocabularies
# (~10 chars/word) stay far under it.
BPE_DRIVER_MAX_CHARS = 1 << 22


def train_bpe(docs: DataFrame, n_merges: int = 64,
              text_col: str = "text", batch: int = 8,
              driver_vocab_max: int = BPE_DRIVER_VOCAB_MAX
              ) -> list[tuple[str, str]]:
    """-> the merge list (the codec artifact, driver-sized: 2 strings per
    merge). See module docstring for the per-round plan shape.

    ``batch`` pairs are selected and applied per Spark round (top
    ``bpe.scan_window(batch)`` candidates collected — a bounded driver
    transfer — then the kernel's greedy symbol-disjoint selection), so a
    32k-merge codec costs ~n_merges/batch jobs instead of one scheduler
    round-trip per merge. Bit-equal to ``bpe.bpe_merges_batched`` for the
    same (corpus, n_merges, batch); ``batch=1`` reproduces the sequential
    ``bpe.bpe_merges`` exactly (both test-pinned).

    When the distinct-word table fits ``driver_vocab_max`` rows and
    ``BPE_DRIVER_MAX_CHARS`` characters (a bounded collect; one
    aggregation measures both), the rounds run through
    ``bpe.bpe_merges_batched`` directly — the SAME merges by the pinned equality contract, with zero per-round
    scheduler latency; pass ``driver_vocab_max=0`` to force the
    distributed rounds (tests do, so both paths stay covered)."""
    wc = corpus_word_counts(docs, text_col).persist()
    size = wc.agg(F.count("*").alias("words"),
                  F.sum(F.length("word")).alias("chars")).collect()[0]
    n_words = size["words"]
    if (n_words <= driver_vocab_max
            and (size["chars"] or 0) <= BPE_DRIVER_MAX_CHARS):
        rows = wc.collect()
        wc.unpersist()
        return bpe.bpe_merges_batched(
            {r["word"]: r["count"] for r in rows}, n_merges, k=batch)

    def symbolize(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "syms": [list(bpe._symbolize(w)) for w in pdf["word"]],
                "count": pdf["count"],
            })

    state = wc.mapInPandas(
        symbolize, schema="syms array<string>, count long").persist()
    # Right-size the ITERATED state: the distinct-word table is tiny
    # relative to the corpus (31 words at sf0.1 synth; ~10^8 at 100 TB)
    # but inherits the corpus shuffle partitioning, so every round pays
    # dozens of near-empty tasks for the pair-count, merge, and
    # localCheckpoint jobs — overhead that dominates small-vocabulary
    # training. The count() materializes the persist (round 1 would
    # anyway); coalesce reads the cached blocks, no shuffle. ~256k
    # words/partition keeps rounds narrow until the table genuinely
    # needs width.
    state.count()
    wc.unpersist()
    parts = max(1, -(-n_words // 262_144))
    if parts < state.rdd.getNumPartitions():
        # persist the COALESCED frame and free the wide parent: rebinding
        # to an unpersisted coalesce() would leave the parent's blocks
        # resident for the whole application (unpersist on the coalesced
        # plan never matches the cached parent plan — measured), while
        # the loop below unpersists the rebound frame each round. The
        # count() materializes the narrow copy from the cached parent
        # blocks (no recompute), then the parent is dropped.
        wide = state
        state = wide.coalesce(parts).persist()
        state.count()
        wide.unpersist()
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        k_round = min(batch, n_merges - len(merges))
        pair_idx = F.explode(
            F.when(F.size("syms") >= 2,
                   F.sequence(F.lit(0), F.size("syms") - 2))
            .otherwise(F.array().cast("array<int>"))).alias("i")
        top = (state.select("syms", "count", pair_idx)
               .select(F.col("syms")[F.col("i")].alias("a"),
                       F.col("syms")[F.col("i") + 1].alias("b"),
                       "count")
               .groupBy("a", "b").agg(F.sum("count").alias("n"))
               .where(F.col("n") >= 2)
               # count desc, then lexicographic pair — the kernel's rule
               .orderBy(F.desc("n"), "a", "b")
               .limit(bpe.scan_window(k_round)).collect())
        sel = bpe.select_batch_from_sorted([(r.a, r.b) for r in top], k_round)
        if not sel:
            break
        merges.extend(sel)

        def merge_stage(batches, sel=sel):
            for pdf in batches:
                out = []
                for s in pdf["syms"]:
                    syms = tuple(s)
                    for a, b in sel:
                        syms = bpe.merge_pair(syms, a, b)
                    out.append(list(syms))
                yield pd.DataFrame({"syms": out, "count": pdf["count"]})

        new_state = state.mapInPandas(
            merge_stage, schema="syms array<string>, count long") \
            .localCheckpoint()
        state.unpersist()
        state = new_state.persist()
    state.unpersist()
    return merges


def save_codec(path: str, merges: list[tuple[str, str]]) -> None:
    """Persist a trained merge list as a driver-local JSON artifact (the
    codec analog of sources/models.save_model — 2 strings per merge, so
    even a 32k-merge codec is a few hundred KB)."""
    import json

    with open(path, "w") as f:
        json.dump({"format": "bpe_merges_v1",
                   "n_merges": len(merges),
                   "merges": [[a, b] for a, b in merges]}, f)


def load_codec(path: str) -> list[tuple[str, str]]:
    """Load a save_codec artifact; validates the format tag so a model
    file or arbitrary JSON is refused instead of mis-trained."""
    import json

    with open(path) as f:
        obj = json.load(f)
    if obj.get("format") != "bpe_merges_v1":
        raise ValueError(f"{path}: not a bpe_merges_v1 codec artifact "
                         f"(format={obj.get('format')!r})")
    return [(a, b) for a, b in obj["merges"]]


def bpe_token_counts(docs: DataFrame, merges: list[tuple[str, str]],
                     text_col: str = "text") -> DataFrame:
    """Append ``n_tokens_bpe_learned``: the document's token count under
    the TRAINED codec (vs token_counts' regex approximation) — the count
    a packing/budgeting stage should use once a codec exists. The merge
    list rides the task closure (2 strings per merge); encoding is the
    kernel's encode_word per distinct word of the doc, memoized per
    batch (Zipf: a few thousand distinct words cover most text)."""
    def stage(batches):
        for pdf in batches:
            cache: dict[str, int] = {}

            def count(text):
                if not isinstance(text, str) or not text:
                    return 0
                n = 0
                for w in bpe.split_words(text):
                    k = cache.get(w)
                    if k is None:
                        k = cache[w] = len(bpe.encode_word(w, merges))
                    n += k
                return n

            pdf = pdf.copy()
            pdf["n_tokens_bpe_learned"] = [count(t) for t in pdf[text_col]]
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in docs.schema.fields) \
        + ", n_tokens_bpe_learned long"
    return docs.mapInPandas(stage, schema=schema)
