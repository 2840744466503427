"""Seeded inputs and their single-process oracle.

The program sees only the parquet files written here: transcripts from
the public ``synth_conv`` over conversation-index blocks drawn by the
seed. The oracle is the program's own ``extract_frame`` run in plain
processes, with no Spark in the path.

Generation and the oracle run in a spawn pool before Spark starts and
are cached under ``.perfbench/cache``, keyed on the seed, the size and a
hash of the generator and kernel sources.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench", "cache")

# every HOT_EVERY-th conversation has 1200 turns; inputs are whole blocks
# of HOT_EVERY indices, so every seed gets the same number of hot ones
HOT_EVERY = 1000
# synth_conv stamps turn t of conversation i at 2026-01-01 + 17 s * (1301 i + t):
# above i ~ 337k that leaves pandas' nanosecond range (year 2262), above
# i ~ 11M the year 9999, so blocks are drawn from the first BLOCKS only
BLOCKS = 320
# input files, so one task per core at local[4]: each task costs ~0.2 s of
# Python CPU beyond its rows, which with 16 files made job_resume's eight
# bucket rescans twice as slow and dominated by that overhead
FILES = 4
CACHE_KEEP = 32  # newest cache entries kept (~10 MB each)


def _source_hash() -> str:
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "dup_ocropy_spark")
    paths = [os.path.join(pkg, "sources", "transcripts.py"), os.path.abspath(__file__)]
    kdir = os.path.join(pkg, "kernels")
    paths += sorted(os.path.join(kdir, f) for f in os.listdir(kdir) if f.endswith(".py"))
    paths.append(os.path.join(pkg, "config.py"))
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _oracle(tdf: pd.DataFrame) -> pd.DataFrame:
    from dup_ocropy_spark.kernels.oracle import extract_frame

    out = extract_frame(tdf)
    return out[["conv_id", "turn_idx", "extracted_text", "reject_reason"]]


def _conv_chunk(bounds: tuple[int, int]) -> tuple[pd.DataFrame, pd.DataFrame]:
    from dup_ocropy_spark.sources.transcripts import synth_conv

    tdf = pd.concat([synth_conv(i, hot_every=HOT_EVERY)[0] for i in range(*bounds)],
                    ignore_index=True)
    return tdf, _oracle(tdf)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed % 2**64, stream])


def conv_blocks(seed: int, size: int) -> list[int]:
    """The ``size // HOT_EVERY`` distinct blocks of conversation indices
    that ``seed`` draws, each ``[b * HOT_EVERY, (b + 1) * HOT_EVERY)``."""
    return sorted(int(b) for b in _rng(seed, 7).choice(BLOCKS, size // HOT_EVERY,
                                                        replace=False))


def _write_files(tdf: pd.DataFrame, seed: int, out_dir: str) -> None:
    """Rows in a seeded random order, split evenly over FILES files, so no
    hot conversation sits in one task."""
    order = _rng(seed, 99).permutation(len(tdf))
    tdf = tdf.iloc[order].reset_index(drop=True)
    os.makedirs(out_dir)
    for k, part in enumerate(np.array_split(np.arange(len(tdf)), FILES)):
        pq.write_table(pa.Table.from_pandas(tdf.iloc[part], preserve_index=False),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"), coerce_timestamps="us")


def prepare(seed: int, size: int, procs: int) -> dict:
    """Input files and oracle summary for the ``size`` conversations of the
    blocks ``seed`` draws, generated on a cache miss. ``size`` is a multiple
    of HOT_EVERY. Returns the paths, the oracle's row count and its counts
    per reject_reason."""
    key = f"convs-s{seed}-n{size}-{_source_hash()}"
    d = os.path.join(CACHE, key)
    meta_path = os.path.join(d, "oracle.json")
    if not os.path.exists(meta_path):
        shutil.rmtree(d, ignore_errors=True)
        step = max(1, size // (procs * 8))
        chunks = [(a, min(a + step, (b + 1) * HOT_EVERY))
                  for b in conv_blocks(seed, size)
                  for a in range(b * HOT_EVERY, (b + 1) * HOT_EVERY, step)]
        with mp.get_context("spawn").Pool(procs) as pool:
            parts = pool.map(_conv_chunk, chunks)
        tdf = pd.concat([p[0] for p in parts], ignore_index=True)
        odf = pd.concat([p[1] for p in parts], ignore_index=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _write_files(tdf, seed, os.path.join(tmp, "input"))
        pq.write_table(pa.Table.from_pandas(odf[["conv_id", "turn_idx", "extracted_text"]],
                                            preserve_index=False),
                       os.path.join(tmp, "oracle.parquet"))
        rejects = odf["reject_reason"].fillna("").value_counts().to_dict()
        meta = {"rows": int(len(odf)), "rejects": {k: int(v) for k, v in rejects.items()}}
        with open(os.path.join(tmp, "oracle.json"), "w") as f:
            json.dump(meta, f)
        os.makedirs(CACHE, exist_ok=True)
        os.replace(tmp, d)
        entries = sorted((os.path.getmtime(os.path.join(CACHE, e)), e) for e in os.listdir(CACHE))
        for _, e in entries[:-CACHE_KEEP]:
            shutil.rmtree(os.path.join(CACHE, e), ignore_errors=True)
    with open(meta_path) as f:
        meta = json.load(f)
    meta.update(dir=d, input=os.path.join(d, "input"),
                oracle=os.path.join(d, "oracle.parquet"))
    return meta


def cached_checksum(meta: dict, compute) -> int:
    """The oracle's dataset checksum, computed once per cache entry."""
    path = os.path.join(meta["dir"], "checksum.json")
    if os.path.exists(path):
        with open(path) as f:
            return int(json.load(f)["checksum"])
    value = int(compute())
    with open(path + ".tmp", "w") as f:
        json.dump({"checksum": value}, f)
    os.replace(path + ".tmp", path)
    return value
