"""Partitioned bloom-filter URL-seen set (the frontier's known set).

Replaces the reference's Redis resume/seen cache (warcio.py:120-134,172-174)
with engine-owned distributed state:

- URLs are hashed JVM-side (``xxhash64(url_norm)`` — no Python hash
  implementation anywhere; workers receive the hash as data),
- hash space is sharded by ``pmod(url_hash, n_shards)``; each shard is an
  independent bloom bitmap built/merged per-group via ``applyInPandas``
  (state size ∝ shards × bitmap, not ∝ rows seen),
- membership cogroups candidates with the shard table on ``shard_id`` and
  runs a vectorized numpy bit-test in ``applyInPandas`` (each bitmap ships
  once per group, never once per candidate row),
- bloom "maybe-seen" hits get an exact ``left_anti`` pass against the known
  table: the bloom gives no-false-negative *pruning*, the anti join removes
  the false positives (SURVEY.md §2.3).

The frontier never evicts a URL, so an insert-only bloom is all it needs; a
deletion-capable filter would buy nothing here.

Scale math (documented for the 10^10 target): 10^10 URLs at 1% FPR need
~9.6 bits/URL ≈ 12 GB of bitmap. With 4096 shards that is ~3 MB/shard —
each a single row, joinable/broadcastable; shard build groups see only
their own hash partition. In-sandbox defaults are scaled down (64 shards,
2^20 bits) but the code path is identical.
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

SHARD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.IntegerType(), False),
        T.StructField("filter_bytes", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("capacity", T.LongType(), False),
        T.StructField("fpr", T.DoubleType(), False),
    ]
)


# The filter's shape: build, extend and probe all use this design FPR and
# its hash count, so a bit set at build is the bit a probe tests.
_FPR = 0.01
_K_HASHES = max(1, round(-math.log(_FPR) / math.log(2)))
_BITS_PER_ITEM = -math.log(_FPR) / (math.log(2) ** 2)


def check_bits(m_bits: int) -> None:
    """Reject a bitmap size that bytes cannot hold exactly: a bitmap is
    stored packed, so a probe unpacks ``ceil(m_bits / 8) * 8`` bits and
    would take its hash positions modulo a different size than the build."""
    if m_bits <= 0 or m_bits % 8:
        raise ValueError(f"bloom bits must be a positive multiple of 8, got {m_bits}")


def _indices(hashes: np.ndarray, m_bits: int) -> np.ndarray:
    """Double hashing h1 + i*h2 (Kirsch–Mitzenmacher): _K_HASHES index rows
    from one 64-bit hash, vectorized over the batch."""
    h = hashes.astype(np.uint64)
    h1 = h
    h2 = (h ^ np.uint64(0x9E3779B97F4A7C15)) * np.uint64(0xBF58476D1CE4E5B9) | np.uint64(1)
    i = np.arange(_K_HASHES, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(m_bits)).astype(np.int64)


def shard_of(col, n_shards: int):
    return F.pmod(col, F.lit(n_shards)).cast("int")


def build_shards(hashed: DataFrame, n_shards: int = 64, m_bits: int = 1 << 20) -> DataFrame:
    """(url_hash) rows -> one bloom row per shard. One shuffle on shard_id;
    group work is a vectorized numpy scatter."""
    check_bits(m_bits)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m_bits, dtype=bool)
        hashes = pdf["url_hash"].to_numpy()
        idx = _indices(hashes, m_bits)
        bits[idx.ravel()] = True
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "filter_bytes": [np.packbits(bits).tobytes()],
                "n_items": [len(pdf)],
                "capacity": [int(m_bits / _BITS_PER_ITEM)],
                "fpr": [_FPR],
            }
        )

    return (
        hashed.select("url_hash")
        .withColumn("shard_id", shard_of(F.col("url_hash"), n_shards))
        .groupBy("shard_id")
        .applyInPandas(build, SHARD_SCHEMA)
    )


def merge_shards(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-combine two shard sets (cross-round accumulation). Bitmaps of one
    shard_id must share m_bits (same config across rounds)."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc: np.ndarray | None = None
        n = 0
        for row in pdf.itertuples():
            cur = np.frombuffer(row.filter_bytes, dtype=np.uint8)
            acc = cur.copy() if acc is None else (acc | cur)
            n += int(row.n_items)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "filter_bytes": [acc.tobytes()],
                "n_items": [n],
                "capacity": [int(pdf["capacity"].iloc[0])],
                "fpr": [float(pdf["fpr"].iloc[0])],
            }
        )

    return a.unionByName(b).groupBy("shard_id").applyInPandas(merge, SHARD_SCHEMA)


def extend_shards(
    shards: Optional[DataFrame],
    hashed: DataFrame,
    n_shards: int = 64,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Fused ``merge_shards(shards, build_shards(hashed))`` in ONE shuffle +
    ONE pandas stage (bit-identical result — property-tested).

    The unfused chain is three Spark stages per maintained bloom table
    (hash shuffle → build groups → bitmap shuffle → merge groups), and the
    frontier maintains the known-set table inside every round commit. Each
    extra stage is a fixed DAG-scheduling + python-worker
    round-trip per round — measured 28 s for the known-set chain at 16
    one-core executors vs 4.7 s at 4 (the per-stage latency grows with
    executor count while the work per stage is constant). Fusing halves the
    stage depth; at 10^10 scale the same fusion saves a full pass over the
    round's admitted-hash shuffle.

    The new hashes and the old shard rows are cogrouped on shard_id (the
    shape ``mark_maybe_seen`` uses): each group ORs its old bitmaps and
    scatters its new hashes. ``shards=None`` ≡ ``build_shards(hashed)``
    (the init case): the old side is then empty."""
    check_bits(m_bits)
    new = hashed.select(shard_of(F.col("url_hash"), n_shards).alias("shard_id"), "url_hash")
    # No old shards: an always-false filter over ``new`` (Catalyst folds it
    # to an empty relation). spark.createDataFrame([], ...) here measured
    # +2 s of init and +180 MB peak PSS (perfbench crawl, 4-core host).
    old = shards if shards is not None else new.where(F.lit(False)).select(
        "shard_id", F.lit(b"").alias("filter_bytes"), F.lit(0).cast("long").alias("n_items")
    )

    def extend(key, new_pdf: pd.DataFrame, old_pdf: pd.DataFrame) -> pd.DataFrame:
        bits8 = np.zeros(m_bits // 8, dtype=np.uint8)
        for fb in old_pdf["filter_bytes"]:
            bits8 |= np.frombuffer(fb, dtype=np.uint8)
        if len(new_pdf):
            bits = np.unpackbits(bits8)
            idx = _indices(new_pdf["url_hash"].to_numpy(dtype=np.int64), m_bits)
            bits[idx.ravel()] = True
            bits8 = np.packbits(bits)
        return pd.DataFrame(
            {
                "shard_id": [int(key[0])],
                "filter_bytes": [bits8.tobytes()],
                "n_items": [int(old_pdf["n_items"].sum()) + len(new_pdf)],
                "capacity": [int(m_bits / _BITS_PER_ITEM)],
                "fpr": [_FPR],
            }
        )

    return (
        new.groupBy("shard_id")
        .cogroup(old.select("shard_id", "filter_bytes", "n_items").groupBy("shard_id"))
        .applyInPandas(extend, SHARD_SCHEMA)
    )


def mark_maybe_seen(candidates: DataFrame, shards: DataFrame, n_shards: int) -> DataFrame:
    """Add ``maybe_seen`` to candidates via shard-cogrouped numpy bit test.

    Bloom guarantee: maybe_seen=False ⇒ definitely unseen.

    Layout matters: a *join* would replicate the per-shard bitmap (m_bits/8
    bytes, e.g. 128 KiB) onto EVERY candidate row — O(rows × bitmap) through
    the join and the Arrow boundary. Cogrouping on shard_id ships each bitmap
    exactly once per group: O(rows + shards × bitmap). The candidate shuffle
    on shard_id is the same shuffle a shard-local membership test needs at
    10^10 scale (n_shards = 4096 there, 64 in-sandbox; both ≥ cores)."""
    cand = candidates.withColumn("shard_id", shard_of(F.col("url_hash"), n_shards))
    out_schema = T.StructType(
        list(cand.schema.fields) + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )

    def test(cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
        out = cand_pdf.copy()
        if cand_pdf.empty:
            out["maybe_seen"] = pd.Series([], dtype=bool)
            return out
        # a duplicated shard row (e.g. a missed merge_shards) would silently
        # test against ONE of two bitmaps → false "unseen" → bloom guarantee
        # violated downstream. Fail loudly instead (not an assert: it must
        # hold under python -O too).
        if len(shard_pdf) > 1:
            raise RuntimeError(f"duplicate urlseen shard rows: {shard_pdf['shard_id'].tolist()}")
        res = np.zeros(len(cand_pdf), dtype=bool)
        if not shard_pdf.empty and shard_pdf["filter_bytes"].iloc[0] is not None:
            bits = np.unpackbits(np.frombuffer(shard_pdf["filter_bytes"].iloc[0], dtype=np.uint8))
            idx = _indices(cand_pdf["url_hash"].to_numpy(), len(bits))
            res = bits[idx].all(axis=0)
        out["maybe_seen"] = res
        return out

    return (
        cand.groupBy("shard_id")
        .cogroup(shards.select("shard_id", "filter_bytes").groupBy("shard_id"))
        .applyInPandas(lambda key, c, s: test(c, s), out_schema)
    )


def filter_unseen(
    candidates: DataFrame, shards: DataFrame, seen: DataFrame, n_shards: int
) -> DataFrame:
    """Exact unseen set: bloom prefilter prunes the (vast) definitely-unseen
    majority from the anti join; only maybe-seen rows shuffle against the
    seen table (SURVEY.md §2.3 URL-seen anti join). The seen side joins as
    it is: a left anti join's result ignores duplicates on that side, so a
    distinct there would only aggregate the whole seen set."""
    marked = mark_maybe_seen(candidates, shards, n_shards)
    fresh = marked.where(~F.col("maybe_seen"))
    survivors = (
        marked.where(F.col("maybe_seen"))
        .join(seen.select("url_hash"), "url_hash", "left_anti")
    )
    return fresh.unionByName(survivors).drop("maybe_seen", "shard_id")
