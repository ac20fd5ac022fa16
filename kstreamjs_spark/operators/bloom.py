"""Bloom-filter membership pre-filtering — the decontamination/leakage
pattern for eval sets too large to broadcast EXACTLY but whose bloom BITS
always fit (10M shingles at 10 bits/key is ~12 MB; the exact string set
is gigabytes).

Spark-first split of the work:

- HASHING IS JVM-SIDE: the k probe positions are `xxhash64(col, i)`
  pmod'd into the bit space as an array column inside whole-stage
  codegen — Python never hashes a key.
- THE BITSET PROBE IS ARROW-VECTORIZED: a pandas_udf indexes a
  broadcast numpy bitset with the whole batch's position matrix at once
  (two numpy ops per batch), the only part Spark's built-ins cannot
  express (`might_contain` is not a public SQL function in this build —
  it exists only inside the optimizer's runtime-filter rewrite).
- THE BUILD PACKS BITMASKS EXECUTOR-SIDE: positions are grouped by
  fixed-size bit range (map-side-combined collect_set per chunk, so the
  shuffle carries each distinct position once), each chunk's positions
  are packed into a bytes bitmask ON THE EXECUTORS, and the driver only
  ORs the non-empty chunk masks into place — the driver transfer is
  bounded by the PACKED bitset size, num_bits / 8 bytes (32 MB at the
  2^28 auto-regime ceiling), REGARDLESS of build-side row count or how
  many bits end up set: the cap is chosen by the caller via num_bits,
  unlike an exact collect_set whose size is the data's choice.

A bloom probe has false POSITIVES only (never false negatives — the
property test pins this), so callers that need exact results follow the
prefilter with an equi-join verify of the few survivors; q77b shows the
composition: exact answer, corpus-sized side shrunk before its shuffle.
(Reference has no membership surface; its `filter` callback,
src/stream.ts:57-77, is where a user would hang one.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf


def _positions(col: Column, num_bits: int, num_hashes: int, seed: int) -> Column:
    """k probe positions as an int64 array column — pure codegen
    (xxhash64 over (key, seed, i), pmod into the bit space)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(col, F.lit(seed), F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    )


# bits per executor-packed chunk (64 KiB masks): small enough that one
# chunk's collect_set stays a few-MB row, large enough that the 2^28-bit
# auto-regime ceiling is only 512 chunk rows on the driver
_CHUNK_SHIFT = 19


def bloom_build(
    df: DataFrame,
    col: str,
    num_bits: int,
    num_hashes: int = 7,
    seed: int = 41,
) -> dict:
    """Build a bloom bitset over ``df[col]`` distributed-side.

    Positions are grouped by 2^19-bit range (collect_set per chunk —
    partial map-side aggregation dedupes each position before the
    shuffle), PACKED INTO BITMASKS ON THE EXECUTORS (Arrow-batched
    mapInPandas), and only the non-empty ~64 KiB chunk masks reach the
    driver, which ORs them into place — so the driver transfer is
    bounded by the packed bitset size, num_bits/8 bytes, never 8 bytes
    per set bit. Size num_bits for the build side: fpr ~=
    (1 - exp(-k*n/m))^k, e.g. n=10M keys, m=128M bits, k=7 -> ~0.7%."""
    if num_bits <= 0 or num_hashes <= 0:
        raise ValueError("num_bits and num_hashes must be positive")
    chunk_bits = 1 << _CHUNK_SHIFT

    def pack(it):
        for pdf in it:
            rows = []
            for c, ps in zip(pdf["c"], pdf["ps"]):
                c = int(c)
                rel = np.asarray(list(ps), dtype=np.int64) - c * chunk_bits
                n_here = min(chunk_bits, num_bits - c * chunk_bits)
                mask = np.zeros((n_here + 7) // 8, dtype=np.uint8)
                np.bitwise_or.at(
                    mask, rel >> 3, (1 << (rel & 7)).astype(np.uint8)
                )
                rows.append((c, mask.tobytes()))
            yield pd.DataFrame(rows, columns=["c", "mask"])

    chunks = (
        df.select(
            F.explode(
                _positions(F.col(col), num_bits, num_hashes, seed)
            ).alias("p")
        )
        .groupBy(F.shiftright(F.col("p"), _CHUNK_SHIFT).alias("c"))
        .agg(F.collect_set("p").alias("ps"))
        .mapInPandas(pack, "c long, mask binary")
        .collect()
    )
    bits = np.zeros((num_bits + 7) // 8, dtype=np.uint8)
    chunk_bytes = chunk_bits // 8
    for r in chunks:
        off = r["c"] * chunk_bytes
        m = np.frombuffer(r["mask"], dtype=np.uint8)
        bits[off:off + len(m)] |= m
    return {
        "bits": bits,
        "num_bits": num_bits,
        "num_hashes": num_hashes,
        "seed": seed,
    }


def bloom_might_contain(
    df: DataFrame, col: str, bloom: dict, out_col: str = "maybe"
) -> DataFrame:
    """``df`` plus a boolean ``out_col``: True iff every probe bit for
    ``df[col]`` is set in the bloom (possible member — false positives
    at the bitset's fpr, never false negatives). Hashing stays JVM-side;
    the bitset rides an explicit SparkContext broadcast and each Arrow
    batch is probed with two vectorized numpy ops."""
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(bloom["bits"])
    num_hashes = bloom["num_hashes"]

    @pandas_udf("boolean")
    def probe(pos: pd.Series) -> pd.Series:
        bits = bc.value
        if not len(pos):
            return pd.Series([], dtype=bool)
        arr = np.array(pos.tolist(), dtype=np.int64).reshape(-1, num_hashes)
        hit = (bits[arr >> 3] >> (arr & 7)) & 1
        return pd.Series(hit.all(axis=1))

    return df.withColumn(
        out_col,
        probe(
            _positions(
                F.col(col), bloom["num_bits"], num_hashes, bloom["seed"]
            )
        ),
    )


def member_semijoin(
    candidates: DataFrame,
    members: DataFrame,
    on: str,
    regime: str = "auto",
    broadcast_max_bytes: int = 128 << 20,
    num_bits: int | None = None,
    num_hashes: int = 7,
    seed: int = 41,
) -> DataFrame:
    """EXACT membership semi-join — rows of ``candidates`` whose ``on``
    value appears in ``members`` — planned through whichever regime the
    MEMBER-side size supports (the q77-vs-q77b A/B rule, encoded):

    - ``broadcast`` (member set fits the broadcast budget): plain
      ``left_semi`` against ``F.broadcast(members)`` — the candidate side
      never shuffles, the member set ships once per executor.
    - ``bloom`` (member set too large to broadcast exactly, but its
      BITS always fit): bloom-prefilter the candidate side scan-side
      (no shuffle spent on definite non-members), then exact-verify the
      survivors with an unhinted semi-join. Same exact answer; the join
      input shrinks from every candidate row to true hits + fpr noise.
    - ``auto`` (default): pick by Catalyst's own ``sizeInBytes``
      estimate of the member frame against ``broadcast_max_bytes`` —
      the same gate `plans.broadcast_if_small` uses, so the decision
      follows optimizer statistics, not a caller's guess.

    ``num_bits`` (bloom regime) defaults from the member-side row-count
    estimate when Catalyst has one (~16 bits/key, >= 1M, <= 256M bits);
    pass it explicitly when you know the key cardinality better."""
    from ..plans import materialize_once

    if regime not in ("auto", "broadcast", "bloom"):
        raise ValueError(f"unknown regime {regime!r}")
    if regime == "auto":
        try:
            # estimate what would ACTUALLY broadcast — the projected key
            # column, not the full member frame (a wide payload next to
            # a narrow key must not push a broadcastable key set into
            # the bloom regime)
            est = int(
                members.select(on)._jdf.queryExecution().optimizedPlan()
                .stats().sizeInBytes()
            )
        except Exception:  # pragma: no cover - py4j estimate unavailable
            est = broadcast_max_bytes + 1  # unknown size: safe (bloom) path
        regime = "broadcast" if est <= broadcast_max_bytes else "bloom"
    if regime == "broadcast":
        return candidates.join(F.broadcast(members.select(on)), on, "left_semi")
    members = materialize_once(members.select(on))
    if num_bits is None:
        rc = None
        try:
            opt = members._jdf.queryExecution().optimizedPlan()
            ropt = opt.stats().rowCount()
            rc = int(ropt.get()) if not ropt.isEmpty() else None
        except Exception:  # pragma: no cover
            rc = None
        if rc is None:
            rc = members.count()  # materialized above — this is cheap
        num_bits = max(1 << 20, min(1 << 28, 1 << (rc * 16).bit_length()))
    bf = bloom_build(members, on, num_bits=num_bits,
                     num_hashes=num_hashes, seed=seed)
    survivors = (
        bloom_might_contain(candidates, on, bf).filter("maybe").drop("maybe")
    )
    return survivors.join(members, on, "left_semi")
