"""Bloom seen-filters (north rule; SURVEY.md §4.1).

The reference keeps the seen set as an in-memory Haskell list probed
with ``elem`` (O(n) per probe, O(n²) per crawl —
/root/reference/src/Network/Scrapetition/App.hs:69,107). At 10^10
URLs that is impossible; the scalable design is:

1. an append-only ``urls_seen`` table (exact truth, partitioned by
   host bucket on a real deployment);
2. a bloom sidecar built *distributed*: each partition folds its
   ``xxhash64(url)`` values into local per-host-bucket bitsets inside
   a vectorized Arrow kernel (``mapInPandas``), and the bitsets are
   OR-merged per bucket (``PartitionedBloom``);
3. probes are vectorized bit-tests, bucket-local; bloom *negatives*
   are definitely unseen (no join needed — the common case for a
   growing crawl), bloom *positives* are verified exactly with a
   ``left_anti`` join against ``urls_seen`` so false positives can
   never drop a URL (SURVEY.md §7.3 exactness requirement).

``BloomFilter`` is the single driver-merged bitset with a broadcast
probe: the building block the partitioned sidecar probes with, and a
standalone filter for small key sets (``unseen`` accepts either).

All hashing is JVM-side ``xxhash64``; Python only does numpy bit
math on int64 arrays (no per-row Python). K hash functions derive
from the one 64-bit hash by double hashing (Kirsch-Mitzenmacher).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_HASH_COL = "__h64"


def _plan_params(expected_keys: int, bits_per_key: int) -> tuple[int, int]:
    m_bits = max(1 << 10, 1 << math.ceil(math.log2(max(1, expected_keys) * bits_per_key)))
    k = max(1, round(0.693 * m_bits / max(1, expected_keys)))
    return m_bits, min(k, 16)


def _positions(h64: np.ndarray, m_bits: int, k: int) -> Iterator[np.ndarray]:
    """k bit positions per hash via double hashing on the uint64."""
    h = h64.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)  # odd ⇒ full-period step
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)).astype(np.int64)


class BloomFilter:
    """Immutable bloom over xxhash64(url) values."""

    def __init__(self, bits: np.ndarray, m_bits: int, k: int, n_keys: int = 0):
        self.bits = bits  # uint8 array of m_bits/8 bytes
        self.m_bits = m_bits
        self.k = k
        self.n_keys = n_keys

    @classmethod
    def empty(cls, expected_keys: int, bits_per_key: int = 16) -> "BloomFilter":
        m_bits, k = _plan_params(expected_keys, bits_per_key)
        return cls(np.zeros(m_bits // 8, dtype=np.uint8), m_bits, k)

    # ---- distributed build -------------------------------------------------

    def build_from(self, df: DataFrame, url_col: str = "url") -> "BloomFilter":
        """Fold df[url_col] into a new filter. Per-partition bitsets
        are built in an Arrow kernel and OR-merged on the driver
        (bitset size is the broadcast budget: m/8 bytes); each fold
        also reports its row count, summed into ``n_keys``."""
        m_bits, k = self.m_bits, self.k
        # constant fold-fanout: one bitset per fold partition crosses
        # the driver regardless of cluster width (at 32+ cores the
        # per-partition bitsets would otherwise dominate epoch cost)
        hashed = df.select(F.xxhash64(F.col(url_col)).alias(_HASH_COL)).coalesce(8)
        out_schema = StructType(
            [StructField("bits", BinaryType()), StructField("n", LongType())]
        )

        def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            local = np.zeros(m_bits // 8, dtype=np.uint8)
            n_rows = 0
            for b in batches:
                if len(b) == 0:
                    continue
                n_rows += len(b)
                h = b[_HASH_COL].to_numpy(dtype=np.int64)
                for pos in _positions(h, m_bits, k):
                    np.bitwise_or.at(local, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            if n_rows:
                yield pd.DataFrame({"bits": [local.tobytes()], "n": [n_rows]})

        merged = self.bits.copy()
        n_keys = self.n_keys
        for row in hashed.mapInPandas(fold, out_schema).collect():
            merged |= np.frombuffer(row["bits"], dtype=np.uint8)
            n_keys += row["n"]
        return BloomFilter(merged, m_bits, k, n_keys)

    # ---- vectorized probe ---------------------------------------------------

    def contains(self, h64: np.ndarray) -> np.ndarray:
        """Boolean mask: True = maybe seen, False = definitely unseen."""
        mask = np.ones(len(h64), dtype=bool)
        for pos in _positions(h64, self.m_bits, self.k):
            byte = self.bits[pos >> 3]
            mask &= (byte & (1 << (pos & 7)).astype(np.uint8)) != 0
        return mask

    def probe_column(self, df: DataFrame, url_col: str = "url") -> DataFrame:
        """Add boolean column ``__maybe_seen`` via a broadcast
        vectorized probe."""
        bits_b = df.sparkSession.sparkContext.broadcast(self.bits.tobytes())
        m_bits, k = self.m_bits, self.k
        hashed = df.withColumn(_HASH_COL, F.xxhash64(F.col(url_col)))
        out_schema = StructType(df.schema.fields)

        def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            bits = np.frombuffer(bits_b.value, dtype=np.uint8)
            bf = BloomFilter(bits, m_bits, k)
            for b in batches:
                if len(b) == 0:
                    continue
                h = b[_HASH_COL].to_numpy(dtype=np.int64)
                b = b.drop(columns=[_HASH_COL])
                b["__maybe_seen"] = bf.contains(h)
                yield b

        out = StructType(out_schema.fields + [StructField("__maybe_seen", BooleanType())])
        return hashed.mapInPandas(probe, out)


# ---------------------------------------------------------------------------
# Partitioned bloom sidecar (north rule / SURVEY §4.1: per-host-bucket
# bitsets, built map-side, OR-merged per bucket, probed bucket-local).
# The driver NEVER holds the full filter: the sidecar is a DataFrame /
# catalog table of (bucket, bits, n_keys) rows; at 10^10 keys × 16
# bits/key the total is ~20 GB — un-broadcastable as one bitset (the
# r01 global-bitset design), but fine as 256+ bucket rows living on
# executors. Probing reuses BloomFilter.contains on one bucket's bits.

BLOOM_SIDECAR = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("bits", BinaryType(), False),
        StructField("n_keys", LongType(), False),
        # sizing parameters persisted WITH the bitsets: probing a
        # stored sidecar with different (m_bits, k, n_buckets) yields
        # silent false negatives ("definitely new" for seen URLs), so
        # a resumed engine must validate these and rebuild on mismatch
        StructField("m_bits", IntegerType(), False),
        StructField("k", IntegerType(), False),
        StructField("n_buckets", IntegerType(), False),
    ]
)


class PartitionedBloom:
    """Parameter holder for the bucket-partitioned bloom sidecar.
    Per-bucket bitsets share (m_bits, k) so OR-merge is closed; sizing
    divides the corpus-level budget by bucket count, keeping every
    bucket's bitset (and so every task's working set) bounded at
    ``m_bits/8`` bytes regardless of total key count."""

    def __init__(self, expected_keys: int, bits_per_key: int = 16, n_buckets: int = 256):
        per_bucket = max(1, expected_keys // max(1, n_buckets))
        self.m_bits, self.k = _plan_params(per_bucket, bits_per_key)
        self.n_buckets = n_buckets

    # ---- distributed build (map-side fold + per-bucket OR-merge) ----

    def build(
        self, df: DataFrame, url_col: str = "url", bucket_col: str = "host_bucket"
    ) -> DataFrame:
        """Sidecar rows for df's keys: per-partition per-bucket bitsets
        folded in an Arrow kernel, OR-merged per bucket with
        ``applyInPandas`` — no driver participation, no collect."""
        m_bits, k, n_buckets = self.m_bits, self.k, self.n_buckets
        hashed = df.select(
            F.col(bucket_col).cast("int").alias("bucket"),
            F.xxhash64(F.col(url_col)).alias(_HASH_COL),
        ).repartition(F.col("bucket"))

        def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            local: dict[int, list] = {}
            for b in batches:
                if len(b) == 0:
                    continue
                for bucket, grp in b.groupby("bucket"):
                    ent = local.setdefault(
                        int(bucket), [np.zeros(m_bits // 8, dtype=np.uint8), 0]
                    )
                    h = grp[_HASH_COL].to_numpy(dtype=np.int64)
                    for pos in _positions(h, m_bits, k):
                        np.bitwise_or.at(
                            ent[0], pos >> 3, (1 << (pos & 7)).astype(np.uint8)
                        )
                    ent[1] += len(grp)
            if local:
                yield pd.DataFrame(
                    {
                        "bucket": list(local),
                        "bits": [v[0].tobytes() for v in local.values()],
                        "n_keys": [v[1] for v in local.values()],
                        "m_bits": m_bits,
                        "k": k,
                        "n_buckets": n_buckets,
                    }
                )

        parts = hashed.mapInPandas(fold, BLOOM_SIDECAR)
        return self.or_merge(parts)

    def or_merge(self, sidecar_rows: DataFrame) -> DataFrame:
        """OR-merge possibly-duplicate bucket rows (build output, or
        old sidecar ∪ epoch delta) into one row per bucket."""

        m_bits, k, n_buckets = self.m_bits, self.k, self.n_buckets

        def merge(pdf: pd.DataFrame) -> pd.DataFrame:
            acc = np.frombuffer(pdf["bits"].iloc[0], dtype=np.uint8).copy()
            for raw in pdf["bits"].iloc[1:]:
                acc |= np.frombuffer(raw, dtype=np.uint8)
            return pd.DataFrame(
                {
                    "bucket": [pdf["bucket"].iloc[0]],
                    "bits": [acc.tobytes()],
                    "n_keys": [int(pdf["n_keys"].sum())],
                    "m_bits": [m_bits],
                    "k": [k],
                    "n_buckets": [n_buckets],
                }
            )

        return sidecar_rows.groupBy("bucket").applyInPandas(merge, BLOOM_SIDECAR)

    def matches(self, sidecar: DataFrame) -> bool:
        """True iff the stored sidecar's persisted sizing parameters
        equal this instance's (probing with mismatched params would
        silently yield false negatives). An empty sidecar matches; one
        without the parameter columns (pre-upgrade layout) does not."""
        if not set(["m_bits", "k", "n_buckets"]) <= set(sidecar.columns):
            return False
        row = sidecar.select("m_bits", "k", "n_buckets").first()
        if row is None:
            return True
        return (
            row["m_bits"] == self.m_bits
            and row["k"] == self.k
            and row["n_buckets"] == self.n_buckets
        )

    # ---- bucket-local probe (cogroup; no broadcast of any bitset) ---

    def probe(
        self,
        candidates: DataFrame,
        sidecar: DataFrame,
        url_col: str = "url",
        bucket_col: str = "host_bucket",
    ) -> DataFrame:
        """candidates + boolean ``__maybe_seen``: each task sees only
        its bucket's bitset (cogroup on bucket) — bucket-local probe,
        bounded memory, driver untouched."""
        m_bits, k = self.m_bits, self.k
        cand_fields = candidates.schema.fields
        out = StructType(cand_fields + [StructField("__maybe_seen", BooleanType())])
        c = candidates.withColumn(_HASH_COL, F.xxhash64(F.col(url_col))).withColumn(
            "__bucket", F.col(bucket_col).cast("int")
        )

        def probe_group(cdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
            if len(cdf) == 0:
                return pd.DataFrame(columns=[f.name for f in out.fields])
            if len(sdf) == 0:
                mask = np.zeros(len(cdf), dtype=bool)
            else:
                acc = np.frombuffer(sdf["bits"].iloc[0], dtype=np.uint8).copy()
                for raw in sdf["bits"].iloc[1:]:
                    acc |= np.frombuffer(raw, dtype=np.uint8)
                bf = BloomFilter(acc, m_bits, k)
                mask = bf.contains(cdf[_HASH_COL].to_numpy(dtype=np.int64))
            cdf = cdf.drop(columns=[_HASH_COL, "__bucket"])
            cdf["__maybe_seen"] = mask
            return cdf

        return (
            c.groupBy("__bucket")
            .cogroup(sidecar.groupBy(F.col("bucket").alias("__bucket")))
            .applyInPandas(probe_group, out)
        )


@dataclass
class PartitionedBloomView:
    """A probe-ready handle: sidecar DataFrame + its parameters, as
    plan_due/unseen take it."""

    pb: PartitionedBloom
    sidecar: DataFrame
    bucket_col: str = "host_bucket"


def unseen(
    candidates: DataFrame,
    seen_table: DataFrame,
    bloom: "BloomFilter | PartitionedBloomView | None",
    url_col: str = "url",
) -> DataFrame:
    """Exact not-seen set (C1/C5 ``\\\\ seen``): bloom prefilter +
    exact anti-join on the bloom-positive residue (false positives can
    never drop a URL). With no bloom, plain ``left_anti``; with a
    PartitionedBloomView, the prefilter probes bucket-locally."""
    if bloom is None or (isinstance(bloom, BloomFilter) and bloom.n_keys == 0):
        return candidates.join(seen_table.select(url_col), [url_col], "left_anti")
    if isinstance(bloom, PartitionedBloomView):
        probed = bloom.pb.probe(candidates, bloom.sidecar, url_col, bloom.bucket_col)
    else:
        probed = bloom.probe_column(candidates, url_col)
    definite_new = probed.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    maybe = probed.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    verified_new = maybe.join(seen_table.select(url_col), [url_col], "left_anti")
    return definite_new.unionByName(verified_new)
