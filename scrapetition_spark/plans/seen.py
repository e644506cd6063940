"""Bloom seen-filters (north rule; SURVEY.md §4.1).

The reference keeps the seen set as an in-memory Haskell list probed
with ``elem`` (O(n) per probe, O(n²) per crawl —
/root/reference/src/Network/Scrapetition/App.hs:69,107). At 10^10
URLs that is impossible; the scalable design is:

1. an append-only ``urls_seen`` table (exact truth, partitioned by
   host bucket on a real deployment);
2. a bloom sidecar of one ``(bucket, bits, n_keys)`` row per host
   bucket (``PartitionedBloom``), built and OR-merged by Spark's own
   bitmap aggregates: every key's k bit positions are native
   ``xxhash64``/bit expressions, ``bitmap_construct_agg`` folds them
   into 32,768-bit chunks per (bucket, chunk), ``bitmap_or_agg``
   OR-merges chunks, and the chunks are trimmed or concatenated into
   the stored ``m_bits/8``-byte bitset;
3. probes join each candidate to its bucket's sidecar row, carried as
   an array of 64-bit words so a candidate reads its k words in place
   (O(k) per candidate, whatever the bitset size; AQE picks broadcast
   or shuffle); bloom *negatives* are definitely unseen and skip the
   ``urls_seen`` join (the common case for a growing crawl), bloom
   *positives* are verified exactly with a ``left_anti`` join against
   ``urls_seen`` so false positives can never drop a URL (SURVEY.md
   §7.3 exactness requirement).

``BloomFilter`` is the one-bucket case of the same expressions (bucket
0 through a constant column), with its bitset collected to the driver:
a standalone filter for small key sets (``unseen`` accepts either).

Every step is a JVM expression or aggregate: no Python worker starts.
K hash functions derive from the one 64-bit hash by double hashing
(Kirsch-Mitzenmacher).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# bitmap_construct_agg / bitmap_or_agg work on fixed 4096-byte bitmaps
_CHUNK_BITS = 32768
_CHUNK_SHIFT = 15


def _plan_params(expected_keys: int, bits_per_key: int) -> tuple[int, int]:
    m_bits = max(1 << 10, 1 << math.ceil(math.log2(max(1, expected_keys) * bits_per_key)))
    k = max(1, round(0.693 * m_bits / max(1, expected_keys)))
    return m_bits, min(k, 16)


def bit_positions(url: Column, m_bits: int, k: int) -> list[Column]:
    """The k bit positions of ``xxhash64(url)`` by double hashing:
    ``h1`` = low 32 bits, ``h2`` = high 32 bits | 1 (odd ⇒ full-period
    step), ``pos_i = (h1 + i·h2) mod m_bits``. ``m_bits`` is a power of
    two and ``h1 + 15·h2 < 2^37``, so signed-long arithmetic with a
    mask equals the unsigned 64-bit modulo."""
    h = F.xxhash64(url)
    h1 = h.bitwiseAND(F.lit(0xFFFFFFFF))
    h2 = F.shiftrightunsigned(h, 32).bitwiseOR(F.lit(1))
    return [(h1 + F.lit(i) * h2).bitwiseAND(F.lit(m_bits - 1)) for i in range(k)]


def _words(bits: Column) -> Column:
    """A stored bitset as big-endian 64-bit words (16 hex digits each).
    The probe joins this array, not the binary: Spark copies a binary
    column whole on every read, but reads an array element in place."""
    return F.transform(
        F.regexp_extract_all(F.hex(bits), F.lit("[0-9A-F]{16}"), 0),
        lambda w: F.conv(w, 16, -10).cast("long"),
    )


def _bit_set(words: Column, pos: Column) -> Column:
    """Bit ``pos`` of the bitset (byte pos>>3, bit pos&7) in its
    ``_words`` form: byte (pos>>3)&7 of word pos>>6 is that word's byte
    7-((pos>>3)&7), so the bit is word bit (pos & 63) ^ 56."""
    word = F.get(words, F.shiftright(pos, 6).cast("int"))
    at = pos.bitwiseAND(F.lit(63)).bitwiseXOR(F.lit(56)).cast("int")
    return F.bit_get(word, at) == F.lit(1)


# ---------------------------------------------------------------------------
# Partitioned bloom sidecar (north rule / SURVEY §4.1: per-host-bucket
# bitsets, built map-side, OR-merged per bucket, probed bucket-local).
# The driver NEVER holds the full filter: the sidecar is a DataFrame /
# catalog table of (bucket, bits, n_keys) rows; at 10^10 keys × 16
# bits/key the total is ~20 GB — un-broadcastable as one bitset (the
# r01 global-bitset design), but fine as 256+ bucket rows living on
# executors.

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

    # ---- build and OR-merge: (bucket, chunk) bitmap aggregates ------

    def build(
        self, df: DataFrame, url_col: str = "url", bucket_col: str = "host_bucket"
    ) -> DataFrame:
        """Sidecar rows for df's keys: every key's k positions folded
        into per-(bucket, chunk) bitmaps by ``bitmap_construct_agg``
        (partial aggregation map-side), then assembled per bucket.
        ``n_keys`` counts input rows, each once (at its first
        position's chunk)."""
        pos = df.select(
            F.col(bucket_col).cast("int").alias("bucket"),
            F.posexplode(F.array(*bit_positions(F.col(url_col), self.m_bits, self.k))),
        )
        chunks = pos.groupBy(
            "bucket", F.shiftright("col", _CHUNK_SHIFT).cast("int").alias("chunk")
        ).agg(
            F.bitmap_construct_agg(F.col("col").bitwiseAND(F.lit(_CHUNK_BITS - 1))).alias("bits"),
            F.count_if(F.col("pos") == 0).alias("n"),
        )
        return self._assemble(chunks)

    def or_merge(self, sidecar_rows: DataFrame) -> DataFrame:
        """OR-merge possibly-duplicate bucket rows (build output, or
        old sidecar ∪ epoch delta) into one row per bucket: each row is
        cut into its 4096-byte chunks, ``bitmap_or_agg`` merges them per
        (bucket, chunk), and ``n_keys`` sums per bucket."""
        n_chunks = max(1, self.m_bits // _CHUNK_BITS)
        chunk_bytes = _CHUNK_BITS // 8
        cut = sidecar_rows.select(
            "bucket",
            "n_keys",
            "bits",
            F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("chunk"),
        )
        chunks = cut.groupBy("bucket", "chunk").agg(
            F.bitmap_or_agg(
                F.col("bits").substr(F.col("chunk") * chunk_bytes + 1, F.lit(chunk_bytes))
            ).alias("bits"),
            F.sum(F.when(F.col("chunk") == 0, F.col("n_keys")).otherwise(F.lit(0))).alias("n"),
        )
        return self._assemble(chunks)

    def _assemble(self, chunks: DataFrame) -> DataFrame:
        """(bucket, chunk, bits: 4096-byte bitmap, n) → one sidecar row
        per bucket. Below one chunk the bitmap is trimmed to m_bits/8
        bytes; above, the bucket's chunks are concatenated in chunk
        order (as hex, joined in one linear pass), absent chunks as
        zeros."""
        n_bytes = self.m_bits // 8
        if self.m_bits <= _CHUNK_BITS:
            rows = chunks.select(
                "bucket", F.substring("bits", 1, n_bytes).alias("bits"), F.col("n").alias("n_keys")
            )
        else:
            n_chunks = self.m_bits // _CHUNK_BITS
            zero = F.lit("00" * (_CHUNK_BITS // 8))
            cs = F.col("cs")

            def piece(x: Column, i: Column) -> Column:
                prev = F.coalesce(F.get(cs, i - 1)["chunk"], F.lit(-1))
                return F.concat(F.repeat(zero, x["chunk"] - prev - 1), x["hex"])

            tail = F.repeat(zero, F.lit(n_chunks - 1) - F.element_at(cs, -1)["chunk"])
            rows = (
                chunks.groupBy("bucket")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("chunk", F.hex("bits").alias("hex")))
                    ).alias("cs"),
                    F.sum("n").alias("n_keys"),
                )
                .select(
                    "bucket",
                    F.unhex(F.concat(F.array_join(F.transform(cs, piece), ""), tail)).alias("bits"),
                    "n_keys",
                )
            )
        return rows.select(
            F.col("bucket").cast("int").alias("bucket"),
            "bits",
            F.col("n_keys").cast("long").alias("n_keys"),
            F.lit(self.m_bits).alias("m_bits"),
            F.lit(self.k).alias("k"),
            F.lit(self.n_buckets).alias("n_buckets"),
        )

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

    # ---- bucket-local probe (join to the bucket's row; bit tests) ---

    def probe(
        self,
        candidates: DataFrame,
        sidecar: DataFrame,
        url_col: str = "url",
        bucket_col: str = "host_bucket",
    ) -> DataFrame:
        """candidates + boolean ``__maybe_seen``: each candidate joins
        its bucket's sidecar row (one row per bucket, as ``build`` and
        ``or_merge`` emit) and tests its k bits; a bucket with no row
        is definitely unseen. Each sidecar row is converted to words
        once, so a candidate costs O(k), not O(m_bits/8)."""
        side = sidecar.select(
            F.col("bucket").alias("__bucket"), _words(F.col("bits")).alias("__words")
        )
        joined = candidates.withColumn("__bucket", F.col(bucket_col).cast("int")).join(
            side, "__bucket", "left"
        )
        hit = F.lit(True)
        for p in bit_positions(F.col(url_col), self.m_bits, self.k):
            hit = hit & _bit_set(F.col("__words"), p)
        return joined.withColumn("__maybe_seen", F.coalesce(hit, F.lit(False))).drop(
            "__bucket", "__words"
        )


@dataclass
class PartitionedBloomView:
    """A probe-ready handle: sidecar DataFrame + its parameters, as
    plan_due/unseen take it."""

    pb: PartitionedBloom
    sidecar: DataFrame
    bucket_col: str = "host_bucket"


class BloomFilter:
    """Immutable one-bucket bloom over xxhash64(url) values; the
    ``m_bits/8``-byte bitset lives on the driver."""

    def __init__(self, bits: bytes, m_bits: int, k: int, n_keys: int = 0):
        self.bits = bits
        self.m_bits = m_bits
        self.k = k
        self.n_keys = n_keys

    @classmethod
    def empty(cls, expected_keys: int, bits_per_key: int = 16) -> "BloomFilter":
        m_bits, k = _plan_params(expected_keys, bits_per_key)
        return cls(bytes(m_bits // 8), m_bits, k)

    def _partitioned(self) -> PartitionedBloom:
        pb = PartitionedBloom(1, n_buckets=1)
        pb.m_bits, pb.k = self.m_bits, self.k
        return pb

    def build_from(self, df: DataFrame, url_col: str = "url") -> "BloomFilter":
        """Fold df[url_col] into a new filter: the one-bucket sidecar
        row, OR-ed on the driver into this filter's bits; ``n_keys``
        adds the rows folded."""
        row = self._partitioned().build(df.withColumn("__b0", F.lit(0)), url_col, "__b0").first()
        if row is None:
            return BloomFilter(self.bits, self.m_bits, self.k, self.n_keys)
        merged = int.from_bytes(self.bits, "little") | int.from_bytes(row["bits"], "little")
        return BloomFilter(
            merged.to_bytes(len(self.bits), "little"),
            self.m_bits,
            self.k,
            self.n_keys + row["n_keys"],
        )

    def probe_column(self, df: DataFrame, url_col: str = "url") -> DataFrame:
        """Add boolean column ``__maybe_seen``: ``df`` in bucket 0
        probes this filter as a one-row sidecar."""
        from scrapetition_spark.session import local_df

        row = (0, self.bits, self.n_keys, self.m_bits, self.k, 1)
        sidecar = local_df(df.sparkSession, [row], BLOOM_SIDECAR)
        probed = self._partitioned().probe(
            df.withColumn("__b0", F.lit(0)), sidecar, url_col, "__b0"
        )
        return probed.drop("__b0")


def unseen(
    candidates: DataFrame,
    seen_table: DataFrame,
    bloom: "BloomFilter | PartitionedBloomView | None",
    url_col: str = "url",
) -> DataFrame:
    """Exact not-seen set (C1/C5 ``\\\\ seen``): bloom prefilter +
    exact anti-join on the bloom-positive residue (false positives can
    never drop a URL; definite negatives skip the join). With no
    bloom, plain ``left_anti``; with a PartitionedBloomView, the
    prefilter probes bucket-locally."""
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
