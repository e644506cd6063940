"""Snapshot-versioned table catalog with MERGE-style dedup writes.

The reference persists to SQLite/PostgreSQL with ``INSERT OR IGNORE``
/ ``ON CONFLICT DO NOTHING`` dedup (src/Network/Scrapetition/URL.hs:
11-15, Sql.hs:19-105). The production design for this engine is an
Iceberg catalog (``MERGE INTO ... WHEN NOT MATCHED THEN INSERT``,
snapshot-per-epoch commits, time travel for resume). This sandbox has
no Iceberg jars, so this module implements the same *contract* over
parquet + JSON manifests:

- a table = a data directory + numbered snapshot manifests listing
  member parquet files (appends never rewrite existing files — same
  as Iceberg manifest reuse, so N epochs cost O(new data), not
  O(table) per epoch);
- ``_HEAD`` points at the current snapshot; reads at HEAD or at any
  snapshot id (resume/time travel);
- a manifest also records the bucket spec of its files (≙ an Iceberg
  partition spec id per snapshot): layout and files move together;
- ``record_heads`` stores the HEADs of many tables as one commit
  record (the epoch checkpoint), ``restore_heads`` rolls them back
  to it;
- ``merge_insert`` = MERGE WHEN NOT MATCHED INSERT: batch-internal
  first-occurrence dedup + ``left_anti`` against the live table.
  With a ``bucket_expr`` the table is stored in buckets derived from
  its key (≙ an Iceberg bucket-partitioned table) and the anti-join
  reads ONLY the buckets the batch touches — per-epoch MERGE cost is
  O(touched buckets), not O(table).
  (The seen-date upsert S9 needs no separate merge_update: it is
  folded into the crawl engine's single urls rewrite.)

Every call site is written against this interface so swapping in a
real Iceberg catalog is a one-class change.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from scrapetition_spark.session import local_df

# Small-file control: each commit coalesces to at most this many files
# (a partitioned commit: one file per bucket, over twice as many write
# tasks). Same role as Iceberg's write.target-file-size bin-packing —
# without it every commit emits shuffle-partition-count tiny files,
# which bloats the manifest and serializes on filesystem contention
# (measured: a 64-file parquet write is 2.7× slower than 8-file at 32
# local threads).
WRITE_PARTITIONS = 8


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _parquet_rows(path: str) -> int:
    """Total row count of the parquet files under ``path``, read from
    the file footers driver-side — no Spark job. Returns -1 (treated
    as "not empty" by callers) if any footer is unreadable."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                except Exception:
                    return -1
    return total


@dataclass
class Snapshot:
    snapshot_id: int
    files: list[str]
    # partition-scoped state: commit-bucket id (str) → member dirs.
    # A partition-scoped commit replaces only touched buckets' entries
    # and carries the rest forward untouched (≙ Iceberg partition-
    # scoped overwrite: manifests of untouched partitions are reused).
    parts: dict[str, list[str]]
    # member dir → on-disk bytes, recorded AT WRITE TIME and carried
    # forward with the dir (≙ Iceberg's total-files-size snapshot
    # summary): table_bytes sums these instead of re-walking the data
    # dir on every call.
    sizes: dict[str, int]
    # bucket spec the parts were written under (None: none given);
    # every commit that keeps the layout carries it forward
    spec: dict | None = None


class Catalog:
    def __init__(
        self, spark: SparkSession, root: str, names: dict[str, str] | None = None
    ):
        self.spark = spark
        self.root = root
        # logical→physical table names (≙ the reference's
        # --items-table / --users-table / --voting-table overrides,
        # app/Main.hs:117-131): callers address logical names
        # ("comments", "users", "votes"); unmapped names are physical.
        self.names = dict(names or {})
        os.makedirs(root, exist_ok=True)

    # ----- snapshot plumbing ------------------------------------------------

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, self.names.get(table, table))

    def _head_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_HEAD")

    def head(self, table: str) -> int:
        """Current snapshot id, -1 if the table has no snapshot yet."""
        try:
            with open(self._head_path(table)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _head_snapshot(self, table: str) -> Snapshot:
        """The HEAD snapshot; an empty one if the table has none."""
        if not self.exists(table):
            return Snapshot(-1, [], {}, {})
        return self._snapshot(table, self.head(table))

    def _snapshot(self, table: str, snapshot_id: int) -> Snapshot:
        with open(os.path.join(self._tdir(table), f"snap-{snapshot_id}.json")) as f:
            d = json.load(f)
            return Snapshot(
                snapshot_id, d["files"], d.get("parts", {}), d.get("sizes", {}),
                d.get("spec"),
            )

    def _commit(
        self,
        table: str,
        files: list[str],
        parts: dict[str, list[str]] | None = None,
        carry_sizes: dict[str, int] | None = None,
        spec: dict | None = None,
    ) -> int:
        sid = self.head(table) + 1
        tdir = self._tdir(table)
        os.makedirs(tdir, exist_ok=True)
        # size summary: dirs carried forward keep their recorded
        # bytes; only dirs NEW in this commit are walked (bounded by
        # the commit, never by the table)
        carry = carry_sizes or {}
        members = list(files) + [p for dirs in (parts or {}).values() for p in dirs]
        sizes = {p: carry[p] if p in carry else _dir_bytes(p) for p in members}
        with open(os.path.join(tdir, f"snap-{sid}.json"), "w") as f:
            json.dump(
                {"files": files, "parts": parts or {}, "sizes": sizes, "spec": spec}, f
            )
        self._set_head(table, sid)
        return sid

    def _set_head(self, table: str, sid: int) -> None:
        tmp = self._head_path(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(sid))
        os.replace(tmp, self._head_path(table))  # atomic pointer swap

    def _write_files(
        self, table: str, df: DataFrame, hint_partitions: int | None = None
    ) -> list[str]:
        """Write df as new parquet files inside the table's data dir;
        returns their paths. Existing files are never touched.
        ``hint_partitions`` lets a caller that knows a commit's size
        set the file fan-out in place of ``WRITE_PARTITIONS`` (probing
        df.rdd for its partition count here would force AQE
        query-stage execution — a hidden double-run of the whole plan
        — so sizing is explicit, not inferred)."""
        part = f"part-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self._tdir(table), "data", part)
        n = hint_partitions if hint_partitions else WRITE_PARTITIONS
        df.coalesce(n).write.mode("overwrite").parquet(out)
        return [out]

    # ----- public API -------------------------------------------------------

    def exists(self, table: str) -> bool:
        return self.head(table) >= 0

    def _paths(self, snap: Snapshot) -> list[str]:
        return snap.files + [p for dirs in snap.parts.values() for p in dirs]

    def read(
        self, table: str, schema: StructType | None = None, snapshot: int | None = None
    ) -> DataFrame:
        sid = self.head(table) if snapshot is None else snapshot
        paths = self._paths(self._snapshot(table, sid)) if sid >= 0 else []
        if not paths:
            if schema is None:
                raise ValueError(f"table {table} does not exist and no schema given")
            return local_df(self.spark, [], schema)
        return self.spark.read.parquet(*paths)

    def overwrite(self, table: str, df: DataFrame) -> int:
        return self._commit(table, self._write_files(table, df), parts={})

    def append(
        self, table: str, df: DataFrame, hint_partitions: int | None = None
    ) -> int:
        return self._append_files(table, self._write_files(table, df, hint_partitions))

    def _append_files(self, table: str, new_files: list[str]) -> int:
        prev = self._head_snapshot(table)
        return self._commit(
            table, prev.files + new_files, prev.parts, prev.sizes, prev.spec
        )

    def append_skip_empty(self, table: str, df: DataFrame) -> int:
        """Append ``df``, but if the write produced zero rows, retract
        the fresh dir and advance the snapshot unchanged. Emptiness is
        read from the written parquet footers driver-side, so the plan
        behind ``df`` executes exactly ONCE — inside the write (an
        eager ``isEmpty()`` probe doubled sink I/O; BENCH/BASELINE.md)."""
        new_files = self._write_files(table, df)
        # every dir must be READABLY empty (0): a -1 (unreadable
        # footer) from one dir must not cancel a +1 from another —
        # when in doubt, keep the data
        if all(_parquet_rows(p) == 0 for p in new_files):
            for p in new_files:
                shutil.rmtree(p, ignore_errors=True)
            new_files = []
        return self._append_files(table, new_files)

    def table_bytes(self, table: str, snap: "Snapshot | None" = None) -> int:
        """On-disk bytes of the member files at HEAD, summed from the
        per-dir byte totals the manifest records at write time (≙
        Iceberg's total-files-size snapshot summary) — no os.walk of
        the data dir per call. Dirs from manifests predating the
        summary fall back to one stat walk. Callers that already hold
        the HEAD ``Snapshot`` pass it in to skip a redundant manifest
        parse."""
        snap = snap or self._head_snapshot(table)
        return sum(
            snap.sizes[d] if d in snap.sizes else _dir_bytes(d)
            for d in self._paths(snap)
        )

    def partition_state(self, table: str) -> tuple[bool, dict[str, list[str]]]:
        """(has_plain_files, parts) at HEAD. Plain appended files hold
        rows of unknown buckets, so a table holding any is rewritten
        once into buckets before its next partition-scoped commit."""
        snap = self._head_snapshot(table)
        return bool(snap.files), snap.parts

    def _write_partitioned(
        self, table: str, df: DataFrame, part_col: str | F.Column
    ) -> tuple[str, set[str]]:
        """Write ``df`` into one new data dir holding a ``__part=<k>``
        subdir per bucket ``k`` it has rows in; returns the dir and
        those buckets. A write without rows leaves no dir behind."""
        part = f"part-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self._tdir(table), "data", part)
        expr = F.col(part_col) if isinstance(part_col, str) else part_col
        # repartition BY the bucket → exactly one file per bucket
        # (partitionBy alone would emit one per (task, bucket)); __part
        # is hoisted into directory names and stripped from the data
        # files, so a derived bucket expression never pollutes the
        # table schema
        (
            df.withColumn("__part", expr)
            .repartition(2 * WRITE_PARTITIONS, F.col("__part"))
            .write.partitionBy("__part")
            .mode("overwrite")
            .parquet(out)
        )
        found = {d.split("=", 1)[1] for d in os.listdir(out) if d.startswith("__part=")}
        if not found:
            shutil.rmtree(out, ignore_errors=True)
        return out, found

    def overwrite_partitions(
        self,
        table: str,
        df: DataFrame,
        part_col: str | F.Column,
        touched: list[int] | None = None,
        bucket_spec: dict | None = None,
    ) -> int:
        """Partition-scoped overwrite (≙ Iceberg's dynamic partition
        overwrite): replace only the ``touched`` buckets with ``df``'s
        rows, carrying every other bucket's files forward UNCHANGED —
        per-epoch commit cost is O(touched data), not O(table).
        ``touched=None`` = full rewrite (also required when plain
        appended files exist — guarded below). The snapshot records
        ``bucket_spec`` (a scoped commit without one keeps the
        table's)."""
        prev = self._head_snapshot(table)
        if touched is not None and prev.files:
            raise ValueError(
                f"{table} has non-partitioned files; a partition-scoped "
                "commit would drop their untouched-bucket rows — pass "
                "touched=None to consolidate first"
            )
        out, found = self._write_partitioned(table, df, part_col)
        if touched is None:
            parts = {k: [os.path.join(out, f"__part={k}")] for k in sorted(found)}
        else:
            parts = dict(prev.parts)
            for t in touched:
                k = str(t)
                parts[k] = (
                    [os.path.join(out, f"__part={k}")] if k in found else []
                )
        if touched is not None and bucket_spec is None:
            bucket_spec = prev.spec
        return self._commit(table, [], parts, prev.sizes, bucket_spec)

    def read_buckets(
        self, table: str, schema: StructType, buckets: list[int]
    ) -> DataFrame:
        """Read only the given buckets (plus any non-bucketed plain
        files, whose rows belong to unknown buckets) — the
        partition-pruned scan behind the bucketed MERGE."""
        snap = self._head_snapshot(table)
        paths = list(snap.files)
        for b in buckets:
            paths += snap.parts.get(str(b), [])
        if not paths:
            return local_df(self.spark, [], schema)
        return self.spark.read.parquet(*paths)

    def append_partitions(
        self,
        table: str,
        df: DataFrame,
        part_col: str | F.Column,
        bucket_spec: dict | None = None,
    ) -> int:
        """Bucketed append: write ``df``'s rows into per-bucket data
        dirs and ADD them to each bucket's member list — existing
        files of every bucket are carried forward verbatim (≙ an
        Iceberg append to a bucket-partitioned table: new data files,
        manifests of old ones reused). The snapshot records
        ``bucket_spec``, or keeps the table's when none is given."""
        prev = self._head_snapshot(table)
        out, found = self._write_partitioned(table, df, part_col)
        parts = {k: list(v) for k, v in prev.parts.items()}
        for k in sorted(found):
            parts.setdefault(k, []).append(os.path.join(out, f"__part={k}"))
        return self._commit(
            table, prev.files, parts, prev.sizes,
            prev.spec if bucket_spec is None else bucket_spec,
        )

    def compact_buckets(self, table: str, max_files: int = 16) -> int | None:
        """Fold any bucket whose member-dir list exceeds ``max_files``
        into one dir (small-file control for long append chains; ≙
        Iceberg rewrite_data_files scoped to hot partitions). Reads
        ONLY the overfull buckets. Returns the new snapshot id, or
        None if nothing needed compaction."""
        snap = self._head_snapshot(table)
        over = {k: v for k, v in snap.parts.items() if len(v) > max_files}
        if not over:
            return None
        parts = {k: list(v) for k, v in snap.parts.items()}
        for k, paths in over.items():
            out = os.path.join(
                self._tdir(table), "data", f"part-{uuid.uuid4().hex[:12]}"
            )
            self.spark.read.parquet(*paths).coalesce(1).write.mode(
                "overwrite"
            ).parquet(out)
            parts[k] = [out]
        return self._commit(table, snap.files, parts, snap.sizes, snap.spec)

    def merge_insert(
        self,
        table: str,
        batch: DataFrame,
        keys: list[str],
        schema: StructType,
        order_cols: list[str] | None = None,
        bucket_expr: F.Column | None = None,
        bucket_spec: dict | None = None,
        touched: list[int] | None = None,
    ) -> int:
        """MERGE ... WHEN NOT MATCHED THEN INSERT (≙ INSERT OR IGNORE,
        Sql.hs:19-105). Batch-internal duplicates collapse to the
        first occurrence in ``order_cols`` order (the reference's
        insertion order ≙ executeMany sequencing); existing rows win.

        Without ``bucket_expr`` the table is a plain file list and the
        anti-join reads all of it (the generic insert of the streaming
        sink).

        With ``bucket_expr`` (a deterministic int expression over the
        key columns, so a key always lands in the same bucket) the
        table is bucketed from its first write and the MERGE is
        bucket-pruned: the anti-join reads only the ``touched``
        buckets and the insert appends per-bucket files, so one MERGE
        costs O(touched buckets), never O(table). ``touched`` must
        cover every bucket the batch has rows in. A caller that knows
        them (the crawl epoch, from its due set) passes them; else
        they are collected from the batch, for one batch checkpoint
        and one distinct-bucket job. A table stored in another layout
        — plain files, or buckets under another ``bucket_spec`` — is
        first rewritten once into this one."""
        cols = [f.name for f in schema.fields]
        if order_cols:
            # first-occurrence-in-order dedup as a hash aggregate
            # (min_by): map-side partial aggregation, one shuffle —
            # a row_number window over these high-cardinality keys
            # would sort every partition instead.
            row = F.struct(*[F.col(c) for c in cols])
            key = F.struct(*[F.col(c) for c in order_cols])
            batch = (
                batch.groupBy(*[F.col(k) for k in keys])
                .agg(F.min_by(row, key).alias("__r"))
                .select("__r.*")
            )
        else:
            batch = batch.select(*cols).dropDuplicates(keys)

        if bucket_expr is None:
            existing = self.read(table, schema)
            # null-safe key comparison (eqNullSafe) — UNIQUE treats
            # NULLs as distinct in SQLite, but our keys are never null
            # in practice.
            cond = [batch[k].eqNullSafe(existing[k]) for k in keys]
            # a MERGE whose every key already exists commits NO new
            # data dir; append_skip_empty reads emptiness from the
            # written footers, so the anti-join executes exactly once.
            return self.append_skip_empty(
                table, batch.join(existing, cond, "left_anti")
            )

        if not self.exists(table):
            return self.append_partitions(table, batch, bucket_expr, bucket_spec)
        if not self.prunable_buckets(table, bucket_spec):
            self.overwrite_partitions(
                table, self.read(table, schema), bucket_expr, None, bucket_spec
            )
        if touched is None:
            # materialize the deduped batch once: the touched-bucket
            # scan and the anti-join both read the checkpoint instead
            # of re-running the batch plan
            batch = batch.localCheckpoint()
            touched = sorted(
                r["b"]
                for r in batch.select(bucket_expr.alias("b")).distinct().collect()
            )
        existing = self.read_buckets(table, schema, touched).select(*keys)
        cond = [batch[k].eqNullSafe(existing[k]) for k in keys]
        fresh = batch.join(existing, cond, "left_anti")
        sid = self.append_partitions(table, fresh, bucket_expr, bucket_spec)
        return self.compact_buckets(table) or sid

    def append_bucketed(
        self,
        table: str,
        df: DataFrame,
        bucket_expr: F.Column,
        bucket_spec: dict,
    ) -> int:
        """Bucketed APPEND (no dedup — the append-only twin of the
        bucketed ``merge_insert``): per-bucket appends plus hot-bucket
        compaction, so a reader that knows its buckets scans them with
        ``read_buckets``, not the whole table. A table stored in
        another layout — plain files, or buckets under another
        ``bucket_spec`` — is rewritten once, together with ``df``,
        into this one."""
        if self.prunable_buckets(table, bucket_spec):
            sid = self.append_partitions(table, df, bucket_expr, bucket_spec)
            return self.compact_buckets(table) or sid
        merged = self.read(table, df.schema).unionByName(df)
        return self.overwrite_partitions(table, merged, bucket_expr, None, bucket_spec)

    def prunable_buckets(self, table: str, bucket_spec: dict | None) -> bool:
        """True iff ``read_buckets`` pruning is sound for this table: it
        has no snapshot yet, or it holds no plain files (rows of
        unknown buckets) and was written under exactly
        ``bucket_spec``."""
        snap = self._head_snapshot(table)
        return snap.snapshot_id < 0 or (not snap.files and snap.spec == bucket_spec)

    def expire_snapshots(self, table: str, keep_last: int = 2) -> int:
        """Delete snapshot manifests older than the newest
        ``keep_last`` and every data dir no retained snapshot
        references (≙ Iceberg ``expire_snapshots`` + orphan-file
        removal). Long crawls commit one snapshot per table per epoch;
        without expiry both the ``snap-*.json`` count and the
        superseded data dirs grow O(epochs) (VERDICT r03 #8). Time
        travel remains available within the retained window; reads at
        expired ids raise (same contract as Iceberg). Returns the
        number of filesystem entries removed."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        head = self.head(table)
        if head < 0:
            return 0
        tdir = self._tdir(table)
        cutoff = head - keep_last + 1
        referenced: set[str] = set()
        kept_ids = []
        for sid in range(max(0, cutoff), head + 1):
            try:
                snap = self._snapshot(table, sid)
            except FileNotFoundError:
                continue  # already expired earlier
            kept_ids.append(sid)
            referenced.update(os.path.normpath(p) for p in self._paths(snap))
        removed = 0
        for name in os.listdir(tdir):
            if name.startswith("snap-") and name.endswith(".json"):
                sid = int(name[5:-5])
                if sid < cutoff:
                    os.remove(os.path.join(tdir, name))
                    removed += 1
        data = os.path.join(tdir, "data")
        if not os.path.isdir(data):
            return removed
        for part in os.listdir(data):
            pdir = os.path.normpath(os.path.join(data, part))
            if pdir in referenced:
                continue
            subs = [
                d for d in os.listdir(pdir) if d.startswith("__part=")
            ] if os.path.isdir(pdir) else []
            if subs:
                # partitioned write dir: retire only unreferenced
                # buckets (a scoped commit may still reference some)
                alive = False
                for d in subs:
                    sub = os.path.normpath(os.path.join(pdir, d))
                    if sub in referenced:
                        alive = True
                    else:
                        shutil.rmtree(sub, ignore_errors=True)
                        removed += 1
                if alive:
                    continue
                # non-__part residue (e.g. _SUCCESS) keeps nothing alive
                shutil.rmtree(pdir, ignore_errors=True)
            else:
                shutil.rmtree(pdir, ignore_errors=True)
                removed += 1
        return removed

    def tables(self) -> list[str]:
        """Every table with a committed snapshot under this root, by the
        name this catalog addresses it with. A physical table shadowed
        by a mapped logical name is not addressable, so not listed."""
        logical = {p: t for t, p in self.names.items()}
        out = []
        for name in sorted(os.listdir(self.root)):
            if not os.path.isfile(os.path.join(self.root, name, "_HEAD")):
                continue
            if name in logical:
                out.append(logical[name])
            elif name not in self.names:
                out.append(name)
        return out

    def drop(self, table: str) -> None:
        shutil.rmtree(self._tdir(table), ignore_errors=True)

    # ----- commit record: one atomic commit point over many tables ---------

    def record_heads(self, tables: tuple[str, ...]) -> None:
        """Store the HEAD of each of ``tables`` (-1: absent) as the
        catalog's commit record, swapped in atomically like ``_HEAD``.
        Until the next record, later writes to them are uncommitted."""
        path = os.path.join(self.root, "_RECORD.json")
        with open(path + ".tmp", "w") as f:
            json.dump({t: self.head(t) for t in tables}, f)
        os.replace(path + ".tmp", path)

    def restore_heads(self) -> bool:
        """Move every recorded table back to its record (≙ Iceberg
        rollback-to-snapshot): drop a table recorded absent, reset a
        HEAD past its record and delete the manifests above it. The
        recorded snapshots survive as long as expiry runs only after a
        record. Returns whether any table moved (none without a record)."""
        try:
            with open(os.path.join(self.root, "_RECORD.json")) as f:
                heads = json.load(f)
        except FileNotFoundError:
            return False
        moved = False
        for table, sid in heads.items():
            moved |= self.head(table) > sid
            if sid < 0:
                self.drop(table)
            elif self.exists(table):
                if self.head(table) > sid:
                    self._set_head(table, sid)
                tdir = self._tdir(table)
                for name in os.listdir(tdir):
                    if name.startswith("snap-") and int(name[5:-5]) > sid:
                        os.remove(os.path.join(tdir, name))
        return moved
