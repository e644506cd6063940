"""The catalog's commit record: ``record_heads`` stores the HEAD of a
set of tables at once, and ``restore_heads`` moves every one of them
back to it — rows and bucket layout together."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from scrapetition_spark.sources.catalog import Catalog

SCHEMA = StructType([
    StructField("k", StringType()),
    StructField("v", IntegerType()),
])


def _bucket(n: int):
    return F.pmod(F.xxhash64("k"), F.lit(n)).cast("int")


def test_restore_heads_undoes_every_write_after_the_record(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))

    def df(*keys):
        return spark.createDataFrame([(k, i) for i, k in enumerate(keys)], SCHEMA)

    def rows(table):
        return sorted(tuple(r) for r in cat.read(table, SCHEMA).collect())

    spec_a, spec_b = {"n": 4}, {"n": 8}
    cat.merge_insert("t", df("a", "b", "c"), ["k"], SCHEMA,
                     bucket_expr=_bucket(4), bucket_spec=spec_a)
    cat.append("log", df("x"))
    assert not cat.restore_heads()  # no record yet: nothing moves
    before = {t: rows(t) for t in ("t", "log")}
    heads = {t: cat.head(t) for t in ("t", "log")}
    cat.record_heads(("t", "log", "new"))

    # an append, a MERGE that creates a table, and a consolidating
    # rewrite under a new bucket spec
    cat.append("log", df("y"))
    cat.merge_insert("new", df("n"), ["k"], SCHEMA,
                     bucket_expr=_bucket(4), bucket_spec=spec_a)
    cat.append_bucketed("t", df("d"), _bucket(8), spec_b)
    assert cat.prunable_buckets("t", spec_b)
    assert not cat.prunable_buckets("t", spec_a)

    assert cat.restore_heads()
    assert not cat.restore_heads()
    assert {t: rows(t) for t in ("t", "log")} == before
    assert {t: cat.head(t) for t in ("t", "log")} == heads
    assert not cat.exists("new") and not os.path.exists(os.path.join(cat.root, "new"))
    assert cat.prunable_buckets("t", spec_a)
    assert not cat.prunable_buckets("t", spec_b)
    for t in ("t", "log"):
        ids = [int(f[5:-5]) for f in os.listdir(os.path.join(cat.root, t))
               if f.startswith("snap-")]
        assert max(ids) == heads[t], t

    # the next commit continues from the record
    cat.append("log", df("z"))
    assert cat.head("log") == heads["log"] + 1
    assert rows("log") == sorted(before["log"] + [("z", 0)])
