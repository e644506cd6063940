"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator family (SURVEY.md §2 +
the training-data operators) onto the driver's parquet tables;
``oracle_sql()`` holds the ANSI-SQL twin DuckDB runs on the same
tables. Aggregates are aliased identically on both sides; top-k
queries carry explicit tie-breaks; floats are rounded before
comparison (both engines compute in double).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: thread propagation (the reference's core analytics
    operator, Utils.hs:94-126 / utils/threads.sql) over the sf0.001
    events-derived comment forest."""
    from scrapetition_spark.operators.corpus import comments_from_events
    from scrapetition_spark.operators.threads import propagate_threads

    events = _t(spark, "/root/testdata/sf0.001", "events")
    comments = comments_from_events(events)
    out = propagate_threads(
        comments, domain_col=None, with_depth=True
    )
    return out.select("id", "parent", "thread", "depth")


# --------------------------------------------------------------------------
# queries


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from scrapetition_spark.operators import analytics as A
    from scrapetition_spark.operators import dedup as D
    from scrapetition_spark.operators import similarity as S
    from scrapetition_spark.operators import text as T
    from scrapetition_spark.operators.corpus import (
        comments_from_events,
        urls_from_documents,
    )
    from scrapetition_spark.operators.threads import propagate_threads
    from scrapetition_spark.plans.seen import BloomFilter, unseen
    from pyspark.sql import Window

    def a5(spark, sf):
        return A.a5_counts_per_domain(
            _t(spark, sf, "lineitem"), _t(spark, sf, "orders"),
            _t(spark, sf, "customer"), _t(spark, sf, "nation"),
        )

    def a6(spark, sf):
        return A.a6_avg_items_per_order(_t(spark, sf, "lineitem"))

    def a7(spark, sf):
        return A.a7_top_visited(_t(spark, sf, "lineitem"), _t(spark, sf, "orders"))

    def a8(spark, sf):
        return A.a8_threads_per_article(
            _t(spark, sf, "orders"), _t(spark, sf, "customer"), _t(spark, sf, "nation")
        )

    def a9(spark, sf):
        return A.a9_density(_t(spark, sf, "lineitem"))

    def a10(spark, sf):
        return A.a10_answer_graph(_t(spark, sf, "lineitem"), _t(spark, sf, "supplier"))

    def a11(spark, sf):
        return A.a11_cooccurrence(_t(spark, sf, "lineitem"))

    def _comments_shaped(spark, sf):
        """Deterministic comments-shaped frame from ``documents`` —
        id/parent/thread/user/name/last_scraped exactly as a crawl
        would persist them (threads of 10, reply chains, 37 authors)
        — so the crawl-native A10/A11 operators get an
        oracle-checkable input (VERDICT r02 next-4). Every 97th-ish
        row carries a RENAMED display name (``-v2``) and rows carry a
        varying ``last_scraped``, so the latest-name projection rule
        (VERDICT r04 wrong#2) is actually exercised: ``max(name)``
        and latest-by-scrape-date genuinely differ here."""
        d = _t(spark, sf, "documents")
        uid = (F.col("doc_id") % 37).cast("string")
        return d.select(
            F.col("doc_id").alias("id"),
            F.when(F.col("doc_id") % 10 != 0, F.col("doc_id") - 1).alias("parent"),
            (F.col("doc_id") - F.col("doc_id") % 10).alias("thread"),
            F.concat(F.lit("u"), uid).alias("user"),
            F.concat(
                F.lit("user-"),
                uid,
                F.when(F.col("doc_id") % 97 == 3, F.lit("-v2")).otherwise(
                    F.lit("")
                ),
            ).alias("name"),
            (F.col("doc_id") % 7).cast("int").alias("last_scraped"),
        )

    def a10b(spark, sf):
        return A.answer_graph_comments(_comments_shaped(spark, sf))

    def a11b(spark, sf):
        return A.cooccurrence_comments(_comments_shaped(spark, sf))

    def a12(spark, sf):
        return A.a12_leaderboard(_t(spark, sf, "orders"), _t(spark, sf, "customer"))

    def a13(spark, sf):
        return A.a13_filtered_count(_t(spark, sf, "customer"))

    def a14(spark, sf):
        return A.a14_concomitance(_t(spark, sf, "lineitem"))

    def a15(spark, sf):
        return A.a15_set_ops(urls_from_documents(_t(spark, sf, "documents")))

    def a16(spark, sf):
        """Link-authority ranking of the crawl graph: fixed-iteration
        power-method PageRank over the deterministic document link
        graph (out-degree 3, modular targets). One co-partitioned
        join + one map-side-combining hash agg per iteration; output
        is the n-normalized rank rounded to 6 decimals."""
        from scrapetition_spark.operators.corpus import link_graph_from_documents
        from scrapetition_spark.operators.graph import pagerank

        docs = _t(spark, sf, "documents")
        n = docs.count()
        edges = link_graph_from_documents(docs, n)
        nodes = docs.select(F.col("doc_id").cast("long").alias("node"))
        return pagerank(edges, nodes=nodes, damping=0.85, n_iter=10)

    def a3(spark, sf):
        return A.a3_graph_bfs(_t(spark, sf, "orders"), _t(spark, sf, "lineitem"))

    def c12(spark, sf):
        # the delta-frontier iterative loop. Against WITH RECURSIVE
        # (sf0.01, local[4], warm): the view form (c12b) runs 24 jobs; a
        # general form with the key collapse, pre-assigned threads and
        # the domain key runs 32 jobs and 2.57 CPU s vs this loop's 2.43
        # s, so the loop stays (threads.propagate_threads).
        comments = comments_from_events(_t(spark, sf, "events"))
        out = propagate_threads(comments, domain_col=None, with_depth=True)
        return out.select("id", "thread", "depth")

    def c12c(spark, sf):
        # the delta-frontier loop under its own oracle key
        comments = comments_from_events(_t(spark, sf, "events"))
        out = propagate_threads(comments, domain_col=None, with_depth=True)
        return out.select("id", "thread", "depth")

    def c12b(spark, sf):
        from scrapetition_spark.operators.threads import propagate_threads_recursive

        comments = comments_from_events(_t(spark, sf, "events"))
        return propagate_threads_recursive(comments).select("id", "thread", "depth")

    def a4(spark, sf):
        from scrapetition_spark.operators.threads import subthread

        comments = comments_from_events(_t(spark, sf, "events"))
        return subthread(comments, "c0").select("id", "parent")

    def c10(spark, sf):
        """Robots deny-join (north rule; no reference counterpart):
        frontier candidates minus (host, path_prefix) disallow rules."""
        u = urls_from_documents(_t(spark, sf, "documents"))
        robots = (
            u.select("host")
            .distinct()
            .select(
                "host",
                F.lit("/d/").alias("path_prefix"),
                F.when(
                    F.substring_index(F.substring_index("host", ".", 1), "h", -1)
                    .cast("int") % 5 == 0,
                    F.lit(0),
                ).otherwise(F.lit(1)).alias("allow"),
            )
        )
        deny = robots.filter(F.col("allow") == 0).select(
            F.col("host").alias("r_host"), "path_prefix"
        )
        cand = u.filter(~F.col("is_seen"))
        # host + path-component match (scheme-independent)
        path = F.regexp_extract(
            cand["url"], r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1
        )
        hit = cand.join(
            deny,
            (cand["host"] == deny["r_host"])
            & path.startswith(deny["path_prefix"]),
            "left_semi",
        )
        return (
            cand.join(hit.select("url"), ["url"], "left_anti")
            .select("url", "host")
        )

    def a20(spark, sf):
        """Weekly cohort retention triangle over events (ISO-week
        cohorts, distinct-user counts per offset)."""
        return A.a20_cohort_retention(_t(spark, sf, "events"))

    def a19(spark, sf):
        """HITS hub/authority over the same link graph as a16 —
        L1-normalized half-steps, mid-iteration rounding for
        engine-identical fixpoints."""
        from scrapetition_spark.operators.corpus import link_graph_from_documents
        from scrapetition_spark.operators.graph import hits

        docs = _t(spark, sf, "documents")
        n = docs.count()
        edges = link_graph_from_documents(docs, n)
        nodes = docs.select(F.col("doc_id").cast("long").alias("node"))
        return hits(edges, nodes=nodes, n_iter=8)

    def a17(spark, sf):
        """Tumbling 1-hour event rollup (counts, distinct users,
        value totals) — the batch run of the streaming
        windowed_event_rollup definition (its stream form is equated
        to this exact code in tests/test_streaming.py)."""
        from scrapetition_spark.streaming.ingest import windowed_event_rollup

        return windowed_event_rollup(_t(spark, sf, "events"))

    def a18(spark, sf):
        """Per-user 30-minute-gap sessionization via the engine's
        native session_window; oracle = independent lag/gap-sum
        gap-and-islands SQL."""
        return A.a18_user_sessions(_t(spark, sf, "events"))

    def c1(spark, sf):
        u = urls_from_documents(_t(spark, sf, "documents"))
        w = Window.partitionBy("host").orderBy("discovery_epoch", "seq")
        return (
            u.filter(~F.col("is_seen"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 2)
            .select("url", "host", "discovery_epoch", "seq", "rn")
        )

    def c3(spark, sf):
        u = urls_from_documents(_t(spark, sf, "documents"))
        disc = u.filter(F.col("doc_id") < 300).select(
            F.concat(
                F.lit("https://t.example.test/x/"),
                (F.col("doc_id") % 37).cast("string"),
            ).alias("target"),
            (F.col("doc_id") % 2).cast("int").alias("epoch"),
            F.col("seq"),
            (F.col("doc_id") % 13).cast("int").alias("pos"),
        )
        w = Window.partitionBy("target").orderBy("epoch", "seq", "pos")
        return (
            disc.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("target", "epoch", "seq", "pos")
        )

    def c9(spark, sf):
        u = urls_from_documents(_t(spark, sf, "documents"))
        w = Window.partitionBy("host").orderBy("priority", "seq")
        return (
            u.filter(~F.col("is_seen"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 1)
            .orderBy("priority", "seq")
            .limit(20)
            .select("url", "host", "priority", "seq")
        )

    def c5(spark, sf):
        u = urls_from_documents(_t(spark, sf, "documents"))
        cand = u.filter(F.col("doc_id") % 2 == 0).select("url")
        seen = u.filter(F.col("is_seen")).select("url")
        bloom = BloomFilter.empty(8192, 16).build_from(seen)
        return unseen(cand, seen, bloom)

    def c5b(spark, sf):
        # same exact unseen-set contract through the PARTITIONED bloom
        # sidecar (bitmap-aggregate build + bucket-join probe): false
        # positives verify exactly, so the result — and therefore the
        # oracle — is identical to c5's
        from scrapetition_spark.plans.seen import (
            PartitionedBloom,
            PartitionedBloomView,
        )

        u = urls_from_documents(_t(spark, sf, "documents")).withColumn(
            "host_bucket", F.pmod(F.xxhash64("host"), F.lit(32)).cast("int")
        )
        cand = u.filter(F.col("doc_id") % 2 == 0).select("url", "host_bucket")
        seen = u.filter(F.col("is_seen")).select("url", "host_bucket")
        pb = PartitionedBloom(expected_keys=8192, bits_per_key=16, n_buckets=32)
        sidecar = pb.build(seen)
        out = unseen(cand, seen.select("url"), PartitionedBloomView(pb, sidecar))
        return out.select("url")

    def u1(spark, sf):
        from scrapetition_spark.functions.urls import (
            drop_fragment,
            fragment_or_url,
            strip_query,
            url_domain,
        )

        u = urls_from_documents(_t(spark, sf, "documents"))
        return u.filter(F.col("doc_id") < 200).select(
            "url",
            url_domain(F.col("url")).alias("domain"),
            strip_query("url").alias("no_query"),
            drop_fragment("url").alias("no_frag"),
            fragment_or_url("url").alias("frag_or_url"),
        )

    def d1(spark, sf):
        return D.exact_dedup(_t(spark, sf, "documents"))

    def d2(spark, sf):
        return D.minhash_lsh_candidates(_t(spark, sf, "documents"), n_bands=4)

    def d3(spark, sf):
        return D.lsh_verified_neardups(
            _t(spark, sf, "documents"), n_bands=4, threshold=0.02
        )

    def d4(spark, sf):
        # max_hamming=3 (default): 4 banded keys give guaranteed
        # recall at the advertised distance (pigeonhole)
        return D.simhash_near_dups(_t(spark, sf, "documents"))

    def s1(spark, sf):
        return S.cosine_topk(
            _t(spark, sf, "embeddings"), query_ids=list(range(10)), k=5
        )

    def s2(spark, sf):
        return S.ann_lsh_topk(
            _t(spark, sf, "embeddings"), query_ids=list(range(10)), k=5
        )

    def s3(spark, sf):
        return S.ann_ivf_topk(
            _t(spark, sf, "embeddings"), query_ids=list(range(10)), k=5
        )

    def _ann_recall(exact, approx):
        """One-row corpus-level recall@k of ``approx`` vs the exact
        brute-force top-k (s1): (n_exact, n_caught, recall_pct)."""
        caught = exact.join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"], "left_semi",
        )
        return exact.agg(F.count("*").alias("n_exact")).crossJoin(
            caught.agg(F.count("*").alias("n_caught"))
        ).select(
            "n_exact", "n_caught",
            F.round(F.col("n_caught") * 100.0 / F.col("n_exact"), 2)
            .alias("recall_pct"),
        )

    def s2b(spark, sf):
        return _ann_recall(s1(spark, sf), s2(spark, sf))

    def s3b(spark, sf):
        return _ann_recall(s1(spark, sf), s3(spark, sf))

    def d5(spark, sf):
        # explicit 8x8 keeps the oracle's mirrored candidate set
        # stable; the DEFAULT auto-sizes tables for recall >= 0.95
        # (lsh_params_for) and d5b below MEASURES the pruned path's
        # recall against the exact pair set
        return D.embedding_cosine_neardups(
            _t(spark, sf, "embeddings"), threshold=0.4, n_planes=8, n_tables=8
        )

    def d5b(spark, sf):
        """Recall of the sketch-pruned near-dup path vs the exact
        all-pairs ground truth at the default threshold (ADVICE r02:
        the d5 oracle mirrors the candidate set, so approximation
        loss needs its own measured number). One row:
        (n_exact, n_caught, recall_pct)."""
        emb = _t(spark, sf, "embeddings")
        exact = D.embedding_cosine_neardups(emb, threshold=0.9, exact=True)
        pruned = D.embedding_cosine_neardups(emb, threshold=0.9)
        caught = exact.join(pruned.select("vec_a", "vec_b"), ["vec_a", "vec_b"],
                            "left_semi")
        return exact.agg(F.count("*").alias("n_exact")).crossJoin(
            caught.agg(F.count("*").alias("n_caught"))
        ).select(
            "n_exact",
            "n_caught",
            F.round(
                F.when(F.col("n_exact") > 0,
                       F.col("n_caught") * 100.0 / F.col("n_exact"))
                .otherwise(F.lit(100.0)), 2
            ).alias("recall_pct"),
        )

    def m1(spark, sf):
        from scrapetition_spark.operators import multimodal as M

        return M.media_metadata(_t(spark, sf, "documents"))

    def m2(spark, sf):
        from scrapetition_spark.operators import multimodal as M

        return M.decode_media(M.media_from_documents(_t(spark, sf, "documents")))

    def m3(spark, sf):
        # exploded integer per-bin aggregates (hist_counts/byte_sums)
        # instead of raw array<double> columns: integer-exact across
        # engines and sortable by the driver's canonicalizer
        from scrapetition_spark.operators import multimodal as M

        feats = M.media_features(M.media_from_documents(_t(spark, sf, "documents")))
        return feats.select(
            "doc_id",
            "format",
            F.posexplode(F.arrays_zip("hist_counts", "byte_sums")).alias("bin", "z"),
        ).select(
            "doc_id",
            "format",
            F.col("bin").cast("int").alias("bin"),
            F.col("z.hist_counts").alias("cnt"),
            F.col("z.byte_sums").alias("byte_sum"),
        )

    def t1(spark, sf):
        return T.quality_scores(_t(spark, sf, "documents"))

    def t2(spark, sf):
        return T.token_counts(_t(spark, sf, "documents"), top=20)

    def t3(spark, sf):
        return T.fingerprints(_t(spark, sf, "documents"))

    def t4(spark, sf):
        return T.language_guess(_t(spark, sf, "documents"))

    def t5(spark, sf):
        return T.repetition_scores(_t(spark, sf, "documents"))

    def t6(spark, sf):
        return T.pii_scrub(T.with_synthetic_pii(_t(spark, sf, "documents")))

    def t7(spark, sf):
        return T.stratified_sample(_t(spark, sf, "documents"))

    def t8(spark, sf):
        return T.pack_sequences(_t(spark, sf, "documents"))

    def d6(spark, sf):
        """Connected components over the MinHash-LSH candidate pairs:
        (doc_id, cluster_id=min member) — the canonical-survivor map a
        cluster-dedup pass applies. The Spark side is iterative
        min-label propagation with pointer jumping (O(log diameter)
        rounds); the oracle is a recursive reachability CTE."""
        return D.neardup_clusters(
            D.minhash_lsh_candidates(_t(spark, sf, "documents"), n_bands=4)
        )

    def d7(spark, sf):
        return D.eval_decontamination(_t(spark, sf, "documents"))

    def d8(spark, sf):
        """Exact substring dedup over non-overlapping 4-token windows
        (Lee et al. 2022 shape): per-doc duplicated-segment counts."""
        return D.exact_segment_dedup(_t(spark, sf, "documents"), k=4)

    def d9(spark, sf):
        """Incremental-ingest dedup: the deterministic batch stratum
        (doc_id % 10 == 7) probes the rest of the corpus's MinHash
        band-bucket index; candidates are exact-Jaccard verified."""
        docs = _t(spark, sf, "documents")
        return D.incremental_minhash_dedup(
            docs.filter(F.col("doc_id") % 10 != 7),
            docs.filter(F.col("doc_id") % 10 == 7),
        )

    def s4(spark, sf):
        """Fixed-iteration spherical k-means: deterministic md5
        init, 2 Lloyd rounds, centroid components rounded before
        every re-assign so the iteration is engine-identical."""
        return S.kmeans_assign(_t(spark, sf, "embeddings"), k=8, n_iter=2)

    def d10(spark, sf):
        """SemDedup: IVF-cell clustering + within-cell cosine prune —
        per-vector keep/dup_of decisions; the pairwise pass is
        cell-local, never corpus-wide. n_cells auto-sizes
        (ivf_cells_for: ~10^4-vector cells, floor 16) — the rule is
        ACTIVE here and mirrored in the oracle's anchor LIMIT."""
        return D.semantic_dedup(_t(spark, sf, "embeddings"), threshold=0.4)

    def t9(spark, sf):
        """Training-mix rebalance: per-language token shares vs the
        target mix, with the keep-rate / repeat-count directives."""
        return T.mix_weights(_t(spark, sf, "documents"))

    def t10(spark, sf):
        """Deterministic epoch-1 training shuffle: contiguous global
        positions from sharded md5 rank + broadcast shard offsets (no
        single-partition sort)."""
        return T.epoch_shuffle(_t(spark, sf, "documents"), epoch=1)

    def t11(spark, sf):
        """CCNet-shaped unigram LM quality score: per-doc surprisal
        vs the corpus unigram entropy; keep = more typical than
        average."""
        return T.unigram_lm_scores(_t(spark, sf, "documents"))

    def t13(spark, sf):
        """Per-language exact length percentiles + totals (corpus
        profile for threshold setting)."""
        return T.length_stats(_t(spark, sf, "documents"))

    def t12(spark, sf):
        """Per-doc top-3 TF-IDF terms, ranked by the integer-exact
        (tf DESC, df ASC, tok ASC) key; the floating score is
        reported, never used to rank."""
        return T.tfidf_top_terms(_t(spark, sf, "documents"), k=3)

    def p1(spark, sf):
        """The composed training-data cleaning pipeline a 100 TB
        corpus runs end-to-end: exact-dedup survivors ∩ quality gate
        ∩ language gate — one declarative plan (Catalyst fuses the
        three operators; each is individually oracle-verified as
        d1/t1/t4)."""
        docs = _t(spark, sf, "documents")
        q = T.quality_scores(docs)
        lang = T.language_guess(docs).select("doc_id", "looks_english")
        canon = D.exact_dedup(docs).select(
            F.col("canonical_doc").alias("doc_id")
        )
        return (
            q.join(lang, ["doc_id"])
            .join(canon, ["doc_id"], "left_semi")
            .filter((F.col("n_tokens") >= 10) & F.col("looks_english"))
            .select("doc_id", "n_tokens", "distinct_ratio")
        )

    def p2(spark, sf):
        """The FULL training-data pipeline, one declarative plan:
        exact-dedup survivors → quality floor (≥20 tokens) →
        Gopher repetition gates (top-2gram ≤ 0.1, dup-3gram ≤ 0.3,
        max run ≤ 3) → eval-stratum + decontamination removal →
        per-language stratified sampling. Emits the final kept doc
        list (doc_id, lang, n_tokens) a tokenizer pass would consume.
        Every stage is individually oracle-verified (d1/t1/t5/d7/t7).
        The ROW-LOCAL gates (quality floor, repetition, sampling) are
        computed inline on the base scan via the operators' shared
        expression builders — joining the operators' output frames
        back on doc_id would be a self-join Catalyst cannot fuse
        (three extra corpus scans + two shuffles); only the genuinely
        aggregate stages (exact-dedup survivors, decontamination)
        join."""
        from scrapetition_spark.operators.text import (
            SAMPLE_RATES,
            rate_expr,
            repetition_columns,
            sample_bucket,
        )

        docs = _t(spark, sf, "documents")
        canon = D.exact_dedup(docs).select(
            F.col("canonical_doc").alias("doc_id")
        )
        contam = D.eval_decontamination(docs).select("doc_id")
        rep = repetition_columns()
        return (
            docs.select(
                "doc_id",
                "lang",
                F.size(F.split("text", " ")).alias("n_tokens"),
                rep["top_2gram_frac"].alias("top_2gram_frac"),
                rep["dup_3gram_frac"].alias("dup_3gram_frac"),
                rep["max_token_run"].alias("max_token_run"),
            )
            .join(canon, ["doc_id"], "left_semi")
            .join(contam, ["doc_id"], "left_anti")
            .filter(F.col("doc_id") % 97 != 0)
            .filter(
                (F.col("n_tokens") >= 20)
                & (F.coalesce("top_2gram_frac", F.lit(0.0)) <= 0.1)
                & (F.coalesce("dup_3gram_frac", F.lit(0.0)) <= 0.3)
                & (F.coalesce("max_token_run", F.lit(1)) <= 3)
            )
            .filter(sample_bucket(F.col("doc_id")) < rate_expr(SAMPLE_RATES))
            .select("doc_id", "lang", "n_tokens")
        )

    def s12(spark, sf):
        # S12 parametric WHERE scan (URL.hs:47-53, Sql.hs:117-146)
        from scrapetition_spark.plans.frontier import select_urls_where

        u = urls_from_documents(_t(spark, sf, "documents"))
        return select_urls_where(
            u, "NOT is_seen AND priority < 3", select="url, host, priority"
        )

    def p3(spark, sf):
        """Training-data MATERIALIZATION plan: the p2 kept set
        (dedup ∩ quality ∩ repetition ∩ decontamination ∩ sampling)
        flows straight into sequence packing (per-stream token tapes,
        t8) and the epoch-1 global shuffle permutation (t10) — one
        composed plan emitting, per surviving document, where its
        tokens land (stream/seq/offset) and when the data loader
        visits it (shuffle_pos). Each stage is individually
        oracle-verified; this key verifies the composition."""
        docs = _t(spark, sf, "documents")
        kept = p2(spark, sf).select("doc_id")
        # materialize the kept set once: both the packing and the
        # shuffle branch consume it, and without this the whole p2
        # subtree (dedup agg + decontamination joins) runs twice
        kept_docs = docs.join(kept, ["doc_id"], "left_semi").localCheckpoint()
        packed = T.pack_sequences(kept_docs)
        shuf = T.epoch_shuffle(kept_docs, epoch=1).select(
            "doc_id", "shuffle_pos"
        )
        return packed.join(shuf, ["doc_id"]).select(
            "doc_id", "stream", "n_tokens", "first_seq",
            "offset_in_seq", "n_seqs_spanned", "shuffle_pos",
        )

    def _fixture_crawl(spark, cols, **knobs):
        """Crawl the fixture site from its seed into a fresh catalog
        under ``knobs`` and return those columns of urls_seen."""
        import tempfile

        from scrapetition_spark.config import CrawlConfig
        from scrapetition_spark.crawl import CrawlEngine
        from scrapetition_spark.schemas import URLS_SEEN
        from scrapetition_spark.sources.catalog import Catalog
        from scrapetition_spark.sources.fixtures import documents_df, fixture_site

        docs = documents_df(spark, fixture_site())
        cfg = CrawlConfig(FIXTURE_START_DOMAIN, follow_links=True,
                          politeness_sec=0, **knobs)
        cat = Catalog(spark, tempfile.mkdtemp(prefix="entrycrawl-"))
        eng = CrawlEngine(spark, cat, cfg, docs)
        eng.seed([FIXTURE_SEED])
        eng.run()
        return cat.read("urls_seen", URLS_SEEN).select(*cols)

    trace_cols = ["url", "fetch_seq", "epoch", "status"]

    def crawl_epoch(spark, sf):
        """Sequential reference-order crawl of the deterministic
        fixture site: the engine's (url, fetch_seq, epoch, status)
        seen table must hash-match the pure-Python simulator of
        App.hs:38-69 (the oracle is simulator-derived literal rows —
        the north rule's crawl-ordering gate as a driver-verified
        query, VERDICT r03 missing#1)."""
        return _fixture_crawl(spark, trace_cols, sequential=True)

    def c3b_lifo(spark, sf):
        """Sequential LIFO (-l, depth-major — Main.hs:92-94,
        App.hs:64-67) crawl of the fixture site: the engine's
        (url, fetch_seq, epoch, status) trace must hash-match the
        pure-Python simulator run with the LIFO merge. Closes the
        last pytest-only order-fidelity gap (VERDICT r04 next#5):
        FIFO order is c12/crawl_epoch; this key pins the OTHER merge
        policy's exact order as a driver-verified oracle row."""
        return _fixture_crawl(spark, trace_cols, sequential=True, lifo=True)

    def crawl_epoch_wide(spark, sf):
        """Wide-epoch (scale-path) crawl of the same fixture site:
        per-host-budgeted batches, due sets planned from
        ``urls.first_seen`` (the exact seen truth), every broadcast
        hint active. Fetch order is engine-defined, so the oracle
        checks the reference-equal final seen SET (url, status) — the
        north rule's seen-set gate."""
        return _fixture_crawl(spark, ["url", "status"], sequential=False,
                              per_host_budget=4)

    def crawl_epoch_scoped(spark, sf):
        """The wide crawl with one commit bucket per host bucket
        (``n_commit_buckets = n_host_buckets``, the production
        layout): every sink reads and rewrites only the buckets of the
        hosts its epoch touches and carries every other bucket's files
        forward. The final seen SET must equal the wide crawl's (the
        same oracle) — the oracle-verified witness that the commit
        layout changes plans, never results."""
        return _fixture_crawl(spark, ["url", "status"], sequential=False,
                              per_host_budget=4, n_commit_buckets=256)

    def st_parity(spark, sf):
        """ST1/ST2/ST4 stream ⊖ batch parity as a DRIVER-verified key
        (VERDICT r04 missing#2): each streaming operator drains a
        deterministic drop directory under the availableNow trigger
        (bounded run of the unbounded pipeline) and its final output
        is set-compared against the equivalent BATCH plan on the same
        rows. One row per operator: (op, n_stream, n_batch,
        n_only_stream, n_only_batch) — the oracle pins the expected
        counts and zero diffs. Streaming code: streaming/ingest.py:59
        (ST1 ingest merge), :98 (ST2 stateful politeness), :154 (ST4
        stateful dedup gate); pytest equivalence lives in
        tests/test_streaming.py."""
        import datetime as dt
        import glob as _glob
        import os as _os
        import tempfile

        from scrapetition_spark.config import CrawlConfig
        from scrapetition_spark.crawl import CrawlEngine
        from scrapetition_spark.schemas import UNIQUE_KEYS, URLS
        from scrapetition_spark.sources.catalog import Catalog
        from scrapetition_spark.streaming.ingest import (
            DISCOVERED_STREAM,
            DOC_STREAM,
            stream_discovered_urls,
            stream_ingest_dedup,
            stream_politeness_admit,
        )

        T0 = dt.datetime(2020, 1, 1, 12, 0, 0)
        root = tempfile.mkdtemp(prefix="stparity-")

        def _write(path, rows, schema, mtime):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(path)
            # FileStreamSource orders micro-batches by mtime: stamp
            # strictly increasing so file order == event-time order
            for f in _glob.glob(_os.path.join(path, "*.parquet")):
                if _os.stat(f).st_mtime >= mtime:
                    _os.utime(f, (mtime, mtime))

        def _diff_row(op, s_df, b_df):
            s, b = s_df.localCheckpoint(), b_df.localCheckpoint()
            return (
                op, s.count(), b.count(),
                s.exceptAll(b).count(), b.exceptAll(s).count(),
            )

        rows = []

        # --- ST1: watermarked ingest-dedup + merge vs one batch merge
        st1_rows = [
            (f"https://h{i % 3}.test/d/{i}", 0, 0, 0, i,
             T0 + dt.timedelta(seconds=i))
            for i in range(20)
        ]
        st1_rows += st1_rows[:5]  # re-discoveries inside the watermark
        drop1 = _os.path.join(root, "st1-drop")
        _write(drop1, st1_rows, DISCOVERED_STREAM, T0.timestamp())
        cat_s = Catalog(spark, _os.path.join(root, "st1-cat-stream"))
        cat_b = Catalog(spark, _os.path.join(root, "st1-cat-batch"))
        eng = CrawlEngine(
            spark, cat_s, CrawlConfig(start_domain=""), documents=None
        )

        def sink1(batch_df, batch_id):
            cat_s.merge_insert(
                "urls", eng._url_row(batch_df, scheduled=True),
                UNIQUE_KEYS["urls"], URLS, order_cols=["pos"],
            )

        q1 = stream_discovered_urls(
            spark, drop1, sink1, _os.path.join(root, "st1-ckpt"),
            watermark="10 minutes", available_now=True,
        )
        assert q1.awaitTermination(300), "st1 stream did not drain"
        batch1 = spark.createDataFrame(st1_rows, DISCOVERED_STREAM)
        cat_b.merge_insert(
            "urls", eng._url_row(batch1, scheduled=True),
            UNIQUE_KEYS["urls"], URLS, order_cols=["pos"],
        )
        rows.append(_diff_row(
            "st1_ingest_merge",
            cat_s.read("urls", URLS).select("url"),
            cat_b.read("urls", URLS).select("url"),
        ))

        # --- ST2: stateful politeness admit vs batch window twin
        f1 = [(f"https://a.test/{i}", 0, 0, 0, i,
               T0 + dt.timedelta(seconds=i)) for i in range(4)]
        f1 += [("https://b.test/0", 0, 0, 0, 0, T0)]
        f2 = [(f"https://a.test/{i}", 0, 0, 0, i,
               T0 + dt.timedelta(seconds=i)) for i in range(4, 7)]
        f2 += [("https://b.test/1", 0, 0, 0, 1,
                T0 + dt.timedelta(seconds=1))]
        drop2 = _os.path.join(root, "st2-drop")
        _write(drop2, f1, DISCOVERED_STREAM, T0.timestamp())
        _write(drop2, f2, DISCOVERED_STREAM, T0.timestamp() + 60)
        host = F.regexp_extract("target", r"https://([^/]+)/", 1)
        st2_stream = (
            spark.readStream.schema(DISCOVERED_STREAM)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop2)
            .withColumn("host", host)
            .select("host", "target", "event_time")
        )
        admitted = stream_politeness_admit(st2_stream, host_budget=5)
        qn = "st2_parity_" + _os.path.basename(root).replace("-", "_")
        q2 = (
            admitted.writeStream.format("memory").queryName(qn)
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q2.awaitTermination(300), "st2 stream did not drain"
        s2 = spark.sql(f"SELECT host, target, admit_seq FROM {qn}")
        all2 = spark.createDataFrame(f1 + f2, DISCOVERED_STREAM)
        w = Window.partitionBy("host").orderBy("event_time", "target")
        b2 = (
            all2.withColumn("host", host)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select(
                "host", "target", (F.col("rn") - 1).cast("long").alias("admit_seq")
            )
        )
        rows.append(_diff_row("st2_politeness_admit", s2, b2))

        # --- ST4: stateful dedup gate (2 micro-batches) vs one batch
        corpus = spark.createDataFrame(
            [(1, "sa sb sc sd se sf sg sh si sj", "en"),
             (2, "ta tb tc td te tf tg th ti tj", "en")],
            "doc_id long, text string, lang string",
        )
        clean = "ua ub uc ud ue uf ug uh ui uj"
        incoming = [
            (101, "sa sb sc sd se sf sg sh si sj", "en", T0),
            (102, clean, "en", T0),
            (105, clean, "en", T0),
            (103, "ta tb tc td te tf tg th ti tj", "en", T0),
            (104, clean, "en", T0),
        ]
        drop4 = _os.path.join(root, "st4-drop")
        _write(drop4, incoming[:3], DOC_STREAM, T0.timestamp())
        _write(drop4, incoming[3:], DOC_STREAM, T0.timestamp() + 60)
        dec_dir = _os.path.join(root, "st4-decisions")

        def sink4(decisions, batch_id):
            decisions.select("doc_id", "admitted", "matched_doc").write.mode(
                "append"
            ).parquet(dec_dir)

        q4 = stream_ingest_dedup(
            spark, drop4, corpus, sink4,
            _os.path.join(root, "st4-ckpt"), available_now=True,
        )
        assert q4.awaitTermination(300), "st4 stream did not drain"
        s4f = spark.read.parquet(dec_dir)
        # batch twin: the d9 operators composed once over the full
        # input — cross dups vs the corpus + smaller-id intra dups
        # (admitted/matched_doc are split-invariant; n_matches is
        # not, so the comparison excludes it)
        from scrapetition_spark.operators.dedup import (
            incremental_minhash_dedup,
            lsh_verified_neardups,
        )

        inc = spark.createDataFrame(incoming, DOC_STREAM).select(
            "doc_id", "text", "lang"
        )
        cross = incremental_minhash_dedup(corpus, inc).filter("is_dup").select(
            F.col("new_doc").alias("doc_id"),
            F.col("corpus_doc").alias("matched_doc"),
        )
        intra = lsh_verified_neardups(inc, n_bands=4, shingle_n=3).select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("matched_doc"),
        )
        blame = (
            cross.unionByName(intra)
            .groupBy("doc_id")
            .agg(F.min("matched_doc").alias("matched_doc"))
        )
        b4 = inc.select("doc_id").join(blame, "doc_id", "left").select(
            "doc_id",
            F.col("matched_doc").isNull().alias("admitted"),
            "matched_doc",
        )
        rows.append(_diff_row("st4_dedup_gate", s4f, b4))

        return spark.createDataFrame(
            rows,
            "op string, n_stream long, n_batch long, "
            "n_only_stream long, n_only_batch long",
        ).orderBy("op")

    def parse_golden(spark, sf):
        """Golden-page parse kernel output (rows-only; goldens are
        asserted in tests/test_parse_golden.py)."""
        from scrapetition_spark.parse import parse_pages
        from scrapetition_spark.sources.fixtures import documents_df, golden_page

        url, spans = golden_page()
        parsed = parse_pages(documents_df(spark, {url: spans}))
        return parsed.comments.orderBy("pos").select(
            "id", "parent", "user", "name", "up_votes", "article"
        )

    return {
        # dict ORDER is the driver-coverage rotation: the external
        # driver verifies only the FIRST 50 entries, so the keys the
        # r04 CORRECTNESS file never covered come first (8 never-
        # driver-verified, then the new and the r05-changed keys);
        # the tail 23 all have green CORRECTNESS_r04 rows, so the
        # union of the r04+r05 driver files covers every key.
        # Documented in SURVEY.md §2.6.
        "t5_repetition_scores": t5,
        "t6_pii_scrub": t6,
        "t7_stratified_sample": t7,
        "t8_pack_sequences": t8,
        "p2_full_pipeline": p2,
        "p3_materialization": p3,
        "crawl_epoch_wide": crawl_epoch_wide,
        "crawl_epoch_scoped": crawl_epoch_scoped,
        "c3b_frontier_merge_lifo": c3b_lifo,
        "st_stream_batch_parity": st_parity,
        "crawl_epoch": crawl_epoch,
        "parse_golden": parse_golden,
        "m1_media_metadata": m1,
        "m2_media_decode": m2,
        "m3_media_features": m3,
        "s1_cosine_topk": s1,
        "s2_ann_lsh": s2,
        "s3_ann_ivf": s3,
        "p1_clean_corpus": p1,
        "t1_quality_scores": t1,
        "t2_token_counts": t2,
        "t3_fingerprints": t3,
        "t4_language_guess": t4,
        "a10b_answer_graph_comments": a10b,
        "a11b_cooccurrence_comments": a11b,
        "a11_cooccurrence": a11,
        "a19_hits": a19,
        "d10_semantic_dedup": d10,
        "s3b_ann_recall": s3b,
        "c12_thread_propagation": c12,
        "c12b_threads_recursive_cte": c12b,
        "c12c_threads_delta": c12c,
        "a16_pagerank": a16,
        "d2_minhash_lsh": d2,
        "d4_simhash_near_dups": d4,
        "d5_embedding_neardup": d5,
        "d5b_lsh_recall": d5b,
        "d6_neardup_clusters": d6,
        "d7_decontamination": d7,
        "d8_segment_dedup": d8,
        "d9_incremental_minhash": d9,
        "s4_kmeans": s4,
        "s2b_ann_recall": s2b,
        "c5_unseen_bloom": c5,
        "c5b_unseen_partitioned_bloom": c5b,
        "c9_politeness_queue": c9,
        "c1_due_set": c1,
        "c3_frontier_merge_fifo": c3,
        "u1_url_scalars": u1,
        "s12_urls_where": s12,
        "a3_graph_bfs": a3,
        "a4_subthread": a4,
        "c10_robots_deny": c10,
        "a5_counts_per_domain": a5,
        "a6_avg_items_per_order": a6,
        "a7_top_visited": a7,
        "a8_threads_per_article": a8,
        "a9_density": a9,
        "a10_answer_graph": a10,
        "a12_leaderboard": a12,
        "a13_filtered_count": a13,
        "a14_concomitance": a14,
        "a15_set_ops": a15,
        "a17_windowed_rollup": a17,
        "a18_user_sessions": a18,
        "a20_cohort_retention": a20,
        "t9_mix_weights": t9,
        "t10_epoch_shuffle": t10,
        "t11_lm_scores": t11,
        "t12_tfidf_terms": t12,
        "t13_length_stats": t13,
        "d1_exact_dedup": d1,
        "d3_ngram_jaccard": d3,
    }


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-compatible ANSI)

# crawl-fidelity fixtures (shared by the crawl_epoch* queries and
# their simulator-derived oracles)
FIXTURE_SEED = "https://www.zeit.de/politik/2020-01/art-a"
FIXTURE_START_DOMAIN = "www.zeit.de"


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


# the deterministic link graph (corpus.link_graph_from_documents) as
# oracle CTEs — shared verbatim by the a16 (pagerank) and a19 (HITS)
# twins so the two rankings are provably over the same graph
_LINKGRAPH_CTES = [
    "nn AS (SELECT count(*) AS n FROM documents)",
    "nodes AS (SELECT CAST(doc_id AS BIGINT) AS node FROM documents)",
    """edges AS (
              -- identical arithmetic to corpus.link_graph_from_documents:
              -- always (d+1)%n; quadratic (d*d+1)%n when d%3!=0 (the
              -- in-degree skew); (7d+3)%n when d%5<3
              SELECT CAST(doc_id AS BIGINT) AS src,
                     (CAST(doc_id AS BIGINT) + 1) % nn.n AS dst
              FROM documents, nn
              UNION ALL
              SELECT CAST(doc_id AS BIGINT),
                     (CAST(doc_id AS BIGINT) * CAST(doc_id AS BIGINT) + 1) % nn.n
              FROM documents, nn WHERE doc_id % 3 != 0
              UNION ALL
              SELECT CAST(doc_id AS BIGINT),
                     (CAST(doc_id AS BIGINT) * 7 + 3) % nn.n
              FROM documents, nn WHERE doc_id % 5 < 3)""",
]


def _hits_oracle_sql(n_iter: int = 8) -> str:
    """Unrolled HITS twin of operators/graph.hits: L1-normalized
    half-steps, every normalized score rounded to 6 before the next
    half-step (the same mid-iteration rounding the engine does)."""
    ctes = list(_LINKGRAPH_CTES)
    ctes.append("h0 AS (SELECT node, 1.0 / nn.n AS hub FROM nodes, nn)")
    for t in range(1, n_iter + 1):
        ctes.append(
            f"""a{t}raw AS MATERIALIZED (
              SELECT nd.node, coalesce(s.a, 0) AS authority
              FROM nodes nd
              LEFT JOIN (SELECT e.dst AS node, sum(h.hub) AS a
                         FROM h{t - 1} h JOIN edges e ON e.src = h.node
                         GROUP BY e.dst) s ON nd.node = s.node)"""
        )
        ctes.append(
            f"""a{t} AS MATERIALIZED (
              SELECT node, round(authority /
                (SELECT round(sum(authority), 6) FROM a{t}raw), 6) AS authority
              FROM a{t}raw)"""
        )
        ctes.append(
            f"""h{t}raw AS MATERIALIZED (
              SELECT nd.node, coalesce(s.h, 0) AS hub
              FROM nodes nd
              LEFT JOIN (SELECT e.src AS node, sum(a.authority) AS h
                         FROM a{t} a JOIN edges e ON e.dst = a.node
                         GROUP BY e.src) s ON nd.node = s.node)"""
        )
        ctes.append(
            f"""h{t} AS MATERIALIZED (
              SELECT node, round(hub /
                (SELECT round(sum(hub), 6) FROM h{t}raw), 6) AS hub
              FROM h{t}raw)"""
        )
    return (
        "WITH "
        + ",\n            ".join(ctes)
        + f"""
            SELECT h.node, h.hub, a.authority
            FROM h{n_iter} h JOIN a{n_iter} a ON h.node = a.node
            ORDER BY h.node"""
    )


def _kmeans_oracle_sql(k: int = 8, n_iter: int = 2) -> str:
    """Unrolled Lloyd twin of similarity.kmeans_assign: md5-sample
    init, per-iteration (argmax-assign, mean-update) with centroid
    components rounded to 6 BEFORE the next assign — the rounding is
    what makes each iteration's argmax engine-identical."""
    ctes = [
        f"""cents0 AS (
              SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c_emb
              FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})"""
    ]
    for t in range(n_iter):
        ctes.append(
            f"""asg{t} AS (
              SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round(list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]), c.c_emb), 6) DESC,
                           c.cell ASC) AS rn
                FROM embeddings e CROSS JOIN cents{t} c)
              WHERE rn = 1)"""
        )
        ctes.append(
            f"""comp{t} AS (
              SELECT a.cell,
                     generate_subscripts(e.embedding, 1) AS pos,
                     unnest(CAST(e.embedding AS DOUBLE[])) AS v
              FROM asg{t} a JOIN embeddings e ON a.vec_id = e.vec_id)"""
        )
        ctes.append(
            f"""cents{t + 1} AS (
              SELECT cell, list(round(m, 6) ORDER BY pos) AS c_emb
              FROM (SELECT cell, pos, avg(v) AS m
                    FROM comp{t} GROUP BY cell, pos)
              GROUP BY cell)"""
        )
    return (
        "WITH "
        + ",\n            ".join(ctes)
        + f"""
            -- reported csim is single-rounded from the raw cosine;
            -- the rank key alone uses the 6-rounded value (re-rounding
            -- 6->4 lands on exact .5 boundaries where engines diverge)
            SELECT vec_id, cell, csim FROM (
              SELECT e.vec_id, c.cell,
                     round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), c.c_emb), 4) AS csim,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                         CAST(e.embedding AS DOUBLE[]), c.c_emb), 6) DESC,
                         c.cell ASC) AS rn
              FROM embeddings e CROSS JOIN cents{n_iter} c)
            WHERE rn = 1 ORDER BY vec_id"""
    )


def _pagerank_oracle_sql(n_iter: int = 10, damping: float = 0.85) -> str:
    """Unrolled power-iteration twin of operators/graph.pagerank over
    the same modular link graph (corpus.link_graph_from_documents):
    pr0 = uniform, pr{k+1} = (1-d)/n + d * Σ in-contributions. The
    iteration count and damping are literals in both engines; only
    the output is rounded (n-normalized rank, 6 decimals)."""
    # repr() of the engine's own binary double (graph.pagerank
    # computes 1.0 - damping at runtime: 1.0-0.85 is
    # 0.15000000000000002); a hand-rounded 0.15 literal differs by
    # 1 ulp — enough to flip a 6th-decimal output rounding at some
    # corpus size
    base = repr(1.0 - damping)
    ctes = list(_LINKGRAPH_CTES)
    ctes += [
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        """ew AS (SELECT e.src, e.dst, 1.0 / d.outdeg AS w
               FROM edges e JOIN deg d ON e.src = d.src)""",
        "pr0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)",
    ]
    for k in range(n_iter):
        ctes.append(
            f"""pr{k + 1} AS (
              SELECT nd.node,
                     {base} / nn.n + {damping} * coalesce(s.c, 0) AS rank
              FROM nodes nd CROSS JOIN nn
              LEFT JOIN (SELECT ew.dst AS node, sum(p.rank * ew.w) AS c
                         FROM pr{k} p JOIN ew ON ew.src = p.node
                         GROUP BY ew.dst) s ON nd.node = s.node)"""
        )
    return (
        "WITH "
        + ",\n            ".join(ctes)
        + f"""
            SELECT p.node, round(p.rank * nn.n, 6) AS nrank
            FROM pr{n_iter} p, nn ORDER BY p.node"""
    )


def _fixture_sim(lifo: bool = False):
    """Run the pure-Python simulator of the reference's crawl loop
    (tests/reference_sim.py — an independent row-at-a-time
    reimplementation of App.hs:38-69 semantics, NOT the Spark engine)
    over the fixture site; its trace/seen set become literal oracle
    rows. No Spark is involved on this side of the comparison.
    ``lifo=True`` simulates the -l depth-major merge
    (Main.hs:92-94, App.hs:64-67)."""
    import importlib.util
    import os
    import sys

    if "reference_sim" in sys.modules:
        mod = sys.modules["reference_sim"]
    else:
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "tests", "reference_sim.py"
        )
        spec = importlib.util.spec_from_file_location("reference_sim", path)
        mod = importlib.util.module_from_spec(spec)
        sys.modules["reference_sim"] = mod  # dataclass resolution needs it
        spec.loader.exec_module(mod)
    from scrapetition_spark.config import CrawlConfig
    from scrapetition_spark.sources.fixtures import fixture_site

    site = fixture_site()
    cfg = CrawlConfig(
        FIXTURE_START_DOMAIN, follow_links=True, politeness_sec=0, lifo=lifo
    )
    return site, mod.simulate(site, [FIXTURE_SEED], cfg)


def _crawl_epoch_oracle(lifo: bool = False) -> str:
    """Expected (url, fetch_seq, epoch, status): sequential mode
    fetches exactly one URL per epoch in the reference's order, so
    fetch_seq = epoch = the simulator's step index; status = 404 for
    dead links (App.hs:119-121), else 200. ``lifo=True`` derives the
    depth-major trace (the c3b key)."""
    site, sim = _fixture_sim(lifo=lifo)
    rows = ",\n              ".join(
        f"({_sql_str(u)}, {i}, {i}, {200 if u in site else 404})"
        for i, u in enumerate(sim.trace)
    )
    return f"""
        SELECT url, CAST(fetch_seq AS BIGINT) AS fetch_seq,
               CAST(epoch AS INT) AS epoch, CAST(status AS INT) AS status
        FROM (VALUES
              {rows}) AS t(url, fetch_seq, epoch, status)
    """


def _crawl_epoch_wide_oracle() -> str:
    """Expected final seen SET for the wide-epoch crawl: identical
    membership to the sequential reference (the north rule's seen-set
    gate); fetch order/epoch are engine-defined and excluded."""
    site, sim = _fixture_sim()
    rows = ",\n              ".join(
        f"({_sql_str(u)}, {200 if u in site else 404})" for u in sorted(set(sim.trace))
    )
    return f"""
        SELECT url, CAST(status AS INT) AS status
        FROM (VALUES
              {rows}) AS t(url, status)
    """


def _parse_golden_oracle() -> str:
    """Expected golden-page comments, literal from the reference's
    own test vectors (test/Test/Network/Scrapetition/Scrapers/
    ZeitDe.hs:21-74, carried verbatim in fixtures.GOLDEN_COMMENTS)."""
    from scrapetition_spark.sources.fixtures import GOLDEN_ARTICLE, GOLDEN_COMMENTS

    def v(x):
        return "CAST(NULL AS VARCHAR)" if x is None else _sql_str(x)

    rows = ",\n              ".join(
        f"({_sql_str(cid)}, {v(parent)}, {v(user)}, {_sql_str(name)}, "
        f"{votes}, {_sql_str(GOLDEN_ARTICLE)})"
        for cid, parent, _via, name, user, votes in GOLDEN_COMMENTS
    )
    return f"""
        SELECT id, parent, "user", name, CAST(up_votes AS INT) AS up_votes,
               article
        FROM (VALUES
              {rows}) AS t(id, parent, "user", name, up_votes, article)
    """


def _simhash_band_selects(max_hamming: int = 3) -> str:
    """Per-band key SELECTs mirroring dedup.simhash_bands +
    dedup._band_key (lo = bits 0-31, hi = bits 32-63, straddling
    bands spliced) — generated from the same band function so the two
    engines can never drift."""
    from scrapetition_spark.operators.dedup import simhash_bands

    selects = []
    for b, (start, width) in enumerate(simhash_bands(max_hamming)):
        if start + width <= 32:
            key = f"((lo >> {start}) & {(1 << width) - 1})"
        elif start >= 32:
            key = f"((hi >> {start - 32}) & {(1 << width) - 1})"
        else:
            lo_w = 32 - start
            hi_w = width - lo_w
            key = (
                f"(((lo >> {start}) & {(1 << lo_w) - 1}) + "
                f"((hi & {(1 << hi_w) - 1}) << {lo_w}))"
            )
        selects.append(f"SELECT doc_id, lo, hi, {b} AS band, {key} AS key FROM sig")
    return "\n              UNION ALL ".join(selects)


_SIMHASH_BAND_SELECTS = _simhash_band_selects(3)


def _simhash_sig_sql() -> str:
    """DuckDB CTEs computing the identical 64-bit md5-parity SimHash
    as operators/dedup.simhash: two 32-bit halves (lo from md5(tok),
    hi from md5('x' || tok)), bit parities evaluated once per DISTINCT
    token (the token-dimension plan), majority vote weighted by the
    per-doc token count."""
    return """
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tok_counts AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY doc_id, tok),
tok_dim AS (SELECT DISTINCT tok FROM toks),
tok_bits AS (SELECT tok, md5(tok) AS h_lo, md5('x' || tok) AS h_hi FROM tok_dim),
votes AS (
  SELECT doc_id, hb.half, b.bit,
         sum(cnt * CASE WHEN unicode(substr(
                 CASE WHEN hb.half = 0 THEN h_lo ELSE h_hi END,
                 CAST(b.bit + 1 AS INT), 1)) % 2 = 1
             THEN 1 ELSE -1 END) AS v
  FROM tok_counts JOIN tok_bits USING (tok),
       (SELECT 0 AS half UNION ALL SELECT 1) hb,
       (SELECT unnest(range(32)) AS bit) b
  GROUP BY doc_id, hb.half, b.bit),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN half = 0 AND v > 0 THEN 1::BIGINT << bit
                       ELSE 0 END) AS BIGINT) AS lo,
         CAST(sum(CASE WHEN half = 1 AND v > 0 THEN 1::BIGINT << bit
                       ELSE 0 END) AS BIGINT) AS hi
  FROM votes GROUP BY doc_id)
"""


def _sketch_sql(seed: int, n_planes: int) -> str:
    """DuckDB expression for the identical md5-derived sign sketch as
    operators/similarity.sketch_expr (verified bit-equal: 0/4000
    mismatches at sf0.01)."""
    bits = []
    for i in range(n_planes):
        comp = (
            f"((('0x' || substr(md5('{seed}|{i}|' || CAST(j AS VARCHAR)), 1, 6))"
            f"::BIGINT % 10000) / 10000.0 - 0.5)"
        )
        dot = (
            f"list_inner_product(CAST(embedding AS DOUBLE[]), "
            f"[ {comp} for j in range(1, len(embedding) + 1) ])"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(bits)


def _lsh_params_for(threshold: float) -> tuple[int, int]:
    """Same auto-sizing as the Spark default path (similarity.
    lsh_params_for) so the d5b oracle prunes with the identical
    (n_planes, n_tables)."""
    from scrapetition_spark.operators.similarity import lsh_params_for

    return lsh_params_for(threshold)


def _sketch_tables_cte(n_planes: int = 8, n_tables: int = 8, seed0: int = 7) -> str:
    selects = [
        f"SELECT vec_id, {t} AS tbl, {_sketch_sql(seed0 + t, n_planes)} AS sketch "
        f"FROM embeddings"
        for t in range(n_tables)
    ]
    return "sk AS (" + "\nUNION ALL\n".join(selects) + ")"


_URLS_CTE = """
urls AS (
  SELECT doc_id,
         'https://h' || CAST(doc_id % 23 AS VARCHAR) || '.example.test/d/' || CAST(doc_id AS VARCHAR)
           || CASE WHEN doc_id % 4 = 1 THEN '?page=' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END
           || CASE WHEN doc_id % 5 = 2 THEN '#frag' ELSE '' END AS url,
         'h' || CAST(doc_id % 23 AS VARCHAR) || '.example.test' AS host,
         doc_id % 3 = 0 AS is_seen,
         CAST(doc_id % 4 AS INT) AS discovery_epoch,
         doc_id AS seq,
         CAST(doc_id % 11 AS INT) AS priority
  FROM documents)
"""

_SHINGLES3 = """
toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
sh AS (
  SELECT doc_id, lang,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh2 AS (SELECT doc_id, lang, shingle FROM sh WHERE shingle IS NOT NULL)
"""


def _pii_scrub_oracle() -> str:
    """DuckDB twin of text.pii_scrub over text.with_synthetic_pii:
    the regex patterns are imported from the operator module (single
    source of truth — Java regex and RE2 agree on these constructs),
    injection arithmetic mirrors with_synthetic_pii, and redaction
    order (emails → IPs → phones) is identical so the md5 digest pins
    every replaced byte; each category is counted on the
    stage-redacted text exactly as the operator does. DuckDB's
    regexp_replace needs the explicit 'g' flag to match Spark's
    replace-all default."""
    from scrapetition_spark.operators.text import (
        PII_EMAIL_RE,
        PII_IP_RE,
        PII_PHONE_RE,
    )

    return f"""
            WITH pii AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 = 0
                             THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                  || '@mail' || CAST(doc_id % 7 AS VARCHAR)
                                  || '.example.com'
                             ELSE '' END
                     || CASE WHEN doc_id % 4 = 1
                             THEN ' call 415-555-'
                                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                             ELSE '' END
                     || CASE WHEN doc_id % 5 = 2
                             THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                                  || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                             ELSE '' END AS text
              FROM documents)
            , staged AS (
              SELECT doc_id, text,
                     regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g')
                       AS t1
              FROM pii),
            staged2 AS (
              SELECT doc_id, text, t1,
                     regexp_replace(t1, '{PII_IP_RE}', '<IP>', 'g') AS t2
              FROM staged)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS INT)
                     AS n_emails,
                   CAST(len(regexp_extract_all(t2, '{PII_PHONE_RE}')) AS INT)
                     AS n_phones,
                   CAST(len(regexp_extract_all(t1, '{PII_IP_RE}')) AS INT)
                     AS n_ips,
                   md5(regexp_replace(t2, '{PII_PHONE_RE}', '<PHONE>', 'g'))
                     AS redacted_digest
            FROM staged2
    """


def _stratified_sample_oracle() -> str:
    """DuckDB twin of text.stratified_sample: the per-lang keep rates
    come from the operator's own SAMPLE_RATES dict, and the 0-99
    bucket is the identical md5-hex-prefix integer
    (text.sample_bucket)."""
    from scrapetition_spark.operators.text import SAMPLE_RATES

    rate_case = " ".join(
        f"WHEN '{lang}' THEN {r}" for lang, r in sorted(SAMPLE_RATES.items())
    )
    return f"""
            WITH s AS (
              SELECT lang,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                       % 100 < CASE lang {rate_case} END AS keep,
                     len(string_split(text, ' ')) AS n_tok
              FROM documents)
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_kept,
                   CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
                     AS n_tokens_kept,
                   round(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 100.0
                         / count(*), 2) AS kept_pct
            FROM s GROUP BY lang
    """


def _full_pipeline_oracle() -> str:
    """DuckDB twin of the p2 composed pipeline: the dedup-canon,
    quality, repetition, decontamination, and sampling fragments are
    the verbatim constructions of the d1/t1/t5/d7/t7 oracles, chained
    with identical thresholds and NULL-coalescing."""
    from scrapetition_spark.operators.text import SAMPLE_RATES

    rate_case = " ".join(
        f"WHEN '{lang}' THEN {r}" for lang, r in sorted(SAMPLE_RATES.items())
    )
    return f"""
            WITH {_SHINGLES3.strip()},
            canon AS (
              SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
            q AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
              FROM documents),
            toksr AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                     generate_subscripts(string_split(text, ' '), 1) AS pos
              FROM documents),
            sh2g AS (
              SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w AS shingle
              FROM toksr WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
            g2 AS (
              SELECT doc_id, round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 4)
                       AS top_2gram_frac
              FROM (SELECT doc_id, shingle, count(*) AS cnt FROM sh2g
                    WHERE shingle IS NOT NULL GROUP BY doc_id, shingle)
              GROUP BY doc_id),
            g3 AS (
              SELECT doc_id,
                     round(1.0 - count(DISTINCT shingle)
                           / CAST(count(*) AS DOUBLE), 4) AS dup_3gram_frac
              FROM sh2 GROUP BY doc_id),
            chg AS (
              SELECT doc_id, pos,
                     CASE WHEN tok = lag(tok) OVER (PARTITION BY doc_id
                                                    ORDER BY pos)
                          THEN 0 ELSE 1 END AS chg
              FROM toksr),
            rid AS (
              SELECT doc_id,
                     sum(chg) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
              FROM chg),
            rmax AS (
              SELECT doc_id, max(run_len) AS max_token_run
              FROM (SELECT doc_id, run_id, count(*) AS run_len
                    FROM rid GROUP BY doc_id, run_id)
              GROUP BY doc_id),
            ev AS (SELECT DISTINCT shingle FROM sh2 WHERE doc_id % 97 = 0),
            contam AS (
              SELECT DISTINCT c.doc_id
              FROM (SELECT doc_id, shingle FROM sh2 WHERE doc_id % 97 <> 0) c
              JOIN ev USING (shingle))
            SELECT d.doc_id, d.lang, q.n_tokens
            FROM documents d
            JOIN canon USING (doc_id)
            JOIN q ON d.doc_id = q.doc_id
            LEFT JOIN g2 ON d.doc_id = g2.doc_id
            LEFT JOIN g3 ON d.doc_id = g3.doc_id
            LEFT JOIN rmax ON d.doc_id = rmax.doc_id
            WHERE d.doc_id % 97 <> 0
              AND d.doc_id NOT IN (SELECT doc_id FROM contam)
              AND q.n_tokens >= 20
              AND COALESCE(top_2gram_frac, 0) <= 0.1
              AND COALESCE(dup_3gram_frac, 0) <= 0.3
              AND COALESCE(max_token_run, 1) <= 3
              AND ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
                    % 100 < CASE d.lang {rate_case} END
    """


# deterministic comments-shaped derivation from documents — must stay
# identical to queries()._comments_shaped (threads of 10, reply
# chains, 37 authors); `usr` not `user` (reserved in DuckDB)
_COMMENTS_SHAPED_CTE = """
c AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 10 <> 0 THEN doc_id - 1 END AS parent,
         doc_id - (doc_id % 10) AS thread,
         'u' || CAST(doc_id % 37 AS VARCHAR) AS usr,
         'user-' || CAST(doc_id % 37 AS VARCHAR)
           || CASE WHEN doc_id % 97 = 3 THEN '-v2' ELSE '' END AS name,
         CAST(doc_id % 7 AS INT) AS last_scraped
  FROM documents)
"""


def oracle_sql() -> dict[str, str]:
    sqls = {
        "a3_graph_bfs": """
            WITH RECURSIVE edges AS (
              SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                     'o' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
              UNION
              SELECT 'o' || CAST(l_orderkey AS VARCHAR),
                     'p' || CAST(l_partkey AS VARCHAR) FROM lineitem
            ), bfs(node, depth) AS (
              SELECT 'c1', 0
              UNION ALL
              SELECT e.dst, b.depth + 1 FROM edges e JOIN bfs b ON e.src = b.node
              WHERE b.depth < 2
            )
            SELECT depth, count(*) AS n_nodes
            FROM (SELECT node, min(depth) AS depth FROM bfs GROUP BY node)
            GROUP BY depth ORDER BY depth
        """,
        "a4_subthread": """
            WITH RECURSIVE c AS (
              SELECT 'c' || CAST(event_id AS VARCHAR) AS id,
                     CASE WHEN event_id % 5 = 0 THEN NULL
                          WHEN event_id % 97 = 3 THEN 'missing-' || CAST(event_id AS VARCHAR)
                          ELSE 'c' || CAST(event_id - 1 AS VARCHAR) END AS parent
              FROM events
            ), d(id) AS (
              SELECT 'c0'
              UNION ALL
              SELECT c.id FROM c JOIN d ON c.parent = d.id
            )
            SELECT c.id, c.parent
            FROM c JOIN (SELECT DISTINCT id FROM d) dd ON c.id = dd.id
        """,
        "c10_robots_deny": f"""
            WITH {_URLS_CTE.strip()},
            deny AS (SELECT DISTINCT host FROM urls WHERE (doc_id % 23) % 5 = 0)
            SELECT url, host FROM urls
            WHERE NOT is_seen AND host NOT IN (SELECT host FROM deny)
        """,
        "a5_counts_per_domain": """
            SELECT n_name,
                   count(DISTINCT o_orderkey) AS n_orders,
                   count(*) AS n_items,
                   count(DISTINCT c_custkey) AS n_customers
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "a6_avg_items_per_order": """
            WITH per_order AS (
              SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey)
            SELECT round(avg(cnt), 4) AS avg_items, count(*) AS n_orders FROM per_order
        """,
        "a7_top_visited": """
            SELECT o_orderkey, o_orderpriority, count(*) AS cnt,
                   round(sum(l_quantity), 2) AS qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderkey, o_orderpriority
            ORDER BY cnt DESC, o_orderkey ASC LIMIT 30
        """,
        "a8_threads_per_article": """
            SELECT n_name, o_orderstatus, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            LEFT JOIN customer ON o_custkey = c_custkey
            LEFT JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name, o_orderstatus
            ORDER BY n_orders DESC, n_name ASC, o_orderstatus ASC LIMIT 30
        """,
        "a9_density": """
            SELECT l_orderkey,
                   count(DISTINCT l_suppkey) AS n_suppliers,
                   count(*) AS n_items,
                   round(count(*) / CAST(count(DISTINCT l_suppkey) AS DOUBLE), 2)
                     AS density
            FROM lineitem GROUP BY l_orderkey
            ORDER BY density DESC, l_orderkey ASC LIMIT 50
        """,
        "a10_answer_graph": """
            WITH pairs AS (
              SELECT a.l_suppkey AS s_from, b.l_suppkey AS s_to,
                     a.l_orderkey AS okey
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_linenumber = b.l_linenumber + 1)
            SELECT sa.s_name AS source, sb.s_name AS target,
                   count(*) AS weight, count(DISTINCT okey) AS n_threads
            FROM pairs
            JOIN supplier sa ON s_from = sa.s_suppkey
            JOIN supplier sb ON s_to = sb.s_suppkey
            GROUP BY sa.s_name, sb.s_name
            HAVING count(*) >= 3
            ORDER BY source, target
        """,
        "a10b_answer_graph_comments": f"""
            WITH {_COMMENTS_SHAPED_CTE},
            latest AS (
              -- latest-scraped display name per user key, ties on id:
              -- the twin of analytics.latest_display_names' max_by
              SELECT usr, name FROM (
                SELECT usr, name,
                       row_number() OVER (
                         PARTITION BY usr
                         ORDER BY last_scraped DESC, id DESC) AS rn
                FROM c) ranked
              WHERE rn = 1),
            edges AS (
              SELECT parent.usr AS pu, child.usr AS cu,
                     count(child.id) AS weight
              FROM c child JOIN c parent ON child.parent = parent.id
              GROUP BY parent.usr, child.usr)
            SELECT ls.name AS source, lt.name AS target, weight
            FROM edges
            -- IS NOT DISTINCT FROM mirrors the Spark side's
            -- eqNullSafe: anonymous (NULL-user) edges must survive
            JOIN latest ls ON edges.cu IS NOT DISTINCT FROM ls.usr
            JOIN latest lt ON edges.pu IS NOT DISTINCT FROM lt.usr
            ORDER BY weight, source, target
        """,
        "a11b_cooccurrence_comments": f"""
            WITH {_COMMENTS_SHAPED_CTE}
            SELECT a.name AS source, b.name AS target,
                   count(DISTINCT a.thread) AS weight
            FROM c a JOIN c b
              ON a.thread = b.thread AND a.name <> b.name
            GROUP BY a.name, b.name
            ORDER BY weight DESC, source, target
        """,
        "a11_cooccurrence": """
            SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
                   count(DISTINCT a.l_orderkey) AS weight
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
            GROUP BY a.l_suppkey, b.l_suppkey
            HAVING count(DISTINCT a.l_orderkey) >= 5
            ORDER BY supp_a, supp_b
        """,
        "a12_leaderboard": """
            SELECT c_custkey, c_name, count(*) AS cnt
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY cnt DESC, c_custkey ASC LIMIT 30
        """,
        "a13_filtered_count": """
            SELECT count(*) AS n_positive FROM customer
            WHERE c_acctbal IS NOT NULL AND c_acctbal > 0
        """,
        "a14_concomitance": """
            WITH top3 AS (
              SELECT l_suppkey AS sk FROM lineitem GROUP BY l_suppkey
              ORDER BY count(*) DESC, l_suppkey ASC LIMIT 3),
            pres AS (
              SELECT DISTINCT sk, l_orderkey AS okey
              FROM lineitem JOIN top3 ON l_suppkey = sk),
            pboth AS (
              SELECT p1.sk AS s1, p2.sk AS s2, count(*) AS n_both
              FROM pres p1 JOIN pres p2
                ON p1.okey = p2.okey AND p1.sk < p2.sk
              GROUP BY p1.sk, p2.sk),
            totals AS (SELECT sk, count(*) AS n_total FROM pres GROUP BY sk)
            SELECT t1.sk AS s1, t2.sk AS s2,
                   coalesce(n_both, 0) AS n_both,
                   t1.n_total - coalesce(n_both, 0) AS only_s1,
                   t2.n_total - coalesce(n_both, 0) AS only_s2
            FROM totals t1 CROSS JOIN totals t2
            LEFT JOIN pboth ON t1.sk = pboth.s1 AND t2.sk = pboth.s2
            WHERE t1.sk < t2.sk
            ORDER BY s1, s2
        """,
        "a15_set_ops": f"""
            WITH {_URLS_CTE.strip()},
            seen AS (SELECT url FROM urls WHERE is_seen),
            unseen AS (SELECT url FROM urls WHERE NOT is_seen),
            sample AS (SELECT url FROM urls WHERE doc_id % 2 = 0)
            SELECT
              (SELECT count(*) FROM (SELECT DISTINCT url FROM (SELECT url FROM seen UNION ALL SELECT url FROM unseen))) AS n_union,
              (SELECT count(*) FROM (SELECT url FROM sample INTERSECT SELECT url FROM seen)) AS n_intersect,
              (SELECT count(*) FROM (SELECT url FROM sample EXCEPT SELECT url FROM seen)) AS n_except,
              (SELECT count(DISTINCT host) FROM urls) AS n_hosts
        """,
        "a16_pagerank": _pagerank_oracle_sql(),
        "a19_hits": _hits_oracle_sql(),
        "a20_cohort_retention": """
            WITH weeks AS (
              SELECT DISTINCT user_id,
                     CAST(date_trunc('week', ts) AS DATE) AS week
              FROM events),
            coh AS (
              SELECT user_id, min(week) AS cohort_week
              FROM weeks GROUP BY user_id)
            SELECT c.cohort_week,
                   CAST((w.week - c.cohort_week) // 7 AS INT) AS week_offset,
                   count(*) AS n_users
            FROM weeks w JOIN coh c ON w.user_id = c.user_id
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "a17_windowed_rollup": """
            SELECT date_trunc('hour', ts) AS window_start,
                   event_type,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        "a18_user_sessions": """
            WITH marked AS (
              SELECT user_id, ts, value,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                            ORDER BY ts) <= INTERVAL 30 MINUTE
                          THEN 0 ELSE 1 END AS new_session
              FROM events),
            islands AS (
              SELECT user_id, ts, value,
                     sum(new_session) OVER (PARTITION BY user_id
                       ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked)
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM islands
            GROUP BY user_id, sid
            ORDER BY user_id, session_start
        """,
        "c1_due_set": f"""
            WITH {_URLS_CTE.strip()},
            ranked AS (
              SELECT url, host, discovery_epoch, seq,
                     CAST(row_number() OVER (PARTITION BY host
                                        ORDER BY discovery_epoch, seq) AS INT) AS rn
              FROM urls WHERE NOT is_seen)
            SELECT url, host, discovery_epoch, seq, rn FROM ranked WHERE rn <= 2
        """,
        "c3_frontier_merge_fifo": f"""
            WITH {_URLS_CTE.strip()},
            disc AS (
              SELECT 'https://t.example.test/x/' || CAST(doc_id % 37 AS VARCHAR) AS target,
                     CAST(doc_id % 2 AS INT) AS epoch,
                     seq,
                     CAST(doc_id % 13 AS INT) AS pos
              FROM urls WHERE doc_id < 300),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY target
                                           ORDER BY epoch, seq, pos) AS rn
              FROM disc)
            SELECT target, epoch, seq, pos FROM ranked WHERE rn = 1
        """,
        "c5_unseen_bloom": f"""
            WITH {_URLS_CTE.strip()}
            SELECT url FROM urls
            WHERE doc_id % 2 = 0
              AND url NOT IN (SELECT url FROM urls WHERE is_seen)
        """,
        "c5b_unseen_partitioned_bloom": f"""
            WITH {_URLS_CTE.strip()}
            SELECT url FROM urls
            WHERE doc_id % 2 = 0
              AND url NOT IN (SELECT url FROM urls WHERE is_seen)
        """,
        "c9_politeness_queue": f"""
            WITH {_URLS_CTE.strip()},
            ranked AS (
              SELECT url, host, priority, seq,
                     row_number() OVER (PARTITION BY host
                                        ORDER BY priority, seq) AS rn
              FROM urls WHERE NOT is_seen)
            SELECT url, host, priority, seq FROM ranked WHERE rn <= 1
            ORDER BY priority, seq LIMIT 20
        """,
        "c12_thread_propagation": """
            WITH RECURSIVE c AS (
              SELECT 'c' || CAST(event_id AS VARCHAR) AS id,
                     CASE WHEN event_id % 5 = 0 THEN NULL
                          WHEN event_id % 97 = 3 THEN 'missing-' || CAST(event_id AS VARCHAR)
                          ELSE 'c' || CAST(event_id - 1 AS VARCHAR) END AS parent
              FROM events
            ), t(id, thread, depth) AS (
              SELECT id, id, 0 FROM c WHERE parent IS NULL
              UNION ALL
              SELECT c.id, t.thread, t.depth + 1 FROM c JOIN t ON c.parent = t.id
            )
            SELECT c.id, t.thread, CAST(t.depth AS INT) AS depth
            FROM c LEFT JOIN t ON c.id = t.id
        """,
        "c12c_threads_delta": """
            WITH RECURSIVE c AS (
              SELECT 'c' || CAST(event_id AS VARCHAR) AS id,
                     CASE WHEN event_id % 5 = 0 THEN NULL
                          WHEN event_id % 97 = 3 THEN 'missing-' || CAST(event_id AS VARCHAR)
                          ELSE 'c' || CAST(event_id - 1 AS VARCHAR) END AS parent
              FROM events
            ), t(id, thread, depth) AS (
              SELECT id, id, 0 FROM c WHERE parent IS NULL
              UNION ALL
              SELECT c.id, t.thread, t.depth + 1 FROM c JOIN t ON c.parent = t.id
            )
            SELECT c.id, t.thread, CAST(t.depth AS INT) AS depth
            FROM c LEFT JOIN t ON c.id = t.id
        """,
        "c12b_threads_recursive_cte": """
            WITH RECURSIVE c AS (
              SELECT 'c' || CAST(event_id AS VARCHAR) AS id,
                     CASE WHEN event_id % 5 = 0 THEN NULL
                          WHEN event_id % 97 = 3 THEN 'missing-' || CAST(event_id AS VARCHAR)
                          ELSE 'c' || CAST(event_id - 1 AS VARCHAR) END AS parent
              FROM events
            ), t(id, thread, depth) AS (
              SELECT id, id, 0 FROM c WHERE parent IS NULL
              UNION ALL
              SELECT c.id, t.thread, t.depth + 1 FROM c JOIN t ON c.parent = t.id
            )
            SELECT c.id, t.thread, CAST(t.depth AS INT) AS depth
            FROM c LEFT JOIN t ON c.id = t.id
        """,
        "u1_url_scalars": f"""
            WITH {_URLS_CTE.strip()}
            SELECT url,
                   regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS domain,
                   CASE WHEN position('?' IN url) > 0
                        THEN substr(url, 1, position('?' IN url) - 1)
                        ELSE url END AS no_query,
                   CASE WHEN position('#' IN url) > 0
                        THEN substr(url, 1, position('#' IN url) - 1)
                        ELSE url END AS no_frag,
                   CASE WHEN position('#' IN url) > 0
                        THEN list_extract(string_split(url, '#'),
                                          len(string_split(url, '#')))
                        ELSE url END AS frag_or_url
            FROM urls WHERE doc_id < 200
        """,
        "s12_urls_where": f"""
            WITH {_URLS_CTE.strip()}
            SELECT url, host, priority FROM urls
            WHERE NOT is_seen AND priority < 3
        """,
        "d1_exact_dedup": """
            SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc,
                   count(*) AS n_docs
            FROM documents GROUP BY md5(text)
        """,
        "d2_minhash_lsh": f"""
            WITH {_SHINGLES3.strip()},
            buckets AS (
              SELECT doc_id, b.band,
                     min(md5(CAST(b.band AS VARCHAR) || '|' || shingle)) AS bucket
              FROM sh2, (SELECT unnest(range(4)) AS band) b
              GROUP BY doc_id, b.band)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        """,
        "d3_ngram_jaccard": f"""
            WITH {_SHINGLES3.strip()},
            buckets AS (
              SELECT doc_id, b.band,
                     min(md5(CAST(b.band AS VARCHAR) || '|' || shingle)) AS bucket
              FROM sh2, (SELECT unnest(range(4)) AS band) b
              GROUP BY doc_id, b.band),
            cands AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM buckets a JOIN buckets b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
            sets AS (
              SELECT doc_id, list(DISTINCT shingle) AS sh_set
              FROM sh2 GROUP BY doc_id)
            SELECT doc_a, doc_b, jaccard FROM (
              SELECT doc_a, doc_b,
                     round(CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE) /
                           (len(sa.sh_set) + len(sb.sh_set)
                            - len(list_intersect(sa.sh_set, sb.sh_set))), 5) AS jaccard
              FROM cands
              JOIN sets sa ON doc_a = sa.doc_id
              JOIN sets sb ON doc_b = sb.doc_id)
            WHERE jaccard >= 0.02
        """,
        "d4_simhash_near_dups": f"""
            WITH {_simhash_sig_sql().strip()},
            kb AS (
              {_SIMHASH_BAND_SELECTS}),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.lo AS lo_a, a.hi AS hi_a, b.lo AS lo_b, b.hi AS hi_b
              FROM kb a JOIN kb b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
            SELECT doc_a, doc_b,
                   CAST(bit_count(xor(lo_a, lo_b))
                        + bit_count(xor(hi_a, hi_b)) AS INT) AS hamming
            FROM cand
            WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 3
        """,
        "d5_embedding_neardup": f"""
            WITH {_sketch_tables_cte(8, 8).strip()},
            cand AS (
              SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM sk a JOIN sk b
                ON a.tbl = b.tbl AND a.sketch = b.sketch AND a.vec_id < b.vec_id)
            SELECT vec_a, vec_b,
                   round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                         CAST(eb.embedding AS DOUBLE[])), 4) AS cos
            FROM cand
            JOIN embeddings ea ON vec_a = ea.vec_id
            JOIN embeddings eb ON vec_b = eb.vec_id
            WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                        CAST(eb.embedding AS DOUBLE[])), 4) >= 0.4
        """,
        "d5b_lsh_recall": f"""
            WITH {_sketch_tables_cte(*_lsh_params_for(0.9)).strip()},
            cand AS (
              SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM sk a JOIN sk b
                ON a.tbl = b.tbl AND a.sketch = b.sketch AND a.vec_id < b.vec_id),
            exact AS (
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                          CAST(b.embedding AS DOUBLE[])), 4) >= 0.9),
            caught AS (
              SELECT e.vec_a, e.vec_b FROM exact e
              JOIN cand c ON e.vec_a = c.vec_a AND e.vec_b = c.vec_b)
            SELECT (SELECT count(*) FROM exact) AS n_exact,
                   (SELECT count(*) FROM caught) AS n_caught,
                   round(CASE WHEN (SELECT count(*) FROM exact) > 0
                         THEN (SELECT count(*) FROM caught) * 100.0
                              / (SELECT count(*) FROM exact)
                         ELSE 100.0 END, 2) AS recall_pct
        """,
        "d6_neardup_clusters": f"""
            WITH RECURSIVE {_SHINGLES3.strip()},
            buckets AS (
              SELECT doc_id, b.band,
                     min(md5(CAST(b.band AS VARCHAR) || '|' || shingle)) AS bucket
              FROM sh2, (SELECT unnest(range(4)) AS band) b
              GROUP BY doc_id, b.band),
            cands AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM buckets a JOIN buckets b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
            edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM cands
              UNION
              SELECT doc_b, doc_a FROM cands),
            reach(start, node) AS (
              SELECT src, src FROM edges
              UNION
              SELECT r.start, e.dst FROM reach r JOIN edges e ON r.node = e.src)
            SELECT start AS doc_id, min(node) AS cluster_id
            FROM reach GROUP BY start
        """,
        # twin of dedup.eval_decontamination(eval_mod=97, n=3): eval
        # stratum doc_id%97==0, broadcast-probe semantics expressed as
        # a plain join over the identical shingle stream
        "d7_decontamination": f"""
            WITH {_SHINGLES3.strip()},
            ev AS (SELECT DISTINCT shingle FROM sh2 WHERE doc_id % 97 = 0),
            corp AS (SELECT doc_id, shingle FROM sh2 WHERE doc_id % 97 <> 0),
            tot AS (SELECT doc_id, count(*) AS n_ngrams
                    FROM corp GROUP BY doc_id),
            hit AS (SELECT doc_id, count(*) AS n_hit_ngrams,
                           count(DISTINCT c.shingle) AS n_hit_distinct
                    FROM corp c JOIN ev USING (shingle) GROUP BY doc_id)
            SELECT h.doc_id, n_ngrams, n_hit_ngrams, n_hit_distinct,
                   round(n_hit_ngrams / CAST(n_ngrams AS DOUBLE), 4)
                     AS contam_frac
            FROM hit h JOIN tot t ON h.doc_id = t.doc_id
        """,
        "d8_segment_dedup": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                     generate_subscripts(string_split(text, ' '), 1) AS pos
              FROM documents),
            segs AS (
              SELECT doc_id, (pos - 1) // 4 AS seg_idx,
                     string_agg(tok, ' ' ORDER BY pos) AS seg
              FROM toks GROUP BY doc_id, (pos - 1) // 4
              HAVING count(*) = 4),
            h AS (SELECT doc_id, seg_idx, md5(seg) AS hash FROM segs),
            m AS (
              SELECT hash,
                     min({'doc_id': doc_id, 'seg_idx': seg_idx}) AS min_occ
              FROM h GROUP BY hash)
            SELECT doc_id, count(*) AS n_segments,
                   CAST(sum(CASE WHEN doc_id <> min_occ.doc_id
                                   OR seg_idx <> min_occ.seg_idx
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
                   round(CAST(sum(CASE WHEN doc_id <> min_occ.doc_id
                                         OR seg_idx <> min_occ.seg_idx
                                  THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 4) AS dup_frac
            FROM h JOIN m USING (hash)
            GROUP BY doc_id
        """,
        "d9_incremental_minhash": f"""
            WITH {_SHINGLES3.strip()},
            buckets AS (
              SELECT doc_id, b.band,
                     min(md5(CAST(b.band AS VARCHAR) || '|' || shingle)) AS bucket
              FROM sh2, (SELECT unnest(range(4)) AS band) b
              GROUP BY doc_id, b.band),
            cands AS (
              SELECT p.doc_id AS new_doc, i.doc_id AS corpus_doc,
                     count(*) AS n_bands
              FROM buckets p JOIN buckets i
                ON p.band = i.band AND p.bucket = i.bucket
              WHERE p.doc_id % 10 = 7 AND i.doc_id % 10 <> 7
              GROUP BY p.doc_id, i.doc_id),
            sets AS (
              SELECT doc_id, list(DISTINCT shingle) AS sh_set
              FROM sh2 GROUP BY doc_id)
            SELECT new_doc, corpus_doc, n_bands, jaccard,
                   jaccard >= 0.02 AS is_dup
            FROM (
              SELECT c.new_doc, c.corpus_doc, c.n_bands,
                     round(CAST(len(list_intersect(sn.sh_set, sc.sh_set))
                                AS DOUBLE) /
                           (len(sn.sh_set) + len(sc.sh_set)
                            - len(list_intersect(sn.sh_set, sc.sh_set))),
                           5) AS jaccard
              FROM cands c
              JOIN sets sn ON c.new_doc = sn.doc_id
              JOIN sets sc ON c.corpus_doc = sc.doc_id)
        """,
        "s4_kmeans": _kmeans_oracle_sql(),
        "d10_semantic_dedup": """
            WITH cents AS (
              -- same hash-spread anchors as the s3 twin
              -- (similarity.ivf_anchors): smallest md5(vec_id) hex
              SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c_emb
              FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
              -- ivf_cells_for mirror: ~10^4-vector cells, floor 16
              LIMIT greatest(16, (SELECT count(*) FROM embeddings) // 10000)),
            asg AS (
              SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round(list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]), c.c_emb), 6) DESC,
                           c.cell ASC) AS rn
                FROM embeddings e CROSS JOIN cents c)
              WHERE rn = 1),
            dups AS (
              SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
              FROM asg a JOIN asg b
                ON a.cell = b.cell AND a.vec_id < b.vec_id
              JOIN embeddings ea ON a.vec_id = ea.vec_id
              JOIN embeddings eb ON b.vec_id = eb.vec_id
              WHERE round(list_cosine_similarity(
                      CAST(ea.embedding AS DOUBLE[]),
                      CAST(eb.embedding AS DOUBLE[])), 4) >= 0.4
              GROUP BY b.vec_id)
            SELECT g.vec_id, g.cell, d.dup_of IS NULL AS keep, d.dup_of
            FROM asg g LEFT JOIN dups d ON g.vec_id = d.vec_id
            ORDER BY g.vec_id
        """,
        "t9_mix_weights": """
            WITH per_lang AS (
              SELECT lang, count(*) AS n_docs,
                     CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
              FROM documents GROUP BY lang),
            tot AS (
              SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens
              FROM per_lang)
            SELECT lang, n_docs, n_tokens,
                   round(n_tokens / CAST(total_tokens AS DOUBLE), 6)
                     AS actual_frac,
                   round(CASE lang WHEN 'en' THEN 0.40 WHEN 'de' THEN 0.15
                         WHEN 'fr' THEN 0.15 WHEN 'es' THEN 0.15
                         WHEN 'zh' THEN 0.15 ELSE 0.0 END, 6) AS target_frac,
                   round((CASE lang WHEN 'en' THEN 0.40 WHEN 'de' THEN 0.15
                          WHEN 'fr' THEN 0.15 WHEN 'es' THEN 0.15
                          WHEN 'zh' THEN 0.15 ELSE 0.0 END)
                         / (n_tokens / CAST(total_tokens AS DOUBLE)), 4)
                     AS weight,
                   round(least(1.0,
                         (CASE lang WHEN 'en' THEN 0.40 WHEN 'de' THEN 0.15
                          WHEN 'fr' THEN 0.15 WHEN 'es' THEN 0.15
                          WHEN 'zh' THEN 0.15 ELSE 0.0 END)
                         / (n_tokens / CAST(total_tokens AS DOUBLE))), 4)
                     AS keep_rate,
                   CAST(ceil((CASE lang WHEN 'en' THEN 0.40 WHEN 'de' THEN 0.15
                              WHEN 'fr' THEN 0.15 WHEN 'es' THEN 0.15
                              WHEN 'zh' THEN 0.15 ELSE 0.0 END)
                             / (n_tokens / CAST(total_tokens AS DOUBLE)))
                        AS BIGINT) AS n_repeats
            FROM per_lang, tot
        """,
        "t10_epoch_shuffle": """
            SELECT doc_id, 1 AS epoch,
                   row_number() OVER (
                     ORDER BY md5('1|' || CAST(doc_id AS VARCHAR)), doc_id
                   ) - 1 AS shuffle_pos
            FROM documents
        """,
        "t11_lm_scores": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
            tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
            vb AS (
              SELECT tok, cnt,
                     -log2(cnt / CAST(total AS DOUBLE)) AS bits
              FROM vocab, tot),
            ent AS (
              SELECT round(sum(cnt * bits) / sum(cnt), 4) AS h FROM vb)
            SELECT doc_id, count(*) AS n_tokens,
                   round(sum(bits) / count(*), 4) AS bits_per_token,
                   round(sum(bits) / count(*), 4) <= (SELECT h FROM ent)
                     AS keep
            FROM toks JOIN vb USING (tok)
            GROUP BY doc_id
        """,
        "t13_length_stats": """
            SELECT lang,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars,
                   round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.9), 4) AS p90,
                   round(quantile_cont(n_chars, 0.99), 4) AS p99
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "t12_tfidf_terms": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            tf AS (
              SELECT doc_id, tok, count(*) AS tf
              FROM toks GROUP BY doc_id, tok),
            dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
            nn AS (SELECT count(*) AS n FROM documents),
            ranked AS (
              SELECT t.doc_id, t.tok, t.tf, d.df,
                     round(t.tf * ln(CAST(nn.n AS DOUBLE) / d.df), 4)
                       AS tfidf,
                     CAST(row_number() OVER (PARTITION BY t.doc_id
                       ORDER BY t.tf DESC, d.df ASC, t.tok ASC) AS INT)
                       AS pos
              FROM tf t JOIN dfreq d USING (tok) CROSS JOIN nn)
            SELECT doc_id, tok, tf, df, tfidf, pos
            FROM ranked WHERE pos <= 3 ORDER BY doc_id, pos
        """,
        "s2_ann_lsh": f"""
            WITH {_sketch_tables_cte(8, 8).strip()},
            cand AS (
              SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
              FROM sk q JOIN sk c
                ON q.tbl = c.tbl AND q.sketch = c.sketch
               AND q.vec_id < 10 AND c.vec_id != q.vec_id),
            sims AS (
              SELECT query_id, neighbor_id,
                     round(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
                           CAST(ec.embedding AS DOUBLE[])), 4) AS cos
              FROM cand
              JOIN embeddings eq ON query_id = eq.vec_id
              JOIN embeddings ec ON neighbor_id = ec.vec_id),
            ranked AS (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rnk
              FROM sims)
            SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= 5
        """,
        "m1_media_metadata": """
            SELECT doc_id,
                   ['png','jpeg','wav'][CAST(doc_id % 3 AS INT) + 1] AS format,
                   CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                   CASE WHEN doc_id % 3 != 2
                        THEN CAST(16 + doc_id % 64 AS INT) END AS width,
                   CASE WHEN doc_id % 3 != 2
                        THEN CAST(16 + (doc_id * 7) % 64 AS INT) END AS height,
                   CASE WHEN doc_id % 3 = 2 THEN 16000 END AS sample_rate
            FROM documents
        """,
        "m2_media_decode": """
            SELECT doc_id,
                   ['png','jpeg','wav'][CAST(doc_id % 3 AS INT) + 1] AS format,
                   CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                   md5(text) AS digest
            FROM documents
        """,
        "m3_media_features": """
            WITH chars AS (
              SELECT doc_id, unicode(unnest(string_split(text, ''))) AS c
              FROM documents),
            agg AS (
              SELECT doc_id, least(c * 8 // 256, 7) AS bin,
                     count(*) AS cnt, sum(c) AS byte_sum
              FROM chars GROUP BY doc_id, bin),
            bins AS (SELECT unnest(range(8)) AS bin),
            fmt AS (
              SELECT doc_id,
                     ['png','jpeg','wav'][CAST(doc_id % 3 AS INT) + 1] AS format
              FROM documents)
            SELECT f.doc_id, f.format, CAST(b.bin AS INT) AS bin,
                   CAST(coalesce(agg.cnt, 0) AS BIGINT) AS cnt,
                   CAST(coalesce(agg.byte_sum, 0) AS BIGINT) AS byte_sum
            FROM fmt f CROSS JOIN bins b
            LEFT JOIN agg ON agg.doc_id = f.doc_id AND agg.bin = b.bin
        """,
        "s1_cosine_topk": """
            WITH q AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              FROM embeddings WHERE vec_id < 10),
            sims AS (
              SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.emb,
                           CAST(e.embedding AS DOUBLE[])), 4) AS cos
              FROM q JOIN embeddings e ON e.vec_id != q.vec_id),
            ranked AS (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rnk
              FROM sims)
            SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= 5
        """,
        "p1_clean_corpus": """
            WITH canon AS (
              SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
            q AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                     round(len(list_distinct(string_split(text, ' ')))
                           / CAST(len(string_split(text, ' ')) AS DOUBLE), 4)
                       AS distinct_ratio,
                     len(list_intersect(list_distinct(string_split(text, ' ')),
                         ['the','a','of','and','to','in','is'])) >= 2
                       AS looks_english
              FROM documents)
            SELECT q.doc_id, n_tokens, distinct_ratio
            FROM q JOIN canon ON q.doc_id = canon.doc_id
            WHERE n_tokens >= 10 AND looks_english
        """,
        "p2_full_pipeline": _full_pipeline_oracle(),
        "p3_materialization": f"""
            WITH kept AS ({_full_pipeline_oracle()}),
            s AS (
              SELECT k.doc_id,
                     CAST(k.n_tokens AS BIGINT) AS n_tokens,
                     ('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 4))::BIGINT
                       % 8 AS stream
              FROM kept k),
            c AS (
              SELECT doc_id, stream, n_tokens,
                     CAST(COALESCE(sum(n_tokens) OVER (
                       PARTITION BY stream ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_before
              FROM s),
            shuf AS (
              SELECT doc_id,
                     row_number() OVER (
                       ORDER BY md5('1|' || CAST(doc_id AS VARCHAR)), doc_id
                     ) - 1 AS shuffle_pos
              FROM kept)
            SELECT c.doc_id, c.stream, c.n_tokens,
                   cum_before // 512 AS first_seq,
                   cum_before % 512 AS offset_in_seq,
                   ((cum_before + c.n_tokens - 1) // 512)
                     - (cum_before // 512) + 1 AS n_seqs_spanned,
                   shuf.shuffle_pos
            FROM c JOIN shuf ON c.doc_id = shuf.doc_id
            ORDER BY c.doc_id
        """,
        "s3_ann_ivf": """
            WITH cents AS (
              -- hash-spread deterministic anchor sample, mirroring
              -- similarity.ivf_anchors: smallest md5(vec_id) hex wins
              SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c_emb
              FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
              -- ivf_cells_for mirror: ~10^4-vector cells, floor 16
              LIMIT greatest(16, (SELECT count(*) FROM embeddings) // 10000)),
            asg AS (
              SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round(list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]), c.c_emb), 6) DESC,
                           c.cell ASC) AS rn
                FROM embeddings e CROSS JOIN cents c)
              WHERE rn = 1),
            probe AS (
              SELECT query_id, cell FROM (
                SELECT q.vec_id AS query_id, c.cell,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY round(list_cosine_similarity(
                           CAST(q.embedding AS DOUBLE[]), c.c_emb), 6) DESC,
                           c.cell ASC) AS rn
                FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 10)
              WHERE rn <= 4),
            cand AS (
              SELECT p.query_id, a.vec_id AS neighbor_id
              FROM probe p JOIN asg a ON p.cell = a.cell
              WHERE a.vec_id != p.query_id),
            sims AS (
              SELECT query_id, neighbor_id,
                     round(list_cosine_similarity(
                       CAST(eq.embedding AS DOUBLE[]),
                       CAST(en.embedding AS DOUBLE[])), 4) AS cos
              FROM cand
              JOIN embeddings eq ON query_id = eq.vec_id
              JOIN embeddings en ON neighbor_id = en.vec_id),
            ranked AS (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                             ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rnk
              FROM sims)
            SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= 5
        """,
        "t1_quality_scores": """
            SELECT doc_id,
                   CAST(len(text) AS INT) AS n_chars,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                   round((len(text) - len(string_split(text, ' ')) + 1)
                         / CAST(len(string_split(text, ' ')) AS DOUBLE), 4)
                     AS mean_token_len,
                   round(len(list_distinct(string_split(text, ' ')))
                         / CAST(len(string_split(text, ' ')) AS DOUBLE), 4)
                     AS distinct_ratio,
                   CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                            ['the','a','of','and','to','in','is'])) AS INT)
                     AS n_stopword_types
            FROM documents
        """,
        "t2_token_counts": """
            SELECT tok, count(*) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
            GROUP BY tok ORDER BY cnt DESC, tok ASC LIMIT 20
        """,
        "t3_fingerprints": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                     generate_subscripts(string_split(text, ' '), 1) AS pos
              FROM documents),
            sh AS (
              SELECT doc_id,
                     tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
                         || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w
                       AS shingle
              FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
            SELECT doc_id, min(md5(shingle)) AS fingerprint,
                   count(*) AS n_windows
            FROM sh WHERE shingle IS NOT NULL GROUP BY doc_id
        """,
        "t4_language_guess": """
            SELECT doc_id, lang,
                   CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                        ['the','a','of','and','to','in','is'])) AS INT) AS marker_hits,
                   round(len(list_intersect(list_distinct(string_split(text, ' ')),
                         ['the','a','of','and','to','in','is']))
                         / CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE), 4)
                     AS marker_ratio,
                   len(list_intersect(list_distinct(string_split(text, ' ')),
                       ['the','a','of','and','to','in','is'])) >= 2 AS looks_english
            FROM documents
        """,
        "t5_repetition_scores": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                     generate_subscripts(string_split(text, ' '), 1) AS pos
              FROM documents),
            sh2g AS (
              SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w AS shingle
              FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
            g2 AS (
              SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_2grams,
                     max(cnt) AS top_2gram_cnt,
                     round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 4)
                       AS top_2gram_frac
              FROM (SELECT doc_id, shingle, count(*) AS cnt FROM sh2g
                    WHERE shingle IS NOT NULL GROUP BY doc_id, shingle)
              GROUP BY doc_id),
            sh3g AS (
              SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w
                         || ' ' || lead(tok, 2) OVER w AS shingle
              FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
            g3 AS (
              SELECT doc_id,
                     round(1.0 - count(DISTINCT shingle)
                           / CAST(count(*) AS DOUBLE), 4) AS dup_3gram_frac
              FROM sh3g WHERE shingle IS NOT NULL GROUP BY doc_id),
            chg AS (
              SELECT doc_id, pos,
                     CASE WHEN tok = lag(tok) OVER (PARTITION BY doc_id
                                                    ORDER BY pos)
                          THEN 0 ELSE 1 END AS chg
              FROM toks),
            rid AS (
              SELECT doc_id,
                     sum(chg) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
              FROM chg),
            rmax AS (
              SELECT doc_id, max(run_len) AS max_token_run
              FROM (SELECT doc_id, run_id, count(*) AS run_len
                    FROM rid GROUP BY doc_id, run_id)
              GROUP BY doc_id)
            SELECT d.doc_id, n_2grams, top_2gram_cnt, top_2gram_frac,
                   dup_3gram_frac, max_token_run
            FROM documents d
            LEFT JOIN g2 ON d.doc_id = g2.doc_id
            LEFT JOIN g3 ON d.doc_id = g3.doc_id
            LEFT JOIN rmax ON d.doc_id = rmax.doc_id
        """,
        "t6_pii_scrub": _pii_scrub_oracle(),
        "t7_stratified_sample": _stratified_sample_oracle(),
        # twin of text.pack_sequences(seq_len=512, n_streams=8): the
        # stream is the identical md5-prefix bucket, the running sum is
        # the identical ROWS window; HUGEINT sums cast back to BIGINT
        "t8_pack_sequences": """
            WITH s AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                       % 8 AS stream
              FROM documents),
            c AS (
              SELECT doc_id, stream, n_tokens,
                     CAST(COALESCE(sum(n_tokens) OVER (
                       PARTITION BY stream ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_before
              FROM s)
            SELECT doc_id, stream, n_tokens,
                   cum_before // 512 AS first_seq,
                   cum_before % 512 AS offset_in_seq,
                   ((cum_before + n_tokens - 1) // 512)
                     - (cum_before // 512) + 1 AS n_seqs_spanned
            FROM c
        """,
    }
    # corpus-level ANN recall@k (VERDICT r02 next-7): the exact side
    # reuses the s1 oracle verbatim, so the recall number's
    # denominator is genuinely independent of the approximate path
    for key, approx_key in (
        ("s2b_ann_recall", "s2_ann_lsh"),
        ("s3b_ann_recall", "s3_ann_ivf"),
    ):
        sqls[key] = f"""
            SELECT (SELECT count(*) FROM ({sqls["s1_cosine_topk"]}) x) AS n_exact,
                   (SELECT count(*)
                    FROM ({sqls["s1_cosine_topk"]}) e
                    JOIN ({sqls[approx_key]}) a
                      ON e.query_id = a.query_id
                     AND e.neighbor_id = a.neighbor_id) AS n_caught,
                   round((SELECT count(*)
                    FROM ({sqls["s1_cosine_topk"]}) e
                    JOIN ({sqls[approx_key]}) a
                      ON e.query_id = a.query_id
                     AND e.neighbor_id = a.neighbor_id) * 100.0
                     / (SELECT count(*) FROM ({sqls["s1_cosine_topk"]}) x), 2)
                     AS recall_pct
        """
    # crawl/parse fidelity: simulator-derived / reference-literal rows
    # (VERDICT r03 missing#1 — no more `no_oracle` keys)
    # streaming parity: expected = identical stream/batch sets with
    # the fixed deterministic inputs the key synthesizes (20-URL
    # ingest with 5 re-discoveries; 7 admits under budget 5; 5 gate
    # decisions) and ZERO symmetric-difference rows
    sqls["st_stream_batch_parity"] = """
        SELECT op, CAST(n_stream AS BIGINT) AS n_stream,
               CAST(n_batch AS BIGINT) AS n_batch,
               CAST(n_only_stream AS BIGINT) AS n_only_stream,
               CAST(n_only_batch AS BIGINT) AS n_only_batch
        FROM (VALUES
              ('st1_ingest_merge', 20, 20, 0, 0),
              ('st2_politeness_admit', 7, 7, 0, 0),
              ('st4_dedup_gate', 5, 5, 0, 0))
             AS t(op, n_stream, n_batch, n_only_stream, n_only_batch)
        ORDER BY op
    """
    sqls["crawl_epoch"] = _crawl_epoch_oracle()
    # LIFO depth-major order fidelity (App.hs:64-67) — simulator-
    # derived literal rows, the c3 FIFO key's LIFO twin
    sqls["c3b_frontier_merge_lifo"] = _crawl_epoch_oracle(lifo=True)
    sqls["crawl_epoch_wide"] = _crawl_epoch_wide_oracle()
    # scale-path crawl: same final seen set as the default wide path
    sqls["crawl_epoch_scoped"] = _crawl_epoch_wide_oracle()
    sqls["parse_golden"] = _parse_golden_oracle()
    return sqls
