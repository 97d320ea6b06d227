"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data pipeline operators (dedup / similarity /
text analysis / multimodal); ``oracle_sql()`` gives the DuckDB-equivalent SQL
for every SQL-expressible one. Crawl-kernel entries (canonicalize, robots,
object keys, text extraction) are made oracle-checkable by constructing
inputs whose expected outputs are SQL-derivable; genuinely non-SQL ops
(full crawl round loop, multimodal feature UDFs, MinHash signatures) are
rows-only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _ensure(spark: SparkSession) -> None:
    """Ship the package to executors even when the driver built its own
    bare SparkSession (the harness does)."""
    from nimbus_crawler_spark.session import _ship_package

    _ship_package(spark)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread_t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """_t + textdedup._spread: the small-SF tables are single parquet files,
    which pins per-row-heavy projections (pandas-UDF kernels, 20-regex lang
    scoring) to ONE task; the spread is gated on file count < parallelism,
    so it is a no-op on production-sized tables."""
    from nimbus_crawler_spark.operators.textdedup import _spread

    return _spread(_t(spark, sf_dir, name))


# ---------------------------------------------------------------------------
# flagship: document-curation pipeline over the documents table
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-document curation record (fingerprint, language ID,
    quality score, token counts) over sf0.001 — the text-analysis slice of a
    training-data pipeline, all JVM-side expressions."""
    _ensure(spark)
    from nimbus_crawler_spark.operators.textstats import (
        fingerprints,
        lang_id,
        quality_metrics,
        token_counts,
    )

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    return (
        fingerprints(docs)
        .join(lang_id(docs), "doc_id")
        .join(quality_metrics(docs).select("doc_id", "quality_score", "alpha_ratio"), "doc_id")
        .join(token_counts(docs), "doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_frontier_priority_topk(spark, sf_dir):
    # O1/O3: frontier priority ordering + round capacity (orderBy + limit)
    return (
        _t(spark, sf_dir, "orders")
        .orderBy("o_orderpriority", "o_orderdate", "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_orderpriority")
    )


def _q_politeness_budget_rank(spark, sf_dir):
    # O2: per-key token-bucket admission as a rank window (budget=3)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("user_id", "event_id", "rnk")
    )


def _q_seen_antijoin(spark, sf_dir):
    # J1/D2: URL-seen membership as a left_anti join — "orders not yet seen
    # shipping in H2 1998" stands in for candidate-links ∖ seen-set
    orders = _t(spark, sf_dir, "orders")
    seen = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > F.lit("1998-06-01"))
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return orders.join(seen, "o_orderkey", "left_anti").select("o_orderkey", "o_custkey")


def _q_content_dedup_first_wins(spark, sf_dir):
    # D3: content-hash first-wins as a map-side-combinable min aggregate —
    # never a per-hash window (a 10^7-copy boilerplate group would funnel
    # into one window task; same hazard class swept from the engine in r5)
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "content_hash")
    )


def _q_retry_backoff(spark, sf_dir):
    # P11/U4: deterministic backoff-rounds formula (jitter=0, round_ms=1000)
    ev = _t(spark, sf_dir, "events")
    retry = (F.col("event_id") % 4).cast("int")
    return ev.select(
        "event_id",
        retry.alias("retry_count"),
        F.greatest(F.lit(1), F.ceil(F.pow(F.lit(2.0), retry))).cast("long").alias("backoff_rounds"),
    )


def _q_domain_fanout(spark, sf_dir):
    # D4/J5/A4: per-source aggregation (domain-registry analog)
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            # cast: DuckDB types sum(INTEGER) as HUGEINT; pin both engines
            # to int64 so the driver's typed value-hash matches
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def _q_tpch_q1_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            (F.floor(F.avg("l_quantity") * 10000 + F.lit(0.5)) / 10000).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def _q_top_customers(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("n_orders"))
        .join(F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"), "c_name")), "o_custkey")
    )
    return rev.orderBy(F.desc("revenue"), "o_custkey").limit(20).select(
        F.col("o_custkey").alias("custkey"), "c_name", "revenue", "n_orders"
    )


def _q_lineitem_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


def _q_events_sessionize(spark, sf_dir):
    # streaming-state analog in batch: 30-min-gap sessionization via lag
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return marked.groupBy("user_id").agg(
        # cast: keep int64 on both engines (DuckDB sum(INTEGER) → HUGEINT)
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# --- dedup family ---

def _q_dedup_exact(spark, sf_dir):
    from nimbus_crawler_spark.operators.textdedup import exact_dedup_groups

    return exact_dedup_groups(_t(spark, sf_dir, "documents"))


def _q_dedup_minhash_lsh(spark, sf_dir):
    from nimbus_crawler_spark.operators.textdedup import minhash_lsh_candidates

    return minhash_lsh_candidates(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4, shingle_n=3
    )


def _q_dedup_minhash_verified(spark, sf_dir):
    from nimbus_crawler_spark.operators.textdedup import minhash_dedup_pairs

    return minhash_dedup_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2, num_hashes=16, bands=4, shingle_n=3
    )


def _q_dedup_simhash(spark, sf_dir):
    from nimbus_crawler_spark.operators.textdedup import simhash_fingerprints

    return simhash_fingerprints(_t(spark, sf_dir, "documents"), bits=16)


def _q_simhash_near_pairs(spark, sf_dir):
    from nimbus_crawler_spark.operators.textdedup import simhash_near_pairs

    return simhash_near_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=3, bits=16, bands=4
    )


def _q_dedup_ngram_jaccard(spark, sf_dir):
    from nimbus_crawler_spark.operators.textdedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.3, shingle_n=3, max_doc_freq=20
    )


def _q_fingerprints(spark, sf_dir):
    from nimbus_crawler_spark.operators.textstats import fingerprints

    return fingerprints(_t(spark, sf_dir, "documents"))


def _q_token_counts(spark, sf_dir):
    from nimbus_crawler_spark.operators.textstats import token_counts

    return token_counts(_t(spark, sf_dir, "documents"))


def _q_chunk_documents(spark, sf_dir):
    # max-seq-len chunker: 32-token windows every 24 tokens (overlapping,
    # the embedding-pipeline shape); small windows keep the sf0.01 gate's
    # fan-out moderate while exercising short-tail + single-chunk docs
    from nimbus_crawler_spark.operators.chunking import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"), chunk_tokens=32, stride=24)


def _q_pack_sequences(spark, sf_dir):
    # concat-and-cut packing over DISJOINT chunks (stride == chunk_tokens):
    # the distributed prefix sum must agree with the oracle's sequential
    # window sum bit-for-bit, whatever the cluster size
    from nimbus_crawler_spark.operators.chunking import chunk_documents, pack_sequences

    chunks = chunk_documents(_t(spark, sf_dir, "documents"), chunk_tokens=32, stride=32)
    return pack_sequences(chunks, seq_len=512)


def _q_lang_id(spark, sf_dir):
    from nimbus_crawler_spark.operators.textstats import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def _q_quality(spark, sf_dir):
    from nimbus_crawler_spark.operators.textstats import quality_metrics

    return quality_metrics(_t(spark, sf_dir, "documents"))


def _q_repetition(spark, sf_dir):
    from nimbus_crawler_spark.operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def _q_curation(spark, sf_dir):
    from nimbus_crawler_spark.operators.textstats import curation_pipeline

    return curation_pipeline(_t(spark, sf_dir, "documents"))


def _q_term_stats(spark, sf_dir):
    from nimbus_crawler_spark.operators.textstats import term_stats

    return term_stats(_t(spark, sf_dir, "documents"), top_k=100)


# mixture gate weights: exercise all four predicate paths — keep-all
# (rate ≥ 1), two fractional thresholds, keep-none (rate 0), and the
# default rate for every unlisted source
_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0}
_MIX_DEFAULT = 0.1


def _q_quality_histogram(spark, sf_dir):
    from nimbus_crawler_spark.operators.textstats import quality_histogram

    return quality_histogram(_t(spark, sf_dir, "documents"), n_buckets=20, by="source")


def _q_mixture_sample(spark, sf_dir):
    from nimbus_crawler_spark.operators.sampling import mixture_sample

    return mixture_sample(
        _t(spark, sf_dir, "documents"), _MIX_WEIGHTS, default_weight=_MIX_DEFAULT
    )


def _q_stratified_topk(spark, sf_dir):
    from nimbus_crawler_spark.operators.sampling import stratified_topk

    return stratified_topk(_t(spark, sf_dir, "documents"), k=5)


def _q_hash_split(spark, sf_dir):
    # the canonical 80/10/10 train/val/test partition; deterministic
    # hash assignment, so the oracle recomputes the identical CASE
    from nimbus_crawler_spark.operators.sampling import hash_split

    return hash_split(
        _t(spark, sf_dir, "documents"), {"train": 0.8, "val": 0.1, "test": 0.1}
    )


def _q_epoch_shuffle(spark, sf_dir):
    # one epoch's deterministic training order: salted-hash key + the
    # distributed (literal-bounds prefix-sum) global rank of that key
    from nimbus_crawler_spark.operators.sampling import epoch_shuffle

    return epoch_shuffle(_t(spark, sf_dir, "documents"), epoch=3).select(
        "doc_id", "shuffle_key", "epoch_pos"
    )


def _q_boilerplate_lines(spark, sf_dir):
    # RefinedWeb-style cross-document line removal. The synthetic corpus has
    # no newlines, so the gate first reflows each document into 3-token
    # lines (the chunker at stride == chunk_tokens, joined by \n) — at
    # sf0.01 that yields 9.2k lines, ~1.4k of which repeat across >= 2 docs,
    # exercising both the drop and the keep path plus full reassembly
    from pyspark.sql import functions as F

    from nimbus_crawler_spark.operators.chunking import chunk_documents
    from nimbus_crawler_spark.operators.textdedup import remove_repeated_lines

    chunks = chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=3, stride=3
    )
    reflowed = chunks.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
                lambda x: x["chunk_text"],
            ),
            "\n",
        ).alias("text")
    )
    return remove_repeated_lines(reflowed, min_docs=2)


def _q_unigram_lm(spark, sf_dir):
    # CCNet-style perplexity-proxy scoring; top_vocab=24 on the ~31-term
    # sf0.01 vocabulary exercises BOTH lookup paths (in-vocab log-prob and
    # the shared-OOV-mass fallback)
    from nimbus_crawler_spark.operators.lm import unigram_lm_score

    return unigram_lm_score(_t(spark, sf_dir, "documents"), top_vocab=24)


def _q_importance_weights(spark, sf_dir):
    # DSIR-style selection: target model from the src0 slice (the "curated
    # domain"), source model from the whole corpus; top_vocab=24 exercises
    # the in-vocab and shared-OOV-mass paths of BOTH models
    from nimbus_crawler_spark.operators.lm import importance_weights

    docs = _t(spark, sf_dir, "documents")
    return importance_weights(
        docs, docs.where(F.col("source") == "src0"), top_vocab=24
    )


def _q_pagerank(spark, sf_dir):
    """Link-graph PageRank — the canonical crawl-frontier priority signal,
    run over a deterministic synthetic link graph on the documents table
    (doc d links to (d + 1 + ((31·d + j) mod (n-1))) mod n for
    j in 0..d mod 3 — out-degree 1-3, never a self-loop, so no dangling
    mass and the fixed-iteration oracle unrolls exactly)."""
    from nimbus_crawler_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(F.sequence(F.lit(0), F.col("doc_id") % 3)).alias("j"),
    ).select(
        "src",
        F.pmod(
            F.col("src") + 1 + F.pmod(F.col("src") * 31 + F.col("j"), F.lit(n - 1)),
            F.lit(n),
        ).alias("dst"),
    )
    return pagerank(edges, iters=5).withColumnRenamed("node", "doc_id")


def _q_inverted_index(spark, sf_dir):
    from nimbus_crawler_spark.operators.indexing import inverted_index

    # gate params fit the sf0.01 vocabulary (31 terms, df 25-402): the cap
    # drops the one stopword-grade term (df 402), the floor is exercised by
    # construction, and 30 surviving terms × 5 postings ≈ 150 rows
    return inverted_index(
        _t(spark, sf_dir, "documents"), min_doc_freq=2, max_doc_freq=400, max_postings=5
    )


def _q_bpe_pair_counts(spark, sf_dir):
    from nimbus_crawler_spark.operators.indexing import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"), top_k=100)


def _q_bm25_topk(spark, sf_dir):
    from nimbus_crawler_spark.operators.indexing import bm25_topk

    # three mid-frequency vocabulary terms; k=25 exercises the tail ordering
    return bm25_topk(_t(spark, sf_dir, "documents"), "table hash merge", k=25)


def _q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs → connected components → keep-one decision: the
    grouping step between LSH pair emission and survivor selection.

    Tighter pair parameters than the `simhash_near_pairs` gate (hamming ≤ 1,
    2 bands): the clustering input should be CONFIDENT near-dups — and the
    mh=3 graph on this synthetic corpus is ~7× denser, which only stresses
    the pair generator the other gate already times.

    bits=16, bands=2 (8-bit band keys) is a TEST-DENSITY choice for this
    60k-doc corpus: 256 possible bucket keys per band keeps the test graph
    dense enough to exercise multi-node clusters. Production sign-LSH band
    keys must be wide enough that bucket sizes stay bounded (≥ ~24 bits at
    10^9+ docs), or the bucket self-join degenerates toward all-pairs."""
    from nimbus_crawler_spark.operators.graph import dedup_clusters
    from nimbus_crawler_spark.operators.textdedup import simhash_near_pairs

    pairs = simhash_near_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=1, bits=16, bands=2
    )
    return dedup_clusters(pairs)


def _q_dedup_survivors(spark, sf_dir):
    """Terminal step of the dedup pipeline: the kept corpus after keep-one —
    singletons pass through with cluster_size 1, each cluster keeps only its
    minimum-id member. Same confident-pair parameters as `dedup_clusters`
    (that gate checks the labels; this one checks the survivor SET, the
    thing a training run actually consumes)."""
    from nimbus_crawler_spark.operators.graph import dedup_survivors
    from nimbus_crawler_spark.operators.textdedup import simhash_near_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(docs, max_hamming=1, bits=16, bands=2)
    return dedup_survivors(docs, pairs)


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: eval split = doc_id % 25 == 0 (deterministic
    stand-in for a held-out benchmark), train = the rest; flags train docs
    sharing ≥1 trigram with any eval doc."""
    from nimbus_crawler_spark.operators.textdedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(
        docs.where(F.col("doc_id") % 25 != 0),
        docs.where(F.col("doc_id") % 25 == 0),
        shingle_n=3,
    )


def _q_pii_scrub(spark, sf_dir):
    """PII count + redaction over documents with deterministically injected
    emails/phones (the synthetic corpus contains none — the injection, a pure
    function of doc_id mirrored in the SQL oracle, makes the scrub
    observable; docs with doc_id % 3 != 0 and % 4 != 0 stay PII-free so the
    zero path is exercised too)."""
    from nimbus_crawler_spark.operators.textstats import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" call +1-555-010-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return pii_scrub(injected)


# --- similarity family ---

def _emb(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return e.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))


def _q_ann_cosine_topk(spark, sf_dir):
    from nimbus_crawler_spark.operators.similarity import cosine_topk_bruteforce

    emb = _emb(spark, sf_dir)
    return cosine_topk_bruteforce(emb, emb.where(F.col("vec_id") < 8), k=5)


def _q_ann_bucketed(spark, sf_dir):
    from nimbus_crawler_spark.operators.similarity import cosine_topk_bucketed

    emb = _emb(spark, sf_dir)
    return cosine_topk_bucketed(emb, emb.where(F.col("vec_id") < 8), k=3, bits=6)


def _q_embedding_norms(spark, sf_dir):
    from nimbus_crawler_spark.operators.similarity import norm_stats_by_label

    return norm_stats_by_label(_emb(spark, sf_dir))


def _q_dedup_embedding_cosine(spark, sf_dir):
    from nimbus_crawler_spark.operators.similarity import embedding_cosine_pairs

    return embedding_cosine_pairs(_emb(spark, sf_dir), threshold=0.25, bits=10, bands=4)


def _q_ann_ivf(spark, sf_dir):
    from nimbus_crawler_spark.operators.similarity import cosine_topk_ivf

    emb = _emb(spark, sf_dir)
    return cosine_topk_ivf(emb, emb.where(F.col("vec_id") < 8), k=3, nlist=16)


# --- crawl kernels, made oracle-checkable via constructed inputs ---

def _messy_url():
    # deterministic messy URL whose canonical form is SQL-derivable
    return F.concat(
        F.lit("HTTPS://Host"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM:443//p//"),
        F.col("doc_id").cast("string"),
        F.lit("/?b="),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("&a="),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("#frag"),
    )


def _q_canonicalize(spark, sf_dir):
    _ensure(spark)
    from nimbus_crawler_spark.functions.udfs import canonicalize_udf

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", canonicalize_udf(_messy_url()).alias("canonical_url")
    )


def _simple_url():
    return F.concat(
        F.lit("https://h"),
        (F.col("doc_id") % 9).cast("string"),
        F.lit(".example/p/"),
        F.col("doc_id").cast("string"),
    )


def _q_object_keys(spark, sf_dir):
    _ensure(spark)
    from nimbus_crawler_spark.functions.udfs import html_key_udf, text_key_udf

    docs = _spread_t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        html_key_udf(_simple_url()).alias("html_key"),
        text_key_udf(_simple_url()).alias("text_key"),
    )


_ROBOTS_BODY = "User-agent: NimbusCrawler\nDisallow: /private/\nDisallow: /*.pdf\nCrawl-delay: 2\n\nUser-agent: *\nDisallow: /\n"


def _robots_url():
    return F.concat(
        F.lit("https://r.example"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/private/"))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("/doc/"), (F.col("doc_id") % 11).cast("string"), F.lit(".pdf")))
        .otherwise(F.lit("/public/")),
        F.col("doc_id").cast("string"),
    )


def _q_robots_gate(spark, sf_dir):
    _ensure(spark)
    from nimbus_crawler_spark.functions.udfs import crawl_delay_udf, robots_allowed_udf

    docs = _spread_t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        robots_allowed_udf(F.lit(_ROBOTS_BODY), _robots_url()).alias("allowed"),
        crawl_delay_udf(F.lit(_ROBOTS_BODY)).alias("crawl_delay_ms"),
    )


def _q_extract_roundtrip(spark, sf_dir):
    _ensure(spark)
    # text-extraction invariant: html built from entity-free text must
    # extract back byte-identically (oracle: the text column itself)
    from nimbus_crawler_spark.functions.udfs import parse_page_udf

    docs = _spread_t(spark, sf_dir, "documents")
    html = F.encode(
        F.concat(
            F.lit("<html><head><title>t</title></head><body><h1>D"),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit('</p><a href="/next">n</a></body></html>'),
        ),
        "utf-8",
    )
    url = F.concat(F.lit("https://docs.example/d/"), F.col("doc_id").cast("string"))
    parsed = docs.select("doc_id", parse_page_udf(html, url).alias("p"))
    return parsed.select(
        "doc_id",
        F.col("p.text").alias("extracted_text"),
        F.size("p.links").alias("n_links"),
        F.element_at("p.links", 1).alias("first_link"),
    )


def _q_hostname_registrable(spark, sf_dir):
    _ensure(spark)
    from nimbus_crawler_spark.functions.udfs import hostname_udf, registrable_domain_udf

    docs = _spread_t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://sub"),
        (F.col("doc_id") % 4).cast("string"),
        F.lit(".h"),
        (F.col("doc_id") % 6).cast("string"),
        F.lit(".example.com:8443/x"),
    )
    return docs.select(
        "doc_id",
        hostname_udf(url).alias("host"),
        registrable_domain_udf(hostname_udf(url)).alias("registrable"),
    )


# --- rows-only entries (non-SQL-expressible) ---

def _q_crawl_smoke(spark, sf_dir):
    """Full engine round loop on a tiny deterministic corpus (rows-only:
    the batch-iterative crawl is not expressible as one SQL statement)."""
    _ensure(spark)
    import tempfile

    from nimbus_crawler_spark.config import CrawlConfig
    from nimbus_crawler_spark.plans.crawl import crawl
    from nimbus_crawler_spark.sources.corpus import corpus_to_pages_df, make_corpus
    from nimbus_crawler_spark.store import SnapshotStore

    corpus = make_corpus(seed=42, n_hosts=2, pages_per_host=4, dup_content_pairs=1, binary_rows=1)
    wh = tempfile.mkdtemp(prefix="nimbus-smoke-")
    cfg = CrawlConfig(max_depth=2, round_ms=4000)
    crawl(spark, wh, corpus_to_pages_df(spark, corpus), corpus.seeds_text, cfg, max_rounds=30)
    store = SnapshotStore(spark, wh)
    return store.read_appends("crawl_results").orderBy("crawl_seq").select(
        "crawl_seq", "round", "url", "depth", "dup_content", "text"
    )


def _q_multimodal_features(spark, sf_dir):
    from nimbus_crawler_spark.operators.multimodal import extract_features, media_from_documents

    _ensure(spark)
    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return extract_features(media).select(
        "media_id", "kind", "n_bytes", "byte_entropy", "frames_sampled"
    )


def _q_multimodal_raw_stats(spark, sf_dir):
    """Raw byte-stats decode path (codec='raw') with a full DuckDB oracle:
    n_bytes, 16-bin (>>4) histogram, Shannon entropy, and frame sampling are
    all SQL-derivable over the documents' (ASCII) payload bytes — hash-level
    correctness for the multimodal mapInPandas plumbing."""
    from nimbus_crawler_spark.operators.multimodal import extract_features, media_from_documents

    _ensure(spark)
    media = media_from_documents(_t(spark, sf_dir, "documents"))
    feats = extract_features(media, codec="raw")
    return feats.select(
        "media_id",
        "kind",
        "format",
        "n_bytes",
        "byte_entropy",
        F.concat_ws(",", F.transform("histogram", lambda x: x.cast("string"))).alias("hist_csv"),
        "frames_sampled",
    )


_MM_EXPECTED_PATH = "/tmp/nimbus-mm-expected-v1.parquet"
_MM_RESIZE_PATH = "/tmp/nimbus-mm-resize-v1.parquet"
_MM_FRAMES_PATH = "/tmp/nimbus-mm-frames-v1.parquet"


def _fixture_media_df(spark):
    """The 60-row fixture as a FEW-partition DataFrame. createDataFrame
    spreads a local list over defaultParallelism slices — 32 near-empty
    partitions each spawning a Python worker for the mapInPandas decode
    (measured: 30+ s of simultaneous worker spin-up under host contention,
    vs ~2 s of actual decode). coalesce is narrow (no exchange) and row
    values are untouched, so results are identical."""
    from nimbus_crawler_spark.operators.multimodal import MEDIA_SCHEMA
    from nimbus_crawler_spark.sources.media_fixture import fixture_media_rows

    return spark.createDataFrame(fixture_media_rows(), MEDIA_SCHEMA).coalesce(4)


def _q_multimodal_resize(spark, sf_dir):
    """Deterministic area/block-mean image resize (the tensor-prep step of
    an image training pipeline) over the real-BMP fixture payloads; the
    oracle reads expected grids recomputed from the generative arrays with
    plain-Python loops (sources/media_fixture.py) — numpy slice-sum vs
    pure-Python math, exact integer semantics."""
    from nimbus_crawler_spark.operators.multimodal import resize_images

    _ensure(spark)
    media = _fixture_media_df(spark)
    out = resize_images(media, out_w=8, out_h=8)
    return out.select(
        "media_id",
        "src_w",
        "src_h",
        "out_w",
        "out_h",
        F.concat_ws(",", F.transform("pixels", lambda x: x.cast("string"))).alias("pixels_csv"),
        "mean_lum",
    )


def _q_multimodal_frame_sample(spark, sf_dir):
    """Uniform frame sampling (k=4) across all three fixture containers
    (BMP single frame, WAV channel-frames, raw 256-byte blocks) — the
    frame-selection half of a video/audio curation pipeline. Oracle:
    plain-Python expected rows from the generative arrays."""
    from nimbus_crawler_spark.operators.multimodal import sample_frames

    _ensure(spark)
    media = _fixture_media_df(spark)
    return sample_frames(media, k=4)


def _q_multimodal_decode(spark, sf_dir):
    """FULL decode path (real BMP + PCM WAV + raw containers) against a
    fixture of independently-computed expected features: header parse,
    stride padding, BGR luminance, and the int16→uint8 sample transform are
    decoded by the distributed mapInPandas operator, while the oracle reads
    expectations recomputed from the generative arrays with plain-Python
    math (sources/media_fixture.py) — upgrading the multimodal decode family
    from rows-only to a three-check gate."""
    from nimbus_crawler_spark.operators.multimodal import extract_features

    _ensure(spark)
    media = _fixture_media_df(spark)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "format",
        "n_bytes",
        "byte_entropy",
        F.concat_ws(",", F.transform("histogram", lambda x: x.cast("string"))).alias("hist_csv"),
        "frames_sampled",
        "width",
        "height",
        "sample_rate",
        "duration_s",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # crawl-operator analogs (SURVEY §2)
        "frontier_priority_topk": _q_frontier_priority_topk,
        "politeness_budget_rank": _q_politeness_budget_rank,
        "seen_antijoin": _q_seen_antijoin,
        "content_dedup_first_wins": _q_content_dedup_first_wins,
        "retry_backoff": _q_retry_backoff,
        "domain_fanout": _q_domain_fanout,
        # crawl kernels (P3/P6/F5/P7/P8/P1/P2)
        "canonicalize": _q_canonicalize,
        "object_keys": _q_object_keys,
        "robots_gate": _q_robots_gate,
        "extract_roundtrip": _q_extract_roundtrip,
        "hostname_registrable": _q_hostname_registrable,
        # analytics
        "tpch_q1_pricing": _q_tpch_q1_pricing,
        "top_customers": _q_top_customers,
        "lineitem_rollup": _q_lineitem_rollup,
        "events_sessionize": _q_events_sessionize,
        # training-data dedup
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "dedup_minhash_verified": _q_dedup_minhash_verified,
        "dedup_simhash": _q_dedup_simhash,
        "simhash_near_pairs": _q_simhash_near_pairs,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "fingerprints": _q_fingerprints,
        "token_counts": _q_token_counts,
        "chunk_documents": _q_chunk_documents,
        "pack_sequences": _q_pack_sequences,
        "lang_id": _q_lang_id,
        "quality": _q_quality,
        "repetition": _q_repetition,
        "curation": _q_curation,
        "term_stats": _q_term_stats,
        "unigram_lm": _q_unigram_lm,
        "importance_weights": _q_importance_weights,
        "pagerank": _q_pagerank,
        "inverted_index": _q_inverted_index,
        "bpe_pair_counts": _q_bpe_pair_counts,
        "bm25_topk": _q_bm25_topk,
        "quality_histogram": _q_quality_histogram,
        "mixture_sample": _q_mixture_sample,
        "stratified_topk": _q_stratified_topk,
        "hash_split": _q_hash_split,
        "epoch_shuffle": _q_epoch_shuffle,
        "boilerplate_lines": _q_boilerplate_lines,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_survivors": _q_dedup_survivors,
        "decontaminate": _q_decontaminate,
        "pii_scrub": _q_pii_scrub,
        # similarity
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_bucketed": _q_ann_bucketed,
        "ann_ivf": _q_ann_ivf,
        "embedding_norms": _q_embedding_norms,
        "dedup_embedding_cosine": _q_dedup_embedding_cosine,
        # multimodal
        "multimodal_raw_stats": _q_multimodal_raw_stats,
        "multimodal_features": _q_multimodal_features,
        "multimodal_decode": _q_multimodal_decode,
        "multimodal_resize": _q_multimodal_resize,
        "multimodal_frame_sample": _q_multimodal_frame_sample,
        # rows-only (a multi-round loop, not one SQL statement)
        "crawl_smoke": _q_crawl_smoke,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL over the same parquet views)
# ---------------------------------------------------------------------------

_TOKENS_CTE = r"""
tokens AS (
  SELECT doc_id, t AS token
  FROM documents, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS u(t)
)
"""

# 3-token shingles in document order (1-indexed lists in DuckDB)
_SHINGLES_CTE = r"""
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
  FROM toks, unnest(range(1, greatest(len(tk) - 1, 1))) AS r(i)
  WHERE len(tk) >= 3
)
"""


def _simhash_oracle(bits: int) -> str:
    votes = ",\n    ".join(
        f"sum(CASE WHEN substr(h, {j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN v{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(bits))
    return f"""
WITH {_TOKENS_CTE.strip().rstrip()},
hashed AS (SELECT doc_id, md5(token) AS h FROM tokens),
agg AS (
  SELECT doc_id,
    {votes}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM agg
"""


def _simhash_pairs_oracle(bits: int, bands: int, max_hamming: int) -> str:
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    return f"""
WITH fps AS ({_simhash_oracle(bits)}),
banded AS (
  SELECT doc_id, simhash, band, (simhash >> CAST(band * {band_bits} AS INTEGER)) & {mask} AS band_key
  FROM fps, (SELECT unnest(range(0, {bands})) AS band) bs
),
pairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.simhash AS sa, y.simhash AS sb
  FROM banded x JOIN banded y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
)
SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


def _embed_band_oracle(bits: int, bands: int, thr: float) -> str:
    def key(j: int) -> str:
        return " + ".join(
            f"(CASE WHEN embedding[{j * bits + i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
            for i in range(bits)
        )

    sel = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS band, {key(j)} AS bk FROM embeddings" for j in range(bands)
    )
    cos = (
        "round(list_dot_product(p.v, q.v) / "
        "(sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(q.v, q.v))), 6)"
    )
    return f"""
WITH banded AS ({sel}),
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bk = y.bk
  WHERE x.vec_id < y.vec_id),
v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT c.a, c.b, {cos} AS cosine
FROM cand c JOIN v p ON p.vec_id = c.a JOIN v q ON q.vec_id = c.b
WHERE {cos} >= {thr}
"""


def _unigram_model_ctes(prefix: str, where: str, top_vocab: int) -> str:
    """CTE block estimating one vocab-capped unigram LM (mirrors
    operators/lm.py::_unigram_model): ≤top_vocab (token, logp) rows plus
    one-row total/kept-mass CTEs the scorer reads as scalar subqueries."""
    return f"""{prefix}_t AS (
  SELECT doc_id, t AS token
  FROM documents, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS u(t)
  {where}),
{prefix}_tf AS (SELECT doc_id, token, count(*) AS tf FROM {prefix}_t GROUP BY doc_id, token),
{prefix}_counts AS (SELECT token, sum(tf) AS cnt FROM {prefix}_tf GROUP BY token),
{prefix}_kept AS (SELECT token, cnt FROM {prefix}_counts ORDER BY cnt DESC, token LIMIT {top_vocab}),
{prefix}_tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM {prefix}_counts),
{prefix}_km AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_kept FROM {prefix}_kept),
{prefix}_logp AS (SELECT token, ln(CAST(cnt AS DOUBLE) / (SELECT n_total FROM {prefix}_tot)) AS logp FROM {prefix}_kept)"""


def _oov_logp_sql(prefix: str) -> str:
    return (
        f"ln(greatest((SELECT n_total FROM {prefix}_tot) - (SELECT n_kept FROM {prefix}_km), 1.0)"
        f" / (SELECT n_total FROM {prefix}_tot))"
    )


def _importance_weights_oracle(top_vocab: int) -> str:
    """DSIR log-ratio: target model over the src0 slice, source model over
    the full corpus, scored in one pass over the full corpus's tf rows."""
    return f"""
WITH {_unigram_model_ctes("tg", "WHERE source = 'src0'", top_vocab)},
{_unigram_model_ctes("sr", "", top_vocab)}
SELECT sr_tf.doc_id,
       CAST(sum(sr_tf.tf) AS BIGINT) AS n_tokens,
       round(sum(sr_tf.tf * (coalesce(t.logp, {_oov_logp_sql("tg")})
                             - coalesce(s.logp, {_oov_logp_sql("sr")})))
             / sum(sr_tf.tf), 6) AS log_importance
FROM sr_tf
LEFT JOIN tg_logp t USING (token)
LEFT JOIN sr_logp s USING (token)
GROUP BY sr_tf.doc_id
"""


def _pagerank_oracle(iters: int) -> str:
    """Unrolled fixed-iteration PageRank over the deterministic synthetic
    link graph of ``_q_pagerank`` — one CTE per power iteration; damping and
    teleport written as CAST(... AS DOUBLE) so both engines run the
    identical double arithmetic."""
    parts = [
        """nn AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT d.doc_id AS src,
         (d.doc_id + 1 + ((d.doc_id * 31 + u.j) % ((SELECT n FROM nn) - 1)))
           % (SELECT n FROM nn) AS dst
  FROM documents d, unnest(range(0, 1 + d.doc_id % 3)) AS u(j)),
nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""r{k} AS (
  SELECT b.node,
         (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
           + CAST(0.85 AS DOUBLE) * coalesce(sum(p.rank / d.outdeg), 0) AS rank
  FROM nodes b
  LEFT JOIN edges e ON e.dst = b.node
  LEFT JOIN r{k - 1} p ON p.node = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY b.node)"""
        )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT node AS doc_id, round(rank, 9) AS rank FROM r{iters}\n"


def oracle_sql() -> dict[str, str]:
    # the multimodal_decode oracle reads a fixture parquet of expected
    # features — written (idempotently) here so it exists before the driver
    # executes the SQL; content is a pure function of the id range, never of
    # the scale factor
    from nimbus_crawler_spark.sources.media_fixture import (
        write_expected_frames_parquet,
        write_expected_parquet,
        write_expected_resize_parquet,
    )

    write_expected_parquet(_MM_EXPECTED_PATH)
    write_expected_resize_parquet(_MM_RESIZE_PATH)
    write_expected_frames_parquet(_MM_FRAMES_PATH)
    return {
        "frontier_priority_topk": """
SELECT o_orderkey, o_orderpriority FROM orders
ORDER BY o_orderpriority, o_orderdate, o_orderkey LIMIT 100
""",
        "politeness_budget_rank": """
SELECT user_id, event_id, rnk FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rnk
  FROM events) WHERE rnk <= 3
""",
        "seen_antijoin": """
SELECT o_orderkey, o_custkey FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > TIMESTAMP '1998-06-01')
""",
        "content_dedup_first_wins": """
SELECT doc_id, content_hash FROM (
  SELECT doc_id, md5(text) AS content_hash,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents) WHERE rn = 1
""",
        "retry_backoff": """
SELECT event_id, CAST(event_id % 4 AS INTEGER) AS retry_count,
       CAST(greatest(1, ceil(pow(2.0, event_id % 4))) AS BIGINT) AS backoff_rounds
FROM events
""",
        "domain_fanout": """
SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source
""",
        "canonicalize": """
SELECT doc_id,
       'https://host' || (doc_id % 7) || '.example.com/p/' || doc_id ||
       '?a=' || (doc_id % 3) || '&b=' || (doc_id % 5) AS canonical_url
FROM documents
""",
        "object_keys": """
SELECT doc_id,
  'h' || (doc_id % 9) || '.example/p/' || doc_id || '_' ||
    substr(sha256('https://h' || (doc_id % 9) || '.example/p/' || doc_id), 1, 16) || '.html' AS html_key,
  'h' || (doc_id % 9) || '.example/p/' || doc_id || '_' ||
    substr(sha256('https://h' || (doc_id % 9) || '.example/p/' || doc_id), 1, 16) || '.txt' AS text_key
FROM documents
""",
        "robots_gate": """
SELECT doc_id,
       CASE WHEN doc_id % 3 IN (0, 1) THEN false ELSE true END AS allowed,
       2000 AS crawl_delay_ms
FROM documents
""",
        "extract_roundtrip": """
SELECT doc_id, 'D' || doc_id || text || 'n' AS extracted_text,
       1 AS n_links, 'https://docs.example/next' AS first_link
FROM documents
""",
        "hostname_registrable": """
SELECT doc_id,
       'sub' || (doc_id % 4) || '.h' || (doc_id % 6) || '.example.com' AS host,
       'example.com' AS registrable
FROM documents
""",
        "tpch_q1_pricing": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       floor(avg(l_quantity) * 10000 + 0.5) / 10000 AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
        "top_customers": """
SELECT o_custkey AS custkey, c_name, revenue, n_orders FROM (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
  FROM orders GROUP BY o_custkey) r
JOIN customer ON c_custkey = o_custkey
ORDER BY revenue DESC, o_custkey LIMIT 20
""",
        "lineitem_rollup": """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
        "events_sessionize": """
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
  SELECT user_id,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
GROUP BY user_id
""",
        "dedup_exact": """
SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keeper_doc_id
FROM documents GROUP BY md5(text)
""",
        "dedup_minhash_lsh": f"""
WITH {_SHINGLES_CTE.strip()},
perms AS (SELECT unnest(range(0, 16)) AS perm),
sigs AS (
  SELECT doc_id, perm, min(md5(perm || ':' || shingle)) AS sig
  FROM shingles, perms GROUP BY doc_id, perm
),
bands AS (
  SELECT doc_id, CAST(perm // 4 AS INTEGER) AS band,
         md5(string_agg(sig, ',' ORDER BY perm)) AS band_key
  FROM sigs GROUP BY doc_id, CAST(perm // 4 AS INTEGER)
)
SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
""",
        "dedup_minhash_verified": f"""
WITH {_SHINGLES_CTE.strip()},
perms AS (SELECT unnest(range(0, 16)) AS perm),
sigs AS (
  SELECT doc_id, perm, min(md5(perm || ':' || shingle)) AS sig
  FROM shingles, perms GROUP BY doc_id, perm
),
bands AS (
  SELECT doc_id, CAST(perm // 4 AS INTEGER) AS band,
         md5(string_agg(sig, ',' ORDER BY perm)) AS band_key
  FROM sigs GROUP BY doc_id, CAST(perm // 4 AS INTEGER)
),
cands AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list(shingle) AS sh FROM shingles GROUP BY doc_id),
verified AS (
  SELECT c.a, c.b,
    floor((CASE WHEN len(list_distinct(list_concat(x.sh, y.sh))) > 0
      THEN CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh)))
      ELSE 1.0 END) * 1000000 + 0.5) / 1000000 AS jaccard
  FROM cands c JOIN sets x ON x.doc_id = c.a JOIN sets y ON y.doc_id = c.b
)
SELECT a, b, jaccard FROM verified WHERE jaccard >= 0.2
""",
        "dedup_simhash": _simhash_oracle(16),
        "simhash_near_pairs": _simhash_pairs_oracle(16, 4, 3),
        "dedup_ngram_jaccard": f"""
WITH {_SHINGLES_CTE.strip()},
df AS (SELECT shingle, count(*) AS c FROM shingles GROUP BY shingle),
rare AS (SELECT shingle FROM df WHERE c BETWEEN 2 AND 20),
shr AS (SELECT s.doc_id, s.shingle FROM shingles s JOIN rare r USING (shingle)),
cands AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM shr x JOIN shr y USING (shingle) WHERE x.doc_id < y.doc_id
),
sets AS (SELECT doc_id, list(shingle) AS sh FROM shingles GROUP BY doc_id),
verified AS (
  SELECT c.a, c.b,
    floor((CASE WHEN len(list_distinct(list_concat(x.sh, y.sh))) > 0
      THEN CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh)))
      ELSE 1.0 END) * 1000000 + 0.5) / 1000000 AS jaccard
  FROM cands c JOIN sets x ON x.doc_id = c.a JOIN sets y ON y.doc_id = c.b
)
SELECT a, b, jaccard FROM verified WHERE jaccard >= 0.3
""",
        "fingerprints": r"""
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM documents
""",
        "token_counts": r"""
SELECT doc_id,
  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS n_ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
  length(text) AS n_bytes_utf8
FROM documents
""",
        "chunk_documents": r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), s AS (
  SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS start
  FROM t WHERE len(tk) > 0
)
SELECT doc_id,
  CAST(start // 24 AS INT) AS chunk_idx,
  CAST(start AS INT) AS start_token,
  CAST(len(tk[start + 1 : start + 32]) AS INT) AS n_chunk_tokens,
  array_to_string(tk[start + 1 : start + 32], ' ') AS chunk_text
FROM s
""",
        "pack_sequences": r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), s AS (
  SELECT doc_id, tk, unnest(range(0, len(tk), 32)) AS start
  FROM t WHERE len(tk) > 0
), c AS (
  SELECT doc_id,
    CAST(start // 32 AS INT) AS chunk_idx,
    CAST(start AS INT) AS start_token,
    CAST(len(tk[start + 1 : start + 32]) AS INT) AS n_chunk_tokens,
    array_to_string(tk[start + 1 : start + 32], ' ') AS chunk_text
  FROM s
), p AS (
  SELECT *,
    CAST(coalesce(sum(n_chunk_tokens) OVER (
      ORDER BY doc_id, chunk_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
  FROM c
)
SELECT doc_id, chunk_idx, start_token, n_chunk_tokens, chunk_text, token_offset,
  CAST(token_offset // 512 AS BIGINT) AS seq_id,
  CAST(token_offset % 512 AS BIGINT) AS offset_in_seq
FROM p
""",
        "lang_id": r"""
WITH s AS (
  SELECT doc_id,
    len(regexp_extract_all(lower(text), '\bthe\b')) + len(regexp_extract_all(lower(text), '\band\b'))
      + len(regexp_extract_all(lower(text), '\bof\b')) + len(regexp_extract_all(lower(text), '\bis\b'))
      + len(regexp_extract_all(lower(text), '\bwith\b')) AS s_en,
    len(regexp_extract_all(lower(text), '\bder\b')) + len(regexp_extract_all(lower(text), '\bund\b'))
      + len(regexp_extract_all(lower(text), '\bdie\b')) + len(regexp_extract_all(lower(text), '\bist\b'))
      + len(regexp_extract_all(lower(text), '\bmit\b')) AS s_de,
    len(regexp_extract_all(lower(text), '\ble\b')) + len(regexp_extract_all(lower(text), '\bla\b'))
      + len(regexp_extract_all(lower(text), '\bet\b')) + len(regexp_extract_all(lower(text), '\best\b'))
      + len(regexp_extract_all(lower(text), '\bavec\b')) AS s_fr,
    len(regexp_extract_all(lower(text), '\bel\b')) + len(regexp_extract_all(lower(text), '\blos\b'))
      + len(regexp_extract_all(lower(text), '\bes\b')) + len(regexp_extract_all(lower(text), '\bcon\b'))
      + len(regexp_extract_all(lower(text), '\buna\b')) AS s_es
  FROM documents)
SELECT doc_id,
  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es THEN 'fr'
       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
       WHEN s_en >= s_de THEN 'en'
       ELSE 'de' END AS pred_lang,
  greatest(s_en, s_de, s_fr, s_es) AS lang_score
FROM s
""",
        "quality": r"""
WITH m AS (
  SELECT doc_id, text,
    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS n_tokens,
    len(list_distinct(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))) AS n_distinct,
    length(text) AS n_chars_m,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
    len(regexp_extract_all(lower(text), '\bthe\b')) + len(regexp_extract_all(lower(text), '\band\b'))
      + len(regexp_extract_all(lower(text), '\bof\b')) + len(regexp_extract_all(lower(text), '\bis\b'))
      + len(regexp_extract_all(lower(text), '\bwith\b')) AS stopword_hits
  FROM documents)
SELECT doc_id, n_tokens, n_chars_m,
  floor((CASE WHEN n_tokens > 0 THEN CAST(n_chars_m AS DOUBLE) / n_tokens ELSE 0 END) * 10000 + 0.5) / 10000 AS mean_tok_len,
  floor((CASE WHEN n_chars_m > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars_m ELSE 0 END) * 10000 + 0.5) / 10000 AS alpha_ratio,
  floor((CASE WHEN n_chars_m > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_m ELSE 0 END) * 10000 + 0.5) / 10000 AS punct_ratio,
  floor((CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / n_tokens ELSE 0 END) * 10000 + 0.5) / 10000 AS distinct_ratio,
  stopword_hits,
  floor((least(n_tokens / 50.0, 1.0) * 0.3
        + floor((CASE WHEN n_chars_m > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars_m ELSE 0 END) * 10000 + 0.5) / 10000 * 0.3
        + least(floor((CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / n_tokens ELSE 0 END) * 10000 + 0.5) / 10000 * 2, 1.0) * 0.2
        + least(stopword_hits / 5.0, 1.0) * 0.2) * 10000 + 0.5) / 10000 AS quality_score
FROM m
""",
        "repetition": r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents),
g1 AS (SELECT doc_id, unnest(tk) AS g FROM toks),
g2 AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
       FROM toks, unnest(range(1, greatest(len(tk), 1))) AS r(i) WHERE len(tk) >= 2),
g3 AS (SELECT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS g
       FROM toks, unnest(range(1, greatest(len(tk) - 1, 1))) AS r(i) WHERE len(tk) >= 3),
a1 AS (SELECT doc_id, sum(c) AS n, max(c) AS top, count(*) AS d
       FROM (SELECT doc_id, g, count(*) AS c FROM g1 GROUP BY doc_id, g) GROUP BY doc_id),
a2 AS (SELECT doc_id, sum(c) AS n, max(c) AS top, count(*) AS d
       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g) GROUP BY doc_id),
a3 AS (SELECT doc_id, sum(c) AS n, max(c) AS top, count(*) AS d
       FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g) GROUP BY doc_id)
SELECT t.doc_id, len(t.tk) AS n_tokens,
  floor((CASE WHEN coalesce(a1.n, 0) > 0 THEN CAST(a1.top AS DOUBLE) / a1.n ELSE 0 END) * 10000 + 0.5) / 10000 AS top_unigram_frac,
  floor((CASE WHEN coalesce(a2.n, 0) > 0 THEN CAST(a2.top AS DOUBLE) / a2.n ELSE 0 END) * 10000 + 0.5) / 10000 AS top_bigram_frac,
  floor((CASE WHEN coalesce(a2.n, 0) > 0 THEN CAST(a2.n - a2.d AS DOUBLE) / a2.n ELSE 0 END) * 10000 + 0.5) / 10000 AS dup_bigram_frac,
  floor((CASE WHEN coalesce(a3.n, 0) > 0 THEN CAST(a3.top AS DOUBLE) / a3.n ELSE 0 END) * 10000 + 0.5) / 10000 AS top_trigram_frac,
  floor((CASE WHEN coalesce(a3.n, 0) > 0 THEN CAST(a3.n - a3.d AS DOUBLE) / a3.n ELSE 0 END) * 10000 + 0.5) / 10000 AS dup_trigram_frac
FROM toks t
LEFT JOIN a1 USING (doc_id) LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
""",
        # thresholds are floor(rate·2^32) as fixed-width lowercase hex —
        # string comparison ≡ numeric comparison (0.5→80000000,
        # 0.25→40000000, default 0.1→19999999); src0 keep-all, src3 keep-none
        "mixture_sample": r"""
WITH s AS (
  SELECT doc_id, source,
    substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key
  FROM documents)
SELECT doc_id, source, sample_key FROM s
WHERE CASE source
  WHEN 'src0' THEN TRUE
  WHEN 'src1' THEN sample_key < '80000000'
  WHEN 'src2' THEN sample_key < '40000000'
  WHEN 'src3' THEN FALSE
  ELSE sample_key < '19999999' END
""",
        # thresholds are the cumulative fractions as fixed-width hex:
        # floor(0.8*2^32) = 0xcccccccc, floor(0.9*2^32) = 0xe6666666
        "hash_split": r"""
WITH s AS (
  SELECT doc_id,
    substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key
  FROM documents)
SELECT doc_id,
  CASE WHEN sample_key < 'cccccccc' THEN 'train'
       WHEN sample_key < 'e6666666' THEN 'val'
       ELSE 'test' END AS split,
  sample_key
FROM s
""",
        # the distributed rank must agree with a sequential ROW_NUMBER over
        # the same (key, id) total order — bit-exact, any cluster size
        "epoch_shuffle": r"""
SELECT doc_id,
  md5('epoch3:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
  CAST(ROW_NUMBER() OVER (
    ORDER BY md5('epoch3:' || CAST(doc_id AS VARCHAR)), doc_id
  ) - 1 AS BIGINT) AS epoch_pos
FROM documents
""",
        # same 3-token reflow as the Spark gate, then the operator
        # semantics: a line is boilerplate iff it appears (trim-exact) in
        # >= 2 distinct documents; survivors rejoin in original order
        "boilerplate_lines": r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents
), s AS (
  SELECT doc_id, tk, unnest(range(0, len(tk), 3)) AS start
  FROM t WHERE len(tk) > 0
), lines AS (
  SELECT doc_id, CAST(start // 3 AS INT) AS pos,
         array_to_string(tk[start + 1 : start + 3], ' ') AS line
  FROM s
), df AS (
  SELECT line, count(DISTINCT doc_id) AS ldf FROM lines GROUP BY line
), kept AS (
  SELECT l.doc_id, l.pos, l.line FROM lines l JOIN df USING (line)
  WHERE ldf < 2
), tot AS (
  SELECT doc_id, count(*) AS n FROM lines GROUP BY doc_id
)
SELECT t.doc_id,
  coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text_clean,
  CAST(count(k.line) AS INT) AS n_lines_kept,
  CAST(t.n - count(k.line) AS INT) AS n_lines_dropped
FROM tot t LEFT JOIN kept k USING (doc_id)
GROUP BY t.doc_id, t.n
""",
        "stratified_topk": r"""
WITH m AS (
  SELECT doc_id, source,
    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS n_tokens,
    len(list_distinct(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))) AS n_distinct,
    length(text) AS n_chars_m,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    len(regexp_extract_all(lower(text), '\bthe\b')) + len(regexp_extract_all(lower(text), '\band\b'))
      + len(regexp_extract_all(lower(text), '\bof\b')) + len(regexp_extract_all(lower(text), '\bis\b'))
      + len(regexp_extract_all(lower(text), '\bwith\b')) AS stopword_hits
  FROM documents),
s AS (
  SELECT doc_id, source,
    floor((least(n_tokens / 50.0, 1.0) * 0.3
      + floor((CASE WHEN n_chars_m > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars_m ELSE 0 END) * 10000 + 0.5) / 10000 * 0.3
      + least(floor((CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / n_tokens ELSE 0 END) * 10000 + 0.5) / 10000 * 2, 1.0) * 0.2
      + least(stopword_hits / 5.0, 1.0) * 0.2) * 10000 + 0.5) / 10000 AS quality_score
  FROM m),
r AS (
  SELECT doc_id, source, quality_score,
    row_number() OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id) AS "rank"
  FROM s)
SELECT doc_id, source, quality_score, "rank" FROM r WHERE "rank" <= 5
""",
        "term_stats": r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents),
t AS (SELECT doc_id, unnest(tk) AS token FROM toks),
a AS (SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
      FROM t GROUP BY token),
k AS (SELECT * FROM a ORDER BY n_occurrences DESC, token LIMIT 100)
SELECT token, n_occurrences, n_docs,
       row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank
FROM k
""",
        # unigram LM: top_vocab=24, p(t)=cnt/N for kept tokens, one shared
        # OOV event with the leftover mass; avg_nll rounded to 6 dp in BOTH
        # engines (float sum order varies across engines)
        "unigram_lm": r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents),
t AS (SELECT doc_id, unnest(tk) AS token FROM toks),
tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY doc_id, token),
counts AS (SELECT token, sum(tf) AS cnt FROM tf GROUP BY token),
kept AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT 24),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM counts),
km AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_kept FROM kept),
logp AS (SELECT token, ln(CAST(cnt AS DOUBLE) / (SELECT n_total FROM tot)) AS logp FROM kept)
SELECT tf.doc_id,
       CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       round(-sum(tf.tf * coalesce(l.logp,
                 ln(greatest((SELECT n_total FROM tot) - (SELECT n_kept FROM km), 1.0)
                    / (SELECT n_total FROM tot))))
             / sum(tf.tf), 6) AS avg_nll
FROM tf LEFT JOIN logp l USING (token)
GROUP BY tf.doc_id
""",
        "importance_weights": _importance_weights_oracle(top_vocab=24),
        "pagerank": _pagerank_oracle(iters=5),
        "inverted_index": r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents),
t AS (SELECT doc_id, unnest(tk) AS token FROM toks),
tf AS (SELECT token, doc_id, count(*) AS term_freq FROM t GROUP BY token, doc_id),
df AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY token
       HAVING count(*) BETWEEN 2 AND 400),
r AS (SELECT tf.token, df.doc_freq, tf.doc_id, tf.term_freq,
        row_number() OVER (PARTITION BY tf.token
                           ORDER BY tf.term_freq DESC, tf.doc_id) AS posting_rank
      FROM tf JOIN df USING (token))
SELECT token, doc_freq, doc_id, term_freq, posting_rank
FROM r WHERE posting_rank <= 5
""",
        "bpe_pair_counts": r"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents),
p AS (
  SELECT concat_ws(' ', tk[i], tk[i+1]) AS pair
  FROM toks, unnest(range(1, len(tk))) AS r(i)
  WHERE len(tk) >= 2),
a AS (SELECT pair, count(*) AS n_occurrences FROM p GROUP BY pair),
k AS (SELECT * FROM a ORDER BY n_occurrences DESC, pair LIMIT 100)
SELECT pair, n_occurrences,
       row_number() OVER (ORDER BY n_occurrences DESC, pair) AS rank
FROM k
""",
        # BM25: query "table hash merge", k1=1.2, b=0.75, Lucene idf; scores
        # rounded to 6 dp in BOTH engines and the ORDER uses the rounded
        # value (float sum order varies across engines)
        "bm25_topk": r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM toks),
hits AS (
  SELECT doc_id, len(tk) AS dl, t.token AS token, count(*) AS tf
  FROM toks, unnest(tk) AS t(token)
  WHERE t.token IN ('hash', 'merge', 'table')
  GROUP BY doc_id, dl, token),
dfs AS (SELECT token, count(DISTINCT doc_id) AS df FROM hits GROUP BY token),
scored AS (
  SELECT h.doc_id,
         round(sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (h.tf * (1.2 + 1))
                   / (h.tf + 1.2 * (1 - 0.75 + 0.75 * h.dl / s.avgdl))), 6) AS score
  FROM hits h JOIN dfs d USING (token) CROSS JOIN stats s
  GROUP BY h.doc_id)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id) AS rank
FROM scored ORDER BY score DESC, doc_id LIMIT 25
""",
        # per-source quality-score histogram: 20 buckets over [0,1]; the
        # score expression is identical to the `quality` oracle, the bucket
        # arithmetic identical to metric_histogram (w = 0.05 as the same
        # nearest-double in both engines, lo_edge = bucket*w unrounded)
        "quality_histogram": r"""
WITH m AS (
  SELECT source,
    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS n_tokens,
    len(list_distinct(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))) AS n_distinct,
    length(text) AS n_chars_m,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    len(regexp_extract_all(lower(text), '\bthe\b')) + len(regexp_extract_all(lower(text), '\band\b'))
      + len(regexp_extract_all(lower(text), '\bof\b')) + len(regexp_extract_all(lower(text), '\bis\b'))
      + len(regexp_extract_all(lower(text), '\bwith\b')) AS stopword_hits
  FROM documents),
s AS (
  SELECT source,
    floor((least(n_tokens / 50.0, 1.0) * 0.3
          + floor((CASE WHEN n_chars_m > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars_m ELSE 0 END) * 10000 + 0.5) / 10000 * 0.3
          + least(floor((CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / n_tokens ELSE 0 END) * 10000 + 0.5) / 10000 * 2, 1.0) * 0.2
          + least(stopword_hits / 5.0, 1.0) * 0.2) * 10000 + 0.5) / 10000 AS q
  FROM m),
b AS (
  SELECT source,
    CAST(least(greatest(floor((q - 0.0) / CAST(0.05 AS DOUBLE)), 0), 19) AS INT) AS bucket
  FROM s)
SELECT source, bucket,
       CAST(0.0 AS DOUBLE) + bucket * CAST(0.05 AS DOUBLE) AS lo_edge,
       count(*) AS n
FROM b GROUP BY source, bucket
""",
        "curation": r"""
WITH m AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk,
    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS n_tokens,
    len(list_distinct(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))) AS n_distinct,
    length(text) AS n_chars_m,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    len(regexp_extract_all(lower(text), '\bthe\b')) + len(regexp_extract_all(lower(text), '\band\b'))
      + len(regexp_extract_all(lower(text), '\bof\b')) + len(regexp_extract_all(lower(text), '\bis\b'))
      + len(regexp_extract_all(lower(text), '\bwith\b')) AS s_en,
    len(regexp_extract_all(lower(text), '\bder\b')) + len(regexp_extract_all(lower(text), '\bund\b'))
      + len(regexp_extract_all(lower(text), '\bdie\b')) + len(regexp_extract_all(lower(text), '\bist\b'))
      + len(regexp_extract_all(lower(text), '\bmit\b')) AS s_de,
    len(regexp_extract_all(lower(text), '\ble\b')) + len(regexp_extract_all(lower(text), '\bla\b'))
      + len(regexp_extract_all(lower(text), '\bet\b')) + len(regexp_extract_all(lower(text), '\best\b'))
      + len(regexp_extract_all(lower(text), '\bavec\b')) AS s_fr,
    len(regexp_extract_all(lower(text), '\bel\b')) + len(regexp_extract_all(lower(text), '\blos\b'))
      + len(regexp_extract_all(lower(text), '\bes\b')) + len(regexp_extract_all(lower(text), '\bcon\b'))
      + len(regexp_extract_all(lower(text), '\buna\b')) AS s_es
  FROM documents),
g2 AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
       FROM m, unnest(range(1, greatest(len(tk), 1))) AS r(i) WHERE len(tk) >= 2),
a2 AS (SELECT doc_id, sum(c) AS n, max(c) AS top
       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g) GROUP BY doc_id),
f AS (
  SELECT m.doc_id,
    CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
         WHEN s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es THEN 'fr'
         WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
         WHEN s_en >= s_de THEN 'en'
         ELSE 'de' END AS pred_lang,
    floor((least(n_tokens / 50.0, 1.0) * 0.3
          + floor((CASE WHEN n_chars_m > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars_m ELSE 0 END) * 10000 + 0.5) / 10000 * 0.3
          + least(floor((CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / n_tokens ELSE 0 END) * 10000 + 0.5) / 10000 * 2, 1.0) * 0.2
          + least(s_en / 5.0, 1.0) * 0.2) * 10000 + 0.5) / 10000 AS quality_score,
    floor((CASE WHEN coalesce(a2.n, 0) > 0 THEN CAST(a2.top AS DOUBLE) / a2.n ELSE 0 END) * 10000 + 0.5) / 10000 AS top_bigram_frac,
    md5(regexp_replace(lower(trim(m.text)), '\s+', ' ', 'g')) AS fingerprint
  FROM m LEFT JOIN a2 USING (doc_id)),
k AS (SELECT * FROM f
      WHERE pred_lang = 'en' AND quality_score >= 0.55 AND top_bigram_frac <= 0.6)
SELECT doc_id, pred_lang, quality_score, top_bigram_frac, fingerprint
FROM (SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn FROM k)
WHERE rn = 1
""",
        # connected components as transitive-closure min over the SAME pair
        # set the Spark query clusters. The closure materializes O(sum |C|^2)
        # reachability rows — fine at oracle scale, and exactly why the
        # engine side uses hook+jump label propagation instead (graph.py).
        "dedup_clusters": f"""
WITH RECURSIVE pairs AS ({_simhash_pairs_oracle(16, 2, 1)}),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_keeper
FROM cc
""",
        # survivor set over the SAME pair graph: documents minus non-keepers,
        # keepers carrying their cluster size, singletons passing at size 1
        "dedup_survivors": f"""
WITH RECURSIVE pairs AS ({_simhash_pairs_oracle(16, 2, 1)}),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u),
sizes AS (SELECT cluster_id, count(*) AS n FROM cc GROUP BY cluster_id)
SELECT d.doc_id, coalesce(s.n, 1) AS cluster_size
FROM documents d
LEFT JOIN cc c ON d.doc_id = c.doc_id
LEFT JOIN sizes s ON c.cluster_id = s.cluster_id
WHERE c.doc_id IS NULL OR c.doc_id = c.cluster_id
""",
        "decontaminate": r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
  FROM toks, unnest(range(1, greatest(len(tk) - 1, 1))) AS r(i)
  WHERE len(tk) >= 3),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 25 = 0)
SELECT s.doc_id, count(*) AS n_shared_ngrams
FROM sh s JOIN ev USING (shingle)
WHERE s.doc_id % 25 <> 0
GROUP BY s.doc_id
""",
        "pii_scrub": r"""
WITH inj AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 4 = 0
            THEN ' call +1-555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END AS t
  FROM documents)
SELECT doc_id,
  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
  len(regexp_extract_all(
        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
  md5(regexp_replace(
        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_fp
FROM inj
""",
        "ann_cosine_topk": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS score
  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
""",
        "ann_bucketed": """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)
       + (CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END)
       + (CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END) AS bucket
  FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS score
  FROM e JOIN q USING (bucket) WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 3
""",
        "dedup_embedding_cosine": _embed_band_oracle(10, 4, 0.25),
        "ann_ivf": """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM v ORDER BY vec_id LIMIT 16),
asgn AS (
  SELECT vec_id, v, cell FROM (
    SELECT a.vec_id, a.v, c.cid AS cell,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.v, c.cv) /
                            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                      c.cid) AS rn
    FROM v a CROSS JOIN cents c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv, cell FROM asgn WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id, a.cell,
         round(list_dot_product(q.qv, a.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.v, a.v))), 6) AS score
  FROM asgn a JOIN q USING (cell) WHERE a.vec_id <> q.query_id)
SELECT query_id, neighbor_id, cell, rank, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 3
""",
        "embedding_norms": """
WITH e AS (
  SELECT label, round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS nrm
  FROM embeddings)
SELECT label, count(*) AS n, round(avg(nrm), 4) AS avg_norm,
       round(min(nrm), 4) AS min_norm, round(max(nrm), 4) AS max_norm
FROM e GROUP BY label
""",
        # raw byte-stats decode path over the documents-derived media table:
        # payload = utf-8 text bytes (the fixture is ASCII, so ascii(char) IS
        # the byte value — verified octet_length(encode(text)) = length(text))
        "multimodal_raw_stats": """
WITH m AS (
  SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         text
  FROM documents),
chars AS (
  SELECT media_id, ascii(ch) // 16 AS bin
  FROM m, unnest(split(text, '')) AS u(ch)),
binned AS (
  SELECT media_id, bin, count(*) AS n FROM chars GROUP BY media_id, bin),
tot AS (SELECT media_id, sum(n) AS nb FROM binned GROUP BY media_id),
ent AS (
  SELECT b.media_id,
         floor(sum(-(CAST(n AS DOUBLE) / nb) * log2(CAST(n AS DOUBLE) / nb)) * 1000000 + 0.5) / 1000000 AS byte_entropy
  FROM binned b JOIN tot USING (media_id) GROUP BY b.media_id),
dense AS (
  SELECT m.media_id, g.bin, coalesce(b.n, 0) AS n
  FROM m CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) g
  LEFT JOIN binned b ON b.media_id = m.media_id AND b.bin = g.bin),
hist AS (
  SELECT media_id, string_agg(CAST(n AS VARCHAR), ',' ORDER BY bin) AS hist_csv
  FROM dense GROUP BY media_id)
SELECT m.media_id, m.kind, 'raw' AS format,
       CAST(length(m.text) AS BIGINT) AS n_bytes,
       ent.byte_entropy, hist.hist_csv,
       CAST(CASE WHEN m.kind = 'image' THEN 1
                 ELSE greatest(1, length(m.text) // 256) END AS INTEGER) AS frames_sampled
FROM m JOIN ent USING (media_id) JOIN hist USING (media_id)
""",
        # auto-codec feature extraction over the documents-derived media
        # table: ASCII text bytes can never satisfy the BMP/WAV header
        # checks (any "BM"-prefixed text yields an ASCII-valued data_off
        # ≥ 0x20202020 > payload length), so auto ≡ raw on this input and
        # the raw byte-statistics SQL is the exact oracle
        "multimodal_features": """
WITH m AS (
  SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         text
  FROM documents),
chars AS (
  SELECT media_id, ascii(ch) // 16 AS bin
  FROM m, unnest(split(text, '')) AS u(ch)),
binned AS (
  SELECT media_id, bin, count(*) AS n FROM chars GROUP BY media_id, bin),
tot AS (SELECT media_id, sum(n) AS nb FROM binned GROUP BY media_id),
ent AS (
  SELECT b.media_id,
         floor(sum(-(CAST(n AS DOUBLE) / nb) * log2(CAST(n AS DOUBLE) / nb)) * 1000000 + 0.5) / 1000000 AS byte_entropy
  FROM binned b JOIN tot USING (media_id) GROUP BY b.media_id)
SELECT m.media_id, m.kind,
       CAST(length(m.text) AS BIGINT) AS n_bytes,
       ent.byte_entropy,
       CAST(CASE WHEN m.kind = 'image' THEN 1
                 ELSE greatest(1, length(m.text) // 256) END AS INTEGER) AS frames_sampled
FROM m JOIN ent USING (media_id)
""",
        # full BMP/WAV/raw decode path vs the independently-computed
        # expected-feature fixture (sources/media_fixture.py); the fixture
        # parquet is written by oracle_sql() above before this SQL runs
        "multimodal_decode": f"""
SELECT media_id, kind, format, n_bytes, byte_entropy, hist_csv,
       frames_sampled, width, height, sample_rate, duration_s
FROM read_parquet('{_MM_EXPECTED_PATH}')
""",
        # block-mean resize grids recomputed with plain-Python loops
        "multimodal_resize": f"""
SELECT media_id, src_w, src_h, out_w, out_h, pixels_csv, mean_lum
FROM read_parquet('{_MM_RESIZE_PATH}')
""",
        # uniform frame samples recomputed with plain-Python math
        "multimodal_frame_sample": f"""
SELECT media_id, kind, format, n_frames, frame_idx, frame_val, window_mean
FROM read_parquet('{_MM_FRAMES_PATH}')
""",
    }
