"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; the bucketed variant is
the scale path (search only within a deterministic sign-pattern bucket —
an LSH-family partition that turns the O(n·q) cross join into per-bucket
joins). Dot products stay JVM-side via ``aggregate``/``zip_with`` higher-order
functions — no Python, no UDF, whole-stage codegen throughout.

At 100 TB scale: queries are broadcast (q ≪ n); the corpus side streams
through the join without a shuffle; the per-query top-k window is bounded by
the broadcast row count. The bucketed variant adds one shuffle on the bucket
key and prunes the candidate set by ~2^bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nimbus_crawler_spark.operators.textdedup import _band_pairs


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def topk_per_group(
    scored: DataFrame, group_col: str, order_cols: list, k: int, rank_name: str = "rank"
) -> DataFrame:
    """Exact per-group top-k with bounded task buffers and ONE exchange.

    The mega-group window hazard (a bare window buffering every candidate of
    a group — for brute-force ANN the group is the entire corpus) does NOT
    apply to rank-filtered windows on Spark ≥ 3.5: Catalyst's
    ``InferWindowGroupLimit`` (SPARK-37099) plants a map-side
    ``WindowGroupLimit`` BELOW the exchange, pruning each input partition to
    its per-group top-k before any row hits the wire, and a reduce-side one
    above it — so the window task buffers ≤ input_partitions·k rows per
    group, never the whole group. That is exactly the hand-rolled
    two-phase (rank within (group, partition) → re-rank survivors) this
    helper previously implemented — with one exchange instead of two, and
    the big scored intermediate pruned BEFORE its only shuffle instead of
    after. ``tests/test_operators.py`` pins the map-side WindowGroupLimit
    in the physical plan so a regression (or an optimizer behavior change)
    fails loudly rather than silently reintroducing the OOM shape.

    Requires a rank-like function with a ``rank <= k`` predicate directly
    above the window (the pattern the rule matches) and a deterministic
    total order (unique tie-break in ``order_cols``)."""
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return scored.withColumn(rank_name, F.row_number().over(w)).where(
        F.col(rank_name) <= k
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query: (query_id, neighbor_id, rank, score).

    Self-matches are excluded. Scores rounded to 6 decimals for stable
    cross-engine comparison; ties broken by neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
    )
    return topk_per_group(
        scored, "query_id", [F.desc("score"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "rank", "score")


def sign_bucket(vec: Column, bits: int = 8, offset: int = 0) -> Column:
    """Deterministic LSH-style bucket: sign pattern of ``bits`` components
    starting at ``offset`` packed into an integer (component ≥ 0 ⇒ bit set)."""
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.when(
            F.element_at(vec, offset + i + 1) >= 0, F.lit(2 ** i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return out


def cosine_topk_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.

    Recall is traded for a ~2^bits candidate prune; exactness within the
    bucket is preserved, so results are deterministic and oracle-checkable.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
    )
    return topk_per_group(
        scored, "query_id", [F.desc("score"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "rank", "score")


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.25,
    bits: int = 10,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, cosine ≥ threshold).

    Banded sign-LSH candidate generation — band j's key is the sign pattern
    of components [j·bits, (j+1)·bits); pairs sharing ≥1 band key are
    candidates (bucket self-join, never all-pairs: the bucket fan-out is
    bounded by 2^bits per band) — then exact cosine verification on the
    candidate set only. The standard random-hyperplane LSH trade: pairs whose
    signs differ in every band are missed; recall rises with ``bands`` and
    falls with ``bits``. All JVM-side expressions, deterministic, and the
    oracle mirrors the banded algorithm exactly. The bucket self-join is the
    dedup operators' ``_band_pairs`` (each candidate pair emitted once)."""
    v = embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    keys = [sign_bucket(F.col("_v"), bits, offset=j * bits) for j in range(bands)]
    cand = _band_pairs(v, "_id", keys)
    pa = v.select(F.col("_id").alias("a"), F.col("_v").alias("_va"))
    pb = v.select(F.col("_id").alias("b"), F.col("_v").alias("_vb"))
    return (
        cand.join(pa, "a")
        .join(pb, "b")
        .withColumn("cosine", F.round(cosine(F.col("_va"), F.col("_vb")), 6))
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: coarse quantizer cells + single-cell probe (nprobe=1).

    The coarse centroids are the ``nlist`` lowest-id corpus vectors — a
    deterministic, oracle-checkable stand-in for k-means centroids (the
    assignment/probe machinery, which is what matters at scale, is
    identical; swapping in trained centroids changes only the ``cents``
    frame). Every vector is assigned to its max-cosine centroid (scores
    rounded to 6 dp before the argmax so FP summation-order differences
    can't flip assignments across engines; ties break by centroid id);
    queries probe only their own cell, exact within it.

    At 100 TB: centroids broadcast, corpus assignment is one map-side pass,
    the probe join shuffles on the cell id — candidates per query are
    bounded by the cell size (~n/nlist), not the corpus."""
    cents = F.broadcast(
        corpus.orderBy(id_col)
        .limit(nlist)
        .select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv"))
    )

    def assign(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        scored = (
            df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec))
            .crossJoin(cents)
            .withColumn("_cs", F.round(cosine(F.col(out_vec), F.col("_cv")), 6))
        )
        w = Window.partitionBy(out_id).orderBy(F.desc("_cs"), F.asc("_cid"))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(out_id, out_vec, F.col("_cid").alias("cell"))
        )

    c = assign(corpus, "neighbor_id", "_nv")
    q = assign(queries, "query_id", "_qv")
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", F.round(cosine(F.col("_qv"), F.col("_nv")), 6))
    )
    return topk_per_group(
        scored, "query_id", [F.desc("score"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "cell", "rank", "score")


def norm_stats_by_label(
    embeddings: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label embedding statistics: (label, n, avg_norm, min_norm, max_norm)."""
    withn = embeddings.withColumn("_norm", F.round(_norm(F.col(vec_col)), 6))
    return (
        withn.groupBy(label_col)
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("_norm"), 4).alias("avg_norm"),
            F.round(F.min("_norm"), 4).alias("min_norm"),
            F.round(F.max("_norm"), 4).alias("max_norm"),
        )
    )
