"""Crawl driver: seed round + batch-iterative round loop + resume.

Entry-point parity (SURVEY.md §3): ``seed`` ≙ ``cmd/seeder``, the round loop
≙ ``cmd/crawler`` + ``cmd/parser`` running to frontier exhaustion. Resume
restarts from the latest committed round marker; a killed half-written round
leaves only uncommitted version directories, which the next run ignores —
the batch analog of XAUTOCLAIM redelivery + the stale-'crawling' reset
(consumer.go:112-162, models/url.go ResetStaleCrawlingURLs).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..schemas import DOMAINS_SCHEMA, URL_STATE_SCHEMA
from ..sources.seeds import parse_seed_lines
from ..store import SnapshotStore
from .round import fetched_ok, run_round

SEED_ROUND = -1


@dataclass
class CrawlSummary:
    rounds_run: int = 0
    fetched_total: int = 0
    round_stats: list[dict] = field(default_factory=list)


def seed(spark: SparkSession, store: SnapshotStore, seeds_text: str, cfg: CrawlConfig) -> int:
    """Seed round (seeder.go:18-81): verbatim URLs, file order, depth 0."""
    rows = [
        (
            url,
            0,  # url_hash placeholder, recomputed below
            0,
            host,
            0,
            i,
            "pending",
            0,
            0,
            None,
            None,
            None,
            SEED_ROUND,
        )
        for i, (url, host) in enumerate(parse_seed_lines(seeds_text))
    ]
    df = spark.createDataFrame(rows, URL_STATE_SCHEMA)
    df = df.withColumn("url_hash", F.xxhash64("url")).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.state_buckets)).cast("int")
    )
    store.commit(
        SEED_ROUND,
        snapshots={
            "url_state": df,
            "domains": spark.createDataFrame([], DOMAINS_SCHEMA),
        },
        meta={
            "seeds": len(rows),
            "fetched_total": 0,
            "frontier_pending_after": len(rows),
            "config_hash": cfg.config_hash(),
        },
    )
    return len(rows)


def crawl(
    spark: SparkSession,
    warehouse: str,
    pages: DataFrame,
    seeds_text: str | None = None,
    cfg: CrawlConfig = CrawlConfig(),
    max_rounds: int = 200,
    resume: bool = False,
) -> CrawlSummary:
    """Run the crawl to frontier exhaustion (or ``max_rounds``).

    ``resume=True`` continues from the latest committed round of an existing
    warehouse; otherwise ``seeds_text`` is required and a fresh seed round is
    committed first.
    """
    store = SnapshotStore(spark, warehouse)
    summary = CrawlSummary()

    last = store.latest_commit()
    if resume and last is not None:
        # Guard: with bucket-partial MERGE, resuming under a different
        # state_buckets would silently duplicate rows (the star segment still
        # serves the old bucket of a row while the merge segment serves its
        # new bucket). Under full-snapshot rewrites a config change was
        # benign; under MERGE it must fail loudly.
        prior_hash = last["meta"].get("config_hash")
        if prior_hash is not None and prior_hash != cfg.config_hash():
            raise ValueError(
                "resume config mismatch: warehouse was committed with "
                f"config_hash={prior_hash}, resume requested with "
                f"{cfg.config_hash()} — resuming with a changed config "
                "(esp. state_buckets) corrupts bucket-partial state"
            )
        start_round = last["round"] + 1
        ft = last["meta"].get("fetched_total")
        if ft is None:
            # marker without the key (older format / externally seeded
            # warehouse): defaulting to 0 would let run_round skip the
            # cross-round content-dedup scan on the strength of an invariant
            # ("parsed row ⇒ fetched_total > 0") the marker can't vouch for —
            # derive the truth from state instead (one scan, resume-only)
            ft = store.read("url_state").where(fetched_ok()).count()
        fetched_total = int(ft)
    else:
        if seeds_text is None:
            raise ValueError("seeds_text required for a fresh crawl")
        seed(spark, store, seeds_text, cfg)
        start_round = 0
        fetched_total = 0

    r = start_round
    while r < start_round + max_rounds:
        stats = run_round(spark, store, pages, cfg, r, fetched_total)
        summary.round_stats.append(stats)
        fetched_total = stats["fetched_total"]
        summary.rounds_run += 1
        # stop as soon as the frontier is known-drained (derived metric from
        # this round's commit — saves the trailing no-op round); fall back to
        # the round-start view for markers without the derived key
        if stats.get("frontier_pending_after", stats["frontier_pending"]) == 0:
            break
        # fast-forward over provably-empty wait rounds (all pending URLs in
        # backoff) — the oracle `continue`s through them; the engine skips
        # straight to the first round with eligible work
        r = max(r + 1, stats.get("skip_to", r + 1))
    summary.fetched_total = fetched_total
    return summary
