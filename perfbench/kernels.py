"""``functions`` layer: single-process kernel throughput on a sample of the
workload's own pages, and the share of the Spark parse stage that is not
kernel time (Arrow transfer, pandas hop, scheduling)."""

from __future__ import annotations

import time

_MIN_SECONDS = 0.5


def _rate(fn, items: list) -> float:
    """Items per second of ``fn`` over ``items``, repeated for at least
    ``_MIN_SECONDS``."""
    n = 0
    t0 = time.perf_counter()
    while True:
        for it in items:
            fn(it)
        n += len(items)
        elapsed = time.perf_counter() - t0
        if elapsed >= _MIN_SECONDS:
            return n / elapsed


def kernel_rates(pages: dict[str, dict], spans, sample: int = 300) -> dict[str, float]:
    from nimbus_crawler_spark.functions.extract import parse_page
    from nimbus_crawler_spark.functions.robots import robots_allowed
    from nimbus_crawler_spark.functions.urlnorm import canonicalize, parse_url

    html_pages = [
        p for u, p in sorted(pages.items())
        if p["lang"] == "en" and not u.endswith("/robots.txt")
    ][:sample]
    robots = {
        u[len("https://"):-len("/robots.txt")]: p["html"].decode("utf-8", errors="replace")
        for u, p in pages.items()
        if u.endswith("/robots.txt")
    }
    links = [link for p in html_pages for link in (parse_page(p["html"], p["url"])[1] or [])]
    checks = []
    for link in links:
        pu = parse_url(link)
        if pu is not None and pu.hostname in robots:
            checks.append((robots[pu.hostname], pu.request_uri()))
    out = {}
    with spans.span("kernel.parse_page"):
        out["parse_page_per_s"] = _rate(lambda p: parse_page(p["html"], p["url"]), html_pages)
    with spans.span("kernel.canonicalize"):
        out["canonicalize_per_s"] = _rate(canonicalize, links)
    with spans.span("kernel.robots_allowed"):
        out["robots_allowed_per_s"] = _rate(lambda c: robots_allowed(*c), checks) if checks else 0.0
    return out


def parse_stage(spark, pages_path: str, cores: int, kernel_pages_per_s: float, spans) -> dict[str, float]:
    """``plans.bench.bench_parse_stage`` (scan -> Arrow -> parse UDF -> agg)
    set against the kernel rate times the cores: the remainder is the share
    of the stage spent outside the kernel."""
    from nimbus_crawler_spark.plans.bench import bench_parse_stage

    with spans.span("kernel.parse_stage"):
        st = bench_parse_stage(spark, pages_path)
    stage_rate = st["pages"] / st["wall_sec"] if st["wall_sec"] else 0.0
    ideal = kernel_pages_per_s * cores
    return {
        "parse_stage_per_s": stage_rate,
        "parse_boundary_share": 1.0 - stage_rate / ideal if ideal else 0.0,
    }
