"""Vectorized pandas-UDF wrappers around the pure kernels.

Per BASELINE.json input_hint: *no per-row Python* — every Python-side kernel
crosses the JVM↔Python boundary as an Arrow batch. Hot JVM-side expressions
(sha2, xxhash64, explode, window ranks) stay in whole-stage codegen and never
appear here (SURVEY.md §4.3.5).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from . import extract as _extract
from . import keys as _keys
from . import robots as _robots
from . import urlnorm as _urlnorm


@pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: _urlnorm.canonicalize(u) if u is not None else None)


@pandas_udf(T.StringType())
def hostname_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: _urlnorm.hostname(u) if u is not None else None)


@pandas_udf(T.StringType())
def registrable_domain_udf(hosts: pd.Series) -> pd.Series:
    return hosts.map(lambda h: _urlnorm.registrable_domain(h) if h is not None else None)


# Worker-global robots parse cache: bodies repeat per host across Arrow
# batches and across rounds; python workers are reused, so memoizing at
# module scope parses each distinct robots.txt once per worker process.
_ROBOTS_CACHE: dict[str, _robots.RobotsData] = {}
_ROBOTS_CACHE_MAX = 100_000


@pandas_udf(T.BooleanType())
def robots_allowed_udf(bodies: pd.Series, urls: pd.Series) -> pd.Series:
    """Per-URL robots gate (F5)."""

    def one(body: str | None, url: str | None) -> bool:
        if not body:
            return True
        p = _urlnorm.parse_url(url) if url else None
        request_uri = p.request_uri() if p else (url or "/")
        data = _ROBOTS_CACHE.get(body)
        if data is None:
            if len(_ROBOTS_CACHE) >= _ROBOTS_CACHE_MAX:
                _ROBOTS_CACHE.clear()
            data = _robots.parse_robots(body)
            _ROBOTS_CACHE[body] = data
        return data.test_agent(request_uri, _robots.CRAWLER_NAME)

    return pd.Series([one(b, u) for b, u in zip(bodies, urls)], dtype=bool)


@pandas_udf(T.IntegerType())
def crawl_delay_udf(bodies: pd.Series) -> pd.Series:
    return pd.Series(
        [_robots.extract_crawl_delay_ms(b) for b in bodies], dtype="int32"
    )


_PARSE_RESULT = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
    ]
)


@pandas_udf(_PARSE_RESULT)
def parse_page_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """One tree parse per page: ExtractURLs then ExtractText, the reference's
    parse stage order (parser.go:131-144). Dominant UDF cost — Arrow batch
    size is tuned in session.py."""
    texts: list[str | None] = []
    links: list[list[str] | None] = []
    for h, u in zip(html, url):
        if h is None:
            texts.append(None)
            links.append(None)
            continue
        text, lk = _extract.parse_page(h, u)
        texts.append(text)
        links.append(lk)
    return pd.DataFrame({"text": texts, "links": links})


@pandas_udf(T.StringType())
def html_key_udf(urls: pd.Series) -> pd.Series:
    return urls.map(_keys.html_key)


@pandas_udf(T.StringType())
def text_key_udf(urls: pd.Series) -> pd.Series:
    return urls.map(_keys.text_key)
