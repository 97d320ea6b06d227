"""Seeded input generators. Every input the program sees is made here from
``--seed``; the same seed gives byte-identical inputs.

Sizes are fixed per workload (not per seed), so run-to-run spread measures
the program, not a changing amount of work.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

# mega_round: the r6 mega-round page shape (fanout, host skew, long
# paragraphs, heavy DOM), at a frontier size one benchmark run can afford
MEGA_HOSTS = 700
MEGA_PAGES_PER_HOST = 10
MEGA_SHAPE = dict(fanout=4, zipf_s=0.12, para_words=(60, 160), heavy_dom=40)

# crawl_loop: small paced corpus; round_ms keeps every round on the
# politeness rank path (below the fast-path quantum). No dead links and no
# binary rows, so retry backoff cannot add a seed-dependent number of rounds:
# every seed crawls in the same number of rounds.
LOOP_HOSTS = 40
LOOP_PAGES_PER_HOST = 6
LOOP_SHAPE = dict(fanout=5, dead_link_prob=0.0, binary_rows=0)
LOOP_ROUND_MS = 2000
LOOP_MAX_DEPTH = 2

# near_dup: a documents table shaped like the sf0.1 one (30-word vocabulary,
# 10..100 words per doc, 1 in 20 docs an exact copy of another plus " dup")
DOCS_N = 1000
DOCS_WARMUP_N = 100
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


@dataclass
class PagesInput:
    pages_path: str
    seeds_text: str
    pages: dict[str, dict]          # url -> page row (url, warc_ts, html, text, lang)
    digest: str                     # content hash of the generated corpus


def _corpus_digest(pages: list[dict], seeds_text: str) -> str:
    h = hashlib.sha256(seeds_text.encode())
    for p in pages:
        h.update(p["url"].encode())
        h.update(p["html"] if isinstance(p["html"], bytes) else p["html"].encode())
    return h.hexdigest()[:20]


def make_pages(seed: int, out_dir: str, n_hosts: int, pages_per_host: int, **shape) -> PagesInput:
    """Generate a corpus with ``sources.corpus.make_corpus`` and write it as
    the parquet pages table the engine reads."""
    from nimbus_crawler_spark.plans.bench import _write_pages_parquet
    from nimbus_crawler_spark.sources.corpus import make_corpus

    corpus = make_corpus(
        seed=seed,
        n_hosts=n_hosts,
        pages_per_host=pages_per_host,
        dup_content_pairs=max(2, n_hosts // 50),
        **{"binary_rows": max(1, n_hosts // 100), **shape},
    )
    _write_pages_parquet(corpus, out_dir)
    return PagesInput(
        pages_path=out_dir,
        seeds_text=corpus.seeds_text,
        pages={p["url"]: p for p in corpus.pages},
        digest=_corpus_digest(corpus.pages, corpus.seeds_text),
    )


def make_documents(seed: int, out_dir: str, n_docs: int = DOCS_N) -> str:
    """Write ``<out_dir>/documents.parquet`` (the table the dedup queries read)
    and return a digest of its content that does not depend on row order.

    Texts and doc_ids are the same for every seed (drawn with the sf
    tables' fixed generator seed, 42), so every seed has the same
    near-duplicate graph and the same number of connected-components
    iterations; the seed shuffles the row order, and with it how rows fall
    into scan splits and tasks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fixed = random.Random(42)
    texts = [
        " ".join(fixed.choice(_VOCAB) for _ in range(fixed.randint(10, 100)))
        for _ in range(n_docs)
    ]
    for i in fixed.sample(range(n_docs), n_docs // 20):
        texts[i] = texts[fixed.randrange(n_docs)] + " dup"
    ids = list(range(n_docs))
    fixed.shuffle(ids)
    order = list(range(n_docs))
    random.Random(seed).shuffle(order)
    table = pa.table(
        {
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": [texts[i] for i in order],
            "lang": [_LANGS[i % len(_LANGS)] for i in order],
            "source": [f"src{i % 20}" for i in order],
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    h = hashlib.sha256()
    for doc_id, text in sorted(zip(ids, texts)):
        h.update(f"{doc_id}\t{text}\n".encode())
    return h.hexdigest()[:20]
