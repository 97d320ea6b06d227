"""Correctness checks. Expected results come from independent references —
the sequential crawl simulator, the corpus's golden text, DuckDB running
``oracle_sql()`` and a union-find — and are computed once per input hash and
cached on disk, outside every timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

NEAR_DUP_QUERIES = (
    "dedup_clusters",
    "dedup_survivors",
    "dedup_minhash_lsh",
    "dedup_minhash_verified",
    "dedup_ngram_jaccard",
)
_CC_QUERIES = ("dedup_clusters", "dedup_survivors")


class ResultCache:
    """JSON results keyed by a hash of the inputs that determine them."""

    def __init__(self, root: Path) -> None:
        self.root = root

    def get_or_compute(self, kind: str, key: str, compute):
        path = self.root / f"{kind}-{hashlib.sha256(key.encode()).hexdigest()[:24]}.json"
        if path.exists():
            return json.loads(path.read_text())
        value = compute()
        self.root.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        tmp.write_text(json.dumps(value))
        os.replace(tmp, path)
        return value


# --------------------------------------------------------------------------
# digests (the `_force` digest of bench_extra.py: count + xor of xxhash64
# over every output column)


def force_digest(df) -> list[int]:
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
    ).collect()[0]
    return [int(row["n"]), int(row["h"] or 0)]


def rows_digest(spark, rows: list[tuple], schema) -> list[int]:
    """The same digest over reference rows, typed as the program's output."""
    return force_digest(spark.createDataFrame(rows, schema))


def compare_digests(actual: dict[str, list[int]], expected: dict[str, list[int]]) -> list[str]:
    """Names of the entries whose digest differs from the expected one (an
    entry missing from ``actual``, or None because it raised, counts as
    differing)."""
    return [q for q in expected if list(actual.get(q) or []) != list(expected[q])]


# --------------------------------------------------------------------------
# near_dup references


def union_find_clusters(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """doc_id -> minimum doc_id of its connected component, for every id
    that appears in a pair."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def cc_reference_rows(pairs: list[tuple[int, int]], doc_ids: list[int]) -> dict[str, list[tuple]]:
    """Reference rows for ``dedup_clusters`` (doc_id, cluster_id,
    cluster_size, is_keeper) and ``dedup_survivors`` (doc_id, cluster_size)."""
    label = union_find_clusters(pairs)
    size: dict[int, int] = {}
    for c in label.values():
        size[c] = size.get(c, 0) + 1
    clusters = [(d, c, size[c], d == c) for d, c in sorted(label.items())]
    survivors = [
        (d, size[label[d]] if d in label else 1)
        for d in sorted(doc_ids)
        if d not in label or label[d] == d
    ]
    return {"dedup_clusters": clusters, "dedup_survivors": survivors}


def near_dup_reference_rows(docs_dir: str, work_dir: Path) -> dict[str, list[tuple]]:
    """DuckDB over the generated documents table: ``oracle_sql()`` for the
    MinHash / n-gram entries, and a union-find over the oracle's SimHash
    pair set for the two connected-components entries (the recursive-CTE
    oracle for those costs minutes at this size)."""
    import duckdb

    import __spark_entry__ as entry

    # oracle_sql() writes its multimodal fixtures as a side effect; keep them
    # inside the benchmark's work directory
    for attr in ("_MM_EXPECTED_PATH", "_MM_RESIZE_PATH", "_MM_FRAMES_PATH"):
        setattr(entry, attr, str(work_dir / Path(getattr(entry, attr)).name))
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/documents.parquet'"
        )
        out = {
            q: [tuple(r) for r in con.execute(oracles[q]).fetchall()]
            for q in NEAR_DUP_QUERIES
            if q not in _CC_QUERIES
        }
        pairs = con.execute(
            f"SELECT a, b FROM ({entry._simhash_pairs_oracle(16, 2, 1)})"
        ).fetchall()
        doc_ids = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
    finally:
        con.close()
    out.update(cc_reference_rows(pairs, doc_ids))
    return out


def near_dup_expected(spark, schemas: dict, docs_dir: str, docs_digest: str, work_dir: Path,
                      cache: ResultCache) -> dict[str, list[int]]:
    """Reference digest per entry, typed by the program's output ``schemas``."""

    def compute():
        rows = near_dup_reference_rows(docs_dir, work_dir)
        return {q: rows_digest(spark, rows[q], schemas[q]) for q in NEAR_DUP_QUERIES}

    return cache.get_or_compute("near_dup", docs_digest, compute)


# --------------------------------------------------------------------------
# crawl references


def crawl_expected(pages: dict[str, dict], seeds_text: str, cfg, key: str,
                   cache: ResultCache) -> dict:
    """The sequential simulator's crawl: order, final statuses, text."""
    from nimbus_crawler_spark.sim.oracle import simulate

    def compute():
        o = simulate(pages, seeds_text, cfg)
        return {
            "order": [[c["crawl_seq"], c["round"], c["url"], c["depth"]] for c in o.crawl_order],
            "status": {u: s["status"] for u, s in o.url_state.items()},
            "text": {u: e["text"] for u, e in o.extracted.items()},
        }

    return cache.get_or_compute("crawl", f"{key}|{cfg.config_hash()}", compute)


def compare_crawl(actual: dict, expected: dict) -> list[str]:
    """Mismatch descriptions between an engine crawl and the simulator's.

    ``actual`` has the same keys as ``crawl_expected``'s value: the crawl
    order, final status per url (its keys are the seen set) and text per
    non-duplicate fetched url."""
    problems = []
    if [list(r) for r in actual["order"]] != expected["order"]:
        problems.append("crawl order")
    if set(actual["status"]) != set(expected["status"]):
        problems.append("seen set")
    elif actual["status"] != expected["status"]:
        problems.append("final statuses")
    if actual["text"] != expected["text"]:
        problems.append("extracted text")
    return problems


def check_round_output(results: list[dict], seq_of: dict[str, tuple[int, int]],
                       golden: dict[str, str]) -> list[str]:
    """One fetch round's output against the corpus: parsed text equals the
    golden text for every fetched url, and crawl_seq follows (depth, seq)."""
    problems = []
    if not results:
        return ["no rows fetched"]
    bad_text = [r["url"] for r in results if not r["dup_content"] and r["text"] != golden.get(r["url"])]
    if bad_text:
        problems.append(f"text differs for {len(bad_text)} urls, e.g. {bad_text[0]}")
    ordered = sorted(results, key=lambda r: r["crawl_seq"])
    keys = [seq_of.get(r["url"]) for r in ordered]
    if None in keys or any(a >= b for a, b in zip(keys, keys[1:])):
        problems.append("crawl_seq does not follow (depth, seq)")
    if len({r["crawl_seq"] for r in results}) != len(results):
        problems.append("duplicate crawl_seq")
    return problems
