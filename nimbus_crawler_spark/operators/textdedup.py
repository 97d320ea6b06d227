"""Document-level deduplication operators for training-data pipelines.

These extend the crawl engine's URL/content dedup (SURVEY.md §2.5) with the
operators a 100 TB web-text curation pipeline needs: exact hash dedup,
MinHash+LSH near-dup, SimHash, and shingle-Jaccard verification. All are
built from JVM-side expressions only (split/explode/window/groupBy — no
Python in the hot path) and use *portable* hashing (md5 hex strings) so every
operator has a DuckDB-checkable SQL oracle in ``__spark_entry__.py``.

Scale notes (the point of each design):
* exact dedup — one shuffle on the 128-bit content hash; at 100 TB this is
  the cheapest possible grouping key and AQE handles hash skew (empty docs).
* one shingle pass — ``shingle_sets`` builds each document's distinct
  shingle set once; MinHash signing, n-gram candidate generation and exact
  Jaccard verification all read that table.
* MinHash: signatures are ``min(md5(i||':'||shingle))`` per permutation i —
  a min-aggregate per (doc, i), so map-side partial aggregation does almost
  all the work before the shuffle.
* SimHash: 32-bit fingerprint via per-hex-char votes — a single groupBy(doc)
  aggregation.
* one banded core — MinHash LSH, SimHash and the embedding sign-LSH
  (``similarity.embedding_cosine_pairs``) all call ``_band_pairs``: one
  (band, key) self-join that emits each pair once, from its lowest agreeing
  band, so candidate generation is bounded by bucket sizes, not corpus size,
  and needs no ``distinct``.
* compute-once pins — a subtree consumed by MULTIPLE downstream branches
  (both sides of a self-join, candidate generation + verify) is
  ``localCheckpoint(eager=True)``'d. Without it Spark plans the subtree once
  per consumer: static exchange reuse only collapses canonically-identical
  exchanges, so the signature aggregation would run once per join side. The
  pinned tables are small (one row per document or per shingle), so every
  consumer plans against the stored result instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _spread(df: DataFrame) -> DataFrame:
    """Give CPU-heavy per-row expansions (shingle explode × k hashes) full
    cluster parallelism even when the input is a small one-file scan — a
    single-row-group parquet otherwise pins the whole operator to ONE task.

    Gated on the scan's FILE count (``inputFiles`` reads the logical plan —
    no RDD conversion, no job): a 100 TB table has file count ≫ core count,
    so this is a no-op there and the extra shuffle is never paid at scale;
    non-file inputs (already shuffled/derived frames) pass through untouched.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plan — partitioning came from a shuffle
        n_files = 0
    if not (0 < n_files < target):
        return df
    return df.repartition(target)


def _tokens(text: Column) -> Column:
    """Whitespace tokens, lowercased (portable: string_split_regex in DuckDB)."""
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != "")


def shingles(text: Column, n: int = 3) -> Column:
    """n-token shingles in document order (may repeat). Documents shorter
    than n tokens yield an empty array (guarded: Spark's ``sequence(1, k)``
    with k < 1 would generate a *descending* sequence).

    The token array is bound ONCE as a lambda variable via the outer
    single-element ``transform`` before any ``element_at`` indexes it.
    Referencing the raw ``_tokens(text)`` subtree inside the inner lambda
    instead makes Catalyst re-evaluate the whole split+filter per
    ``element_at`` call — O(tokens²) per document, measured 14-24× slower
    on the sf0.1 corpus (8.4 s → 0.6 s to build bigrams for 5k docs)."""

    def build(tk: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(tk) - (n - 1))
        return F.when(F.size(tk) >= n, F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(tk, (i + k).cast("int")) for k in range(n)]
            ),
        )).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(_tokens(text)), build), 1)


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5(text): (content_hash, n_docs, keeper)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keeper_doc_id"),
        )
    )


def first_wins(df: DataFrame, key: Column | str, id_col: str = "doc_id") -> DataFrame:
    """First-wins survivor row per ``key`` — the ONE sanctioned shape for
    keep-first dedup in this engine.

    ``min_by`` aggregate, not a per-key window: a boilerplate document
    duplicated 10^7-10^8 times would funnel its whole group (full payload
    rows included) into one window task. The aggregate buffers exactly ONE
    candidate row per group per partition (map-side combinable); ``id_col``
    must be unique so the winner is deterministic and identical to
    ``row_number()==1`` over ``orderBy(id_col)``. The struct captures
    ``df.columns`` in order and ``_r.*`` restores them."""
    key_c = F.col(key) if isinstance(key, str) else key
    return (
        df.groupBy(key_c.alias("_k"))
        .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("_r"))
        .select("_r.*")
    )


def _check_banding(bands: int, width: int, exact: bool) -> int:
    """Rows (or bits) per band. Rejects band parameters that silently break
    the result: more bands than signature entries gives empty band keys that
    put every pair in one bucket, and MinHash bands must tile the signature
    exactly (``exact``), as the oracle's ``perm // rows_per_band`` does."""
    if not 1 <= bands <= width:
        raise ValueError(f"bands must be in 1..{width}, got {bands}")
    if exact and width % bands:
        raise ValueError(f"num_hashes={width} is not a multiple of bands={bands}")
    return width // bands


def _band_pairs(
    rows: DataFrame, id_col: str, keys: list[Column], carry: str | None = None
) -> DataFrame:
    """(a, b[, <carry>_a, <carry>_b]): every pair a < b of ``rows`` whose band
    keys agree in at least one band, each pair exactly once — the one banded
    self-join behind MinHash LSH, SimHash and embedding sign-LSH.

    The keyed table is pinned once, so the signature work under it runs once
    rather than once per join side. A pair agreeing in k bands would meet k
    times in the (band, key) join; the join keeps only the match from its
    lowest agreeing band (every lower band's key differs), so no ``distinct``
    exchange is needed. Both sides carry the lower bands' keys for that
    check as plain columns (an array column measured ~15% slower on the
    SimHash join at sf0.1 on 4 cores)."""
    extra = [carry] if carry else []
    n = len(keys)
    keyed = rows.select(
        F.col(id_col).alias("_id"), *extra, *[k.alias(f"_k{j}") for j, k in enumerate(keys)]
    ).localCheckpoint(eager=True)
    banded = keyed.select(
        "*", F.posexplode(F.array(*[f"_k{j}" for j in range(n)])).alias("_band", "_key")
    )

    carried = [f"_k{j}" for j in range(n - 1)] + extra

    def side(s: str) -> DataFrame:
        return banded.select(
            F.col("_id").alias(s), "_band", "_key", *[F.col(c).alias(f"{c}_{s}") for c in carried]
        )

    cond = F.col("a") < F.col("b")
    for j in range(n - 1):
        cond = cond & ((F.col("_band") <= j) | (F.col(f"_k{j}_a") != F.col(f"_k{j}_b")))
    return (
        side("a").join(side("b"), ["_band", "_key"])
        .where(cond)
        .select("a", "b", *[f"{c}_{s}" for c in extra for s in "ab"])
    )


def shingle_sets(
    docs: DataFrame, shingle_n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(_id, _sh, _n_sh): distinct-shingle set per document — the one
    shingle pass that candidate generation and exact verification share.
    A caller that reads it more than once pins it; a single reader (LSH
    candidates alone) streams it into the signature aggregation."""
    return (
        _spread(docs)
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("_sh"),
        )
        .withColumn("_n_sh", F.size("_sh"))
    )


def minhash_signatures_wide(sets: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(_id, s0..s{k-1}): per-permutation min signatures of a ``shingle_sets``
    table, one column each.

    ONE row per (doc, shingle) carries the k-element hash array (computed
    map-side by ``transform``), then one groupBy(doc) with k elementwise
    ``min`` aggregates — map-side partial aggregation shrinks the shuffle to
    one row per (doc, partition), k× fewer pre-shuffle rows than exploding
    the permutations.

    String-min over md5 hex is a valid permutation proxy (uniform order on
    shingles) and — unlike xxhash64/murmur — is bit-identical across engines,
    which keeps the operator oracle-checkable.
    """
    hashes = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda p: F.md5(F.concat_ws(":", p, F.col("shingle"))),
    )
    return (
        sets.select("_id", F.explode("_sh").alias("shingle"))
        .select("_id", hashes.alias("_hs"))
        .groupBy("_id")
        .agg(*[F.min(F.element_at("_hs", i + 1)).alias(f"s{i}") for i in range(num_hashes)])
    )


def _minhash_band_keys(num_hashes: int, bands: int) -> list[Column]:
    """One LSH band key per band: md5 of the band's signatures in permutation
    order, projected straight off the wide signature row (no second
    aggregation)."""
    r = _check_banding(bands, num_hashes, exact=True)
    return [
        F.md5(F.concat_ws(",", *[F.col(f"s{band * r + j}") for j in range(r)]))
        for band in range(bands)
    ]


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing ≥1 LSH band bucket, each once.
    ``num_hashes`` must be a multiple of ``bands``."""
    keys = _minhash_band_keys(num_hashes, bands)
    sets = shingle_sets(docs, shingle_n, id_col, text_col)
    return _band_pairs(minhash_signatures_wide(sets, num_hashes), "_id", keys)


def jaccard_verify(pairs: DataFrame, sets: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Exact distinct-shingle Jaccard for candidate pairs: (a, b, jaccard),
    reading the caller's ``shingle_sets`` table. A size-ratio prefilter runs
    before the O(|set|) intersection: J(a,b) ≤ min(|A|,|B|)/max(|A|,|B|), so
    pairs whose set sizes alone rule out the threshold never pay for the
    array intersect — semantics-free (only provably-failing pairs drop)."""
    j = (
        pairs.join(
            sets.select(F.col("_id").alias("a"), F.col("_sh").alias("sh_a"), F.col("_n_sh").alias("n_a")),
            "a",
        )
        .join(
            sets.select(F.col("_id").alias("b"), F.col("_sh").alias("sh_b"), F.col("_n_sh").alias("n_b")),
            "b",
        )
        .where(F.least("n_a", "n_b") >= F.lit(threshold) * F.greatest("n_a", "n_b"))
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .withColumn(
            "jaccard",
            # explicit HALF_UP (see textstats.round_half_up): small-integer
            # ratios can land exactly on .5 boundaries
            F.floor(
                F.when(F.col("uni") > 0, F.col("inter") / F.col("uni")).otherwise(1.0) * 1000000
                + F.lit(0.5)
            )
            / 1000000,
        )
    )
    return j.where(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify, both
    reading one shingle pass."""
    keys = _minhash_band_keys(num_hashes, bands)
    sets = shingle_sets(docs, shingle_n).localCheckpoint(eager=True)
    cands = _band_pairs(minhash_signatures_wide(sets, num_hashes), "_id", keys)
    return jaccard_verify(cands, sets, threshold)


def decontaminate(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: training documents sharing ≥1 n-gram with
    any evaluation document — (doc_id, n_shared_ngrams), one row per
    contaminated training doc (GPT-3 appendix C / PaLM style, which drop
    train docs with 13-gram eval overlap; the n is a parameter because the
    principle, not the constant, is the operator).

    Scale design: the eval side of the join is a benchmark suite — thousands
    of documents against a 10^10-doc corpus — so its distinct n-gram set is
    broadcast and the training corpus NEVER shuffles for the join; the only
    exchange is the per-doc hit count, keyed by doc_id with map-side partial
    aggregation. Shingling is the same JVM-side kernel as MinHash
    (``shingles``), distinct per doc on both sides so ``n_shared_ngrams``
    counts distinct shared n-grams.
    """

    def doc_shingles(docs: DataFrame) -> DataFrame:
        return _spread(docs).select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles(F.col(text_col), shingle_n))).alias(
                "shingle"
            ),
        )

    ev = doc_shingles(eval_docs).select("shingle").distinct()
    return (
        doc_shingles(train_docs)
        .join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """(doc_id, simhash): ``bits``-bit SimHash from token md5 hex chars.

    Bit j votes +1 if hex char j of md5(token) is in 8..f (top bit of the
    nibble), else −1; fingerprint bit j = 1 iff the vote sum is positive.
    Portable across engines (md5 + substr + sum only). md5 hex has 32 chars,
    so wider fingerprints would silently zero-fill: ``bits`` must be 1..32.
    """
    if not 1 <= bits <= 32:
        raise ValueError(f"bits must be in 1..32, got {bits}")
    tok = _spread(docs).select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("token")
    ).withColumn("h", F.md5("token"))
    votes = [
        F.sum(
            F.when(F.substring("h", j + 1, 1).isin(*"89abcdef"), 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    fp = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else (fp + bit)
    return agg.select(id_col, fp.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash: band join (pigeonhole: ≤max_hamming diffs
    over ``bands`` bands ⇒ some band equal when bands > max_hamming), then
    exact Hamming verify via bit_count(xor). Band j's key is bit slice j of
    the fingerprint, ``(simhash >> j·band_bits) & mask``; bits left over
    when ``bands`` does not divide ``bits`` are in no band, which only
    lowers the differing bits the bands see, so the pigeonhole still holds."""
    fps = simhash_fingerprints(docs, id_col, text_col, bits)
    band_bits = _check_banding(bands, bits, exact=False)
    keys = [
        F.shiftright("simhash", j * band_bits).bitwiseAND(F.lit((1 << band_bits) - 1))
        for j in range(bands)
    ]
    return (
        _band_pairs(fps, id_col, keys, carry="simhash")
        .withColumn("hamming", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_doc_freq: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    observation=None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup: rare-shingle candidate generation
    (doc-frequency ≤ max_doc_freq bounds the self-join fan-out — the standard
    trick that keeps this O(candidates), not O(n²)), then exact verify.

    The tokenize+shingle pass is computed once (``shingle_sets``) and shared
    by doc-frequency counting, the candidate self-join, and verification.
    ``max_doc_freq`` is a silent coverage cap (pairs sharing only high-DF
    shingles are never candidates) — pass an ``Observation`` to surface the
    candidate-pair count on the consuming action (no extra job):
    ``obs.get["candidate_pairs"]`` after the result is materialized."""
    sets = shingle_sets(docs, shingle_n, id_col, text_col).localCheckpoint(eager=True)
    sh = sets.select(F.col("_id").alias(id_col), F.explode("_sh").alias("shingle"))
    # Two-phase doc-frequency gate. Phase 1 is a plain count (partial-agg
    # friendly: map-side combine, constant memory per key) — crucially it runs
    # BEFORE any collect_set, so a stop-word shingle that appears in ~every
    # document of a web corpus never materializes an O(n) doc array in an
    # aggregation buffer. Phase 2 collects doc lists only for shingles that
    # survived the DF ≤ max_doc_freq filter (each list is ≤ max_doc_freq
    # elements by construction); the semi-join output is hash-partitioned on
    # `shingle`, so the following groupBy reuses that exchange. The (a<b)
    # pair combinations are then emitted JVM-side from the bounded array with
    # nested `transform` — no rare-shingle self-join shuffle.
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df")).localCheckpoint(eager=True)
    rare = dfc.where((F.col("_df") >= 2) & (F.col("_df") <= max_doc_freq)).select("shingle")
    holders = (
        sh.join(rare, "shingle", "left_semi")
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_set(id_col)).alias("_ids"))
    )
    pair_structs = F.flatten(
        F.transform(
            "_ids",
            lambda x, i: F.transform(
                F.slice("_ids", i + 2, F.size("_ids")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    # groupBy(a,b) instead of the former distinct — same exchange, but the
    # count is |A ∩ B ∩ Rare| for free: the pair (a,b) is emitted once per
    # rare shingle both docs hold.
    cands = (
        holders.select(F.explode(pair_structs).alias("_p"))
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_shared_rare"))
    )
    if observation is not None:
        cands = cands.observe(observation, F.count(F.lit(1)).alias("candidate_pairs"))
    # Intersection upper-bound prune BEFORE the array-bearing verify joins
    # (the verify's array_intersect over every candidate dominated this
    # operator: sf0.1 emits 1.12M candidates for a 256-row result).
    #   |A∩B| = |A∩B∩Rare| + |A∩B∩Common| ≤ _shared_rare + min(|A∩C|,|B∩C|)
    # (df-1 shingles are never shared), and J(a,b) is monotone in the
    # intersection, so a pair whose bound already fails the threshold —
    # through the SAME floor(x·1e6+0.5) rounding the verify applies, making
    # the drop decision exactly the comparison the kept path would make on a
    # value ≥ the true one — can be dropped with zero effect on the result.
    # |X∩Common| is one narrow aggregate over the shingle stream; both prune
    # joins carry two ints per doc (skew-free, doc_id-keyed).
    common = dfc.where(F.col("_df") > max_doc_freq).select("shingle")
    per_doc = (
        sets.select(F.col("_id"), F.col("_n_sh"))
        .join(
            sh.join(common, "shingle", "left_semi")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("_n_common"))
            .withColumnRenamed(id_col, "_id"),
            "_id",
            "left",
        )
        .select("_id", "_n_sh", F.coalesce("_n_common", F.lit(0)).alias("_n_common"))
    )
    bounded = (
        cands.join(
            per_doc.select(
                F.col("_id").alias("a"), F.col("_n_sh").alias("_na"), F.col("_n_common").alias("_ca")
            ),
            "a",
        )
        .join(
            per_doc.select(
                F.col("_id").alias("b"), F.col("_n_sh").alias("_nb"), F.col("_n_common").alias("_cb")
            ),
            "b",
        )
        .withColumn("_ub", F.col("_shared_rare") + F.least("_ca", "_cb"))
        .where(
            F.floor(
                F.col("_ub") / (F.col("_na") + F.col("_nb") - F.col("_ub")) * 1000000
                + F.lit(0.5)
            )
            / 1000000
            >= threshold
        )
        .select("a", "b")
    )
    return jaccard_verify(bounded, sets, threshold)


def remove_repeated_lines(
    docs: DataFrame,
    min_docs: int = 2,
    line_sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RefinedWeb/CCNet-style boilerplate line removal: drop every line that
    occurs (trim-exact) in >= ``min_docs`` DISTINCT documents, and reassemble
    each document from its surviving lines in original order —
    (doc_id, text_clean, n_lines_kept, n_lines_dropped).

    Navigation menus, cookie banners, and footer text repeat across a site's
    pages; a line's cross-document frequency is the cheapest boilerplate
    signal (RefinedWeb §Line-wise filtering, CCNet paragraph dedup). Lines
    are compared by ``md5(trim(line))`` so indentation/padding differences
    collapse; empty lines repeat everywhere and are dropped with the rest.
    ``line_sep`` is a LITERAL separator (escaped before the split regex) and
    is also the join separator for ``text_clean``. Every input document
    returns exactly one row — a document whose lines are all boilerplate
    survives with ``text_clean = ''`` so downstream length filters (not a
    silent row loss) decide its fate.

    Scale shape, explicitly:
    * line doc-frequency = ``distinct(line, doc) -> groupBy(line).count()``
      — both steps partial-aggregate map-side, so reducers see at most one
      row per (line, task), never the raw occurrence stream;
    * the drop decision is a LEFT ANTI join of the line stream against the
      >=min_docs key set, keyed by the 128-bit line hash. A mega-hot line
      ("Home") concentrates its rows on one join key; AQE's skew-join
      splitting handles exactly this shape (the build side is keys-only and
      replicates per split). Nothing all-pairs, nothing per-doc unbounded;
    * reassembly groups by doc — the per-task buffer is one document's
      surviving lines, bounded by document size exactly like the parser;
    * per-doc line totals come from a pure projection over the original
      text (``size(split(..))``), NOT a second pass over the line stream.

    Reference analog: none — the crawler dedups whole pages by content hash
    (internal/parser flow); this extends that to intra-document line
    granularity for the training-data family.
    """
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    import re as _re

    sep_re = _re.escape(line_sep)
    split_col = F.split(F.col(text_col), sep_re, -1)
    lines = _spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(split_col).alias("pos", "line"),
    ).withColumn("_k", F.md5(F.trim(F.col("line"))))
    boiler = (
        lines.select("_k", "doc_id")
        .distinct()
        .groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= min_docs)
        .select("_k")
    )
    kept = lines.join(boiler, "_k", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            line_sep,
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("_kept"),
    )
    totals = docs.select(
        F.col(id_col).alias("doc_id"), F.size(split_col).alias("_n")
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        F.coalesce("_kept", F.lit(0)).cast("int").alias("n_lines_kept"),
        (F.col("_n") - F.coalesce("_kept", F.lit(0))).cast("int").alias("n_lines_dropped"),
    )
