"""Guard the ``_spread`` allow-list: ``textdedup._spread`` repartitions small
one-file scans, which wins only where the per-row work is heavy enough to pay
for the extra shuffle (an interleaved A/B lost on light aggregations such as
``term_stats``). Every call site is pinned here by (file, enclosing function),
so adding or moving one is a deliberate edit of this list, made with its A/B
numbers."""

import ast
from collections import Counter
from pathlib import Path

import nimbus_crawler_spark

REPO = Path(nimbus_crawler_spark.__file__).parent.parent

ALLOWED = Counter({
    ("__spark_entry__.py", "_spread_t"): 1,
    ("__spark_entry__.py", "_q_extract_roundtrip"): 1,
    ("__spark_entry__.py", "_q_hostname_registrable"): 1,
    ("__spark_entry__.py", "_q_object_keys"): 1,
    ("__spark_entry__.py", "_q_robots_gate"): 1,
    ("nimbus_crawler_spark/operators/lm.py", "_doc_term_freqs"): 1,
    ("nimbus_crawler_spark/operators/multimodal.py", "extract_features"): 1,
    ("nimbus_crawler_spark/operators/multimodal.py", "resize_images"): 1,
    ("nimbus_crawler_spark/operators/multimodal.py", "sample_frames"): 1,
    ("nimbus_crawler_spark/operators/textdedup.py", "doc_shingles"): 1,
    ("nimbus_crawler_spark/operators/textdedup.py", "remove_repeated_lines"): 1,
    ("nimbus_crawler_spark/operators/textdedup.py", "shingle_sets"): 1,
    ("nimbus_crawler_spark/operators/textdedup.py", "simhash_fingerprints"): 1,
    ("nimbus_crawler_spark/operators/textstats.py", "curation_pipeline"): 1,
    ("nimbus_crawler_spark/operators/textstats.py", "lang_id"): 1,
    ("nimbus_crawler_spark/operators/textstats.py", "quality_histogram"): 1,
    ("nimbus_crawler_spark/operators/textstats.py", "quality_metrics"): 1,
    ("nimbus_crawler_spark/operators/textstats.py", "repetition_stats"): 1,
})


def _calls(tree: ast.AST, names: set[str]):
    """Enclosing function name of every call to one of ``names``."""
    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from visit(child, child.name)
                continue
            if (isinstance(child, ast.Call) and isinstance(child.func, ast.Name)
                    and child.func.id in names):
                yield fn
            yield from visit(child, fn)

    yield from visit(tree, None)


def test_spread_call_sites_are_the_allowed_ones():
    files = sorted((REPO / "nimbus_crawler_spark").rglob("*.py")) + [REPO / "__spark_entry__.py"]
    found = Counter()
    for path in files:
        for fn in _calls(ast.parse(path.read_text(), str(path)), {"_spread", "_spread_t"}):
            found[(str(path.relative_to(REPO)), fn)] += 1
    assert found == ALLOWED
