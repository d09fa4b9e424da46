"""Corpus golden checksums (FIXTURES.md F6 golden/corpus): every corpus query
that returns rows on the fixture tables is pinned by (row count, sorted
md5-of-rows) — regression net for the SQL surface. Goldens regenerate via
``python tests/make_goldens.py corpus`` (deliberate act)."""

import hashlib
import json
import os

import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "corpus.json")


def corpus_checksums(spark, docs):
    """Every one of the 72 corpus layers, pinned by (row count, sorted
    md5-of-rows) — zero-row layers are pinned at rows=0 too, so a filter
    regression that silently empties a layer still trips the golden."""
    from osmquadtree_bin_spark.plans.corpus import load_corpus
    from tests.helpers import run_query
    from osmquadtree_bin_spark.plans.tables import register_tables
    from osmquadtree_bin_spark.spans import explode_geoms

    register_tables(spark, explode_geoms(docs))
    corpus = load_corpus()
    out = {}
    for name in sorted(corpus):
        df = run_query(spark, corpus[name])
        rows = sorted(str(tuple(r)) for r in df.collect())
        digest = hashlib.md5("\n".join(rows).encode()).hexdigest()
        out[name] = {"rows": len(rows), "md5": digest}
    return out


def test_corpus_goldens(spark, docs):
    if not os.path.exists(GOLDEN):
        pytest.skip("corpus goldens not generated yet")
    got = corpus_checksums(spark, docs)
    with open(GOLDEN) as f:
        want = json.load(f)
    assert got == want
