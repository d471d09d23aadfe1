"""The posting-filter compiler: every filter tree the posting and text
indexes serve returns exactly the predicate path's ids, and one gate
reads each index sidecar once."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from hypothesis import given, settings, strategies as st

from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.operators import filters

# derandomized like tests/test_properties.py: the same examples every run
SETTINGS = dict(max_examples=14, deadline=None, derandomize=True)

GROUPS = ("must", "should", "must_not")
LANGS = ("en", "fr", "es", "zh", "de", "xx")
SOURCES = ("src0", "src3", "src7", "src19")

leaves = st.one_of(
    st.builds(
        lambda f, v: {"type": "equals", "field": f, "value": v},
        st.sampled_from(("lang", "source")),
        st.sampled_from(LANGS + SOURCES),
    ),
    st.builds(
        lambda v: {"type": "equals", "field": "n_chars", "value": v},
        st.integers(40, 560),
    ),
    st.builds(
        lambda vs: {"type": "in", "field": "lang", "values": vs},
        st.lists(st.sampled_from(LANGS), min_size=1, max_size=3),
    ),
    st.builds(
        lambda lo, width, side: {
            "type": "range",
            "field": "n_chars",
            "gte": None if side == "lte" else lo,
            "lte": None if side == "gte" else lo + width,
        },
        st.integers(40, 560),
        st.integers(0, 300),
        st.sampled_from(("gte", "lte", "both")),
    ),
    st.builds(
        lambda f: {"type": "exists", "field": f},
        st.sampled_from(("lang", "n_chars")),
    ),
    st.builds(
        lambda t: {"type": "match", "field": "text", "text": t},
        st.sampled_from(("dup", "vector", "merge query", "stream window")),
    ),
)


def _trees(depth: int):
    node = leaves if depth == 0 else st.one_of(leaves, _trees(depth - 1))
    return st.dictionaries(
        st.sampled_from(GROUPS),
        st.lists(node, min_size=1, max_size=2),
        min_size=1,
        max_size=3,
    )


@pytest.fixture(scope="module")
def indexed_db(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_postfilt_")
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(docs, emb)
    inst.build_index("payload", columns=["lang", "source", "n_chars"])
    inst.build_index("text")
    yield inst
    shutil.rmtree(d, ignore_errors=True)


@settings(**SETTINGS)
@given(_trees(2))
def test_posting_ids_equal_predicate_ids(indexed_db, flt):
    """Nested trees up to depth 3 of equals / in / range / exists /
    match leaves under must / should / must_not."""
    gate = indexed_db._gate(flt)
    if gate.tree is None:
        return
    got = sorted(r["vec_id"] for r in gate.ids.collect())
    want = sorted(
        r["doc_id"]
        for r in indexed_db.documents()
        .where(filters.filter_to_column(flt))
        .select("doc_id")
        .collect()
    )
    assert got == want, flt


def test_gate_reads_each_sidecar_once(indexed_db, monkeypatch):
    flt = {
        "must": [
            {"type": "equals", "field": "lang", "value": "en"},
            {"should": [
                {"type": "range", "field": "n_chars", "gte": 200},
                {"type": "match", "field": "text", "text": "vector"},
            ]},
        ],
        "must_not": [{"type": "in", "field": "source", "values": ["src0"]}],
    }
    indexed_db._gate(flt).ids  # warm the per-version table reads
    reads = []
    stats = indexed_db._table_stats

    def spy(table):
        reads.append(table)
        return stats(table)

    monkeypatch.setattr(indexed_db, "_table_stats", spy)
    gate = indexed_db._gate(flt)
    assert gate.tree is not None
    assert gate.ids is not None
    assert gate.source == "sidecar"
    assert gate.reason()
    assert sorted(reads) == ["index_payload", "index_terms"]
