"""Round-21 optimization rewrites: pin the posexplode+lead n-gram forms to
their pre-rewrite semantics on crafted edge corpora (empty text, docs
shorter than the window, odd chunk counts).

The oracle verify proves equivalence on the driver corpora; these tests
keep the edge cases covered when the corpora change."""

from __future__ import annotations

import pandas as pd
import pytest

#: crafted docs: empty text, 1/2/3-word docs around every window bound,
#: repeated tokens (dedup-sensitive), an odd-token doc (d31 trailing chunk)
_DOCS = [
    (0, ""),
    (1, "one"),
    (2, "two words"),
    (3, "three words here"),
    (4, "a b c d"),
    (5, "x x x x x"),
    (6, "p q r s t u v w z"),  # 9 tokens: odd chunk count, >8-word window
    (7, "a b c d e f g h"),  # exactly PARA_W tokens
]


@pytest.fixture(scope="module")
def crafted_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("r21_docs")
    pdf = pd.DataFrame(
        {
            "doc_id": [i for i, _ in _DOCS],
            "text": [t for _, t in _DOCS],
            "lang": ["en"] * len(_DOCS),
            "source": ["unit"] * len(_DOCS),
            "n_chars": [len(t) for _, t in _DOCS],
        }
    )
    pdf.to_parquet(str(d / "documents.parquet"))
    return str(d)


def _expected_ngrams(text: str, k: int):
    toks = text.split(" ")
    return [
        " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
    ] if len(toks) >= k else []


def test_shingles_match_naive(spark, crafted_dir):
    from datafusion_table_providers_spark.llm.dedup import (
        SHINGLE_W,
        _shingles_df,
    )

    got = sorted(
        (r.doc_id, r.s)
        for r in _shingles_df(spark, crafted_dir, distinct=False).collect()
    )
    want = sorted(
        (i, s) for i, t in _DOCS for s in _expected_ngrams(t, SHINGLE_W)
    )
    assert got == want


def test_d25_fragments_match_naive(spark, crafted_dir):
    from datafusion_table_providers_spark.llm.curation import (
        PARA_W,
        d25_paragraph_dedup,
    )

    # d25 aggregates by fragment hash; check counts against the naive
    # fragment multiset (only repeated fragments survive the n_occ filter)
    frags = [
        s for _, t in _DOCS for s in _expected_ngrams(t, PARA_W)
    ]
    from collections import Counter

    dup_counts = {
        f: c for f, c in Counter(frags).items() if c >= 2
    }
    rows = d25_paragraph_dedup(spark, crafted_dir).collect()
    assert sorted(r.n_occ for r in rows) == sorted(dup_counts.values())


def test_d31_chunks_match_naive(spark, crafted_dir):
    from datafusion_table_providers_spark.llm.curation import (
        CHUNK_W,
        d31_intradoc_dedup,
    )

    rows = {r.doc_id: r for r in d31_intradoc_dedup(spark, crafted_dir).collect()}
    for doc_id, text in _DOCS:
        toks = text.split(" ")
        chunks = [
            " ".join(toks[i : i + CHUNK_W])
            for i in range(0, len(toks), CHUNK_W)
        ]
        kept = len(dict.fromkeys(chunks))  # first occurrence per distinct
        assert rows[doc_id].n_chunks == len(chunks), (doc_id, text)
        assert rows[doc_id].n_kept == kept, (doc_id, text)


def test_d19_gram_counts_match_naive(spark, crafted_dir):
    from datafusion_table_providers_spark.llm.text import d19_repetition

    rows = {r.doc_id: r for r in d19_repetition(spark, crafted_dir).collect()}
    for doc_id, text in _DOCS:
        toks = text.split(" ")
        r = rows[doc_id]
        assert r.n_tok == len(toks), (doc_id, text)
        assert r.n_types == len(set(toks)), (doc_id, text)


def test_d10_fingerprint_positions(spark, crafted_dir):
    from datafusion_table_providers_spark.llm.text import (
        WINNOW_K,
        d10_fingerprint,
    )

    rows = {r.doc_id: r for r in d10_fingerprint(spark, crafted_dir).collect()}
    # docs shorter than WINNOW_K emit no k-grams hence no fingerprints
    short = {i for i, t in _DOCS if len(t.split(" ")) < WINNOW_K}
    assert short.isdisjoint(rows.keys())
    # a doc with n tokens emits n-k+1 k-grams → >=1 fingerprint
    for i, t in _DOCS:
        if len(t.split(" ")) >= WINNOW_K:
            assert rows[i].n_fingerprints >= 1
