"""Cross-engine parity on CRAFTED documents, not just the driver corpus.

The suite rows certify Spark==DuckDB on the fixed testdata; these tests run
the same (builder, oracle) pairs over synthetic documents built to hit the
edges the corpus never exercises — empty text, single tokens, unicode,
maximal repetition, 1-char words — using the verify_local canonicalizer so
a mismatch here is exactly a driver-gate mismatch."""

from __future__ import annotations

import duckdb
import pytest

from verify_local import rows_key

EDGE_DOCS = [
    # (doc_id, text, lang, source)
    (1, "", "en", "s0"),
    (2, "solo", "en", "s0"),
    (3, "a a a a a a a a", "en", "s1"),  # max repetition, 1-char words
    (4, "x y x y x y x y x y", "en", "s1"),  # repeated 2-token chunk
    (5, "öäü ßteßt ünïcode tökens ünïcode tökens", "de", "s2"),
    (6, "word " * 50 + "tail", "en", "s2"),  # long doc, trailing token
    (7, "Aa aA aa AA", "en", "s3"),  # case-distinct tokens
    (8, "supercalifragilisticexpialidocious antidisestablishmentarianism", "en", "s3"),
    # duplicated texts that reach 5 tokens only through the empty tokens of
    # split(" "): p01/p02 rely on near-dup removal to drop the copies
    (9, "a    b", "en", "s0"),
    (10, "a    b", "de", "s1"),
    (11, "x  y  z", "en", "s2"),
    (12, "x  y  z", "en", "s3"),
]


@pytest.fixture(scope="module")
def edge_sf_dir(tmp_path_factory, request):
    import pandas as pd

    d = tmp_path_factory.mktemp("edge_sf")
    pdf = pd.DataFrame(
        [
            {
                "doc_id": i,
                "text": t,
                "lang": lang,
                "source": src,
                "n_chars": len(t),
            }
            for i, t, lang, src in EDGE_DOCS
        ]
    )
    pdf.to_parquet(str(d / "documents.parquet"))
    return str(d)


def _assert_parity(spark, sf_dir, name):
    from datafusion_table_providers_spark.suite import FULL_SUITE

    case = FULL_SUITE[name]
    df = case.fn(spark, sf_dir)
    s_cols = df.columns
    s_rows = [tuple(r) for r in df.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    cur = con.execute(case.oracle)
    o_cols = [c[0] for c in cur.description]
    o_rows = cur.fetchall()

    assert sorted(s_cols) == sorted(o_cols), (s_cols, o_cols)
    assert rows_key(s_cols, s_rows) == rows_key(o_cols, o_rows), name


@pytest.mark.parametrize(
    "name",
    [
        "d01_exact_dedup",
        "d02b_minhash_lsh_pairs",
        "d03b_simhash_pairs",
        "d04_ngram_jaccard",
        "d07_langid",
        "d08_quality",
        "d09_token_count",
        "d10_fingerprint",
        "d13_decontaminate",
        "d14_stratified_sample",
        "d15_sequence_packing",
        "d19_repetition",
        "d21_bm25",
        "d22_editdist_neardup",
        "d23_phrase_search",
        "d24_pii_scrub",
        "d25_paragraph_dedup",
        "d26_fuzzy_decontaminate",
        "d27_vocab_stats",
        "d28_gopher_rules",
        "d29_bpe_pair_stats",
        "d30_unigram_logprob",
        "d31_intradoc_dedup",
        "d32_mixture_weights",
        "d36_budget_repeat",
        "d38_adaptive_length_filter",
        "d39_training_order",
        "d34_dedup_keep_best",
        "d35_ensemble_neardup",
        "d37_dup_source_matrix",
        "p03_corpus_report",
        "p04_training_mix",
        "m01_multimodal_meta",
        "m02_frame_sample",
        "m03_resize",
        "m04_features",
        "p01_training_data_prep",
        "p02_full_curation",
    ],
)
def test_edge_docs_parity(spark, edge_sf_dir, name):
    _assert_parity(spark, edge_sf_dir, name)


# --- events-only operators over crafted edge events -----------------------
EDGE_EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    # user 1: two events at the SAME timestamp (event_id tiebreak)
    (1, "2024-01-01 00:00:00", 1, "click", 1.0, "p1"),
    (2, "2024-01-01 00:00:00", 1, "purchase", 2.5, "p1"),
    # user 2: a single event
    (3, "2024-01-01 01:00:00", 2, "view", -3.25, "p2"),
    # user 3: gap EXACTLY 30 min (boundary: > gap starts a session, == does
    # not) then one clearly-new session
    (4, "2024-01-02 00:00:00", 3, "click", 0.0, "p3"),
    (5, "2024-01-02 00:30:00", 3, "click", 4.0, "p3"),
    (6, "2024-01-02 02:00:01", 3, "purchase", 8.125, "p3"),
    # user 4: events straddling a 6h window boundary exactly
    (7, "2024-01-03 05:59:59.999999", 4, "signup", 10.0, "p4"),
    (8, "2024-01-03 06:00:00", 4, "signup", 20.0, "p4"),
    # duplicate props content across users (stream-dedup fodder)
    (9, "2024-01-03 07:00:00", 5, "error", 7.5, "p1"),
    (10, "2024-01-03 08:00:00", 5, "click", 0.5, "p5"),
]


@pytest.fixture(scope="module")
def edge_events_dir(tmp_path_factory):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("edge_events")
    pdf = pd.DataFrame(
        [
            {
                "event_id": i,
                "ts": pd.Timestamp(ts),
                "user_id": u,
                "event_type": et,
                "value": v,
                "props": p,
            }
            for i, ts, u, et, v, p in EDGE_EVENTS
        ]
    )
    # micros, tz-less — the round-2+ driver testdata format
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(
        tbl, str(d / "events.parquet"), coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    return str(d)


def _assert_events_parity(spark, sf_dir, name):
    from datafusion_table_providers_spark.suite import FULL_SUITE

    case = FULL_SUITE[name]
    df = case.fn(spark, sf_dir)
    s_cols = df.columns
    s_rows = [tuple(r) for r in df.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    cur = con.execute(case.oracle)
    o_cols = [c[0] for c in cur.description]
    o_rows = cur.fetchall()

    assert sorted(s_cols) == sorted(o_cols), (s_cols, o_cols)
    assert rows_key(s_cols, s_rows) == rows_key(o_cols, o_rows), name


@pytest.mark.parametrize(
    "name",
    [
        "b26_event_window",
        "b27_sessionize",
        "e01_asof_join",
        "e02_range_join",
        "e03_percentiles",
        "e06_histogram",
        "e09_rollup_cascade",
        "e11_heavy_hitters",
        "b28_stream_batch_parity",
        "b29_stream_windowed_counts",
        "b30_stream_dedup",
        "b31_stream_sessions",
        "b32_stream_connector_sink",
    ],
)
def test_edge_events_parity(spark, edge_events_dir, name):
    _assert_events_parity(spark, edge_events_dir, name)


# --- embeddings-only operators over crafted edge vectors ------------------
@pytest.fixture(scope="module")
def edge_embeddings_dir(tmp_path_factory):
    import pandas as pd

    d = tmp_path_factory.mktemp("edge_emb")
    DIM = 64

    def vec(seed):
        # deterministic pseudo-vector; varied magnitudes incl. negatives
        return [((seed * 31 + i * 7) % 13 - 6) / 4.0 for i in range(DIM)]

    rows = []
    for i in range(20):
        if i == 6:
            v = [0.0] * DIM  # ZERO vector: cosine is 0/0 — must not crash
        elif i == 5:
            v = vec(0)  # exact duplicate of vec_id 0
        else:
            v = vec(i)
        rows.append({"vec_id": i, "embedding": v, "label": i % 3})
    pd.DataFrame(rows).to_parquet(str(d / "embeddings.parquet"))
    return str(d)


def _assert_emb_parity(spark, sf_dir, name):
    from datafusion_table_providers_spark.suite import FULL_SUITE

    case = FULL_SUITE[name]
    df = case.fn(spark, sf_dir)
    s_cols = df.columns
    s_rows = [tuple(r) for r in df.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    cur = con.execute(case.oracle)
    o_cols = [c[0] for c in cur.description]
    o_rows = cur.fetchall()

    assert sorted(s_cols) == sorted(o_cols), (s_cols, o_cols)
    assert rows_key(s_cols, s_rows) == rows_key(o_cols, o_rows), name


@pytest.mark.parametrize(
    "name",
    [
        "d05_knn_bruteforce",
        "d06_lsh_ann",
        "d06b_ivf_ann",
        "d11_embedding_neardup",
        "d11b_neardup_multiprobe",
        "d16_embedding_quantize",
        "d17_kmeans_clusters",
        "d18_pq_encode",
        "d18b_pq_adc",
        "d20_semdedup",
        "d33_pq_rerank",
    ],
)
def test_edge_embeddings_parity(spark, edge_embeddings_dir, name):
    _assert_emb_parity(spark, edge_embeddings_dir, name)


# --- property-based: RANDOM corpora, same parity contract -----------------
# hypothesis generates small corpora over an adversarial alphabet (runs of
# spaces, unicode, punctuation, empty/whitespace-only texts); each example
# writes a parquet corpus and compares builder vs oracle with the driver
# canonicalizer. Fixed seed profile keeps CI deterministic.
try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HYP = True
except Exception:  # pragma: no cover
    _HYP = False

if _HYP:
    _TEXT = st.text(
        alphabet=list("ab xü.#") + [" "], min_size=0, max_size=40
    )

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(texts=st.lists(_TEXT, min_size=1, max_size=10))
    def test_random_corpus_parity(spark, tmp_path_factory, texts):
        import pandas as pd

        d = tmp_path_factory.mktemp("rand_sf")
        pdf = pd.DataFrame(
            [
                {
                    "doc_id": i,
                    "text": t,
                    "lang": ["en", "de"][i % 2],
                    "source": f"s{i % 3}",
                    "n_chars": len(t),
                }
                for i, t in enumerate(texts)
            ]
        )
        pdf.to_parquet(str(d / "documents.parquet"))
        for name in (
            "d27_vocab_stats",
            "d28_gopher_rules",
            "d29_bpe_pair_stats",
            "d30_unigram_logprob",
            "d31_intradoc_dedup",
        ):
            _assert_parity(spark, str(d), name)


# --- relational b/t operators over a crafted TPC-H edge fixture -----------
# A minimal consistent 7-table database with the edges TPC-H data never
# has: a region with no nations, a nation with no customers, a customer
# with no orders, an order with no lineitems, boundary dates/prices
# EXACTLY on the query filter constants, 100% discounts, zero prices, and
# an orphan foreign key. All 67 b/t relational shapes must agree with the
# oracle here too (verified: join-drop, outer-null, empty-group and
# boundary-comparison semantics match).
@pytest.fixture(scope="module")
def tpch_edge_dir(tmp_path_factory):
    from _tpch_edge_fixture import write_tpch_edge

    d = tmp_path_factory.mktemp("tpch_edge")
    write_tpch_edge(str(d))
    return str(d)


def _relational_names():
    from datafusion_table_providers_spark.suite import FULL_SUITE

    return [
        n
        for n in FULL_SUITE
        if (n.startswith("b") or n.startswith("t"))
        and not any(
            x in n
            for x in ("b24", "b26", "b27", "b28", "b29", "b30", "b31", "b32")
        )
    ]


def test_tpch_edge_parity_all(spark, tpch_edge_dir):
    from datafusion_table_providers_spark.suite import FULL_SUITE

    failures = []
    for name in _relational_names():
        case = FULL_SUITE[name]
        try:
            df = case.fn(spark, tpch_edge_dir)
            s_cols = df.columns
            s_rows = [tuple(r) for r in df.collect()]
            con = duckdb.connect()
            for t in "region nation customer supplier part orders lineitem".split():
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{tpch_edge_dir}/{t}.parquet'"
                )
            cur = con.execute(case.oracle)
            o_cols = [c[0] for c in cur.description]
            o_rows = cur.fetchall()
            if sorted(s_cols) != sorted(o_cols):
                failures.append((name, "schema"))
            elif rows_key(s_cols, s_rows) != rows_key(o_cols, o_rows):
                failures.append((name, "values"))
        except Exception as e:  # noqa: BLE001 — collected for the report
            failures.append((name, f"{type(e).__name__}: {e}"))
    assert not failures, failures
