"""Round-22 rewrite pins: the d22 distinct-prefix group DP must reproduce
the naive per-doc-pair blocked join exactly, and the broadcast cap must
leave d02b's results identical on both sides of the gate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from datafusion_table_providers_spark import session
from datafusion_table_providers_spark.llm import dedup
from datafusion_table_providers_spark.llm.dedup import (
    D22_BLOCK_CAP,
    D22_TAU,
    d22_editdist_neardup,
)

SF = "/root/testdata/sf0.001"


def _naive_d22(spark, sf_dir):
    """The pre-r22 formulation: blocked self-join, one DP per doc pair."""
    p = dedup._d22_prefixed(spark, sf_dir)
    bad = (
        p.groupBy("bk")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") > D22_BLOCK_CAP)
        .select("bk")
    )
    p = p.join(F.broadcast(bad), "bk", "left_anti")
    a = p.select("bk", F.col("doc_id").alias("da"), F.col("pfx").alias("pa"))
    b = p.select("bk", F.col("doc_id").alias("db"), F.col("pfx").alias("pb"))
    return (
        a.join(b, "bk")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db", F.levenshtein("pa", "pb", D22_TAU).alias("dist"))
        .filter(F.col("dist") >= 0)
    )


def _pairs(df):
    return sorted((r.da, r.db, r.dist) for r in df.collect())


def test_d22_group_dp_matches_naive(spark):
    got = _pairs(d22_editdist_neardup(spark, SF))
    want = _pairs(_naive_d22(spark, SF))
    assert got == want and len(got) > 0


def test_d22_group_dp_matches_naive_on_replicated_corpus(spark, tmp_path):
    """10x-replicated corpus (the sf1 synth construction): every prefix
    group has >= 10 members, exercising intra-group pairs (dist 0, ordered
    once) and the cross-group fan-out in the same blocks."""
    src = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "documents.parquet")
    reps = src.crossJoin(spark.range(3).withColumnRenamed("id", "k"))
    reps.select(
        (F.col("doc_id") + F.col("k") * 10_000_000).alias("doc_id"),
        *[c for c in src.columns if c != "doc_id"],
    ).write.parquet(out)
    sf_dir = str(tmp_path)
    got = _pairs(d22_editdist_neardup(spark, sf_dir))
    want = _pairs(_naive_d22(spark, sf_dir))
    assert got == want
    # replication makes every original pair a group-pair fan-out and adds
    # the intra-group zero-distance pairs — both shapes must be present
    assert any(d == 0 for (_, _, d) in got)
    assert any(d > 0 for (_, _, d) in got)


def _legacy_d03b(spark, sf_dir):
    """Pre-r22 d03b: per-doc band self-join + distinct (reference
    semantics for the group/expand rewrite)."""
    sig = dedup.d03_simhash(spark, sf_dir).localCheckpoint(eager=True)
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        (F.shiftright(F.col("simhash"), 8 * i) % 256).alias(
                            "byte"
                        ),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        "simhash",
        F.col("bb.band").alias("band"),
        F.col("bb.byte").alias("byte"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.byte") == F.col("b.byte"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("da"),
        F.col("b.doc_id").alias("db"),
        F.col("a.simhash").alias("ha"),
        F.col("b.simhash").alias("hb"),
    )
    return (
        pairs.distinct()
        .select(
            "da",
            "db",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= dedup.HAMMING_MAX)
    )


def test_d03b_group_expand_matches_naive(spark):
    got = sorted(
        (r.da, r.db, r.hamming)
        for r in dedup.d03b_simhash_pairs(spark, SF).collect()
    )
    want = sorted(
        (r.da, r.db, r.hamming) for r in _legacy_d03b(spark, SF).collect()
    )
    assert got == want and len(got) > 0
    # intra-group (identical simhash) pairs must be present at hamming 0
    assert any(h == 0 for (_, _, h) in got)


@pytest.mark.parametrize("corpus", ["sf0.001", "dup_heavy", "large_group"])
def test_d35_mask_agg_matches_countdistinct(spark, corpus, request):
    """The group-level vote must reproduce the legacy doc-level aggregate
    (the union of the three members' doc pairs, countDistinct/collect_set
    per pair) row-for-row, on plain, all-duplicate and one-large-group
    corpora."""
    sf_dir = SF if corpus == "sf0.001" else request.getfixturevalue(f"{corpus}_dir")
    mh = dedup.d02b_minhash_lsh_pairs(spark, sf_dir).select(
        "da", "db", F.lit("minhash").alias("method")
    )
    sh = dedup.d03b_simhash_pairs(spark, sf_dir).select(
        "da", "db", F.lit("simhash").alias("method")
    )
    ng = dedup.d04_ngram_jaccard(spark, sf_dir).select(
        "da", "db", F.lit("ngram").alias("method")
    )
    u = mh.unionByName(sh).unionByName(ng)
    legacy = (
        u.groupBy("da", "db")
        .agg(
            F.countDistinct("method").alias("n_methods"),
            F.array_join(F.array_sort(F.collect_set("method")), ",").alias(
                "methods"
            ),
        )
        .filter(F.col("n_methods") >= 2)
    )
    want = sorted(map(tuple, legacy.collect()))
    got = sorted(map(tuple, dedup.d35_ensemble_neardup(spark, sf_dir).collect()))
    assert got == want and len(got) > 0

    # every member pair of a group whose rep has a signature votes minhash
    # and simhash (identical texts), and no other member pair appears
    m = dedup._text_groups(spark, sf_dir)
    with_sig = dedup._rep_signature_df(spark, sf_dir).select(
        F.col("doc_id").alias("gid")
    )
    a = m.join(with_sig, "gid").select("gid", F.col("doc_id").alias("da"))
    b = m.select("gid", F.col("doc_id").alias("db"))
    intra = {
        (r.da, r.db)
        for r in a.join(b, "gid").filter(F.col("da") < F.col("db")).collect()
    }
    gid = {r.doc_id: r.gid for r in m.collect()}
    assert intra <= {(da, db) for da, db, _, _ in got}
    assert intra or corpus == "sf0.001"  # sf0.001 has no duplicate text
    for da, db, _, methods in got:
        if gid[da] == gid[db]:
            assert (da, db) in intra
            assert methods in ("minhash,simhash", "minhash,ngram,simhash")
    if corpus == "dup_heavy":
        # the empty, 1-token and 2-token duplicate groups have no shingle
        flat = {d for p in got for d in p[:2]}
        assert flat.isdisjoint(range(9_000_000, 9_000_006))
        assert {9_000_006, 9_000_007} <= flat


def test_d35_members_emit_unique_pairs(spark):
    """sum(tag) is only a faithful method set if every member emits a pair
    at most once — pin that invariant directly."""
    for fn in (
        dedup.d02b_minhash_lsh_pairs,
        dedup.d03b_simhash_pairs,
        dedup.d04_ngram_jaccard,
    ):
        df = fn(spark, SF)
        n = df.count()
        assert df.select("da", "db").distinct().count() == n


@pytest.mark.parametrize("cap", [0, 10**9])
def test_d02b_broadcast_cap_branches_agree(spark, cap, monkeypatch):
    """cap=0 turns every gated broadcast of d02b into a shuffle, cap=1e9
    keeps them all; both must produce identical pair sets."""
    from datafusion_table_providers_spark.core.memo import clear_memo_caches

    def run():
        clear_memo_caches()
        return sorted(
            (r.da, r.db, r.jaccard)
            for r in dedup.d02b_minhash_lsh_pairs(spark, SF).collect()
        )

    monkeypatch.setattr(session, "BROADCAST_MAX_ROWS", cap)
    rows = run()
    monkeypatch.setattr(session, "BROADCAST_MAX_ROWS", 10**9 - cap)
    rows2 = run()
    assert rows == rows2 and len(rows) > 0


# --- text-group rewrite pins (d02b / d04 / d35 simhash shortcut) ----------


def _naive_d02b(spark, sf_dir):
    """Pre-group-rewrite d02b: per-doc signatures, per-doc band self-join,
    per-doc shingle verification — no text grouping, no reductions."""
    sig = dedup._signature_plan_df(spark, sf_dir)
    buckets = None
    for b in range(dedup.N_BANDS):
        one = sig.select(
            "doc_id", F.col(f"band{b}").alias("key"), F.lit(b).alias("band")
        )
        buckets = one if buckets is None else buckets.union(one)
    a = buckets.alias("a")
    bb = buckets.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    sh = dedup._shingles_df(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), F.col("x.s") == F.col("y.s"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
        .agg(F.count("*").alias("inter"))
    )
    from datafusion_table_providers_spark.operators.relational import _r

    return (
        cand.join(inter, ["da", "db"])
        .join(sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
        .join(sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
        .select(
            "da",
            "db",
            _r(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6).alias(
                "jaccard"
            ),
        )
    )


def _naive_d04(spark, sf_dir):
    """Pre-group-rewrite d04: per-doc shingle self-join with the per-doc
    document-frequency cap."""
    from datafusion_table_providers_spark.operators.relational import _r

    sh = dedup._shingles_df(spark, sf_dir)
    common = (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > dedup.FREQ_CAP)
        .select("s")
    )
    sh_r = sh.join(F.broadcast(common), "s", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        sh_r.alias("x")
        .join(sh_r.alias("y"), F.col("x.s") == F.col("y.s"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= dedup.MIN_SHARED)
    )
    return (
        inter.join(
            sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da"
        )
        .join(
            sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db"
        )
        .select(
            "da",
            "db",
            "shared",
            _r(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6
            ).alias("jaccard"),
        )
    )


def test_d02b_group_expand_matches_naive(spark):
    got = sorted(
        (r.da, r.db, r.jaccard)
        for r in dedup.d02b_minhash_lsh_pairs(spark, SF).collect()
    )
    want = sorted((r.da, r.db, r.jaccard) for r in _naive_d02b(spark, SF).collect())
    assert got == want and len(got) > 0


def test_d02b_group_expand_matches_naive_dup_heavy(spark, dup_heavy_dir):
    got = sorted(
        (r.da, r.db, r.jaccard)
        for r in dedup.d02b_minhash_lsh_pairs(spark, dup_heavy_dir).collect()
    )
    want = sorted(
        (r.da, r.db, r.jaccard) for r in _naive_d02b(spark, dup_heavy_dir).collect()
    )
    assert got == want
    # intra-group (identical text) pairs surface at jaccard exactly 1.0,
    # including the one-shingle duplicated text; shingle-less duplicate
    # groups (empty/1-token/2-token) must NOT pair
    assert any(j == 1.0 for (_, _, j) in got)
    flat = {d for p in got for d in p[:2]}
    assert 9_000_000 not in flat and 9_000_004 not in flat
    assert 9_000_006 in flat  # "exactly three words" has one shingle


def _naive_d12(spark, sf_dir):
    """Components of the doc-level pair graph of :func:`_naive_d02b` at
    D12_JACCARD_TAU, each doc labelled with its component's minimum."""
    import networkx as nx

    pairs = _naive_d02b(spark, sf_dir).filter(
        F.col("jaccard") >= dedup.D12_JACCARD_TAU
    )
    g = nx.Graph((r.da, r.db) for r in pairs.collect())
    return sorted((d, min(c)) for c in nx.connected_components(g) for d in c)


def test_d12_group_expand_matches_naive(spark):
    got = sorted(map(tuple, dedup.d12_dedup_components(spark, SF).collect()))
    assert got == _naive_d12(spark, SF) and len(got) > 0


def test_d12_group_expand_matches_naive_dup_heavy(spark, dup_heavy_dir):
    """Every text of the replicated corpus is a group of >= 3 docs, so each
    group is a node even without a cross-group edge; shingle-less
    duplicate groups are not."""
    got = sorted(
        map(tuple, dedup.d12_dedup_components(spark, dup_heavy_dir).collect())
    )
    assert got == _naive_d12(spark, dup_heavy_dir)
    docs = {d for d, _ in got}
    assert 9_000_000 not in docs and 9_000_004 not in docs
    assert 9_000_006 in docs  # "exactly three words" has one shingle


def test_d04_group_expand_matches_naive(spark):
    got = sorted(
        (r.da, r.db, r.shared, r.jaccard)
        for r in dedup.d04_ngram_jaccard(spark, SF).collect()
    )
    want = sorted(
        (r.da, r.db, r.shared, r.jaccard) for r in _naive_d04(spark, SF).collect()
    )
    assert got == want and len(got) > 0


def test_d04_group_expand_matches_naive_dup_heavy(spark, dup_heavy_dir):
    got = sorted(
        (r.da, r.db, r.shared, r.jaccard)
        for r in dedup.d04_ngram_jaccard(spark, dup_heavy_dir).collect()
    )
    want = sorted(
        (r.da, r.db, r.shared, r.jaccard)
        for r in _naive_d04(spark, dup_heavy_dir).collect()
    )
    assert got == want and len(got) > 0


def test_d03b_set_equals_hamming_filter(spark):
    """The pigeonhole identity d35's simhash shortcut rests on: with 4
    byte-bands and HAMMING_MAX = 3, d03b's banded pair set is EXACTLY the
    set of doc pairs at hamming distance <= 3 (band blocking loses
    nothing)."""
    sim = dedup.d03_simhash(spark, SF)
    a = sim.select(F.col("doc_id").alias("da"), F.col("simhash").alias("ha"))
    b = sim.select(F.col("doc_id").alias("db"), F.col("simhash").alias("hb"))
    allpairs = (
        a.crossJoin(b)
        .filter(F.col("da") < F.col("db"))
        .filter(
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= dedup.HAMMING_MAX
        )
        .select("da", "db")
    )
    want = sorted((r.da, r.db) for r in allpairs.collect())
    got = sorted(
        (r.da, r.db)
        for r in dedup.d03b_simhash_pairs(spark, SF).select("da", "db").collect()
    )
    assert got == want and len(got) > 0


def _naive_d26(spark, sf_dir):
    """Pre-group-rewrite d26: per-doc signatures and shingles, train x
    eval band join + broadcast shingle join."""
    from datafusion_table_providers_spark.operators.relational import _r

    sig = dedup._signature_plan_df(spark, sf_dir)
    is_eval = F.col("doc_id") % dedup.FUZZY_EVAL_MOD == dedup.FUZZY_EVAL_REM
    buckets = None
    for b in range(dedup.N_BANDS):
        one = sig.select(
            "doc_id", F.col(f"band{b}").alias("key"), F.lit(b).alias("band")
        )
        buckets = one if buckets is None else buckets.union(one)
    a = buckets.where(~is_eval).alias("a")
    bb = buckets.where(is_eval).alias("b")
    cand = (
        a.join(
            F.broadcast(bb),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .select(
            F.col("a.doc_id").alias("train_id"),
            F.col("b.doc_id").alias("eval_id"),
        )
        .distinct()
    )
    sh = dedup._shingles_df(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        sh.where(~is_eval)
        .alias("x")
        .join(
            F.broadcast(sh.where(is_eval).alias("y")),
            F.col("x.s") == F.col("y.s"),
        )
        .groupBy(
            F.col("x.doc_id").alias("train_id"),
            F.col("y.doc_id").alias("eval_id"),
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        cand.join(inter, ["train_id", "eval_id"])
        .join(
            sizes.withColumnRenamed("doc_id", "train_id").withColumnRenamed("n", "nt"),
            "train_id",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "eval_id").withColumnRenamed("n", "ne"),
            "eval_id",
        )
        .select(
            "train_id",
            "eval_id",
            _r(
                F.col("inter") / (F.col("nt") + F.col("ne") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )


def test_d26_group_expand_matches_naive(spark):
    got = sorted(
        (r.train_id, r.eval_id, r.jaccard)
        for r in dedup.d26_fuzzy_decontaminate(spark, SF).collect()
    )
    want = sorted(
        (r.train_id, r.eval_id, r.jaccard) for r in _naive_d26(spark, SF).collect()
    )
    assert got == want and len(got) > 0


def test_d26_group_expand_matches_naive_dup_heavy(spark, dup_heavy_dir):
    """The replicated corpus puts train AND eval members inside one text
    group (doc_id offsets shift the %5 class), exercising the diagonal
    (same-text train x eval at jaccard 1.0) and both expansion
    directions."""
    got = sorted(
        (r.train_id, r.eval_id, r.jaccard)
        for r in dedup.d26_fuzzy_decontaminate(spark, dup_heavy_dir).collect()
    )
    want = sorted(
        (r.train_id, r.eval_id, r.jaccard)
        for r in _naive_d26(spark, dup_heavy_dir).collect()
    )
    assert got == want and len(got) > 0
    assert any(j == 1.0 for (_, _, j) in got)


def test_d26_bucket_broadcast_cap_agrees(spark, monkeypatch):
    """cap=0 turns every gated broadcast of d26 into a shuffle, the
    representative bucket table of the band join included; the pairs must
    not change."""
    from datafusion_table_providers_spark.core.memo import clear_memo_caches

    def run():
        clear_memo_caches()
        return sorted(
            (r.train_id, r.eval_id, r.jaccard)
            for r in dedup.d26_fuzzy_decontaminate(spark, SF).collect()
        )

    want = run()
    monkeypatch.setattr(session, "BROADCAST_MAX_ROWS", 0)
    assert run() == want and len(want) > 0


def test_d26_empty_eval_split_matches_oracle(spark, tmp_path):
    """A corpus with no eval member (no doc_id % MOD == REM) still has
    train-side LSH candidates, but nothing to decontaminate against: d26
    and its DuckDB oracle both return no rows."""
    import duckdb

    src = spark.read.parquet(f"{SF}/documents.parquet")
    src.where(
        F.col("doc_id") % dedup.FUZZY_EVAL_MOD != dedup.FUZZY_EVAL_REM
    ).write.parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    got = dedup.d26_fuzzy_decontaminate(spark, sf).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    assert con.execute("SELECT count(*) FROM documents").fetchone()[0] > 0
    want = con.execute(dedup._d26_sql()).fetchall()
    assert got == [] and want == []
    # the band join itself is not empty: the rows vanish at the split
    sig = dedup._rep_signature_df(spark, sf)
    assert dedup._lsh_candidates(sig, diagonal=True).count() > 0


def test_verify_pairs_on_crafted_sets(spark):
    """Exact Jaccard straight from the rep shingle sets: a candidate pair
    with disjoint sets is dropped, the diagonal (ga == gb) scores 1.0, an
    empty-set rep never pairs, and a partial overlap scores |∩| / |∪|."""
    sig = spark.createDataFrame(
        [
            (1, ["a b c", "b c d", "c d e"]),
            (2, ["x y z"]),
            (3, ["a b c", "b c d", "q r s", "t u v"]),
            (4, []),
        ],
        "doc_id long, sh array<string>",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 1), (1, 3), (1, 4), (4, 4)], "ga long, gb long"
    )
    got = sorted(map(tuple, dedup._verify_pairs(cand, sig).collect()))
    # (1, 3): 2 shared of 3 + 4 - 2 = 5 distinct shingles
    assert got == [(1, 1, 1.0), (1, 3, 0.4)]
