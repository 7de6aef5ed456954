"""Deduplication operators for LLM training-data pipelines.

Beyond-reference additions. Scale-first shapes (the 100 TB designs):

- exact dedup groups on md5(text) — never on the raw text — so the shuffle
  key is 32 bytes regardless of document size;
- MinHash-LSH is the classic shingle→minhash→band→bucket-join pipeline: one
  explode + one groupBy for signatures (16 `min` aggregates computed in a
  single map-side-combining pass), then a self-join on (band, key) buckets so
  candidate generation never goes quadratic;
- LSH candidates (d02b, d26) are verified by exact Jaccard on the candidate
  pairs only: the signature groupBy also collects each text's distinct
  shingle set, and each candidate pair intersects its two sets
  (`_verify_pairs`) — no second shingle pass, no shingle self-join;
- SimHash packs a 32-bit signature via bit-count sums and blocks on 8-bit
  bands (pigeonhole: hamming ≤ 3 pairs must agree on ≥1 of 4 bands);
- n-gram Jaccard joins on shingles directly and is bounded by dropping
  ultra-common shingles (frequency cap) — the standard rare-feature trick
  that keeps the candidate join linear on skewed corpora.

Everything is md5-based so Spark and the DuckDB oracle compute identical
hashes; min() over fixed-width lowercase-hex strings == numeric min.

Shingles are word windows from the package's one builder,
``text._word_windows`` (posexplode + ``lead()``; its docstring says why),
which d10, d19, d25 and d31 share.

Cross-cutting discipline (r22): wherever a verdict is a pure function of
the underlying VALUES — document text (d02b/d04/d12/d26/d35), normalized prefix
(d22), simhash value (d03b) — the pipeline runs once per distinct value
and fans verdicts back out to doc pairs at the end; see _text_groups.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from datafusion_table_providers_spark.core.case import QueryCase, utc
from datafusion_table_providers_spark.core.memo import memo_artifact
from datafusion_table_providers_spark.llm.text import _word_windows
from datafusion_table_providers_spark.operators.relational import _r, _rsql, _scan
from datafusion_table_providers_spark.session import bounded_broadcast

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
SHINGLE_W = 3  # word 3-grams


# --- d01: exact dedup -----------------------------------------------------
def d01_exact_dedup(spark, sf_dir):
    d = _documents(spark, sf_dir)
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


D01_SQL = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# --- shared shingle builders ---------------------------------------------
def _shingles_df(spark, sf_dir, distinct: bool = True, width: int = SHINGLE_W):
    """Word ``width``-gram shingles per doc of the corpus (default: the
    3-gram dedup shingles; d13/p02 reuse the same builder for their 4-gram
    decontamination pass)."""
    return _shingles_of(_documents(spark, sf_dir), distinct, width)


def _shingles_of(docs, distinct: bool = True, width: int = SHINGLE_W):
    """Word ``width``-gram shingles ``(doc_id, s)`` per doc of an arbitrary
    (doc_id, text) table — the corpus itself, or the text-group
    representatives (:func:`_rep_docs`) when the consumer's result is a
    pure text function: the full windows of :func:`text._word_windows`.

    ``distinct=False`` skips the dedup shuffle — correct wherever the
    consumer is duplicate-insensitive (MinHash ``min`` aggregates), which at
    100 TB removes a full shuffle of every shingle string. Jaccard
    set-arithmetic consumers must keep ``distinct=True``."""
    spark = docs.sparkSession
    # Small corpora arrive as one file split; the shingle explode + hashing
    # is the expensive part, so spread the docs across the cluster first
    # (at real scale the scan already has many splits and this coalesces
    # into AQE's hands). The window below reuses this doc_id partitioning.
    d = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    out = _word_windows(d, width)
    return out.distinct() if distinct else out


_SHINGLES_SQL = f"""
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       UNNEST(range(1, len(t) - {SHINGLE_W - 2})) AS r(i)
  WHERE len(t) >= {SHINGLE_W}
"""


# --- d02: MinHash signatures + LSH band keys ------------------------------
# Kirsch-Mitzenmacher double hashing: ONE md5 per shingle yields two 32-bit
# halves (h1, h2); the j-th MinHash function is (h1 + j*h2) mod P. Cuts the
# per-shingle hashing cost N_HASHES-fold versus hashing "j:"+s per function
# — at 100 TB the hash stage dominates signature building. Both engines
# derive h1/h2 from the same md5 hex, so signatures stay oracle-identical.
MH_PRIME = 4294967311  # smallest prime > 2^32


@memo_artifact
def _signature_df(spark, sf_dir):
    """Per-doc signature table for doc-keyed consumers (c14),
    memoized + checkpointed. Built GROUP-LEVEL since r22: signatures are a
    pure text function, so they are computed once per distinct text
    (:func:`_rep_signature_df`) and expanded back through the group map —
    identical rows, and on a duplicate-heavy corpus the shingle/hash work
    drops by the duplication factor."""
    m = _text_groups(spark, sf_dir)
    bands = [f"band{b}" for b in range(N_BANDS)]
    # band keys only: the rep shingle sets never ride the broadcast
    rep = _rep_signature_df(spark, sf_dir).select(
        F.col("doc_id").alias("gid"), *bands
    )
    rep = bounded_broadcast(rep, _doc_count(spark, sf_dir))
    return m.join(rep, "gid").select("doc_id", *bands).localCheckpoint(eager=True)


def _signature_plan_df(spark, sf_dir):
    """Raw per-doc signature pipeline (no memo/checkpoint/grouping) — the
    plan-bearing object for d02 itself and for tests."""
    return _signatures_of(_documents(spark, sf_dir))


def _signatures_of(docs, shingle_set: bool = False):
    """MinHash signature + LSH band pipeline over an arbitrary
    (doc_id, text) table (corpus or text-group representatives).
    ``shingle_set=True`` also keeps each doc's distinct shingle strings as
    an array column ``sh``, collected by the same groupBy that computes the
    MinHash ``min``s (see :func:`_verify_pairs`)."""
    # duplicate shingles cannot change a min() — skip the distinct shuffle
    # (collect_set drops them for the shingle set)
    sh = _shingles_of(docs, distinct=False)
    m = F.md5(F.col("s"))
    hh = sh.select(
        "doc_id",
        "s",
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
    )
    aggs = [
        F.min((F.col("h1") + j * F.col("h2")) % MH_PRIME).alias(f"mh{j}")
        for j in range(N_HASHES)
    ]
    if shingle_set:
        aggs.append(F.collect_set("s").alias("sh"))
    sig = hh.groupBy("doc_id").agg(*aggs)
    bands = [
        F.concat_ws(
            "|", *[F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"band{b}")
        for b in range(N_BANDS)
    ]
    # (materialization happens in _signature_df: the table is small —
    # 1 row/doc — and every consumer would otherwise embed the full hash
    # plan in its join fan-out)
    return sig.select("doc_id", *bands, *(["sh"] if shingle_set else []))


def d02_minhash_signatures(spark, sf_dir):
    # the RAW plan, not the memoized localCheckpoint (_signature_df): a solo
    # signature build has no downstream fan-out to amortize a checkpoint, so
    # eagerly materializing blocks here is ~0.3s/run of pure overhead at
    # sf0.1 (and a full extra write of the table at scale). Consumers that
    # embed the signatures several times (d02b's 4-band self-join, d26, c14)
    # go through the memoized _rep_signature_df / _signature_df instead.
    return _signature_plan_df(spark, sf_dir)


def _hex8_sql(mcol: str, start: int) -> str:
    """BIGINT value of 8 hex chars of `mcol` starting at 1-based `start` —
    portable nibble-CASE parse (no from_hex/conv dependency)."""
    terms = []
    for k in range(8):
        case = _HEXVAL_CASE.format(c=f"substr({mcol}, {start + k}, 1)")
        terms.append(f"CAST({case} AS BIGINT) * {16 ** (7 - k)}")
    return "(" + " + ".join(terms) + ")"


def _mh_exprs() -> str:
    return ", ".join(
        f"MIN((h1 + {j} * h2) % {MH_PRIME}) AS mh{j}" for j in range(N_HASHES)
    )


def _band_expr(b: int) -> str:
    return " || '|' || ".join(
        f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)"
        for r in range(ROWS_PER_BAND)
    )


def _sig_cte() -> str:
    """Shared CTE prefix: shingles → (h1, h2) halves → MinHash signatures."""
    return f"""sh AS ({_SHINGLES_SQL}),
hh AS (
  SELECT doc_id, {_hex8_sql('m', 1)} AS h1, {_hex8_sql('m', 9)} AS h2
  FROM (SELECT doc_id, md5(s) AS m FROM sh)
),
sig AS (SELECT doc_id, {_mh_exprs()} FROM hh GROUP BY doc_id)"""


def _sig_sql() -> str:
    bands = ", ".join(
        f"({_band_expr(b)}) AS band{b}" for b in range(N_BANDS)
    )
    return f"""
WITH {_sig_cte()}
SELECT doc_id, {bands} FROM sig
"""


# --- shared corpus reads -------------------------------------------------
@memo_artifact
def _corpus(spark, sf_dir):
    """(documents DataFrame, footer row count or None). The broadcast
    gates need |corpus| on every dedup build; ``_scan`` reads both the row
    count and the schema from the parquet footers on the driver, so neither
    costs a Spark job, and the group map, the rep docs and the shingle pass
    of one build share this one read."""
    utc(spark)
    return _scan(spark, os.path.join(sf_dir, "documents.parquet"))


def _documents(spark, sf_dir):
    """The documents table, read once per (session, sf_dir)."""
    return _corpus(spark, sf_dir)[0]


@memo_artifact
def _doc_count(spark, sf_dir) -> int:
    docs, n = _corpus(spark, sf_dir)
    return docs.count() if n is None else n  # remote storage: count once


def _observed(obs, name: str, fallback):
    """Metric ``name`` of an Observation filled by its DataFrame's eager
    checkpoint. The metrics arrive through Spark's asynchronous listener
    bus, a few ms after the action returns, so wait up to a second for
    them. ``Observation.get`` blocks until some action fills it, so if that
    job did not, run ``fallback()`` instead of waiting forever. When AQE
    drops an empty query stage that holds the ``observe`` node, Spark fills
    the Observation with an empty row, on which ``Observation.get`` fails:
    run ``fallback()`` then too."""
    fut = obs._jo.future()
    deadline = time.monotonic() + 1.0
    while not fut.isCompleted():
        if time.monotonic() >= deadline:
            return fallback()
        time.sleep(0.002)
    if obs._jo.getRow().length() == 0:
        return fallback()
    return obs.get[name]


# --- text groups: compute once per DISTINCT text, expand at the end -------
# Signatures, band keys, shingle sets — hence LSH candidacy and exact
# Jaccard — are pure functions of the TEXT. A dedup-heavy corpus (the
# regime these operators exist for; the sf1 synth replicates every text
# 10×) therefore repeats the entire shingle→hash→join pipeline per copy.
# Group docs by md5(text) (the d01 primitive — a 32-byte shuffle key per
# doc), run the pipeline once per group REPRESENTATIVE, and fan verdicts
# back out to doc pairs with gid-equi-joins at the very end: the same
# group/expand discipline d22 applies to prefixes and d03b to simhash
# values (guide §1.2 step 1: fix the algorithm; §8.4: decide with small
# rows, attach cheaply). Intra-group pairs are jaccard-1.0 by identity and
# emitted only when the rep actually has shingles (docs under SHINGLE_W
# words produce no signature, so the per-doc pipeline never pairs them).


@memo_artifact
def _group_map(spark, sf_dir):
    """(map, n_groups): the (doc_id, gid) map with gid = min doc_id among
    docs sharing this exact text, and the number of distinct texts. ONE
    job builds both: a window over md5(text) (no group-then-join-back),
    with the representative count observed on the map's own eager
    checkpoint."""
    from pyspark.sql import Window

    th = _documents(spark, sf_dir).select("doc_id", F.md5("text").alias("th"))
    is_rep = F.col("doc_id") == F.col("gid")
    obs = Observation()
    m = (
        th.select(
            "doc_id", F.min("doc_id").over(Window.partitionBy("th")).alias("gid")
        )
        .observe(obs, F.count_if(is_rep).alias("reps"))
        .localCheckpoint(eager=True)
    )
    return m, _observed(obs, "reps", lambda: m.where(is_rep).count())


def _text_groups(spark, sf_dir):
    """The checkpointed (doc_id, gid) text-group map (see _group_map)."""
    return _group_map(spark, sf_dir)[0]


def _rep_count(spark, sf_dir) -> int:
    """Number of text groups; no job of its own (see _group_map)."""
    return _group_map(spark, sf_dir)[1]


def _rep_docs(spark, sf_dir):
    """The documents table restricted to text-group representatives."""
    m = _text_groups(spark, sf_dir)
    rep_ids = m.where(F.col("doc_id") == F.col("gid")).select("doc_id")
    rep_ids = bounded_broadcast(rep_ids, _rep_count(spark, sf_dir))
    return _documents(spark, sf_dir).join(rep_ids, "doc_id", "left_semi")


@memo_artifact
def _rep_signature_df(spark, sf_dir):
    """Signature table over the group representatives (1 row per distinct
    text that has >= 1 shingle: doc_id, band0..3 and the distinct shingle
    set ``sh``), memoized + checkpointed."""
    reps = _rep_docs(spark, sf_dir)
    return _signatures_of(reps, shingle_set=True).localCheckpoint(eager=True)


def _fan_out(m, n_docs, cross, intra=None, m_b=None):
    """Fan group-level verdicts back out to (da < db, *payload) doc pairs.

    ``m`` is a (doc_id, gid) map of ``n_docs`` rows. Each verified
    ``cross`` row (ga, gb, *payload) joins once to each side of the map —
    ``m`` for ga, ``m_b`` (default ``m``) for gb — both broadcast under
    the cap, so the fanned-out stream is produced map-side (a checkpointed
    map has no size estimate: without the hint a composed plan such as d35
    falls back to sort-merge and re-exchanges the expanded stream). With
    ga < gb over distinct group pairs every unordered cross-group doc pair
    appears once, and least/greatest restores da < db (groups partition
    docs).

    ``intra`` (gid, *payload) adds the member pairs inside each listed
    group, whose verdict is fixed by identity. A per-group ``intra`` first
    joins the map to get one probe row per member doc; a per-doc one
    (with a ``doc_id`` column: every doc of its group) is the probe
    itself. Each probe row then joins the map once more."""
    ma = m.select(F.col("gid").alias("ga"), F.col("doc_id").alias("xa"))
    mb = (m if m_b is None else m_b).select(
        F.col("gid").alias("gb"), F.col("doc_id").alias("xb")
    )
    ma, mb = bounded_broadcast(ma, n_docs), bounded_broadcast(mb, n_docs)
    out = cross.join(ma, "ga").join(mb, "gb").select(
        F.least("xa", "xb").alias("da"),
        F.greatest("xa", "xb").alias("db"),
        *cross.columns[2:],
    )
    if intra is None:
        return out
    payload = [c for c in intra.columns if c not in ("gid", "doc_id")]
    probe = intra.withColumnRenamed("gid", "ga")
    if "doc_id" in intra.columns:
        probe = probe.withColumnRenamed("doc_id", "xa")
    else:
        probe = probe.join(ma, "ga")
    pairs = (
        probe.join(mb.withColumnRenamed("gb", "ga"), "ga")
        .filter(F.col("xa") < F.col("xb"))
        .select(F.col("xa").alias("da"), F.col("xb").alias("db"), *payload)
    )
    return out.unionByName(pairs)


# --- d02b: LSH candidate pairs + exact-Jaccard verification ---------------
def _lsh_candidates(sig, diagonal: bool = False, n_reps=None):
    """Distinct (ga, gb) rep pairs that share at least one full band key,
    ga < gb (ga <= gb with ``diagonal``): one bucket self-join over the
    union of the N_BANDS band columns, so candidacy never goes quadratic.
    Given the rep count ``n_reps``, one bucket side (N_BANDS rows per rep)
    is broadcast under the cap."""
    buckets = None
    for b in range(N_BANDS):
        one = sig.select(
            "doc_id", F.col(f"band{b}").alias("key"), F.lit(b).alias("band")
        )
        buckets = one if buckets is None else buckets.union(one)
    a = buckets.alias("a")
    bb = buckets.alias("b")
    if n_reps is not None:
        bb = bounded_broadcast(bb, N_BANDS * n_reps)
    ga, gb = F.col("a.doc_id"), F.col("b.doc_id")
    return (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & ((ga <= gb) if diagonal else (ga < gb)),
        )
        .select(ga.alias("ga"), gb.alias("gb"))
        .distinct()
    )


def _verify_pairs(cand, sig):
    """Exact shingle Jaccard of each (ga, gb) candidate, read off the two
    reps' distinct shingle sets in ``sig`` (:func:`_rep_signature_df`):
    inter = |sa ∩ sb|, jaccard = inter / (|sa| + |sb| - inter). The sets
    hold the shingle strings themselves, so this is the oracle's Jaccard
    exactly; pairs with no shared shingle are dropped (by the cheaper
    ``arrays_overlap``, so the intersection is built once per kept pair),
    as the oracle's inner join on the shared-shingle count drops them.
    Cost is |cand| × shingles per text — no shingle self-join, whose cost
    is Σ df(s)²."""
    sa = sig.select(F.col("doc_id").alias("ga"), F.col("sh").alias("sa"))
    sb = sig.select(F.col("doc_id").alias("gb"), F.col("sh").alias("sb"))
    inter = F.col("inter")
    return (
        cand.join(sa, "ga")
        .join(sb, "gb")
        .filter(F.arrays_overlap("sa", "sb"))
        .select(
            "ga",
            "gb",
            F.size(F.array_intersect("sa", "sb")).alias("inter"),
            (F.size("sa") + F.size("sb")).alias("n"),
        )
        .select("ga", "gb", _r(inter / (F.col("n") - inter), 6).alias("jaccard"))
    )


def _minhash_groups(spark, sf_dir):
    """(gpairs, with_sig): the verified (ga, gb, jaccard) rep pairs and the
    (gid, jaccard = 1.0) groups whose rep has a signature.

    Candidacy and exact Jaccard are pure functions of the two TEXTS, so
    band join and verification run once per distinct text (group
    representative) on the memoized rep signature table, which carries
    each rep's shingle set (all that verification reads). Identical texts
    share every band key and every shingle, so the per-doc pipeline always
    paired them at jaccard exactly 1.0 (inter = na = nb), provided the
    text has >= 1 shingle: docs under SHINGLE_W words produce no signature
    and never pair."""
    sig = _rep_signature_df(spark, sf_dir)
    gpairs = _verify_pairs(_lsh_candidates(sig), sig)
    with_sig = sig.select(F.col("doc_id").alias("gid"), F.lit(1.0).alias("jaccard"))
    return gpairs, with_sig


def d02b_minhash_lsh_pairs(spark, sf_dir):
    m = _text_groups(spark, sf_dir)
    return _fan_out(m, _doc_count(spark, sf_dir), *_minhash_groups(spark, sf_dir))


def _d02b_sql() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {_band_expr(b)} AS key, {b} AS band FROM sig"
        for b in range(N_BANDS)
    )
    return f"""
WITH {_sig_cte()},
buckets AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS inter
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT cand.da, cand.db,
       {_rsql('CAST(inter AS DOUBLE) / (s1.n + s2.n - inter)', 6)} AS jaccard
FROM cand
JOIN inter ON cand.da = inter.da AND cand.db = inter.db
JOIN sizes s1 ON cand.da = s1.doc_id
JOIN sizes s2 ON cand.db = s2.doc_id
"""


# --- d03: SimHash ---------------------------------------------------------
SIMHASH_BITS = 32

_HEXVAL_CASE = (
    "CASE {c} "
    + " ".join(f"WHEN '{x}' THEN {i}" for i, x in enumerate("0123456789abcdef"))
    + " END"
)


def _nibble_sql(i: int) -> str:
    """Integer value of hex digit i (1-based) of md5(w) — portable SQL."""
    return _HEXVAL_CASE.format(c=f"substr(md5(w), {i}, 1)")


def _bit_contrib_from_nib(bit: int) -> str:
    """±1 contribution of md5-bit `bit`, reading a precomputed nibble column
    (keeps the expression tree ~4× smaller than inlining the hex CASE per
    bit — big plans OOM when self-joined)."""
    shift = 3 - bit % 4
    return f"(((nib{bit // 4} >> {shift}) & 1) * 2 - 1)"


def _simhash_value_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return terms


def d03_simhash(spark, sf_dir):
    return _simhashes_of(_documents(spark, sf_dir))


def _simhashes_of(docs):
    """SimHash signature pipeline over an arbitrary (doc_id, text) table
    (the corpus, or the text-group representatives when the consumer only
    needs the per-text value — simhash is a pure text function)."""
    spark = docs.sparkSession
    d = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    words = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    nibs = words.select(
        "doc_id",
        *[
            F.expr(_nibble_sql(i + 1)).alias(f"nib{i}")
            for i in range(SIMHASH_BITS // 4)
        ],
    )
    contrib = nibs.select(
        "doc_id",
        *[
            F.expr(_bit_contrib_from_nib(b)).alias(f"c{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    sums = contrib.groupBy("doc_id").agg(
        *[F.sum(f"c{b}").alias(f"s{b}") for b in range(SIMHASH_BITS)]
    )
    return sums.select(
        "doc_id", F.expr(_simhash_value_sql()).alias("simhash")
    )


def _d03_sql() -> str:
    nibs = ", ".join(
        f"{_nibble_sql(i + 1)} AS nib{i}" for i in range(SIMHASH_BITS // 4)
    )
    contribs = ", ".join(
        f"{_bit_contrib_from_nib(b)} AS c{b}" for b in range(SIMHASH_BITS)
    )
    sums = ", ".join(f"SUM(c{b}) AS s{b}" for b in range(SIMHASH_BITS))
    return f"""
WITH words AS (
  SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
),
nibs AS (SELECT doc_id, {nibs} FROM words),
contrib AS (SELECT doc_id, {contribs} FROM nibs),
sums AS (SELECT doc_id, {sums} FROM contrib GROUP BY doc_id)
SELECT doc_id, {_simhash_value_sql()} AS simhash FROM sums
"""


# --- d03b: SimHash near-dup pairs via byte-band blocking ------------------
HAMMING_MAX = 3


def d03b_simhash_pairs(spark, sf_dir):
    from pyspark.sql import Window

    # lineage cut before the band self-join (see d02b)
    sig = d03_simhash(spark, sf_dir).localCheckpoint(eager=True)
    # Run the band self-join once per DISTINCT SIMHASH VALUE, not once per
    # doc: hamming (and hence membership) depends only on the two simhash
    # values, and a near-dup-heavy corpus collapses many docs onto one
    # value (exact duplicates always do) — at the 10×-replicated sf1 synth
    # the band join's pair explosion drops ~100× for the same output.
    # Shape (same group/expand discipline as d22): group docs by simhash
    # (window min = group id), band-join the distinct values, hamming-
    # filter BEFORE fanning back out (only surviving group pairs pay the
    # expansion joins), then two gid-equi-joins restore doc pairs.
    # Intra-group pairs are hamming-0 by identity and always survive.
    # Computing the simhashes on text-group reps and fanning out through
    # _lsh_candidates/_fan_out returned the same rows but ran slower at
    # sf0.01 (median 1.71 → 2.08 s with the rep simhashes checkpointed,
    # 1.45 → 5.84 s without; local[4]), so d03b keeps this grouping.
    m = sig.withColumn(
        "gid", F.min("doc_id").over(Window.partitionBy("simhash"))
    )
    reps = m.where(F.col("doc_id") == F.col("gid")).select(
        F.col("gid"), F.col("simhash")
    )
    # ONE self-join on the unpivoted (band, byte) key instead of a 4-way
    # union of per-byte-band joins (r21 rewrite, kept): a pair collides on
    # SOME band either way and the DISTINCT collapses multi-band collisions.
    banded = reps.select(
        "gid",
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
    ).select("gid", "simhash", F.col("bb.band").alias("band"), F.col("bb.byte").alias("byte"))
    a = banded.alias("a")
    b = banded.alias("b")
    gpairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(
            F.col("a.gid").alias("ga"),
            F.col("b.gid").alias("gb"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
        .select(
            "ga",
            "gb",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
    )
    # the expansion fan-out below is ATOMIC per gpair row (one row emits
    # |group_a|×|group_b| pairs) and AQE coalesces the tiny gpairs exchange
    # into a handful of tasks — a few heavy group pairs then serialize the
    # whole expansion (measured: one 14.5s straggler vs 0.6s median).
    # Spread the rows round-robin over 4× the
    # parallelism first so heavy rows land apart (guide §2.5: skew —
    # split/spread the hot keys); the exchange itself is distinct-value
    # pairs, orders of magnitude smaller than its fan-out.
    par = spark.sparkContext.defaultParallelism
    gpairs = gpairs.repartition(4 * par)
    # m leaves the window hash-partitioned by SIMHASH — i.e. every member
    # of a big group sits in ONE partition, so the intra fan-out (each
    # probe row emits |group| rows) would be produced by a handful of
    # straggler tasks (measured: the expansion stage ran at ~3-way
    # effective parallelism). Spread the PROBE rows by doc_id first — the
    # per-row output is then Σ|group| per task, uniform (guide §2.5).
    # Every doc probes (intra pairs are hamming 0 by identity).
    m_spread = m.repartition(par, "doc_id").select(
        "gid", "doc_id", F.lit(0).alias("hamming")
    )
    return _fan_out(m_spread, _doc_count(spark, sf_dir), gpairs, m_spread)


def _d03b_sql() -> str:
    bands = " UNION ALL ".join(
        f"""SELECT a.doc_id da, b.doc_id db, a.simhash ha, b.simhash hb
        FROM sig a JOIN sig b
          ON ((a.simhash >> {8 * i}) % 256) = ((b.simhash >> {8 * i}) % 256)
         AND a.doc_id < b.doc_id"""
        for i in range(4)
    )
    inner = _d03_sql().strip()
    return f"""
WITH sig AS ({inner}),
pairs AS (SELECT DISTINCT da, db, ha, hb FROM ({bands}))
SELECT da, db, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM pairs WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}
"""


# --- d04: n-gram Jaccard with frequency-capped candidate join -------------
FREQ_CAP = 50  # drop shingles present in more docs than this (skew guard)
MIN_SHARED = 2


def _d04_groups(spark, sf_dir, rep_shingles=None):
    """(gpairs, intra_g): d04's (ga, gb, shared, jaccard) rep pairs and the
    (gid, shared, jaccard) groups whose member pairs it emits.

    The shared-shingle count and Jaccard depend only on the two texts and
    the GLOBAL document frequency of each shingle, so the self-join runs
    once per distinct text (see _text_groups). ``rep_shingles``, when
    given, must be the REP-level distinct shingle table
    (``_shingles_of(_rep_docs(...))``): document frequency is weighted by
    group size below, so a per-doc table would count duplicates twice."""
    sh = (
        rep_shingles
        if rep_shingles is not None
        else _shingles_of(_rep_docs(spark, sf_dir))
    )
    gsize = _text_groups(spark, sf_dir).groupBy("gid").agg(F.count("*").alias("gn"))
    # document frequency of s = Σ group sizes over the groups whose text
    # contains s (each rep row stands for gn identical docs) — identical
    # to the per-doc count. The group-size table is 2 longs/group;
    # broadcast it under the cap.
    gsz = bounded_broadcast(
        gsize.withColumnRenamed("gid", "doc_id"), _rep_count(spark, sf_dir)
    )
    # drop ultra-common shingles via ANTI-join against the COMMON set, an
    # ungated broadcast: each common shingle is in more than FREQ_CAP docs,
    # so |common| <= Σ df / FREQ_CAP. That still grows with the corpus,
    # but at 1/FREQ_CAP the rate of the rare vocabulary, which can reach
    # Σ df itself (guide §3.1: broadcast the smaller side).
    common = (
        sh.join(gsz, "doc_id")
        .groupBy("s")
        .agg(F.sum("gn").alias("df"))
        .filter(F.col("df") > FREQ_CAP)
        .select("s")
    )
    sh_r = sh.join(F.broadcast(common), "s", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    ginter = (
        sh_r.alias("x")
        .join(sh_r.alias("y"), F.col("x.s") == F.col("y.s"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= MIN_SHARED)
    )
    gpairs = (
        ginter.join(
            sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"),
            "da",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"),
            "db",
        )
        .select(
            F.col("da").alias("ga"),
            F.col("db").alias("gb"),
            "shared",
            _r(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )
    # intra-group pairs: identical texts share exactly their own rare
    # shingles, so the per-doc join emitted them with shared = |rare(text)|
    # and jaccard = shared / (2n - shared) — but only when the text has
    # >= MIN_SHARED rare shingles.
    rare_n = (
        sh_r.groupBy(F.col("doc_id").alias("gid"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= MIN_SHARED)
    )
    intra_g = rare_n.join(
        sizes.withColumnRenamed("doc_id", "gid"), "gid"
    ).select(
        "gid",
        "shared",
        _r(
            F.col("shared") / (F.col("n") + F.col("n") - F.col("shared")), 6
        ).alias("jaccard"),
    )
    return gpairs, intra_g


def d04_ngram_jaccard(spark, sf_dir):
    m = _text_groups(spark, sf_dir)
    return _fan_out(m, _doc_count(spark, sf_dir), *_d04_groups(spark, sf_dir))


_D04_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {FREQ_CAP}),
shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS shared
  FROM shr x JOIN shr y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_SHARED}
)
SELECT da, db, shared,
       {_rsql('CAST(shared AS DOUBLE) / (s1.n + s2.n - shared)', 6)} AS jaccard
FROM inter JOIN sizes s1 ON da = s1.doc_id JOIN sizes s2 ON db = s2.doc_id
"""


# --- d12: duplicate-cluster assignment (connected components) -------------
# Near-duplicate pairs form a graph; each doc maps to its component's
# minimum doc_id. Spark side: components of the text-group graph (d02b's
# verified group pairs before the fan-out, see _text_groups), expanded to
# docs through the group map. Oracle side: DuckDB recursive-CTE closure.
D12_JACCARD_TAU = 0.5


def _components(edges):
    """The star forest of the undirected graph ``edges`` (lo < hi): a row
    (lo, hi) per node hi of a component, lo being its minimum. Alternates
    large-star and small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014), so rounds grow with the log of the
    component size, not its diameter. Neither step raises the edge count
    or Σ lo, and each keeps both only when it changes nothing: each
    round's checkpoint job observes the pair, and the loop stops when a
    round repeats the round before."""
    from pyspark.sql import Window

    # decimal: a long sum overflows into an error under ANSI mode
    stat = F.struct(F.count("*"), F.sum(F.col("lo").cast("decimal(38,0)")))

    def edge(a, b, x="lo", y="hi"):
        return F.struct(F.col(a).alias(x), F.col(b).alias(y))

    prev = None
    while True:
        uv = F.array(edge("lo", "hi", "u", "v"), edge("hi", "lo", "u", "v"))
        m = F.least("u", F.min("v").over(Window.partitionBy("u"))).alias("m")
        # large-star: node u's larger neighbours v attach to m = min(u, N(u))
        large = edges.select(F.inline(uv)).select("u", "v", m)
        large = large.where(F.col("v") > F.col("u"))
        # small-star: node v and its smaller neighbours m attach to their min
        lo = F.min("m").over(Window.partitionBy("v")).alias("lo")
        small = large.select(lo, "m", "v")
        obs = Observation()
        out = (
            small.select(F.inline(F.array(edge("lo", "v"), edge("lo", "m"))))
            .where(F.col("lo") < F.col("hi"))
            .distinct()
            .observe(obs, stat.alias("stat"))
            .localCheckpoint(eager=True)
        )
        now = _observed(obs, "stat", lambda: out.agg(stat).first()[0])
        if now == prev:
            return out
        prev, edges = now, out


# Memoized: d12, d34, p01 and p02 read the same labels; rounds run once.
@memo_artifact
def d12_dedup_components(spark, sf_dir):
    pairs, with_sig = _minhash_groups(spark, sf_dir)
    pairs = pairs.filter(F.col("jaccard") >= D12_JACCARD_TAU)
    stars = _components(pairs.select(F.col("ga").alias("lo"), F.col("gb").alias("hi")))
    # d02b pairs identical texts at 1.0, so a group of >= 2 docs whose text
    # has a signature is a node even without a cross-group edge
    m, n_reps = _group_map(spark, sf_dir)
    with_sig = bounded_broadcast(with_sig.select("gid"), n_reps)
    dup = m.where(F.col("doc_id") != F.col("gid")).join(with_sig, "gid", "left_semi")
    # the smallest label of each star leaf, star centre and duplicate group
    labels = (
        stars.union(stars.select("lo", "lo"))
        .union(dup.select("gid", "gid"))
        .groupBy(F.col("hi").alias("gid"))
        .agg(F.min("lo").alias("component_id"))
    )
    labels = bounded_broadcast(labels, n_reps)
    return m.join(labels, "gid").select("doc_id", "component_id")


def _d12_sql() -> str:
    return f"""
WITH RECURSIVE
jp AS (
  SELECT da, db FROM ({_d02b_sql()}) WHERE jaccard >= {D12_JACCARD_TAU}
),
edges AS (SELECT da AS a, db AS b FROM jp UNION ALL SELECT db, da FROM jp),
nodes AS (SELECT DISTINCT a AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
)
SELECT n AS doc_id, MIN(m) AS component_id FROM reach GROUP BY n
"""


SUITE = {
    "d01_exact_dedup": QueryCase(d01_exact_dedup, D01_SQL, "exact dedup via md5"),
    "d12_dedup_components": QueryCase(
        d12_dedup_components, _d12_sql(), "duplicate clusters (connected components)"
    ),
    "d02_minhash_signatures": QueryCase(
        d02_minhash_signatures, _sig_sql(), "MinHash signatures + LSH bands"
    ),
    "d02b_minhash_lsh_pairs": QueryCase(
        d02b_minhash_lsh_pairs, _d02b_sql(), "LSH candidates + exact Jaccard"
    ),
    "d03_simhash": QueryCase(d03_simhash, _d03_sql(), "SimHash signatures"),
    "d03b_simhash_pairs": QueryCase(
        d03b_simhash_pairs, _d03b_sql(), "SimHash hamming pairs"
    ),
    "d04_ngram_jaccard": QueryCase(
        d04_ngram_jaccard, _D04_SQL, "n-gram Jaccard dedup"
    ),
}


# --- d22: edit-distance (Levenshtein) near-dup with prefix blocking -------
# Fuzzy dedup for the cases hashing families miss: small character-level
# edits (OCR noise, whitespace/punctuation drift, minor rewrites). Classic
# record-linkage shape: BLOCK first, compare second — candidate pairs come
# only from a cheap equi-join on a blocking key, and the quadratic
# Levenshtein DP runs per-pair on fixed-length normalized prefixes, so
# per-pair cost is a constant (PFX_LEN^2 character ops).
#
# Scale shape (100 TB): one scan computes (prefix, block-key); the
# candidate generator is a self-equi-join on the block key (hash shuffle,
# never an all-pairs product); D22_BLOCK_CAP drops pathological blocks
# (boilerplate-heavy shards) before the join, bounding per-block work the
# same way FREQ_CAP does in d04. Recall tradeoff is explicit: near-dups
# whose first D22_BLOCK chars differ are missed — production would union a
# second blocking pass (e.g. suffix key or length bucket) exactly like
# d11b's multi-probe union.
#
# Determinism: normalization is regexp_replace + lower + substr (identical
# semantics both engines) and the output columns are all integers —
# Levenshtein distance is exact DP, no float anywhere.
#
# Block-key selectivity is the scale lever (probed on the synthetic corpus):
# a 4-char key saturates on a fixed vocabulary — candidates grew 4,037 →
# 405,823 (100×) over a 4× doc step, a quadratic hop the cross-SF probe
# caught. The 8-char key keeps 258/262 true pairs (98.5% recall) at 13.5×
# fewer candidates; block count keeps growing with corpus instead of
# saturating. The Spark side also bounds the DP with the threshold form
# levenshtein(a, b, tau) — O(tau·n) early-exit, -1 above tau — which the
# oracle's plain `levenshtein() <= tau` filter reproduces exactly.
D22_PFX_LEN = 64
D22_BLOCK = 8
D22_TAU = 24
D22_BLOCK_CAP = 1000


def _d22_prefixed(spark, sf_dir):
    d = _documents(spark, sf_dir)
    pfx = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", ""),
        1,
        D22_PFX_LEN,
    )
    return d.select(
        "doc_id", pfx.alias("pfx"), F.substring(pfx, 1, D22_BLOCK).alias("bk")
    )


def d22_editdist_neardup(spark, sf_dir):
    from pyspark.sql import Window

    p = _d22_prefixed(spark, sf_dir)
    # block-cap via ANTI-join against the set of over-cap blocks, an
    # ungated broadcast: each bad block holds more than D22_BLOCK_CAP docs,
    # so |bad| <= docs / D22_BLOCK_CAP, while the surviving block keys can
    # number one per doc (same inversion as d04's frequency cap; identical
    # surviving rows)
    bad = (
        p.groupBy("bk")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") > D22_BLOCK_CAP)
        .select("bk")
    )
    p = p.join(F.broadcast(bad), "bk", "left_anti")
    # Run the quadratic Levenshtein DP once per DISTINCT-PREFIX pair, not
    # once per doc pair: dist(a, b) depends only on (pfx_a, pfx_b), and a
    # near-dup-heavy corpus (the regime this operator exists for) has many
    # docs per identical prefix — at the 10×-replicated sf1 synth that is
    # 100× fewer DP cells for the same output. Shape: group docs by prefix
    # (window min = group id, one (bk, pfx) shuffle), DP over distinct rep
    # pairs ga < gb, then fan the verdicts back out to doc pairs; pairs
    # inside one prefix group are dist 0 by identity. Doc-pair set and
    # dist values are provably identical: prefixes partition docs, and
    # every same-block unordered doc pair is in exactly one group pair.
    m = p.withColumn(
        "gid", F.min("doc_id").over(Window.partitionBy("bk", "pfx"))
    )
    reps = m.where(F.col("doc_id") == F.col("gid")).select("bk", "gid", "pfx")
    ra = reps.select("bk", F.col("gid").alias("ga"), F.col("pfx").alias("pa"))
    rb = reps.select("bk", F.col("gid").alias("gb"), F.col("pfx").alias("pb"))
    rep_pairs = (
        ra.join(rb, "bk")
        .filter(F.col("ga") < F.col("gb"))
        .select(
            "ga",
            "gb",
            F.levenshtein(F.col("pa"), F.col("pb"), D22_TAU).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )
    intra = m.select("gid", "doc_id", F.lit(0).alias("dist"))
    return _fan_out(m, _doc_count(spark, sf_dir), rep_pairs, intra)


_D22_SQL = f"""
WITH p AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1,
                {D22_PFX_LEN}) AS pfx
  FROM documents
),
blk AS (SELECT doc_id, pfx, substr(pfx, 1, {D22_BLOCK}) AS bk FROM p),
ok AS (SELECT bk FROM blk GROUP BY bk HAVING COUNT(*) <= {D22_BLOCK_CAP}),
f AS (SELECT blk.* FROM blk JOIN ok USING (bk))
SELECT a.doc_id AS da, b.doc_id AS db,
       levenshtein(a.pfx, b.pfx) AS dist
FROM f a JOIN f b ON a.bk = b.bk AND a.doc_id < b.doc_id
WHERE levenshtein(a.pfx, b.pfx) <= {D22_TAU}
"""


SUITE["d22_editdist_neardup"] = QueryCase(
    d22_editdist_neardup,
    _D22_SQL,
    "edit-distance near-dup (blocked Levenshtein)",
)

from datafusion_table_providers_spark.operators.relational import _merged

d04b_ngram_editdist, _D04B_SQL = _merged(
    ("d04", d04_ngram_jaccard, _D04_SQL),
    ("d22", d22_editdist_neardup, _D22_SQL),
)
SUITE["d04b_ngram_editdist"] = QueryCase(
    d04b_ngram_editdist,
    _D04B_SQL,
    "n-gram Jaccard + edit-distance near-dup (merged)",
)


# --- d26: fuzzy eval-set decontamination (MinHash/LSH, cross-split) -------
# Real curation pipelines pair exact-substring decontamination (d13's
# 8-gram hits) with NEAR-duplicate decontamination: a training doc that is
# a light paraphrase of an eval doc shares no long exact gram but has high
# shingle Jaccard. Same signature/band machinery as d02b, restricted to
# train x eval pairs at the end. Scale shape: the band join spans all
# representatives and broadcasts its bucket side (N_BANDS rows per rep)
# only under the broadcast cap (past that it shuffles);
# verification reads the candidates' shingle sets, so its cost is bounded
# by |candidates|, not by the corpus. (The synthetic 20% split here is far
# larger than any real benchmark; it exists so the certified output is
# non-trivial.)
FUZZY_EVAL_MOD = 5
FUZZY_EVAL_REM = 2


def d26_fuzzy_decontaminate(spark, sf_dir):
    # GROUP LEVEL (r22, see _text_groups): candidacy and Jaccard are pure
    # functions of the two TEXTS; only the train/eval SPLIT is doc-level
    # (doc_id % MOD). So: band-join and verify once per unordered REP pair
    # — INCLUDING the diagonal ga == gb, since a train doc and an eval doc
    # may share one exact text (jaccard 1.0) — then expand each verdict to
    # (train member × eval member) through the group map.
    sig = _rep_signature_df(spark, sf_dir)  # checkpointed + memoized
    gcand = _lsh_candidates(sig, diagonal=True, n_reps=_rep_count(spark, sf_dir))
    gpairs = _verify_pairs(gcand, sig)
    # one generator turns each verdict into both (train group, eval group)
    # directions, the diagonal once; then one join to the train map and one
    # to the eval map
    fwd = F.struct(F.col("ga"), F.col("gb"))
    rev = F.struct(F.col("gb").alias("ga"), F.col("ga").alias("gb"))
    both = gpairs.select(
        F.inline(F.array_distinct(F.array(fwd, rev))), "jaccard"
    )
    def is_eval(c):
        return F.col(c) % FUZZY_EVAL_MOD == FUZZY_EVAL_REM

    m = _text_groups(spark, sf_dir)
    pairs = _fan_out(
        m.where(~is_eval("doc_id")),
        _doc_count(spark, sf_dir),
        both,
        m_b=m.where(is_eval("doc_id")),
    )
    # each (da < db) pair holds one train and one eval doc
    return pairs.select(
        F.when(is_eval("da"), F.col("db")).otherwise(F.col("da")).alias("train_id"),
        F.when(is_eval("da"), F.col("da")).otherwise(F.col("db")).alias("eval_id"),
        "jaccard",
    )


def _d26_sql() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {_band_expr(b)} AS key, {b} AS band FROM sig"
        for b in range(N_BANDS)
    )
    m, r = FUZZY_EVAL_MOD, FUZZY_EVAL_REM
    return f"""
WITH {_sig_cte()},
buckets AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id % {m} <> {r} AND b.doc_id % {m} = {r}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS train_id, y.doc_id AS eval_id, COUNT(*) AS inter
  FROM sh x JOIN sh y ON x.s = y.s
  WHERE x.doc_id % {m} <> {r} AND y.doc_id % {m} = {r}
  GROUP BY 1, 2
)
SELECT cand.train_id, cand.eval_id,
       {_rsql('CAST(inter AS DOUBLE) / (st.n + se.n - inter)', 6)} AS jaccard
FROM cand
JOIN inter ON cand.train_id = inter.train_id AND cand.eval_id = inter.eval_id
JOIN sizes st ON cand.train_id = st.doc_id
JOIN sizes se ON cand.eval_id = se.doc_id
"""


SUITE["d26_fuzzy_decontaminate"] = QueryCase(
    d26_fuzzy_decontaminate,
    _d26_sql(),
    "fuzzy eval-set decontamination (LSH train x eval + exact Jaccard)",
)


# --- d34: quality-aware duplicate-representative selection ----------------
# Production dedup never keeps the MIN-doc_id duplicate: it keeps the
# highest-QUALITY member of each near-duplicate cluster (the convention in
# published curation pipelines — e.g. RefinedWeb keeps by heuristic rank).
# Composition of two certified primitives: d12's connected components
# (large-star/small-star over the MinHash-LSH pair graph) joined to d08's
# quality score; one window per component picks the argmax. The quality
# column is already floor-rounded to 6 dp, so the (quality DESC, doc_id
# ASC) order is deterministic on both engines. Scale: the join and window
# run on the MEMBERS of duplicate clusters only (a small fraction of the
# corpus), partitioned by component_id.
def d34_dedup_keep_best(spark, sf_dir):
    from pyspark.sql import Window

    from datafusion_table_providers_spark.llm.text import d08_quality

    comp = d12_dedup_components(spark, sf_dir)
    q = d08_quality(spark, sf_dir).select("doc_id", "quality")
    m = comp.join(q, "doc_id")
    wc = Window.partitionBy("component_id")
    wr = Window.partitionBy("component_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    ranked = m.withColumn("n_members", F.count("*").over(wc)).withColumn(
        "rk", F.row_number().over(wr)
    )
    return ranked.filter(F.col("rk") == 1).select(
        "component_id",
        F.col("doc_id").alias("kept_doc"),
        "n_members",
        (F.col("n_members") - F.lit(1)).alias("n_dropped"),
        F.col("quality").alias("kept_quality"),
    )


def _d34_sql() -> str:
    from datafusion_table_providers_spark.llm.text import _d08_sql

    return f"""
WITH m AS (
  SELECT c.component_id, c.doc_id, q.quality
  FROM ({_d12_sql()}) c JOIN ({_d08_sql()}) q USING (doc_id)
),
r AS (
  SELECT component_id, doc_id, quality,
         CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT) AS n_members,
         ROW_NUMBER() OVER (PARTITION BY component_id
                            ORDER BY quality DESC, doc_id ASC) AS rk
  FROM m
)
SELECT component_id, doc_id AS kept_doc, n_members,
       n_members - 1 AS n_dropped, quality AS kept_quality
FROM r WHERE rk = 1
"""


SUITE["d34_dedup_keep_best"] = QueryCase(
    d34_dedup_keep_best,
    _d34_sql(),
    "duplicate clusters keep the highest-quality representative",
)


# window row: components + quality-aware representative in one slot
d12b_components_keepbest, D12B_SQL = _merged(
    ("d12", d12_dedup_components, _d12_sql()),
    ("d34", d34_dedup_keep_best, _d34_sql()),
)
SUITE["d12b_components_keepbest"] = QueryCase(
    d12b_components_keepbest,
    D12B_SQL,
    "duplicate clusters + keep-best representative (merged)",
)


# --- d35: ensemble near-duplicate verdict ---------------------------------
# Production dedup at scale runs SEVERAL cheap near-dup detectors and
# trusts only their agreement (each method has distinct false-positive
# modes: MinHash misses low-Jaccard paraphrases, SimHash collides on
# short texts, n-gram Jaccard over-fires on boilerplate). A pair is a
# duplicate iff >= 2 of {minhash, simhash, ngram} flag it.
#
# Each member is a pure function of the two texts, so the vote runs on
# text-group pairs and fans out to doc pairs once (see _text_groups):
# - cross-group: the minhash and n-gram members' verified group pairs sum
#   their method bits per (ga, gb); simhash adds its bit when the two
#   reps' simhashes lie within HAMMING_MAX. With 4 byte-bands and
#   HAMMING_MAX = 3, pigeonhole makes d03b's banded pair set exactly the
#   hamming <= 3 set, so comparing the values is d03b's verdict. Simhash
#   alone is one vote, so only a pair another member flagged can reach two.
# - intra-group: identical texts with a signature are minhash 1.0 and
#   hamming 0, so each such group votes minhash + simhash, plus ngram when
#   d04 pairs its members. A group without a signature (under SHINGLE_W
#   words) can reach only simhash, so it never pairs.
#: method → bit tag. Each member emits a group pair at most once, so
#: sum(tag) is the method SET: one codegen HashAggregate, where
#: count(DISTINCT)/collect_set planned object-mode aggregates.
_D35_TAG = {"minhash": 1, "ngram": 2, "simhash": 4}
#: mask → the exact string collect_set+array_sort+array_join produced
_D35_MASK_STR = [
    ",".join(sorted(m for m, t in _D35_TAG.items() if mask & t))
    for mask in range(8)
]


def d35_ensemble_neardup(spark, sf_dir):
    mh, with_sig = _minhash_groups(spark, sf_dir)
    # the rep signature table's shingle sets are d04's rep shingle table
    sh = _rep_signature_df(spark, sf_dir).select("doc_id", F.explode("sh").alias("s"))
    ng, ng_intra = _d04_groups(spark, sf_dir, sh)
    votes = (
        mh.select("ga", "gb", F.lit(_D35_TAG["minhash"]).alias("tag"))
        .unionByName(ng.select("ga", "gb", F.lit(_D35_TAG["ngram"]).alias("tag")))
        .groupBy("ga", "gb")
        .agg(F.sum("tag").alias("mask"))
    )
    # every voted rep has shingles, hence a text and a simhash
    n_reps = _rep_count(spark, sf_dir)
    rsim = bounded_broadcast(_simhashes_of(_rep_docs(spark, sf_dir)), n_reps)
    near = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= HAMMING_MAX
    sim_tag = F.when(near, _D35_TAG["simhash"]).otherwise(0)
    cross = (
        votes.join(rsim.toDF("ga", "ha"), "ga")
        .join(rsim.toDF("gb", "hb"), "gb")
        .select("ga", "gb", (F.col("mask") + sim_tag).alias("mask"))
        .filter(F.bit_count("mask") >= 2)
    )
    ng_tag = ng_intra.select("gid", F.lit(_D35_TAG["ngram"]).alias("tag"))
    intra = with_sig.join(bounded_broadcast(ng_tag, n_reps), "gid", "left").select(
        "gid",
        (
            F.lit(_D35_TAG["minhash"] | _D35_TAG["simhash"])
            + F.coalesce("tag", F.lit(0))
        ).alias("mask"),
    )
    m = _text_groups(spark, sf_dir)
    return _fan_out(m, _doc_count(spark, sf_dir), cross, intra).select(
        "da",
        "db",
        F.bit_count("mask").cast("long").alias("n_methods"),
        F.element_at(
            F.array(*[F.lit(s) for s in _D35_MASK_STR]),
            (F.col("mask") + 1).cast("int"),
        ).alias("methods"),
    )


def _d35_sql() -> str:
    return f"""
WITH u AS (
  SELECT da, db, 'minhash' AS method FROM ({_d02b_sql()})
  UNION ALL
  SELECT da, db, 'simhash' AS method FROM ({_d03b_sql()})
  UNION ALL
  SELECT da, db, 'ngram' AS method FROM ({_D04_SQL})
)
SELECT da, db, COUNT(DISTINCT method) AS n_methods,
       string_agg(DISTINCT method, ',' ORDER BY method) AS methods
FROM u GROUP BY da, db HAVING COUNT(DISTINCT method) >= 2
"""


SUITE["d35_ensemble_neardup"] = QueryCase(
    d35_ensemble_neardup,
    _d35_sql(),
    "ensemble near-dup verdict (pair flagged by >=2 of 3 methods)",
)


# --- d37: near-duplicate contamination matrix by source pair --------------
# The dataset-card question behind dedup: WHERE do the duplicates come
# from? Cross-source pair mass (e.g. web_crawl x curated) signals one
# source re-hosting another — a licensing/contamination review trigger —
# while intra-source mass is ordinary crawl redundancy. Pure composition:
# the certified d02b pair table joined twice against the slim
# (doc_id, source) projection (unhinted: the planner picks the sides —
# the pair table is output-bounded, the label table is 2 columns), then
# one tiny groupBy on the unordered source pair. Label the pair
# (least, greatest) so (A,B) and (B,A) accumulate together.
def d37_dup_source_matrix(spark, sf_dir):
    d = _documents(spark, sf_dir).select("doc_id", "source")
    pairs = d02b_minhash_lsh_pairs(spark, sf_dir).select("da", "db")
    labeled = (
        pairs.join(
            d.select(
                F.col("doc_id").alias("da"), F.col("source").alias("src_a")
            ),
            "da",
        )
        .join(
            d.select(
                F.col("doc_id").alias("db"), F.col("source").alias("src_b")
            ),
            "db",
        )
    )
    return (
        labeled.select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count("*").alias("n_pairs"))
    )


def _d37_sql() -> str:
    return f"""
WITH pairs AS (SELECT da, db FROM ({_d02b_sql()})),
labeled AS (
  SELECT LEAST(x.source, y.source) AS source_lo,
         GREATEST(x.source, y.source) AS source_hi
  FROM pairs p
  JOIN documents x ON p.da = x.doc_id
  JOIN documents y ON p.db = y.doc_id
)
SELECT source_lo, source_hi, COUNT(*) AS n_pairs
FROM labeled GROUP BY source_lo, source_hi
"""


SUITE["d37_dup_source_matrix"] = QueryCase(
    d37_dup_source_matrix,
    _d37_sql(),
    "near-dup pair mass by unordered source pair (contamination matrix)",
)
