"""Corpus-curation operators: decontamination, deterministic sampling,
sequence packing.

Beyond-reference additions (SURVEY §2 'north star'): the three curation
steps every large-scale training-data pipeline runs between dedup and
tokenization:

- d13 decontamination — flag training documents sharing word n-grams with a
  held-out evaluation set (the standard benchmark-overlap check). The eval
  n-gram set is small by construction, so the overlap join is a broadcast
  hash join against the exploded training n-grams: one scan + one narrow
  broadcast join + one groupBy on doc_id. At 100 TB the eval set stays
  driver-size (benchmarks are thousands of docs), so the broadcast shape
  holds at any corpus scale.
- d14 deterministic stratified sampling — per-stratum hash-threshold
  sampling (md5 of the document key against a hex threshold). Pure
  per-row predicate: no shuffle at all, reproducible across engines and
  runs, and re-runnable incrementally (the keep/drop decision depends only
  on the key, never on partitioning or ordering).
- d15 sequence packing — greedy sequential token-budget packing: documents
  are ordered deterministically within each source stream and assigned to
  bins by ``floor(exclusive_cumsum_tokens / budget)``. One window over the
  per-source stream (shuffle on ``source``), then one groupBy on
  (source, bin). A document whose tokens straddle a boundary stays in the
  bin where it started (greedy fill, not optimal bin packing — that is the
  industry-standard streaming compromise; optimal packing is NP-hard and
  order-unstable). At 100 TB, substitute (source, shard) for source to
  bound window-partition width.

All outputs are integers/strings — no float aggregate, so the driver's
bit-strict value hash cannot ULP-split (see e04 history).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from datafusion_table_providers_spark.core.case import QueryCase
from datafusion_table_providers_spark.llm.text import _word_windows
from datafusion_table_providers_spark.operators.relational import _r, _rsql, _t

# --- d13: decontamination vs a held-out eval split ------------------------
# Synthetic stand-in for a benchmark set: every 13th document is "eval".
DECON_MOD = 13
DECON_N = 4  # tokens per n-gram (4-grams: strict enough to be rare, loose
# enough that the synthetic corpus yields a non-trivial contaminated set)


def d13_decontaminate(spark, sf_dir):
    from datafusion_table_providers_spark.llm.dedup import _shingles_df

    grams = _shingles_df(
        spark, sf_dir, distinct=False, width=DECON_N
    ).withColumnRenamed("s", "gram")
    is_eval = F.col("doc_id") % DECON_MOD == 0
    eval_grams = (
        grams.where(is_eval).select("gram").distinct()
    )
    train_grams = grams.where(~is_eval).distinct()
    # contaminated grams counted per training doc map-side after the hash
    # join; the eval n-gram set is 1/DECON_MOD of the corpus's grams, so the
    # planner decides whether it broadcasts
    hits = train_grams.join(
        eval_grams.withColumn("hit", F.lit(1)), "gram", "left"
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
        )
        .where(F.col("n_contaminated") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            (F.col("n_contaminated") * 100 >= F.col("n_grams")).alias(
                "flag_contaminated"
            ),
        )
    )


D13_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS gram
  FROM toks, UNNEST(range(1, len(t) - {DECON_N - 2})) AS r(i)
  WHERE len(t) >= {DECON_N}
),
eval_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {DECON_MOD} = 0),
train_grams AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % {DECON_MOD} <> 0)
SELECT doc_id,
       COUNT(*) AS n_grams,
       COUNT(e.gram) AS n_contaminated,
       COUNT(e.gram) * 100 >= COUNT(*) AS flag_contaminated
FROM train_grams t LEFT JOIN eval_grams e USING (gram)
GROUP BY doc_id
HAVING COUNT(e.gram) > 0
"""


# --- d14: deterministic stratified sampling -------------------------------
# Per-language hex thresholds on md5(doc_id): en keeps ~50%, others ~25%.
SAMPLE_RATES = {"en": "8000", "de": "4000", "es": "4000", "fr": "4000"}
SAMPLE_DEFAULT = "2000"  # ~12.5% for any other stratum


def d14_stratified_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thr = None
    for lang, hexthr in sorted(SAMPLE_RATES.items()):
        cond = F.col("lang") == lang
        thr = (
            F.when(cond, hexthr) if thr is None else thr.when(cond, hexthr)
        )
    thr = thr.otherwise(SAMPLE_DEFAULT)
    return (
        d.select(
            "doc_id",
            "lang",
            "source",
            bucket.alias("bucket"),
            thr.alias("threshold"),
        )
        .where(F.col("bucket") < F.col("threshold"))
    )


def _d14_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN '{thr}'"
        for lang, thr in sorted(SAMPLE_RATES.items())
    )
    return f"""
SELECT doc_id, lang, source, bucket, threshold FROM (
  SELECT doc_id, lang, source,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket,
         CASE {cases} ELSE '{SAMPLE_DEFAULT}' END AS threshold
  FROM documents
) WHERE bucket < threshold
"""


# --- d15: sequence packing (token-budget bins) ----------------------------
PACK_BUDGET = 256  # tokens per packed sequence


def d15_sequence_packing(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toksz = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = toksz.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / PACK_BUDGET
        ).alias("bin_id"),
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("tokens_packed"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


D15_SQL = f"""
WITH toksz AS (
  SELECT doc_id, source,
         CAST(LEN(string_split(text, ' ')) AS INTEGER) AS n_tokens
  FROM documents
),
binned AS (
  SELECT source, doc_id, n_tokens,
         CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
  FROM toksz
)
SELECT source, bin_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_packed,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM binned GROUP BY source, bin_id
"""


# --- d24: PII scrubbing (emails / IPv4) -----------------------------------
# The redaction pass every public-web training corpus runs before release.
# Pure regexp_count/regexp_replace projections — single scan, zero shuffle,
# zero UDF, embarrassingly parallel at any corpus size. Patterns are chosen
# to evaluate identically under Java regex (Spark) and RE2 (DuckDB).
# Synthetic corpus carries no PII, so a deterministic doc_id-derived
# email+IP is appended first — the scrub then provably finds and removes it
# (n_email/n_ip ≥ 1 per doc and the clean text hashes match cross-engine).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IP_RE = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"


def d24_pii_scrub(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    withp = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ).alias("t"),
    )
    scrub = F.regexp_replace(
        F.regexp_replace("t", EMAIL_RE, "[EMAIL]"), IP_RE, "[IP]"
    )
    return withp.select(
        "doc_id",
        F.regexp_count("t", F.lit(EMAIL_RE)).cast("int").alias("n_email"),
        F.regexp_count("t", F.lit(IP_RE)).cast("int").alias("n_ip"),
        F.length(scrub).cast("int").alias("clean_len"),
        F.substring(F.md5(scrub), 1, 8).alias("clean_hash"),
    )


D24_SQL = f"""
WITH p AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com from 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.'
              || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
  FROM documents
), s AS (
  SELECT doc_id, t,
         regexp_replace(regexp_replace(t, '{EMAIL_RE}', '[EMAIL]', 'g'),
                        '{IP_RE}', '[IP]', 'g') AS c
  FROM p
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS INTEGER) AS n_email,
       CAST(len(regexp_extract_all(t, '{IP_RE}')) AS INTEGER) AS n_ip,
       CAST(LENGTH(c) AS INTEGER) AS clean_len,
       SUBSTR(md5(c), 1, 8) AS clean_hash
FROM s
"""


# --- d25: paragraph/fragment-level exact dedup (C4-style) -----------------
# Fragment-granular exact dedup — the C4/mC4 "repeated three-sentence"
# pass. The driver corpus has no sentence delimiters, so the fragment unit
# is a fixed 8-word window (the standard fallback for unsegmented text;
# swapping the splitter back to sentences is a one-line change). One
# explode + one hash groupBy keyed on the fragment hash — the only shuffle
# partitions by md5 (uniform by construction, no skew). Output is the
# duplicated-fragment table a removal join would then broadcast (dup
# fragments are a tiny fraction of the corpus at scale).
PARA_W = 8  # words per fragment window


def d25_paragraph_dedup(spark, sf_dir):
    # trailing tokens without a full window are dropped, matching
    # sequence(1, n-7)
    paras = _word_windows(_t(spark, sf_dir, "documents"), PARA_W).select(
        "doc_id", F.col("s").alias("p")
    )
    return (
        paras.groupBy(F.md5("p").alias("para_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_occ") >= 2)
    )


D25_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
paras AS (
  SELECT doc_id, array_to_string(ws[i:i + {PARA_W - 1}], ' ') AS p
  FROM w, UNNEST(range(1, GREATEST(len(ws) - {PARA_W - 2}, 1))) AS u(i)
)
SELECT md5(p) AS para_hash,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occ,
       MIN(doc_id) AS first_doc
FROM paras GROUP BY md5(p)
HAVING COUNT(*) >= 2
"""


from datafusion_table_providers_spark.operators.relational import _merged

# window row: decontamination + PII scrub + paragraph dedup in one slot
d13b_curation_scrub, D13B_SQL = _merged(
    ("d13", d13_decontaminate, D13_SQL),
    ("d24", d24_pii_scrub, D24_SQL),
    ("d25", d25_paragraph_dedup, D25_SQL),
)

SUITE = {
    "d13_decontaminate": QueryCase(
        d13_decontaminate, D13_SQL, "eval-set n-gram decontamination"
    ),
    "d14_stratified_sample": QueryCase(
        d14_stratified_sample, _d14_sql(), "deterministic stratified sampling"
    ),
    "d15_sequence_packing": QueryCase(
        d15_sequence_packing, D15_SQL, "token-budget sequence packing"
    ),
    "d24_pii_scrub": QueryCase(
        d24_pii_scrub, D24_SQL, "PII scrubbing (email/IP redaction)"
    ),
    "d25_paragraph_dedup": QueryCase(
        d25_paragraph_dedup, D25_SQL, "C4-style paragraph-level exact dedup"
    ),
    "d13b_curation_scrub": QueryCase(
        d13b_curation_scrub,
        D13B_SQL,
        "decontamination + PII scrub + paragraph dedup (merged)",
    ),
}


# --- d31: within-document repeated-chunk removal --------------------------
# C4-style intra-document dedup (Raffel et al. 2020 drops repeated lines
# inside a page; this corpus has no newlines, so the unit is a disjoint
# 2-token chunk): keep the FIRST occurrence of each distinct chunk within a
# document, drop later repeats, and fingerprint the cleaned text. Chunking
# is positional (chunk i = tokens [2i, 2i+1]) so the operator is a pure
# per-row transform + one (doc_id, chunk) window + one doc_id groupBy —
# every shuffle key is document-bounded, so partitions stay balanced at any
# corpus size and no state ever exceeds one document's chunks.
CHUNK_W = 2


def d31_intradoc_dedup(spark, sf_dir):
    # chunk i starts at token pos 2i and takes its successor; a trailing odd
    # token yields a 1-token chunk exactly as slice() did (the short window
    # is kept). Windows are built over ALL positions, THEN even positions
    # are kept.
    chunks = (
        _word_windows(
            _t(spark, sf_dir, "documents"), CHUNK_W, pos=True, full=False
        )
        .filter(F.col("pos") % CHUNK_W == 0)
        .select(
            "doc_id",
            (F.col("pos") / CHUNK_W).cast("int").alias("cidx"),
            F.col("s").alias("ctext"),
        )
    )
    k = chunks.withColumn(
        "first_idx", F.min("cidx").over(Window.partitionBy("doc_id", "ctext"))
    )
    kept = k.where(F.col("cidx") == F.col("first_idx"))
    cleaned = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("cidx", "ctext"))),
                    lambda s: s["ctext"],
                ),
                " ",
            )
        ).alias("clean_hash"),
    )
    totals = chunks.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    return totals.join(cleaned, "doc_id").select(
        "doc_id", "n_chunks", "n_kept", "clean_hash"
    )


_D31_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
c AS (
  SELECT doc_id, i AS cidx,
         array_to_string(ws[i * {CHUNK_W} + 1 : i * {CHUNK_W} + {CHUNK_W}], ' ') AS ctext
  FROM w, unnest([x for x in range(0, CAST(ceil(len(ws) / {CHUNK_W}.0) AS BIGINT))]) r(i)
),
k AS (SELECT *, MIN(cidx) OVER (PARTITION BY doc_id, ctext) AS first_idx FROM c),
kept AS (SELECT doc_id, cidx, ctext FROM k WHERE cidx = first_idx),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         md5(string_agg(ctext, ' ' ORDER BY cidx)) AS clean_hash
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks FROM c GROUP BY doc_id)
SELECT doc_id, n_chunks, n_kept, clean_hash FROM tot JOIN agg USING (doc_id)
"""


SUITE["d31_intradoc_dedup"] = QueryCase(
    d31_intradoc_dedup,
    _D31_SQL,
    "within-document repeated-chunk removal (C4 intra-page dedup analog)",
)


# --- d32: temperature-scaled source mixture weights -----------------------
# Multilingual/multi-source training runs sample sources with probability
# proportional to n^alpha (alpha<1 upsamples small sources — Conneau &
# Lample 2019, public). alpha=0.5 keeps the whole computation exact: sqrt
# is IEEE-correctly-rounded on both engines, and weights are scaled to
# BIGINT before the normalizing sum so no float accumulation order exists.
# One groupBy on source (a handful of groups at any corpus size) + one
# broadcast of the scalar total — driver never sees more than the source
# list.
MIX_BUDGET = 100_000


def mixture_quotas(docs_df, budget: int = MIX_BUDGET):
    """(source, n_docs, mix_weight, quota_docs) over any docs frame with a
    ``source`` column — the single home of the d32 math, shared by d32
    (full corpus), p04 (filtered corpus), and anything downstream."""
    per_src = docs_df.groupBy("source").agg(F.count("*").alias("n_docs"))
    w_scaled = F.floor(
        F.sqrt(F.col("n_docs").cast("double")) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    ws = per_src.withColumn("w", w_scaled)
    tot = ws.agg(F.sum("w").alias("w_total"))
    p = F.col("w").cast("double") / F.col("w_total").cast("double")
    return ws.crossJoin(tot).select(
        "source",
        "n_docs",
        _r(p, 6).alias("mix_weight"),
        F.floor(p * F.lit(float(budget)) + F.lit(0.5))
        .cast("long")
        .alias("quota_docs"),
    )


def d32_mixture_weights(spark, sf_dir):
    return mixture_quotas(_t(spark, sf_dir, "documents"), MIX_BUDGET)


def _mix_sql(docs_rel: str, budget: int = MIX_BUDGET) -> str:
    """SQL twin of ``mixture_quotas`` over relation/CTE ``docs_rel``."""
    return f"""
WITH s AS (SELECT source, COUNT(*) AS n_docs FROM {docs_rel} GROUP BY source),
w AS (
  SELECT source, n_docs,
         CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS w
  FROM s
),
t AS (SELECT CAST(SUM(w) AS BIGINT) AS w_total FROM w)
SELECT source, n_docs,
       {_rsql('CAST(w AS DOUBLE) / CAST(w_total AS DOUBLE)', 6)} AS mix_weight,
       CAST(FLOOR(CAST(w AS DOUBLE) / CAST(w_total AS DOUBLE) * {budget}.0 + 0.5) AS BIGINT) AS quota_docs
FROM w CROSS JOIN t
"""


_D32_SQL = _mix_sql("documents")


def _extra_copy_cond(bucket_col, n_col, rem_col):
    """The fractional-remainder extra-copy draw: bucket/2^32 < rem/n, as
    ONE IEEE-double threshold comparison — the identical instruction
    sequence on both engines, deterministic, and overflow-free at any
    n_docs (the earlier exact-integer form ``bucket*n < rem*2^32``
    overflows 64-bit once a source holds >= 2^31 documents)."""
    thr = (
        rem_col.cast("double") * F.lit(4294967296.0) / n_col.cast("double")
    )
    return bucket_col.cast("double") < thr


def _extra_copy_case_sql(bucket: str, n: str, rem: str) -> str:
    """SQL twin of ``_extra_copy_cond`` (same operation order)."""
    return (
        f"CASE WHEN CAST({bucket} AS DOUBLE) < "
        f"CAST({rem} AS DOUBLE) * 4294967296.0 / CAST({n} AS DOUBLE) "
        f"THEN 1 ELSE 0 END"
    )


SUITE["d32_mixture_weights"] = QueryCase(
    d32_mixture_weights,
    _D32_SQL,
    "temperature-scaled (n^0.5) source mixing weights + quotas",
)


# Merged window-candidate row: the three corpus-statistics ops added late
# in round 4 (BPE pairs, unigram LM scoring, mixture weights) in one slot —
# the round-5 rotation can certify all three with a single driver row.
from datafusion_table_providers_spark.llm.text import (  # noqa: E402
    _D29_SQL,
    _D30_SQL,
    d29_bpe_pair_stats,
    d30_unigram_logprob,
)

d29b_tokenizer_prep, D29B_SQL = _merged(
    ("d29", d29_bpe_pair_stats, _D29_SQL),
    ("d30", d30_unigram_logprob, _D30_SQL),
    ("d32", d32_mixture_weights, _D32_SQL),
)
SUITE["d29b_tokenizer_prep"] = QueryCase(
    d29b_tokenizer_prep,
    D29B_SQL,
    "tokenizer prep: BPE pairs + unigram LM score + mixture weights (merged)",
)


# d31 rides the d13b curation row: re-merge and overwrite so the
# within-document dedup capability is driver-certified this round.
d13b_curation_scrub, D13B_SQL = _merged(
    ("d13", d13_decontaminate, D13_SQL),
    ("d24", d24_pii_scrub, D24_SQL),
    ("d25", d25_paragraph_dedup, D25_SQL),
    ("d31", d31_intradoc_dedup, _D31_SQL),
)
SUITE["d13b_curation_scrub"] = QueryCase(
    d13b_curation_scrub,
    D13B_SQL,
    "decontamination + PII scrub + paragraph dedup + intra-doc dedup (merged)",
)


# --- d36: epoch-repeat materialization of the training mixture ------------
# d32 decides HOW MUCH of each source the mix wants (quota_docs); this op
# decides, per document, HOW MANY epochs of it the training run reads —
# the step that turns mixture weights into an actual sampled corpus
# (repeat factor > 1 upsamples small sources, < 1 subsamples large ones).
# Full copies = quota div n_docs (exact integers); the fractional
# remainder becomes one extra copy for documents whose md5 bucket clears
# the rem/n threshold — a single IEEE-double comparison computed in the
# same operation order on both engines (_extra_copy_cond), deterministic
# and overflow-free at any source size. Expected extra-copy count = rem,
# so expected total = quota per source.
# Scale shape: one tiny d32 aggregate broadcast onto a single
# full-corpus scan — no window, no shuffle keyed on anything skewed, and
# the per-doc hash makes the sample reproducible run-to-run (the property
# a 100 TB pipeline actually needs: re-running a failed stage must yield
# the same corpus).
def d36_budget_repeat(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    mix = d32_mixture_weights(spark, sf_dir).select(
        "source", "n_docs", "quota_docs"
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    # raw hint, allowlisted: mix has one row per distinct source, a data
    # property no build-time count holds, and Catalyst cannot size the
    # d32 aggregate below the full documents scan
    j = d.select("doc_id", "source").join(F.broadcast(mix), "source")
    return j.select(
        "doc_id",
        "source",
        (
            F.expr("quota_docs div n_docs")
            + F.when(
                _extra_copy_cond(
                    bucket,
                    F.col("n_docs"),
                    F.col("quota_docs") % F.col("n_docs"),
                ),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_copies"),
    )


def _d36_sql() -> str:
    from datafusion_table_providers_spark.llm.dedup import _hex8_sql


    case = _extra_copy_case_sql(
        _hex8_sql("m", 1), "mix.n_docs", "mix.quota_docs % mix.n_docs"
    )
    return f"""
WITH mix AS ({_D32_SQL}),
docs AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents
)
SELECT d.doc_id, d.source,
       CAST(mix.quota_docs // mix.n_docs + {case} AS BIGINT) AS n_copies
FROM docs d JOIN mix ON d.source = mix.source
"""


SUITE["d36_budget_repeat"] = QueryCase(
    d36_budget_repeat,
    _d36_sql(),
    "per-document epoch repeat factors materializing the d32 mixture",
)


# --- d38: adaptive per-language length filter -----------------------------
# Fixed length cutoffs are wrong across languages (Chinese packs ~2-3x the
# information per char of English); quality pipelines instead trim each
# language's own length distribution tails. Certified path: exact
# percentile cutoffs (Spark F.percentile == DuckDB percentile_cont, both
# linear-interpolation on the sorted values) with a 1e-6 epsilon on the
# integer-vs-double comparison so a ULP of interpolation drift can never
# flip a boundary document on one engine only. Tiny language groups
# (< MIN_LANG_DOCS) pass through — a tail trim of 10 documents is noise.
# Scale note: EXACT percentile buffers each language's values on one
# executor; at 100 TB call with approx=True — approx_percentile is a
# mergeable sketch (partial-aggregatable, bounded memory), same plan
# shape, cutoffs within sketch tolerance.
MIN_LANG_DOCS = 20


def d38_adaptive_length_filter(spark, sf_dir, approx: bool = False):
    # NULL-lang docs form their own group via a sentinel key — an equi-join
    # on raw lang would silently drop them (NULL never equals NULL)
    d = _t(spark, sf_dir, "documents").withColumn(
        "lang_key", F.coalesce(F.col("lang"), F.lit("<null>"))
    )
    pct = (
        (lambda c, p: F.expr(f"approx_percentile({c}, {p})"))
        if approx
        else (lambda c, p: F.percentile(c, p))
    )
    thr = d.groupBy("lang_key").agg(
        pct("n_chars", 0.05).alias("lo"),
        pct("n_chars", 0.95).alias("hi"),
        F.count("*").alias("n_lang"),
    )
    j = d.select("doc_id", "lang", "lang_key", "n_chars").join(thr, "lang_key")
    keep = (F.col("n_lang") < MIN_LANG_DOCS) | (
        (F.col("n_chars") >= F.col("lo") - 1e-6)
        & (F.col("n_chars") <= F.col("hi") + 1e-6)
    )
    return j.where(keep).select("doc_id", "lang", "n_chars")


_D38_SQL = f"""
WITH docs AS (
  SELECT doc_id, lang, COALESCE(lang, '<null>') AS lang_key, n_chars
  FROM documents
),
thr AS (
  SELECT lang_key,
         percentile_cont(0.05) WITHIN GROUP (ORDER BY n_chars) AS lo,
         percentile_cont(0.95) WITHIN GROUP (ORDER BY n_chars) AS hi,
         COUNT(*) AS n_lang
  FROM docs GROUP BY lang_key
)
SELECT doc_id, d.lang, n_chars
FROM docs d JOIN thr ON d.lang_key = thr.lang_key
WHERE n_lang < {MIN_LANG_DOCS}
   OR (n_chars >= lo - 1e-6 AND n_chars <= hi + 1e-6)
"""


SUITE["d38_adaptive_length_filter"] = QueryCase(
    d38_adaptive_length_filter,
    _D38_SQL,
    "per-language percentile length cutoffs (exact; approx twin for scale)",
)


# --- d39: deterministic training-order shuffle ----------------------------
# After the mix materializes (d36), a training run needs its (doc, epoch)
# instances in a randomized-but-REPRODUCIBLE global order, sharded for
# parallel loaders: re-running a failed job must produce byte-identical
# shards. Position key = md5(doc_id:epoch:seed) — epoch copies of one doc
# scatter across the whole order (no epoch boundaries), and changing the
# seed reshuffles everything deterministically. The key string is made
# UNIQUE by suffixing doc_id/epoch (hash ties would otherwise make
# first/last nondeterministic across engines); hex+zero-padded-digit
# strings compare identically in Spark and DuckDB binary collation.
# Certification returns per-shard summaries (count, first/last instance
# by key order, key checksum), bounded at N_SHUFFLE_SHARDS rows; the full
# ordered manifest is the same table before the groupBy — at scale,
# range-partition on skey and write (the sort is per-shard, never global).
N_SHUFFLE_SHARDS = 16
SHUFFLE_SEED = 20260814


def d39_training_order(spark, sf_dir):
    rep = d36_budget_repeat(spark, sf_dir).where(F.col("n_copies") > 0)
    inst = rep.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("epoch"),
    )
    m = F.md5(
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("epoch").cast("string"),
            F.lit(str(SHUFFLE_SEED)),
        )
    )
    keyed = inst.select(
        "doc_id",
        "epoch",
        # pad widths hold the full int64/int32 digit range — lpad TRUNCATES
        # over-width input on both engines, which would silently break the
        # uniqueness this suffix exists for
        F.concat(
            F.substring(m, 1, 15),
            F.lit("-"),
            F.lpad(F.col("doc_id").cast("string"), 20, "0"),
            F.lit("-"),
            F.lpad(F.col("epoch").cast("string"), 10, "0"),
        ).alias("skey"),
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("kh"),
    )
    shard = (F.col("kh") % N_SHUFFLE_SHARDS).cast("int")
    return (
        keyed.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_instances"),
            F.min_by("doc_id", F.col("skey")).alias("first_doc"),
            F.max_by("doc_id", F.col("skey")).alias("last_doc"),
            F.sum("kh").alias("key_checksum"),
        )
    )


def _d39_sql() -> str:
    from datafusion_table_providers_spark.llm.dedup import _hex8_sql


    # reuse the d36 SQL as the repeats source; DuckDB explodes via
    # generate_series lateral join
    return f"""
WITH rep AS ({_d36_sql()}),
inst AS (
  SELECT r.doc_id, gs.epoch,
         md5(CAST(r.doc_id AS VARCHAR) || ':' || CAST(gs.epoch AS VARCHAR)
             || ':' || '{SHUFFLE_SEED}') AS m
  FROM rep r, LATERAL (
    SELECT unnest(generate_series(1, CAST(r.n_copies AS INTEGER))) AS epoch
  ) gs
  WHERE r.n_copies > 0
),
keyed AS (
  SELECT doc_id, epoch,
         substr(m, 1, 15) || '-' || lpad(CAST(doc_id AS VARCHAR), 20, '0')
           || '-' || lpad(CAST(epoch AS VARCHAR), 10, '0') AS skey,
         {_hex8_sql('m', 1)} AS kh
  FROM inst
)
SELECT CAST(kh % {N_SHUFFLE_SHARDS} AS INTEGER) AS shard,
       COUNT(*) AS n_instances,
       arg_min(doc_id, skey) AS first_doc,
       arg_max(doc_id, skey) AS last_doc,
       CAST(SUM(kh) AS BIGINT) AS key_checksum
FROM keyed GROUP BY shard
"""


SUITE["d39_training_order"] = QueryCase(
    d39_training_order,
    _d39_sql(),
    "seeded reproducible global shuffle into loader shards (summaries)",
)
