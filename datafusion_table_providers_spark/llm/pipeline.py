"""Composed training-data-prep pipeline — the operators working together.

A realistic corpus-preparation flow chained from the primitives this package
provides, as ONE oracle-checked query:

1. **quality gate** — drop documents under 5 whitespace tokens;
2. **exact + near-dup removal** — drop every non-canonical member of a
   MinHash-LSH duplicate component (d02b candidates → d12 connected
   components; the canonical representative is the component's min doc_id).
   Identical texts that pass the gate share a component, so this also
   keeps exactly the minimum doc_id per md5(text) (see
   :func:`_curated_docs`);
3. **report** — surviving docs and token mass per language.

Scale shape: each stage is one shuffle (hash-group / anti-join); nothing is
quadratic and nothing touches the driver. The DuckDB oracle replays the
pipeline naively — a separate exact-dedup pass, then the d12 recursive-CTE
closure inlined.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_table_providers_spark.core.case import QueryCase
from datafusion_table_providers_spark.llm.dedup import (
    _d12_sql,
    d12_dedup_components,
)
from datafusion_table_providers_spark.operators.relational import _t

MIN_TOKENS = 5


def _curated_docs(spark, sf_dir):
    """(doc_id, lang, source, n_tokens) of the docs that pass the quality
    gate and are the canonical member of their d12 component (or in none):
    the front half p01 and p02 share.

    It needs no exact-dedup pass. ``n_tokens`` counts the tokens of
    ``split(text, " ")``, empty ones included, and the dedup shingles
    posexplode the same split, so every doc that passes the gate has at
    least MIN_TOKENS - 2 shingles and a MinHash signature. d12 puts every
    text group with a signature whole into one component labelled with a
    doc_id no larger than the group's minimum, so it drops every other
    member of the group, as exact dedup would."""
    d = _t(spark, sf_dir, "documents")
    comp = d12_dedup_components(spark, sf_dir)
    dropme = comp.filter(F.col("component_id") != F.col("doc_id")).select("doc_id")
    return (
        d.select(
            "doc_id",
            "lang",
            "source",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= MIN_TOKENS)
        .join(dropme, "doc_id", "left_anti")
    )


def p01_training_data_prep(spark, sf_dir):
    return _curated_docs(spark, sf_dir).groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def _p01_sql() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, lang, text,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
  FROM documents
),
filtered AS (SELECT * FROM base WHERE n_tokens >= {MIN_TOKENS}),
keep_exact AS (
  SELECT MIN(doc_id) AS doc_id FROM filtered GROUP BY md5(text)
),
kept AS (
  SELECT f.* FROM filtered f
  WHERE f.doc_id IN (SELECT doc_id FROM keep_exact)
),
comp AS (SELECT * FROM ({_d12_sql()})),
dropme AS (SELECT doc_id FROM comp WHERE component_id <> doc_id),
final AS (
  SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dropme)
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM final GROUP BY lang
"""


def p02_full_curation(spark, sf_dir):
    """The complete curation flow as one DAG: quality gate → exact and
    near-dup removal → eval-set exclusion + decontamination → deterministic
    stratified sampling → sequence packing → per-source packing report.

    Every stage is the already-certified primitive (p01's front half
    :func:`_curated_docs`, d13/d14/d15 back half) chained without
    materialization: Catalyst sees one plan, each stage is at most one
    shuffle, and the only driver-visible data is the final per-source
    report."""
    from datafusion_table_providers_spark.llm.curation import (
        DECON_MOD,
        DECON_N,
        PACK_BUDGET,
        SAMPLE_DEFAULT,
        SAMPLE_RATES,
    )
    from pyspark.sql import Window

    deduped = _curated_docs(spark, sf_dir)

    # decontamination: exclude the eval split itself, then drop any training
    # doc sharing a DECON_N-gram with it, as in d13.
    from datafusion_table_providers_spark.llm.dedup import _shingles_df

    grams_all = _shingles_df(
        spark, sf_dir, distinct=False, width=DECON_N
    ).withColumnRenamed("s", "gram")
    eval_grams = (
        grams_all.where(F.col("doc_id") % DECON_MOD == 0)
        .select("gram")
        .distinct()
    )
    train = deduped.where(F.col("doc_id") % DECON_MOD != 0)
    contaminated = (
        grams_all.join(eval_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = train.join(contaminated, "doc_id", "left_anti")

    # deterministic stratified sample (d14 thresholds)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thr = None
    for lang, hexthr in sorted(SAMPLE_RATES.items()):
        cond = F.col("lang") == lang
        thr = F.when(cond, hexthr) if thr is None else thr.when(cond, hexthr)
    sampled = clean.where(bucket < thr.otherwise(SAMPLE_DEFAULT))

    # sequence packing (d15) and the per-source report
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = sampled.select(
        "source",
        "n_tokens",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / PACK_BUDGET
        ).alias("bin_id"),
    )
    return binned.groupBy("source").agg(
        F.countDistinct("bin_id").alias("n_bins"),
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def _p02_sql() -> str:
    from datafusion_table_providers_spark.llm.curation import (
        DECON_MOD,
        DECON_N,
        PACK_BUDGET,
        SAMPLE_DEFAULT,
        SAMPLE_RATES,
    )

    cases = " ".join(
        f"WHEN lang = '{lang}' THEN '{thr}'"
        for lang, thr in sorted(SAMPLE_RATES.items())
    )
    return f"""
WITH base AS (
  SELECT doc_id, lang, source, text,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
  FROM documents
),
filtered AS (SELECT * FROM base WHERE n_tokens >= {MIN_TOKENS}),
keep_exact AS (
  SELECT MIN(doc_id) AS doc_id FROM filtered GROUP BY md5(text)
),
kept AS (
  SELECT f.* FROM filtered f
  WHERE f.doc_id IN (SELECT doc_id FROM keep_exact)
),
comp AS (SELECT * FROM ({_d12_sql()})),
dropme AS (SELECT doc_id FROM comp WHERE component_id <> doc_id),
deduped AS (
  SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dropme)
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS gram
  FROM toks, UNNEST(range(1, len(t) - {DECON_N - 2})) AS r(i)
  WHERE len(t) >= {DECON_N}
),
eval_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {DECON_MOD} = 0
),
contaminated AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE gram IN (SELECT gram FROM eval_grams)
),
clean AS (
  SELECT * FROM deduped
  WHERE doc_id % {DECON_MOD} <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
sampled AS (
  SELECT * FROM clean
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
        < CASE {cases} ELSE '{SAMPLE_DEFAULT}' END
),
binned AS (
  SELECT source, n_tokens,
         CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
  FROM sampled
)
SELECT source, COUNT(DISTINCT bin_id) AS n_bins, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM binned GROUP BY source
"""


from datafusion_table_providers_spark.operators.relational import _merged

p01b_pipelines, P01B_SQL = _merged(
    ("p01", p01_training_data_prep, _p01_sql()),
    ("p02", p02_full_curation, _p02_sql()),
)

SUITE = {
    "p01_training_data_prep": QueryCase(
        p01_training_data_prep,
        _p01_sql(),
        "composed corpus-prep pipeline (quality → dedup → near-dedup)",
    ),
    "p01b_pipelines": QueryCase(
        p01b_pipelines, P01B_SQL, "both composed pipelines (merged)"
    ),
    "p02_full_curation": QueryCase(
        p02_full_curation,
        _p02_sql(),
        "full curation capstone (quality → dedup → decontaminate → sample → pack)",
    ),
}


# --- p03: corpus statistics report (dataset-card numbers) ------------------
# The summary every dataset release publishes (docs/tokens/vocabulary,
# duplication rate, quality pass rate, per-source balance): eight scalar
# aggregates unioned into one (metric, value) table. Each metric is a
# single-pass aggregate over one scan family; the union is driver-free and
# the output is eight rows regardless of corpus size. Integer-only values
# (counts), so the driver's bit-strict hash has no float exposure.
def p03_corpus_report(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok")).where(
        F.col("tok") != ""
    )

    def m(name, df):
        return df.select(
            F.lit(name).alias("metric"), F.col("value").cast("long").alias("value")
        )

    n_docs = m("n_docs", d.agg(F.count("*").alias("value")))
    n_tokens = m("n_tokens", toks.agg(F.count("*").alias("value")))
    vocab = m("vocab_size", toks.agg(F.countDistinct("tok").alias("value")))
    n_sources = m(
        "n_sources", d.agg(F.countDistinct("source").alias("value"))
    )
    n_langs = m("n_langs", d.agg(F.countDistinct("lang").alias("value")))
    # docs whose exact text occurs more than once (exact-dup exposure)
    dup_docs = m(
        "exact_dup_docs",
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("value")),
    )
    # Gopher-rule pass count (d28's exact rule bundle)
    from datafusion_table_providers_spark.llm.text import d28_gopher_rules

    gopher = m(
        "gopher_pass_docs",
        d28_gopher_rules(spark, sf_dir)
        .where(F.col("gopher_pass"))
        .agg(F.count("*").alias("value")),
    )
    # balance: docs in the largest single source (skew indicator)
    max_src = m(
        "max_source_docs",
        d.groupBy("source")
        .agg(F.count("*").alias("c"))
        .agg(F.max("c").alias("value")),
    )
    out = n_docs
    for part in (n_tokens, vocab, n_sources, n_langs, dup_docs, gopher, max_src):
        out = out.unionByName(part)
    return out


def _p03_sql() -> str:
    from datafusion_table_providers_spark.llm.text import _d28_sql

    return f"""
WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
tt AS (SELECT tok FROM t WHERE tok <> '')
SELECT 'n_docs' AS metric, CAST(COUNT(*) AS BIGINT) AS value FROM documents
UNION ALL
SELECT 'n_tokens', CAST(COUNT(*) AS BIGINT) FROM tt
UNION ALL
SELECT 'vocab_size', CAST(COUNT(DISTINCT tok) AS BIGINT) FROM tt
UNION ALL
SELECT 'n_sources', CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents
UNION ALL
SELECT 'n_langs', CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents
UNION ALL
SELECT 'exact_dup_docs', CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM (
  SELECT md5(text) AS h, COUNT(*) AS c FROM documents GROUP BY 1
) WHERE c > 1
UNION ALL
SELECT 'gopher_pass_docs', CAST(COUNT(*) AS BIGINT)
FROM ({_d28_sql()}) WHERE gopher_pass
UNION ALL
SELECT 'max_source_docs', CAST(MAX(c) AS BIGINT) FROM (
  SELECT source, COUNT(*) AS c FROM documents GROUP BY source
)
"""


SUITE["p03_corpus_report"] = QueryCase(
    p03_corpus_report,
    _p03_sql(),
    "dataset-card corpus report (8 scalar metrics, one row each)",
)


# --- p04: training-mix materialization capstone ---------------------------
# The session-4 ops composed end-to-end: adaptive per-language length
# filtering (d38) gates the corpus, temperature-scaled mixture quotas
# (d32 math) are computed over the FILTERED corpus, per-document epoch
# repeats (d36 math) materialize them, and the result is the per-source
# mix summary a training run consumes: docs kept, total epoch copies,
# char mass including repeats. Every stage is a tiny aggregate broadcast
# onto one corpus scan — the whole capstone is two small shuffles
# (percentile-by-lang, count-by-source) regardless of corpus size. The
# mixture math is re-derived inline on the filtered set (quota over kept
# docs, not raw docs — filtering first changes the weights, which is the
# point of running the gate before the mix).
def p04_training_mix(spark, sf_dir):
    from datafusion_table_providers_spark.llm.curation import (
        _extra_copy_cond,
        d38_adaptive_length_filter,
        mixture_quotas,
    )

    kept = d38_adaptive_length_filter(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    docs = kept.join(src, "doc_id")
    mix = mixture_quotas(docs).select("source", "n_docs", "quota_docs")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    # raw hint, allowlisted: mix has one row per distinct source (a data
    # property, not a build-time count), as in d36
    rep = docs.join(F.broadcast(mix), "source").select(
        "source",
        "n_chars",
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
    return rep.groupBy("source").agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("n_copies").alias("total_copies"),
        F.sum(F.col("n_copies") * F.col("n_chars")).alias(
            "total_chars_repeated"
        ),
    )


def _p04_sql() -> str:
    from datafusion_table_providers_spark.llm.curation import (
        _D38_SQL,
        _extra_copy_case_sql,
        _mix_sql,
    )
    from datafusion_table_providers_spark.llm.dedup import _hex8_sql

    case = _extra_copy_case_sql(
        _hex8_sql("m", 1), "mix.n_docs", "mix.quota_docs % mix.n_docs"
    )
    return f"""
WITH kept AS ({_D38_SQL}),
docs AS (
  SELECT k.doc_id, k.n_chars, d.source,
         md5(CAST(k.doc_id AS VARCHAR)) AS m
  FROM kept k JOIN documents d ON k.doc_id = d.doc_id
),
mix AS ({_mix_sql('docs')}),
rep AS (
  SELECT d.source, d.n_chars,
         CAST(mix.quota_docs // mix.n_docs + {case} AS BIGINT) AS n_copies
  FROM docs d JOIN mix ON d.source = mix.source
)
SELECT source, COUNT(*) AS n_docs_kept,
       CAST(SUM(n_copies) AS BIGINT) AS total_copies,
       CAST(SUM(n_copies * n_chars) AS BIGINT) AS total_chars_repeated
FROM rep GROUP BY source
"""


SUITE["p04_training_mix"] = QueryCase(
    p04_training_mix,
    _p04_sql(),
    "filter -> mixture -> epoch-repeat capstone (per-source mix summary)",
)


# Merged window row: the session-4 training-mix family (epoch repeats,
# adaptive length filter, seeded order shuffle, mix capstone) in one slot —
# one driver row certifies all four (same align-by-name union semantics as
# every _merged qgroup; branch builders/oracles are the registered ones,
# byte-for-byte).
from datafusion_table_providers_spark.llm.curation import (  # noqa: E402
    _D38_SQL,
    _d36_sql,
    _d39_sql,
    d36_budget_repeat,
    d38_adaptive_length_filter,
    d39_training_order,
)
from datafusion_table_providers_spark.operators.relational import (  # noqa: E402
    _merged,
)

d36b_mix_pipeline, D36B_SQL = _merged(
    ("d36", d36_budget_repeat, _d36_sql()),
    ("d38", d38_adaptive_length_filter, _D38_SQL),
    ("d39", d39_training_order, _d39_sql()),
    ("p04", p04_training_mix, _p04_sql()),
)
SUITE["d36b_mix_pipeline"] = QueryCase(
    d36b_mix_pipeline,
    D36B_SQL,
    "training-mix family: repeats + length filter + order + capstone",
)
