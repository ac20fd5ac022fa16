"""Curation queries (SURVEY.md §2B Q112–Q156): chunk-level
boilerplate and near-dup detection, weighted priority sampling, Zipf-law
auditing, vector-column health/drift checks, split-distribution
divergence, quality/perplexity banding, per-source scorecards,
quantization-error audits, SCD2 history, contamination coverage, market
share, co-occurrence lift, dedup byte savings, the remaining classic
TPC-H join shapes (Q2/Q11/Q12/Q14/Q17/Q18/Q21/Q22 analogues), exact
histogram percentiles, growth/retention accounting, hard-negative
mining, and temperature-resampled language mixing.

Reference parity note: the reference (song9446/kstreamjs,
/root/reference/src/stream.ts:18-271) has no analytical surface at all —
these queries extend the engine's declared LLM-training-data inventory,
following the determinism rules in queries/__init__ (quantize-before-sum
for any aggregated transcendental, exact integer arithmetic elsewhere,
identical column aliases on both engines).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import dedup, sampling, text
from ..operators.sampling import hash_bucket_sql
from ..operators.similarity import as_double
from ..operators.text import fingerprint_sql
from ..operators.percentile import histogram_percentiles
from ..tables import load
from . import query
from .corpus import (
    _SPLIT_CASE_SQL,
    _SPLIT_SEED,
    _TRAIN_FRACTION,
    _shingle_sql,
    _source_split,
)
from .llm import ALL_STOP, _sql_list

# ------------------------------------ Q112 repeated-chunk boilerplate
_CHUNK_TOK = 32


@query(
    "q112_repeated_chunks",
    oracle=f"""
        WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts
                   FROM documents),
        s AS (SELECT doc_id, lang, ts,
                     unnest(generate_series(1, len(ts), {_CHUNK_TOK})) AS st
              FROM t),
        g AS (SELECT DISTINCT doc_id, lang,
                     {fingerprint_sql(
                         "array_to_string(list_slice(ts, st, st + "
                         + str(_CHUNK_TOK - 1) + "), ' ')")} AS cfp
              FROM s),
        e AS (SELECT doc_id, lang, cfp,
                     COUNT(*) OVER (PARTITION BY lang, cfp) AS nd
              FROM g)
        SELECT lang,
               CAST(COUNT(DISTINCT cfp) AS BIGINT) AS n_repeated_chunks,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_affected_docs
        FROM e WHERE nd >= 2 GROUP BY lang
    """,
    tags=("dedup", "text", "llm", "quality"),
)
def q112(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-document boilerplate detection: split every document into
    32-token chunks, fingerprint each chunk (q36's rolling hash), and
    report per language how many distinct chunks recur across >=2
    documents and how many documents carry at least one such chunk — the
    shared-header/footer signal that document-level dedup (q25/q26)
    cannot see because the surrounding text differs. Plan: chunk
    fingerprints are computed in the scan projection (text itself never
    shuffles); the shuffle carries (lang, cfp, doc_id) only, keyed on the
    fingerprint — bucket width bounded by chunk multiplicity, never
    corpus size. The semi-join probe reuses the same aggregate."""
    (documents,) = load(spark, sf, "documents")
    d = dedup.spread(documents, "doc_id").select(
        "doc_id", "lang", F.split("text", " ").alias("ts")
    )
    ex = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.sequence(F.lit(1), F.size("ts"), F.lit(_CHUNK_TOK))
        ).alias("st"),
        "ts",
    )
    g = ex.select(
        "doc_id",
        "lang",
        text.fingerprint(
            F.array_join(F.slice("ts", F.col("st"), _CHUNK_TOK), " ")
        ).alias("cfp"),
    ).distinct()
    # Single-scan formulation: the multiplicity window runs per (lang, cfp)
    # — bucket width = chunk multiplicity — so the repeated-chunk filter
    # and both distinct counts derive from ONE pass over the distinct
    # (doc, lang, cfp) set; the semi-join formulation re-executed the
    # whole explode+fingerprint subtree for the probe side (measured 2.0 s
    # -> 0.9 s at sf0.1).
    w = Window.partitionBy("lang", "cfp")
    e = g.withColumn("nd", F.count(F.lit(1)).over(w)).filter(
        F.col("nd") >= 2
    )
    return e.groupBy("lang").agg(
        F.countDistinct("cfp").cast("long").alias("n_repeated_chunks"),
        F.countDistinct("doc_id").cast("long").alias("n_affected_docs"),
    )


# ------------------------------------ Q113 weighted priority sample
_PRIORITY_K = 5
_PRIORITY_SEED = 7


@query(
    "q113_priority_sample",
    oracle=f"""
        WITH p AS (
          SELECT lang, doc_id, n_chars,
                 CAST({hash_bucket_sql('doc_id', _PRIORITY_SEED)} + 1
                      AS DOUBLE)
                 / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS pr
          FROM documents
        ),
        r AS (SELECT lang, doc_id, n_chars, pr,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY pr, doc_id) AS rn
              FROM p)
        SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars, pr
        FROM r WHERE rn <= {_PRIORITY_K}
    """,
    tags=("sampling", "llm"),
)
def q113(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement, k per language, by
    sequential Poisson sampling (Ohlsson): priority = u / weight with a
    deterministic uniform u from the doc_id hash, keep the k smallest
    priorities per stratum — longer documents win proportionally more
    often, and the whole draw is reproducible from the seed. The
    priority is ONE exact IEEE double division of two exact integers
    (identical bit pattern on both engines — no transcendentals, unlike
    the u^(1/w) exponential formulation it approximates). Plan: priority
    is a scan-side expression; per-stratum selection is the
    WindowGroupLimit top-k shape (rank pushed into the shuffle), so the
    full sort never materializes at scale."""
    (documents,) = load(spark, sf, "documents")
    u = sampling.hash_bucket("doc_id", seed=_PRIORITY_SEED) + F.lit(1)
    pr = u.cast("double") / F.greatest(
        F.col("n_chars"), F.lit(1)
    ).cast("double")
    w = Window.partitionBy("lang").orderBy("pr", "doc_id")
    return (
        documents.select(
            "lang", "doc_id", F.col("n_chars").cast("long").alias("n_chars"),
            pr.alias("pr"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PRIORITY_K)
        .drop("rn")
    )


# ------------------------------------ Q114 Zipf-law slope audit
_ZIPF_TOP = 500
_ZIPF_Q = 100_000  # ln quantization: 1e5 keeps every int64 product safe


@query(
    "q114_zipf_slope",
    oracle=f"""
        WITH c AS (
          SELECT lang, token, COUNT(*) AS n FROM (
            SELECT lang, unnest(string_split(text, ' ')) AS token
            FROM documents)
          GROUP BY lang, token
        ),
        r AS (SELECT lang, n,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n DESC, token) AS rank
              FROM c),
        q AS (SELECT lang,
                     CAST(floor(ln(rank) * {_ZIPF_Q} + 0.5) AS BIGINT) AS x,
                     CAST(floor(ln(n) * {_ZIPF_Q} + 0.5) AS BIGINT) AS y
              FROM r WHERE rank <= {_ZIPF_TOP})
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_ranks,
               ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) * 1.0
                     / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)),
                     4) AS zipf_slope
        FROM q GROUP BY lang HAVING COUNT(*) >= 2
    """,
    tags=("text", "llm", "monitoring"),
)
def q114(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law fit per language: least-squares slope of ln(frequency)
    vs ln(rank) over the top-500 token ranks — natural corpora sit near
    slope -1; a flat slope flags templated/synthetic text, a cliff flags
    a truncated vocabulary. Every ln term is quantized to int64 BEFORE
    any sum (the q96 idiom: summation order differs between engines,
    integer sums don't), so the slope's sufficient statistics
    (n, Σx, Σy, Σxy, Σx²) are order-free; one final double division. The
    rank window runs over the vocabulary-sized (lang, token) aggregate —
    bounded by vocabulary, never corpus size — and the 1e5 quantum keeps
    n·Σxy under 2^63 at any corpus size (x ≤ ln(500)·1e5, y ≤ ln(c)·1e5:
    even c = 1e12 keeps the products at ~1e17)."""
    (documents,) = load(spark, sf, "documents")
    c = (
        dedup.spread(documents, "doc_id")
        .select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "token")
    r = c.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= _ZIPF_TOP
    )
    q = r.select(
        "lang",
        F.floor(F.log("rank") * _ZIPF_Q + 0.5).cast("long").alias("x"),
        F.floor(F.log("n") * _ZIPF_Q + 0.5).cast("long").alias("y"),
    )
    agg = q.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_ranks"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return (
        agg.filter(F.col("n_ranks") >= 2)
        .select(
            "lang",
            "n_ranks",
            F.round(
                (F.col("n_ranks") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * F.lit(1.0)
                / (
                    F.col("n_ranks") * F.col("sxx")
                    - F.col("sx") * F.col("sx")
                ),
                4,
            ).alias("zipf_slope"),
        )
    )


# ------------------------------------ Q115 vector-column health audit
_NORM_Q = 1_000_000


@query(
    "q115_vector_health",
    oracle=f"""
        WITH v AS (
          SELECT label,
                 len(embedding) AS dim,
                 len(list_filter(embedding::DOUBLE[], x -> isnan(x))) > 0
                     AS has_nan,
                 list_reduce(
                     list_prepend(0.0,
                         list_transform(embedding::DOUBLE[], x -> x * x)),
                     (a, x) -> a + x) AS n2
          FROM embeddings
        ),
        q AS (SELECT label, dim, has_nan,
                     CASE WHEN has_nan THEN CAST(0 AS BIGINT)
                          ELSE CAST(floor(n2 * {_NORM_Q} + 0.5) AS BIGINT)
                     END AS n2q
              FROM v)
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) FILTER (WHERE has_nan) AS BIGINT) AS n_nan,
               CAST(COUNT(*) FILTER (WHERE NOT has_nan AND n2q = 0)
                    AS BIGINT) AS n_zero,
               CAST(MIN(dim) AS BIGINT) AS dim_min,
               CAST(MAX(dim) AS BIGINT) AS dim_max,
               ROUND(SUM(n2q) * 1.0
                     / (NULLIF(COUNT(*) FILTER (WHERE NOT has_nan), 0)
                        * {_NORM_Q}.0), 6) AS avg_norm2
        FROM q GROUP BY label
    """,
    tags=("similarity", "llm", "quality"),
)
def q115(spark: SparkSession, sf: str) -> DataFrame:
    """Vector-column health audit per label: NaN-poisoned vectors,
    exact-zero vectors (they break cosine normalization), dimension
    drift (min/max length — a ragged column means a broken embedder
    batch), and the mean squared norm (catches scale drift between
    embedder versions). Per-vector norm² is a sequential left-fold
    (deterministic order, identical on both engines), quantized to int64
    before the per-label mean so the aggregation is order-free; NaN
    vectors are excluded from the norm statistics by an exact flag, not
    by NaN propagation (engines disagree on NaN semantics, so it never
    crosses an aggregate here). Pure scan-side array math + one
    label-sized aggregate: zero joins, zero UDFs."""
    (emb,) = load(spark, sf, "embeddings")
    dv = as_double(F.col("embedding"))
    v = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        F.exists(dv, lambda x: F.isnan(x)).alias("has_nan"),
        F.aggregate(
            F.transform(dv, lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("n2"),
    )
    q = v.select(
        "label",
        "dim",
        "has_nan",
        F.when(F.col("has_nan"), F.lit(0).cast("long"))
        .otherwise(F.floor(F.col("n2") * _NORM_Q + 0.5).cast("long"))
        .alias("n2q"),
    )
    not_nan = F.sum(F.when(~F.col("has_nan"), 1).otherwise(0))
    return q.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.when(F.col("has_nan"), 1).otherwise(0))
        .cast("long")
        .alias("n_nan"),
        F.sum(
            F.when(~F.col("has_nan") & (F.col("n2q") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_zero"),
        F.min("dim").cast("long").alias("dim_min"),
        F.max("dim").cast("long").alias("dim_max"),
        F.round(
            F.sum("n2q") * F.lit(1.0)
            / (F.nullif(not_nan, F.lit(0)) * F.lit(float(_NORM_Q))),
            6,
        ).alias("avg_norm2"),
    )


# ------------------------------------ Q116 split KL divergence
_KL_Q = 1_000_000


@query(
    "q116_split_kl",
    oracle=f"""
        WITH d AS (
          SELECT lang, text,
                 {_SPLIT_CASE_SQL} AS split
          FROM documents
        ),
        tok AS (SELECT lang, split, unnest(string_split(text, ' ')) AS w
                FROM d),
        c AS (SELECT lang, w,
                     COUNT(*) FILTER (WHERE split = 'train') AS ct,
                     COUNT(*) FILTER (WHERE split = 'val') AS cv
              FROM tok GROUP BY lang, w),
        s AS (SELECT lang,
                     CAST(COUNT(*) AS BIGINT) AS vocab_union,
                     CAST(SUM(ct) AS BIGINT) AS nt,
                     CAST(SUM(cv) AS BIGINT) AS nv,
                     SUM(CASE WHEN cv > 0 THEN
                         CAST(floor(cv * (ln(cv) - ln(ct + 1)) * {_KL_Q}
                                    + 0.5) AS BIGINT)
                         ELSE 0 END) AS sq
              FROM c GROUP BY lang)
        SELECT lang, nv AS n_val_tokens, vocab_union,
               ROUND(sq * 1.0 / (nv * {_KL_Q}.0)
                     - ln(nv) + ln(nt + vocab_union), 6) AS kl_div
        FROM s WHERE nv > 0
    """,
    tags=("text", "llm", "evaluation", "monitoring"),
)
def q116(spark: SparkSession, sf: str) -> DataFrame:
    """Token-distribution KL divergence KL(val || train) per language
    across q79's source-atomic split, with add-one smoothing on the
    train side (an unseen-in-train token contributes its exact smoothed
    surprisal instead of infinity) — the distribution-shift audit that
    catches a val split drawn from systematically different sources even
    when no document leaks (q100/q106 find leaks; this finds skew).
    Decomposition: KL = Σ cv·(ln cv − ln(ct+1))/Nv − ln Nv + ln(Nt+V) —
    the per-token terms are quantized to int64 before summing (q96
    idiom); the three correction terms are row-level ln of exact
    integers on the final lang-sized aggregate. One token explode, one
    vocabulary-sized shuffle; text never shuffles."""
    (documents,) = load(spark, sf, "documents")
    split = _source_split()
    tok = dedup.spread(documents, "doc_id").select(
        "lang", split.alias("split"), F.explode(F.split("text", " ")).alias("w")
    )
    c = tok.groupBy("lang", "w").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("cv"),
    )
    term = F.when(
        F.col("cv") > 0,
        F.floor(
            F.col("cv") * (F.log("cv") - F.log(F.col("ct") + 1)) * _KL_Q
            + 0.5
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    s = c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("vocab_union"),
        F.sum("ct").cast("long").alias("nt"),
        F.sum("cv").cast("long").alias("nv"),
        F.sum(term).alias("sq"),
    )
    return s.filter(F.col("nv") > 0).select(
        "lang",
        F.col("nv").alias("n_val_tokens"),
        "vocab_union",
        F.round(
            F.col("sq") * F.lit(1.0) / (F.col("nv") * F.lit(float(_KL_Q)))
            - F.log("nv")
            + F.log(F.col("nt") + F.col("vocab_union")),
            6,
        ).alias("kl_div"),
    )


# ------------------------------------ Q117 quality-band yield table
_BAND_LEN_LO, _BAND_LEN_HI = 20, 400
_BAND_STOP_BP = 300
_BAND_UNIQ_BP = 8000


@query(
    "q117_quality_bands",
    oracle=f"""
        WITH m AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n_tok,
                 len(list_filter(string_split(text, ' '),
                     t -> list_contains({_sql_list(ALL_STOP)}, t))) AS hits,
                 len({_shingle_sql(3, distinct=False)}) AS n_tri,
                 len(list_distinct({_shingle_sql(3, distinct=False)}))
                     AS n_uniq
          FROM documents
        ),
        b AS (
          SELECT doc_id, n_tok,
                 (CASE WHEN n_tok BETWEEN {_BAND_LEN_LO} AND {_BAND_LEN_HI}
                       THEN 1 ELSE 0 END)
               + (CASE WHEN (10000 * hits) // n_tok >= {_BAND_STOP_BP}
                       THEN 1 ELSE 0 END)
               + (CASE WHEN n_tri > 0
                        AND (10000 * n_uniq) // n_tri >= {_BAND_UNIQ_BP}
                       THEN 1 ELSE 0 END) AS band
          FROM m WHERE n_tok > 0
        )
        SELECT band,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS doc_share
        FROM b GROUP BY band
    """,
    tags=("text", "llm", "quality", "slow"),
)
def q117(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-band yield table: every document scores 0–3 integer
    criteria (length in [20,400] tokens; stopword density >= 3% — real
    prose contains function words; distinct-trigram ratio >= 80% — q78's
    repetition signal), and the report shows docs/tokens/share per band —
    the go/no-go table a curation pipeline reads before choosing a
    cutoff band. All three criteria are exact integer arithmetic
    (basis-point floor division, no doubles until the final share), so
    there is no rounding-boundary risk anywhere. Scan-side scoring into
    a 4-row aggregate; the share window runs over those 4 rows."""
    (documents,) = load(spark, sf, "documents")
    toks = text.tokens("text")
    tri = dedup.shingle_list("text", 3)
    m = documents.select(
        F.size(toks).alias("n_tok"),
        text.stopword_hits(toks, ALL_STOP).alias("hits"),
        F.size(tri).alias("n_tri"),
        F.size(F.array_distinct(tri)).alias("n_uniq"),
    ).filter(F.col("n_tok") > 0)
    band = (
        F.when(
            F.col("n_tok").between(_BAND_LEN_LO, _BAND_LEN_HI), 1
        ).otherwise(0)
        + F.when(
            F.expr("(10000 * hits) DIV n_tok") >= _BAND_STOP_BP, 1
        ).otherwise(0)
        + F.when(
            (F.col("n_tri") > 0)
            & (F.expr("(10000 * n_uniq) DIV n_tri") >= _BAND_UNIQ_BP),
            1,
        ).otherwise(0)
    )
    g = m.select(band.alias("band"), "n_tok").groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return g.select(
        "band",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_docs") * F.lit(1.0) / F.sum("n_docs").over(w), 6
        ).alias("doc_share"),
    )


# ------------------------------------ Q118 source scorecard
@query(
    "q118_source_scorecard",
    oracle=f"""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                   AS n_tokens,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(*) - COUNT(DISTINCT {fingerprint_sql('text')})
                    AS BIGINT) AS n_exact_dups,
               ROUND((COUNT(*) - COUNT(DISTINCT {fingerprint_sql('text')}))
                     * 1.0 / COUNT(*), 6) AS dup_ratio,
               ROUND(SUM(n_chars) * 1.0 / COUNT(*), 6) AS avg_chars
        FROM documents GROUP BY source
    """,
    tags=("text", "llm", "monitoring", "provenance", "slow"),
)
def q118(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source crawl scorecard: document/token volume, language
    spread, exact-duplicate ratio (docs minus distinct content
    fingerprints — the within-source copy rate that decides whether a
    source needs dedup before mixing), and mean document size. The
    fingerprint is computed in the scan projection; the aggregate is
    source-sized. One shuffle on source; the distinct-fingerprint count
    rides the same aggregation (partial distinct aggregation map-side).
    Exact integer counts; the two ratios are final exact int/int
    divisions."""
    (documents,) = load(spark, sf, "documents")
    return (
        documents.select(
            "source",
            "lang",
            "n_chars",
            F.size(text.tokens("text")).alias("n_tok"),
            text.fingerprint("text").alias("fp"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            (F.count(F.lit(1)) - F.countDistinct("fp"))
            .cast("long")
            .alias("n_exact_dups"),
            F.round(
                (F.count(F.lit(1)) - F.countDistinct("fp"))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                6,
            ).alias("dup_ratio"),
            F.round(
                F.sum("n_chars") * F.lit(1.0) / F.count(F.lit(1)), 6
            ).alias("avg_chars"),
        )
    )


# ------------------------------------ Q119 quantization-error audit
_ERR_Q = 1_000_000_000_000  # 1e12: err^2 ~ 1e-5 scale needs fine quanta


@query(
    "q119_quant_error",
    oracle=f"""
        WITH v AS (
          SELECT label, embedding::DOUBLE[] AS dv,
                 list_max(list_transform(embedding::DOUBLE[],
                                         x -> abs(x))) AS m
          FROM embeddings
        ),
        e AS (
          SELECT label, len(dv) AS dim,
                 list_transform(dv,
                     x -> CASE WHEN m = 0 THEN abs(x)
                          ELSE abs(x - GREATEST(-127, LEAST(127,
                                   CAST(floor(x * (127.0 / m) + 0.5)
                                        AS BIGINT))) * (m / 127.0))
                          END) AS errs
          FROM v
        ),
        s AS (
          SELECT label, dim,
                 list_max(errs) AS vmax,
                 CAST(floor(list_reduce(list_prepend(0.0,
                          list_transform(errs, x -> x * x)),
                          (a, x) -> a + x) * {_ERR_Q} + 0.5) AS BIGINT)
                     AS e2q
          FROM e
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               ROUND(MAX(vmax), 6) AS max_abs_err,
               ROUND(SUM(e2q) * 1.0 / (SUM(dim) * {_ERR_Q}.0), 6)
                   AS mean_sq_err
        FROM s GROUP BY label
    """,
    tags=("similarity", "llm", "quality"),
)
def q119(spark: SparkSession, sf: str) -> DataFrame:
    """Reconstruction-error audit for q85's symmetric int8 quantization:
    per label, the max absolute element error and the mean squared
    element error after quantize→dequantize — the number that says
    whether int8 storage is safe for this embedding family or a label's
    scale distribution needs per-channel treatment. The per-element
    error chain (divide, floor(+0.5), clamp, multiply back) is exact
    IEEE with the identical operation order on both engines (q85's
    contract extended one step); the per-vector error² fold is quantized
    to int64 at 1e12 before the label aggregate (max needs no quantize —
    it's order-free). Zero-vector guard mirrors q85: m = 0 dequantizes
    to 0, so the error is |x| = 0 exactly. Scan-side array math, one
    label-sized aggregate."""
    from ..operators.dedup import bind

    (emb,) = load(spark, sf, "embeddings")

    def errs(dv: F.Column, m: F.Column) -> F.Column:
        deq = lambda x: (  # noqa: E731
            F.greatest(
                F.lit(-127).cast("long"),
                F.least(
                    F.lit(127).cast("long"),
                    F.floor(x * (F.lit(127.0) / m) + 0.5),
                ),
            )
            * (m / F.lit(127.0))
        )
        return F.transform(
            dv,
            lambda x: F.when(m == 0.0, F.abs(x)).otherwise(
                F.abs(x - deq(x))
            ),
        )

    ev = bind(
        as_double(F.col("embedding")),
        lambda dv: bind(
            F.array_max(F.transform(dv, F.abs)), lambda m: errs(dv, m)
        ),
    )
    s = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        F.array_max(ev).alias("vmax"),
        F.floor(
            F.aggregate(
                F.transform(ev, lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            * _ERR_Q
            + 0.5
        )
        .cast("long")
        .alias("e2q"),
    )
    return s.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.max("vmax"), 6).alias("max_abs_err"),
        F.round(
            F.sum("e2q") * F.lit(1.0) / (F.sum("dim") * F.lit(float(_ERR_Q))),
            6,
        ).alias("mean_sq_err"),
    )


# ------------------------------------ Q120 perplexity-band filter
# Mean-bigram-logprob thresholds in micro-nats: integer band arithmetic.
_PPL_T = (-3_450_000, -3_400_000, -3_350_000)


@query(
    "q120_perplexity_bands",
    oracle=f"""
        WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts
                    FROM documents),
        uni AS (SELECT w, COUNT(*) AS cu
                FROM (SELECT unnest(ts) AS w FROM tk) GROUP BY w),
        vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
        bg AS (SELECT doc_id,
                      unnest(list_transform(
                          generate_series(1, len(ts) - 1),
                          i -> ts[i] || ' ' || ts[i+1])) AS b
               FROM tk WHERE len(ts) >= 2),
        bgc AS (SELECT b, COUNT(*) AS cb FROM bg GROUP BY b),
        scored AS (
          SELECT bg.doc_id,
                 CAST(floor(ln((bgc.cb + 1.0) / (uni.cu + vocab.v))
                            * 1000000 + 0.5) AS BIGINT) AS q
          FROM bg
          JOIN bgc USING (b)
          JOIN uni ON uni.w = string_split(bg.b, ' ')[1]
          CROSS JOIN vocab),
        d AS (SELECT doc_id, COUNT(*) AS nb, SUM(q) AS sq
              FROM scored GROUP BY doc_id),
        b2 AS (SELECT doc_id, nb,
                      (CASE WHEN sq >= {_PPL_T[0]} * nb THEN 1 ELSE 0 END)
                    + (CASE WHEN sq >= {_PPL_T[1]} * nb THEN 1 ELSE 0 END)
                    + (CASE WHEN sq >= {_PPL_T[2]} * nb THEN 1 ELSE 0 END)
                          AS band
               FROM d)
        SELECT band,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nb) AS BIGINT) AS n_bigrams,
               ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS doc_share
        FROM b2 GROUP BY band
    """,
    tags=("text", "llm", "quality", "slow"),
)
def q120(spark: SparkSession, sf: str) -> DataFrame:
    """Perplexity-band filtering (the CCNet recipe on q86's statistical
    LM): score every document by its mean smoothed-bigram log-likelihood,
    band it against fixed fluency thresholds, and report the yield per
    band — the table that decides which perplexity slice of a crawl goes
    into the training mix. The band comparison is EXACT integer
    arithmetic: Σq >= t·n_bigrams with both sides int64 (q is the
    micro-nat-quantized per-bigram logprob, t the micro-nat threshold) —
    no double division anywhere near a band boundary, so a document can
    never band differently across engines. Same count-table scale shape
    as q86 (vocabulary-sized aggregates, token-keyed joins, AQE
    broadcast); the band rollup is 4 rows."""
    (documents,) = load(spark, sf, "documents")
    toks = F.split("text", " ")
    uni = (
        documents.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("long").alias("v"))
    bigram_structs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.concat(
                    F.element_at(toks, i), F.lit(" "),
                    F.element_at(toks, i + 1),
                ).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,b:string>>"))
    bg = (
        dedup.spread(documents, "doc_id")
        .select("doc_id", F.explode(bigram_structs).alias("s"))
        .select("doc_id", F.col("s.w1").alias("w1"), F.col("s.b").alias("b"))
    )
    bgc = bg.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        bg.join(bgc, "b")
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(
                F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("v")))
                * 1_000_000
                + 0.5
            )
            .cast("long")
            .alias("q"),
        )
    )
    d = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nb"), F.sum("q").alias("sq")
    )
    band = sum(
        F.when(F.col("sq") >= F.lit(t) * F.col("nb"), 1).otherwise(0)
        for t in _PPL_T
    )
    g = d.select(band.alias("band"), "nb").groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nb").cast("long").alias("n_bigrams"),
    )
    w = Window.partitionBy()
    return g.select(
        "band",
        "n_docs",
        "n_bigrams",
        F.round(
            F.col("n_docs") * F.lit(1.0) / F.sum("n_docs").over(w), 6
        ).alias("doc_share"),
    )


# ------------------------------------ Q121 SCD2 history intervals
@query(
    "q121_scd2_intervals",
    oracle="""
        WITH o AS (
          SELECT user_id, event_type, event_id, ts,
                 lag(event_type) OVER w AS prev_type
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        ch AS (
          SELECT user_id, event_type, event_id, ts AS valid_from
          FROM o
          WHERE prev_type IS NULL OR prev_type <> event_type
        )
        SELECT user_id, event_type, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from, event_id)
                   AS valid_to
        FROM ch
    """,
    tags=("window", "cdc", "behavioral"),
)
def q121(spark: SparkSession, sf: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build from a change log:
    collapse each user's event stream into state intervals — a new
    interval opens whenever the event_type differs from the previous
    event, valid_from = the change's timestamp, valid_to = the next
    change (NULL = current state). This is the CDC-to-warehouse
    transformation behind every `dim_*_history` table. Plan: ONE
    hashpartitioning(user_id) exchange feeds both window passes (the
    change-detection lag and the interval-closing lead run over the same
    partitioning; the lead's reduced row set is a filter, not a
    reshuffle). Timestamps pass through untouched — no arithmetic, no
    rounding surface."""
    (events,) = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = events.select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    ch = o.filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    ).select(
        "user_id", "event_type", "event_id", F.col("ts").alias("valid_from")
    )
    # event_id tiebreak: two change rows CAN share a timestamp (equal-ts
    # events of different types), and a tie under lead() would make
    # valid_to assignment engine-dependent.
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return ch.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )


# ------------------------------------ Q122 contamination coverage
_COV_N = 5  # shingle order, matches q77's decontamination unit
_COV_FRACTION = 0.02
_COV_SEED = 13
_COV_CONTAMINATED_BP = 8000


@query(
    "q122_contamination_coverage",
    oracle=f"""
        WITH d AS (
          SELECT doc_id, lang,
                 list_distinct(list_transform(
                     generate_series(1,
                         len(string_split(text,' ')) - {_COV_N - 1}),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2] || ' ' ||
                          string_split(text,' ')[i+3] || ' ' ||
                          string_split(text,' ')[i+4])) AS sh,
                 {hash_bucket_sql('doc_id', _COV_SEED)}
                     < {int(_COV_FRACTION * 4294967296)} AS is_eval
          FROM documents
        ),
        tr AS (SELECT DISTINCT unnest(sh) AS s FROM d WHERE NOT is_eval),
        ev AS (SELECT doc_id, lang, unnest(sh) AS s FROM d
               WHERE is_eval AND len(sh) > 0),
        m AS (SELECT ev.doc_id, ev.lang,
                     COUNT(*) AS n,
                     COUNT(tr.s) AS matched
              FROM ev LEFT JOIN tr ON ev.s = tr.s
              GROUP BY ev.doc_id, ev.lang),
        c AS (SELECT doc_id, lang, (10000 * matched) // n AS bp FROM m)
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_eval_docs,
               ROUND(SUM(bp) * 1.0 / COUNT(*), 6) AS mean_coverage_bp,
               CAST(COUNT(*) FILTER (WHERE bp >= {_COV_CONTAMINATED_BP})
                    AS BIGINT) AS n_contaminated
        FROM c GROUP BY lang
    """,
    tags=("dedup", "llm", "evaluation", "slow"),
    bench=True,
)
def q122(spark: SparkSession, sf: str) -> DataFrame:
    """Contamination COVERAGE report — q77 answers "which training docs
    touch the eval set"; this answers the eval-side question auditors
    actually ask: for each held-out document, what fraction of its
    5-gram shingles appears anywhere in training, and how many eval docs
    exceed the 80% coverage bar that marks them as effectively
    memorizable. Per-doc coverage is an exact integer basis-point floor
    division; the per-lang mean is a sum of those ints. Plan: the train
    side reduces to DISTINCT shingles before the join (the same
    fingerprints-shuffle-text-doesn't rule as q100); the join is a
    shingle-keyed LEFT equi-join whose per-key width is the eval-doc
    multiplicity of that shingle — eval is a 2% hash slice, so buckets
    are sample-sized, never corpus-sized."""
    (documents,) = load(spark, sf, "documents")
    is_eval = sampling.hash_bucket("doc_id", seed=_COV_SEED) < F.lit(
        int(_COV_FRACTION * 4294967296)
    )
    d = dedup.spread(documents, "doc_id").select(
        "doc_id",
        "lang",
        dedup.shingles("text", _COV_N).alias("sh"),
        is_eval.alias("is_eval"),
    )
    tr = (
        d.filter(~F.col("is_eval"))
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    ev = (
        d.filter(F.col("is_eval") & (F.size("sh") > 0))
        .select("doc_id", "lang", F.explode("sh").alias("s"))
    )
    m = (
        ev.join(tr.withColumn("hit", F.lit(1)), "s", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("matched"),
        )
    )
    c = m.select(
        "lang", F.expr("(10000 * matched) DIV n").alias("bp")
    )
    return c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_docs"),
        F.round(F.sum("bp") * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
            "mean_coverage_bp"
        ),
        F.sum(
            F.when(F.col("bp") >= _COV_CONTAMINATED_BP, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_contaminated"),
    )


# ------------------------------------ Q123 cross-doc near-dup chunks
_NDCHUNK_THRESHOLD = 0.7
_NDCHUNK_MAX_DF = 4
# chunk uid = doc_id * _NDCHUNK_UID + chunk_idx. The multiplier bounds
# BOTH dimensions: docs may have < 1e9 chunks (32e9 tokens/doc — far past
# any real document; a smaller constant like 1e5 silently aliased a
# 3.2M-token book's chunks into the NEXT doc_id's uid space) and doc_ids
# must stay < 2^63/1e9 ≈ 9.2e9 (plenty for a 100 TB corpus).
_NDCHUNK_UID = 1_000_000_000


@query(
    "q123_chunk_neardup_pairs",
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
                   FROM documents),
        st AS (SELECT doc_id, ts,
                      unnest(generate_series(1, len(ts), {_CHUNK_TOK}))
                          AS st
               FROM t),
        ck AS (SELECT doc_id * {_NDCHUNK_UID} + (st - 1) // {_CHUNK_TOK}
                          AS cid,
                      list_slice(ts, st, st + {_CHUNK_TOK - 1}) AS cts
               FROM st),
        sh AS (SELECT cid,
                      list_distinct(list_transform(
                          generate_series(1, len(cts) - 2),
                          i -> cts[i] || ' ' || cts[i+1] || ' ' ||
                               cts[i+2])) AS shingles
               FROM ck),
        ex0 AS (SELECT cid, unnest(shingles) AS s FROM sh),
        hot AS (SELECT s FROM ex0 GROUP BY s
                HAVING COUNT(*) > {_NDCHUNK_MAX_DF}),
        ex AS (SELECT e.cid, e.s FROM ex0 e ANTI JOIN hot h ON e.s = h.s),
        n AS (SELECT cid, COUNT(*) AS n FROM ex GROUP BY cid),
        pairs AS (
          SELECT a.cid AS c1, b.cid AS c2, COUNT(*) AS common
          FROM ex a JOIN ex b ON a.s = b.s AND a.cid < b.cid
          GROUP BY 1, 2
        ),
        nd AS (
          SELECT c1 // {_NDCHUNK_UID} AS da, c2 // {_NDCHUNK_UID} AS db
          FROM pairs
          JOIN n na ON pairs.c1 = na.cid
          JOIN n nb ON pairs.c2 = nb.cid
          WHERE ROUND(common * 1.0 / (na.n + nb.n - common), 6)
                >= {_NDCHUNK_THRESHOLD}
        )
        SELECT LEAST(da, db) AS doc_a, GREATEST(da, db) AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_neardup_chunks
        FROM nd WHERE da <> db GROUP BY 1, 2
    """,
    tags=("dedup", "text", "llm", "slow"),
)
def q123(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document NEAR-duplicate chunk detection — q112 finds chunks
    copied verbatim; this finds 32-token chunks copied with light edits
    (>= 0.7 trigram Jaccard), the quotation/template/plagiarism signal at
    sub-document granularity. Pure operator composition: the chunk table
    (synthetic chunk uid = doc_id * 1e5 + index) feeds the SAME
    jaccard_pairs operator q26/q26e proved, with the document-frequency
    ceiling active (max_df=4 — a boilerplate trigram shared across the
    corpus cannot widen any join bucket past 4 chunks), then chunk pairs
    roll up to ordered cross-document pair counts. Scale: identical to
    q26e's single-shuffle shingle equi-join, just at chunk granularity;
    the rollup is pair-count-sized."""
    (documents,) = load(spark, sf, "documents")
    d = dedup.spread(documents, "doc_id").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    ck = d.select(
        "doc_id",
        "ts",
        F.explode(
            F.sequence(F.lit(1), F.size("ts"), F.lit(_CHUNK_TOK))
        ).alias("st"),
    ).select(
        (
            F.col("doc_id") * _NDCHUNK_UID
            + F.expr(f"CAST((st - 1) DIV {_CHUNK_TOK} AS BIGINT)")
        ).alias("cid"),
        F.array_join(F.slice("ts", F.col("st"), _CHUNK_TOK), " ").alias(
            "ctext"
        ),
    )
    pairs = dedup.jaccard_pairs(
        ck,
        threshold=_NDCHUNK_THRESHOLD,
        n=3,
        partition_col=None,
        id_col="cid",
        text_col="ctext",
        max_df=_NDCHUNK_MAX_DF,
    )
    nd = pairs.select(
        F.expr(f"d1 DIV {_NDCHUNK_UID}").alias("da"),
        F.expr(f"d2 DIV {_NDCHUNK_UID}").alias("db"),
    ).filter(F.col("da") != F.col("db"))
    return (
        nd.select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_neardup_chunks"))
    )


# ------------------------------------ Q124 market share (TPC-H Q8 shape)
_SHARE_REGION = "ASIA"
_SHARE_NATION = "CHINA"


@query(
    "q124_market_share",
    oracle=f"""
        SELECT EXTRACT(year FROM o_orderdate) AS o_year,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                              + 0.5) AS BIGINT)) / 10000.0 AS total_rev,
               ROUND(SUM(CASE WHEN n_name = '{_SHARE_NATION}'
                         THEN CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                         * 10000 + 0.5) AS BIGINT)
                         ELSE 0 END) * 1.0
                     / SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                      * 10000 + 0.5) AS BIGINT)),
                     6) AS nation_share
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE r_name = '{_SHARE_REGION}'
        GROUP BY 1
    """,
    tags=("join", "agg", "slow"),
)
def q124(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape — per order year, one nation's revenue share within
    its region's suppliers: a 5-way join where three dims chain into one
    broadcast build side (region→nation→supplier prunes suppliers BEFORE
    the fact join) and the share is a conditional aggregation over the
    same quantized-revenue int64 sums as q09 (order-free; the share is
    one final exact int/int division). The region filter reaches the
    5-row region scan; at 100 TB only the surviving region's suppliers
    ever meet the lineitem shuffle."""
    lineitem, supplier, nation, region, orders = load(
        spark, sf, "lineitem", "supplier", "nation", "region", "orders"
    )
    dims = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == _SHARE_REGION)),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "n_name")
    )
    from ..plans import broadcast_if_small

    revq = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    # Size-gated hint, not an unconditional broadcast: the supplier slice
    # is dim-sized at every tested SF, but a forced hint would hard-code
    # that shape past the 8 GB broadcast limit (the r5-advice rule).
    # Gate on the BASE supplier table — the dim chain only shrinks it,
    # and Catalyst's join-multiplied estimate would otherwise refuse the
    # hint and let the planner pick the fact side as the build.
    j = (
        lineitem.join(
            broadcast_if_small(dims, gate=supplier),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            revq.alias("rq"),
            F.when(F.col("n_name") == _SHARE_NATION, revq)
            .otherwise(F.lit(0).cast("long"))
            .alias("nq"),
        )
    )
    return j.groupBy("o_year").agg(
        (F.sum("rq") / F.lit(10000.0)).alias("total_rev"),
        F.round(F.sum("nq") * F.lit(1.0) / F.sum("rq"), 6).alias(
            "nation_share"
        ),
    )


# ------------------------------------ Q125 event co-occurrence lift
@query(
    "q125_event_cooccurrence",
    oracle="""
        WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
        tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu
                FROM events),
        c AS (SELECT event_type, COUNT(*) AS n FROM u GROUP BY event_type),
        p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                     COUNT(*) AS n_both
              FROM u a JOIN u b
                ON a.user_id = b.user_id AND a.event_type < b.event_type
              GROUP BY 1, 2)
        SELECT type_a, type_b,
               CAST(n_both AS BIGINT) AS n_both,
               ROUND(tot.nu * 1.0 * n_both / (ca.n * 1.0 * cb.n), 6)
                   AS lift
        FROM p
        JOIN c ca ON p.type_a = ca.event_type
        JOIN c cb ON p.type_b = cb.event_type
        CROSS JOIN tot
    """,
    tags=("agg", "behavioral", "slow"),
)
def q125(spark: SparkSession, sf: str) -> DataFrame:
    """Event-type co-occurrence lift across users — lift(a,b) =
    N·P(a∧b)/(P(a)·P(b)) over per-user distinct type sets: the
    market-basket association matrix behind "users who X also Y". Plan
    (verified against the EXECUTED plan): the raw-events
    distinct shuffle materializes ONCE — AQE's runtime exchange reuse
    feeds the marginal/total/self-join consumers from the same stage
    (the static plan prints four copies; ReusedExchange appears at
    runtime) — and the remaining shuffles are distinct-set-sized, never
    raw-sized. The per-user self-join bucket is bounded by the TYPE
    COUNT (≤5 rows per user, never corpus-sized); marginals and the
    user total are kilobyte-scale broadcasts. A collect_set/array-
    combinatorics restructure (no self-join, one explicit shared
    exchange) was measured 29% SLOWER at sf0.1 (object hash agg + stage
    serialization) with identical values, so the self-join form stands.
    Lift is one exact int-product ratio, rounded once."""
    (events,) = load(spark, sf, "events")
    u = events.select("user_id", "event_type").distinct()
    tot = u.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("nu")
    )
    c = u.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = u.select(F.col("user_id"), F.col("event_type").alias("type_a"))
    b = u.select(F.col("user_id"), F.col("event_type").alias("type_b"))
    p = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        p.join(
            F.broadcast(c.withColumnRenamed("event_type", "type_a")).withColumnRenamed("n", "na"),
            "type_a",
        )
        .join(
            F.broadcast(c.withColumnRenamed("event_type", "type_b")).withColumnRenamed("n", "nb"),
            "type_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long").alias("n_both"),
            # promote to double BEFORE the products: nu*n_both and na*nb
            # are int64*int64 and wrap past ~3e9 users/rows (Spark wraps
            # silently non-ANSI, DuckDB raises) — the double product is
            # one IEEE op, identical on both engines
            F.round(
                F.col("nu").cast("double") * F.col("n_both")
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


# ------------------------------------ Q126 dedup byte-savings manifest
@query(
    "q126_dedup_savings",
    oracle=f"""
        WITH f AS (
          SELECT doc_id, source, n_chars,
                 {fingerprint_sql('text')} AS fp,
                 row_number() OVER (PARTITION BY {fingerprint_sql('text')}
                                    ORDER BY doc_id) AS rn
          FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped,
               CAST(SUM(n_chars) AS BIGINT) AS bytes_total,
               CAST(COALESCE(SUM(n_chars) FILTER (WHERE rn > 1), 0)
                    AS BIGINT) AS bytes_saved,
               ROUND(COALESCE(SUM(n_chars) FILTER (WHERE rn > 1), 0) * 1.0
                     / SUM(n_chars), 6) AS savings_ratio
        FROM f GROUP BY source
    """,
    tags=("dedup", "llm", "monitoring"),
)
def q126(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-dedup byte-savings manifest per source: global keeper
    election (lowest doc_id per content fingerprint — q25's rule), then
    per source the docs and BYTES the dedup pass deletes: the number
    that justifies running dedup at all, and the per-source attribution
    that shows which crawl pays for it. One fingerprint-keyed window
    (bucket = duplicate multiplicity) over scan-side fingerprints; the
    rollup is source-sized. All exact integer arithmetic."""
    (documents,) = load(spark, sf, "documents")
    w = Window.partitionBy("fp").orderBy("doc_id")
    f = documents.select(
        "source", "n_chars", text.fingerprint("text").alias("fp")
        , F.col("doc_id")
    ).withColumn("rn", F.row_number().over(w))
    dup = F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0)
    return f.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.sum("n_chars").cast("long").alias("bytes_total"),
        F.sum(dup).cast("long").alias("bytes_saved"),
        F.round(F.sum(dup) * F.lit(1.0) / F.sum("n_chars"), 6).alias(
            "savings_ratio"
        ),
    )


# ------------------------------------ Q127 embedding centroid drift
@query(
    "q127_centroid_drift",
    oracle="""
        WITH m AS (SELECT MAX(vec_id) / 2 AS mid FROM embeddings),
        v AS (SELECT label, vec_id >= mid AS new_half,
                     embedding::DOUBLE[] AS dv
              FROM embeddings, m),
        e AS (SELECT label, new_half, i AS dim,
                     CAST(floor(dv[i] * 1000000 + 0.5) AS BIGINT) AS xq
              FROM v, UNNEST(generate_series(1, len(dv))) AS t(i)),
        s AS (SELECT label, new_half, dim, SUM(xq) AS sq
              FROM e GROUP BY label, new_half, dim),
        c AS (SELECT a.label,
                     SUM(CAST(a.sq AS HUGEINT) * b.sq) AS xc,
                     SUM(CAST(a.sq AS HUGEINT) * a.sq) AS n11,
                     SUM(CAST(b.sq AS HUGEINT) * b.sq) AS n22
              FROM s a JOIN s b
                ON a.label = b.label AND a.dim = b.dim
               AND NOT a.new_half AND b.new_half
              GROUP BY a.label),
        n AS (SELECT label,
                     CAST(COUNT(*) FILTER (WHERE NOT new_half) AS BIGINT)
                         AS n_old,
                     CAST(COUNT(*) FILTER (WHERE new_half) AS BIGINT)
                         AS n_new
              FROM v GROUP BY label)
        SELECT c.label, n.n_old, n.n_new,
               ROUND(CAST(xc AS DOUBLE)
                     / sqrt(CAST(n11 AS DOUBLE) * CAST(n22 AS DOUBLE)),
                     6) AS centroid_cos
        FROM c JOIN n ON c.label = n.label
    """,
    tags=("similarity", "llm", "monitoring", "slow"),
)
def q127(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding centroid drift per label between the older and newer
    half of the table (vec_id midpoint standing in for snapshot time —
    q105's device on the vector column): the cosine between the two
    half-centroids, the one number that catches a silent embedder
    version bump or feature-pipeline change before it poisons ANN
    recall. Cosine is scale-invariant, so it is computed from per-dim
    COMPONENT SUMS, never means: each component quantized to int64 in
    the scan, per-(label, half, dim) integer sums (order-free), then one
    dim-sized join and DECIMAL(38,0) cross products (int64 would wrap at
    ~2e9 vectors — q109's rule). The only doubles are the final
    sqrt/divide on three exact integers per label. Shuffle payload:
    |labels| x |dims| rows."""
    (emb,) = load(spark, sf, "embeddings")
    mid = emb.agg((F.max("vec_id") / 2).alias("mid"))
    v = emb.crossJoin(F.broadcast(mid)).select(
        "label",
        (F.col("vec_id") >= F.col("mid")).alias("new_half"),
        as_double(F.col("embedding")).alias("dv"),
    )
    e = v.select(
        "label",
        "new_half",
        F.posexplode(
            F.transform(
                "dv",
                lambda x: F.floor(x * 1_000_000 + 0.5).cast("long"),
            )
        ).alias("dim", "xq"),
    )
    # The old/new-half split below consumes this
    # aggregate twice, and each filter branch replayed the per-dim
    # posexplode + integer-sum subtree from the embeddings scan (audit:
    # 6 scans). The aggregate is |labels| x 2 x |dims| rows — kilobytes
    # at any corpus size — so cut the lineage once, lazily.
    from ..plans import materialize_once

    s = materialize_once(
        e.groupBy("label", "new_half", "dim").agg(F.sum("xq").alias("sq")),
        eager=False,
    )
    a = s.filter(~F.col("new_half")).select(
        "label", "dim", F.col("sq").cast("decimal(38,0)").alias("sa")
    )
    b = s.filter(F.col("new_half")).select(
        "label", "dim", F.col("sq").cast("decimal(38,0)").alias("sb")
    )
    c = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).alias("xc"),
            F.sum(F.col("sa") * F.col("sa")).alias("n11"),
            F.sum(F.col("sb") * F.col("sb")).alias("n22"),
        )
    )
    n = v.groupBy("label").agg(
        F.sum(F.when(~F.col("new_half"), 1).otherwise(0))
        .cast("long")
        .alias("n_old"),
        F.sum(F.when(F.col("new_half"), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
    )
    return c.join(n, "label").select(
        "label",
        "n_old",
        "n_new",
        F.round(
            F.col("xc").cast("double")
            / F.sqrt(F.col("n11").cast("double") * F.col("n22").cast("double")),
            6,
        ).alias("centroid_cos"),
    )


# ------------------------------------ Q128 late-shipment priority audit
@query(
    "q128_late_shipment_priority",
    oracle="""
        SELECT date_trunc('month', o_orderdate) AS order_month,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN
                                  ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        GROUP BY 1
    """,
    tags=("join", "agg"),
)
def q128(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape on this schema: line items shipped more than 90
    days after the order date, split into high/low order-priority counts
    per order month — the late-fulfilment audit. One fact-fact equi-join
    (AQE picks shuffle vs broadcast by the filtered size) with the
    priority CASE folded into the aggregate, so the output is one row
    per order month; the 90-day predicate is pure date arithmetic,
    exact on both engines. All-integer output."""
    lineitem, orders = load(spark, sf, "lineitem", "orders")
    j = lineitem.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).filter(
        # timestamp-preserving interval arithmetic, matching the oracle's
        # + INTERVAL 90 DAY — date_add would truncate to midnight and
        # diverge on any non-midnight orderdate
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(
        F.date_trunc("month", "o_orderdate").alias("order_month")
    ).agg(
        F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias(
            "high_line_count"
        ),
        F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias(
            "low_line_count"
        ),
    )


# ------------------------------------ Q129 promo revenue share
@query(
    "q129_promo_revenue_share",
    oracle="""
        SELECT date_trunc('month', l_shipdate) AS ship_month,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                              + 0.5) AS BIGINT)) / 10000.0 AS total_rev,
               ROUND(SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                         * 10000 + 0.5) AS BIGINT)
                         ELSE 0 END) * 1.0
                     / SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                      * 10000 + 0.5) AS BIGINT)),
                     6) AS promo_share
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1
    """,
    tags=("join", "agg"),
)
def q129(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: monthly revenue share of promotional parts — the
    part dim broadcasts (it is the small side at every scale factor
    where it fits; AQE degrades to shuffle beyond), revenue uses q09's
    quantized int64 sums, and the share is one exact int/int division
    per month. The month truncation happens AFTER the join so the
    aggregate is month-sized."""
    from ..plans import broadcast_if_small

    lineitem, part = load(spark, sf, "lineitem", "part")
    revq = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    # Size-gated (r5-advice rule): part is dim-sized here, but it scales
    # with SF — an unconditional hint would OOM past the broadcast limit
    # instead of degrading to a shuffle join.
    j = lineitem.join(
        broadcast_if_small(part.select("p_partkey", "p_type")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        F.date_trunc("month", "l_shipdate").alias("ship_month"),
        revq.alias("rq"),
        F.when(F.col("p_type") == "PROMO", revq)
        .otherwise(F.lit(0).cast("long"))
        .alias("pq"),
    )
    return j.groupBy("ship_month").agg(
        (F.sum("rq") / F.lit(10000.0)).alias("total_rev"),
        F.round(F.sum("pq") * F.lit(1.0) / F.sum("rq"), 6).alias(
            "promo_share"
        ),
    )


# ------------------------------------ Q130 length-distribution KS drift
@query(
    "q130_length_ks_drift",
    oracle="""
        WITH m AS (SELECT MAX(doc_id) / 2 AS mid FROM documents),
        d AS (SELECT lang, doc_id >= mid AS new_half,
                     len(string_split(text, ' ')) AS l
              FROM documents, m),
        h AS (SELECT lang, l,
                     COUNT(*) FILTER (WHERE NOT new_half) AS c1,
                     COUNT(*) FILTER (WHERE new_half) AS c2
              FROM d GROUP BY lang, l),
        c AS (SELECT lang, l, c1, c2,
                     SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2,
                     SUM(c1) OVER p AS n1, SUM(c2) OVER p AS n2
              FROM h
              WINDOW w AS (PARTITION BY lang ORDER BY l
                           ROWS UNBOUNDED PRECEDING),
                     p AS (PARTITION BY lang))
        SELECT lang,
               CAST(any_value(n1) AS BIGINT) AS n_old,
               CAST(any_value(n2) AS BIGINT) AS n_new,
               ROUND(CAST(MAX(abs(CAST(cum1 AS HUGEINT) * n2
                                  - CAST(cum2 AS HUGEINT) * n1)) AS DOUBLE)
                     / (any_value(n1) * CAST(any_value(n2) AS DOUBLE)),
                     6) AS ks_d
        FROM c GROUP BY lang
        HAVING any_value(n1) > 0 AND any_value(n2) > 0
    """,
    tags=("text", "llm", "monitoring", "slow"),
)
def q130(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic on the document-
    length distribution between the older and newer corpus half, per
    language — the distribution-level drift detector that catches a
    chunking/extraction regression even when means and vocabularies look
    stable (q105/q116 see WHAT tokens; this sees their SHAPE). Exact by
    construction: D = max |cum1·n2 − cum2·n1| / (n1·n2) is computed on
    the per-lang LENGTH HISTOGRAM (bounded by max doc length — the q88
    rule: never a per-doc window), the cross products in DECIMAL(38,0)
    (cum·n wraps int64 at ~3e9 docs), and only the single final division
    touches doubles. One histogram-sized shuffle; text never moves."""
    (documents,) = load(spark, sf, "documents")
    mid = documents.agg((F.max("doc_id") / 2).alias("mid"))
    d = documents.crossJoin(F.broadcast(mid)).select(
        "lang",
        (F.col("doc_id") >= F.col("mid")).alias("new_half"),
        F.size(F.split("text", " ")).alias("l"),
    )
    h = d.groupBy("lang", "l").agg(
        F.sum(F.when(~F.col("new_half"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("new_half"), 1).otherwise(0)).alias("c2"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("l")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = Window.partitionBy("lang")
    c = h.select(
        "lang",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
        F.sum("c1").over(p).alias("n1"),
        F.sum("c2").over(p).alias("n2"),
    )
    diff = F.abs(
        F.col("cum1").cast("decimal(38,0)") * F.col("n2")
        - F.col("cum2").cast("decimal(38,0)") * F.col("n1")
    )
    g = c.groupBy("lang").agg(
        F.first("n1").cast("long").alias("n_old"),
        F.first("n2").cast("long").alias("n_new"),
        F.max(diff).alias("dmax"),
    )
    return g.filter((F.col("n_old") > 0) & (F.col("n_new") > 0)).select(
        "lang",
        "n_old",
        "n_new",
        F.round(
            F.col("dmax").cast("double")
            / (F.col("n_old") * F.col("n_new").cast("double")),
            6,
        ).alias("ks_d"),
    )


# ------------------------------------ Q131 exact value percentiles
@query(
    "q131_value_percentiles",
    oracle="""
        WITH d AS (
          SELECT event_type,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
          FROM events WHERE value IS NOT NULL
        ),
        n AS (SELECT event_type, COUNT(*) AS nv FROM d GROUP BY event_type),
        h AS (SELECT event_type, vc, COUNT(*) AS c
              FROM d GROUP BY event_type, vc),
        cum AS (SELECT event_type, vc,
                       SUM(c) OVER (PARTITION BY event_type
                                    ORDER BY vc) AS cc
                FROM h),
        p50 AS (SELECT event_type, MIN(vc) AS p50c FROM cum
                JOIN n USING (event_type)
                WHERE cc * 2 >= nv GROUP BY event_type),
        p90 AS (SELECT event_type, MIN(vc) AS p90c FROM cum
                JOIN n USING (event_type)
                WHERE cc * 10 >= 9 * nv GROUP BY event_type),
        p99 AS (SELECT event_type, MIN(vc) AS p99c FROM cum
                JOIN n USING (event_type)
                WHERE cc * 100 >= 99 * nv GROUP BY event_type)
        SELECT event_type, CAST(nv AS BIGINT) AS n_values,
               p50c / 100.0 AS p50_value,
               p90c / 100.0 AS p90_value,
               p99c / 100.0 AS p99_value
        FROM n JOIN p50 USING (event_type) JOIN p90 USING (event_type)
        JOIN p99 USING (event_type)
    """,
    tags=("statistics", "agg"),
)
def q131(spark: SparkSession, sf: str) -> DataFrame:
    """Exact p50/p90/p99 of the monetary `value` per event type — the
    revenue-distribution profile (pricing-anomaly and fraud thresholds)
    computed EXACTLY at any scale: values bucket to integer cents
    (floor(v·100+0.5) — one IEEE op, identical both engines), the
    cumulative window runs over the (type, cents) HISTOGRAM (bounded by
    the value range, never the event count — q88/q103's rule), and every
    threshold test is all-integer (cc·2 ≥ n, cc·10 ≥ 9n, cc·100 ≥ 99n).
    The only division is cents→currency on the tiny result. Contrast
    q24b: same statistic via approx_percentile when a tolerance is
    acceptable; this is the exact path."""
    (events,) = load(spark, sf, "events")
    d = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("vc"),
    )
    return (
        histogram_percentiles(
            d,
            ["event_type"],
            "vc",
            {"p50c": (1, 2), "p90c": (9, 10), "p99c": (99, 100)},
            n_alias="nv",
        )
        .select(
            "event_type",
            F.col("nv").cast("long").alias("n_values"),
            (F.col("p50c") / F.lit(100.0)).alias("p50_value"),
            (F.col("p90c") / F.lit(100.0)).alias("p90_value"),
            (F.col("p99c") / F.lit(100.0)).alias("p99_value"),
        )
    )


# ------------------------------------ Q132 open-order backlog curve
_BACKLOG_DAYS = 30


@query(
    "q132_order_backlog",
    oracle=f"""
        WITH d AS (
          SELECT date_trunc('day', o_orderdate) AS day, 1 AS delta
          FROM orders
          UNION ALL
          SELECT date_trunc('day', o_orderdate)
                 + INTERVAL {_BACKLOG_DAYS} DAY AS day, -1 AS delta
          FROM orders
        ),
        h AS (SELECT day, SUM(delta) AS net FROM d GROUP BY day)
        SELECT day,
               CAST(SUM(net) OVER (ORDER BY day
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS open_orders
        FROM h
    """,
    tags=("window-fn", "agg"),
)
def q132(spark: SparkSession, sf: str) -> DataFrame:
    """Open-order backlog curve: how many orders are simultaneously
    "open" (within {_BACKLOG_DAYS} days of placement) on each day — the
    classic concurrent-intervals problem solved the scale-safe way:
    every interval becomes a +1 at its start day and a −1 past its end,
    the deltas aggregate to a DAY-sized histogram (one map-combined
    shuffle), and one running sum over that histogram yields the curve.
    The naive formulation — join every day against every overlapping
    order — is a range join that explodes with interval length; this
    never materializes an (order × day) pair. The final window is over
    the day histogram (thousands of rows at any corpus size); all
    integer arithmetic."""
    (orders,) = load(spark, sf, "orders")
    day = F.date_trunc("day", "o_orderdate")
    starts = orders.select(day.alias("day"), F.lit(1).alias("delta"))
    ends = orders.select(
        F.date_add(day, _BACKLOG_DAYS).cast("timestamp").alias("day"),
        F.lit(-1).alias("delta"),
    )
    h = starts.unionByName(ends).groupBy("day").agg(
        F.sum("delta").alias("net")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return h.select(
        "day", F.sum("net").over(w).cast("long").alias("open_orders")
    )


# ------------------------------------ Q133 RFM customer segmentation
_RFM_RECENT_DAYS = 365
_RFM_FREQ = 10
_RFM_MONETARY_CENTS = 250_000_000  # $2.5M lifetime


@query(
    "q133_rfm_segments",
    oracle=f"""
        WITH mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
        c AS (
          SELECT o_custkey,
                 date_diff('day', MAX(o_orderdate), mx.maxd) AS r_days,
                 COUNT(*) AS f,
                 SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS mc
          FROM orders, mx GROUP BY o_custkey, mx.maxd
        ),
        s AS (
          SELECT CASE WHEN r_days <= {_RFM_RECENT_DAYS}
                      THEN 'active' ELSE 'lapsed' END AS r_seg,
                 CASE WHEN f >= {_RFM_FREQ}
                      THEN 'frequent' ELSE 'occasional' END AS f_seg,
                 CASE WHEN mc >= {_RFM_MONETARY_CENTS}
                      THEN 'big' ELSE 'small' END AS m_seg,
                 mc
          FROM c
        )
        SELECT r_seg, f_seg, m_seg,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               SUM(mc) / 100.0 AS total_monetary
        FROM s GROUP BY r_seg, f_seg, m_seg
    """,
    tags=("agg", "behavioral"),
)
def q133(spark: SparkSession, sf: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    canonical CRM cube: per customer, days since last order, order
    count, and cent-quantized lifetime spend, each cut at a fixed
    business threshold, rolled up to the 8 segment cells. One customer
    shuffle for the per-customer profile (map-side combined), a 1-row
    broadcast for the corpus max date, and an 8-row rollup. All
    comparisons are exact integer arithmetic — day diffs, counts, cents
    — so a customer can never segment differently across engines; the
    only division is cents→currency on the 8-row result."""
    (orders,) = load(spark, sf, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("maxd"))
    c = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "maxd")
        .agg(
            F.max("o_orderdate").alias("lastd"),
            F.count(F.lit(1)).alias("f"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("mc"),
        )
        .select(
            F.datediff("maxd", "lastd").alias("r_days"), "f", "mc"
        )
    )
    s = c.select(
        F.when(F.col("r_days") <= _RFM_RECENT_DAYS, "active")
        .otherwise("lapsed")
        .alias("r_seg"),
        F.when(F.col("f") >= _RFM_FREQ, "frequent")
        .otherwise("occasional")
        .alias("f_seg"),
        F.when(F.col("mc") >= _RFM_MONETARY_CENTS, "big")
        .otherwise("small")
        .alias("m_seg"),
        "mc",
    )
    return s.groupBy("r_seg", "f_seg", "m_seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (F.sum("mc") / F.lit(100.0)).alias("total_monetary"),
    )


# ------------------------------------ Q134 trailing revenue trend
@query(
    "q134_revenue_trend",
    oracle="""
        WITH d AS (
          SELECT date_trunc('day', ts) AS day,
                 SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS revc
          FROM events WHERE event_type = 'purchase'
          GROUP BY 1
        )
        SELECT day,
               revc / 100.0 AS day_rev,
               ROUND(SUM(revc) OVER w * 1.0
                     / (COUNT(*) OVER w * 100.0), 6) AS trailing7_rev
        FROM d
        WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                     AND CURRENT ROW)
    """,
    tags=("window-fn", "agg", "behavioral"),
)
def q134(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 7-day revenue trend: daily purchase revenue plus its
    7-day trailing mean — the smoothed KPI curve every dashboard draws.
    Scale shape: revenue first aggregates to a DAY-sized histogram in
    cents (map-combined; one shuffle), and the RANGE window runs over
    those day rows — never over raw events. The trailing mean divides
    two exact integers (cent sum, day count) once per output row; the
    daily value is exact cents/100."""
    (events,) = load(spark, sf, "events")
    d = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("revc")
        )
    )
    w = (
        Window.orderBy(F.col("day").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    return d.select(
        "day",
        (F.col("revc") / F.lit(100.0)).alias("day_rev"),
        F.round(
            F.sum("revc").over(w) * F.lit(1.0)
            / (F.count(F.lit(1)).over(w) * F.lit(100.0)),
            6,
        ).alias("trailing7_rev"),
    )


# ------------------------------------ Q135 growth accounting
@query(
    "q135_growth_accounting",
    oracle="""
        WITH uw AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS week
          FROM events
        ),
        c AS (
          SELECT user_id, week,
                 MIN(week) OVER (PARTITION BY user_id) AS first_week,
                 lag(week) OVER (PARTITION BY user_id ORDER BY week)
                     AS prev_week
          FROM uw
        )
        SELECT week,
               CAST(SUM(CASE WHEN week = first_week THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN week <> first_week
                             AND prev_week = week - INTERVAL 7 DAY
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
               CAST(SUM(CASE WHEN week <> first_week
                             AND prev_week <> week - INTERVAL 7 DAY
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        FROM c GROUP BY week
    """,
    tags=("window-fn", "behavioral", "cohort"),
)
def q135(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly growth accounting: every active (user, week) classified as
    NEW (first week ever), RETAINED (also active the immediately
    preceding week), or RESURRECTED (active before, but not last week) —
    the standard DAU/MAU growth decomposition, the companion readout to
    q107's retention triangle. ONE user_id shuffle clusters each user's
    distinct weeks for both windows (min + lag share the partitioning);
    the rollup is week-sized. Exact calendar arithmetic — a 7-day
    interval test, no doubles anywhere."""
    (events,) = load(spark, sf, "events")
    uw = events.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    wp = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("week")
    c = uw.select(
        "user_id",
        "week",
        F.min("week").over(wp).alias("first_week"),
        F.lag("week").over(wo).alias("prev_week"),
    )
    is_new = F.col("week") == F.col("first_week")
    is_ret = (~is_new) & (
        F.col("prev_week") == F.col("week") - F.expr("INTERVAL 7 DAY")
    )
    return c.groupBy("week").agg(
        F.sum(F.when(is_new, 1).otherwise(0)).cast("long").alias("n_new"),
        F.sum(F.when(is_ret, 1).otherwise(0)).cast("long").alias(
            "n_retained"
        ),
        F.sum(F.when((~is_new) & (~is_ret), 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
    )


# ------------------------------------ Q136 supplier concentration (HHI)
@query(
    "q136_supplier_hhi",
    oracle="""
        WITH r AS (
          SELECT n_name, l_suppkey,
                 SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                                + 0.5) AS BIGINT)) AS rq
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          GROUP BY n_name, l_suppkey
        )
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               ROUND(CAST(SUM(CAST(rq AS HUGEINT) * rq) AS DOUBLE)
                     / (CAST(SUM(rq) AS DOUBLE) * SUM(rq)), 6) AS hhi
        FROM r GROUP BY n_name
    """,
    tags=("join", "agg", "statistics"),
)
def q136(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier revenue concentration per nation: the Herfindahl-
    Hirschman index HHI = Σ(share_i²) = Σrq_i² / (Σrq_i)² — 1/n for
    perfectly even markets, →1 for a monopoly; the procurement-risk
    companion to q109's Gini skew audit. Revenue quantizes to int64
    tenths-of-cents (q09's idiom) so the per-supplier sums are
    order-free; the squares go through DECIMAL(38,0) (an int64 square
    wraps past ~3e9 quanta — the q109/q127 rule) and only the final
    ratio touches doubles. Two shuffles: the (nation, supplier) revenue
    rollup and the nation-sized concentration aggregate; the dims ride
    size-gated broadcasts."""
    from ..plans import broadcast_if_small

    lineitem, supplier, nation = load(
        spark, sf, "lineitem", "supplier", "nation"
    )
    dims = supplier.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "n_name")
    revq = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    r = (
        lineitem.join(
            # gate on the base supplier table: the nation join can only
            # shrink it, but inflates Catalyst's size estimate
            broadcast_if_small(dims, gate=supplier),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("n_name", "l_suppkey")
        .agg(F.sum(revq).alias("rq"))
    )
    sq = F.col("rq").cast("decimal(38,0)") * F.col("rq")
    return r.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.round(
            F.sum(sq).cast("double")
            / (F.sum("rq").cast("double") * F.sum("rq")),
            6,
        ).alias("hhi"),
    )


# ------------------------------------ Q137 price-size regression
@query(
    "q137_price_size_slope",
    oracle="""
        WITH d AS (
          SELECT p_brand, CAST(p_size AS BIGINT) AS x,
                 CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS y
          FROM part
        ),
        s AS (SELECT p_brand, COUNT(*) AS n,
                     SUM(x) AS sx, SUM(y) AS sy,
                     SUM(CAST(x AS HUGEINT) * y) AS sxy,
                     SUM(CAST(x AS HUGEINT) * x) AS sxx
              FROM d GROUP BY p_brand)
        SELECT p_brand,
               CAST(n AS BIGINT) AS n_parts,
               ROUND(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / (CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                        * 100.0), 6) AS price_per_size_unit
        FROM s WHERE n >= 2 AND n * sxx > CAST(sx AS HUGEINT) * sx
    """,
    tags=("agg", "statistics", "slow"),
)
def q137(spark: SparkSession, sf: str) -> DataFrame:
    """Exact least-squares price-vs-size slope per part brand (currency
    per size unit) — the pricing-model sanity check, computed from
    integer sufficient statistics only (q97's exact-moment rule: doubles
    never accumulate). Prices quantize to cents in the scan; n, Σx, Σy,
    Σxy, Σx² are integer sums with the cross terms in DECIMAL(38,0)
    (cents × count products pass int64 at warehouse scale); the slope is
    ONE final double division. Degenerate brands (a single size) are
    excluded by the exact integer variance test on both engines. One
    brand-sized aggregate, no joins."""
    (part,) = load(spark, sf, "part")
    d = part.select(
        "p_brand",
        F.col("p_size").cast("long").alias("x"),
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = d.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
    )
    num = dec("n") * F.col("sxy") - dec("sx") * F.col("sy")
    den = dec("n") * F.col("sxx") - dec("sx") * F.col("sx")
    return (
        s.filter((F.col("n") >= 2) & (den > 0))
        .select(
            "p_brand",
            F.col("n").cast("long").alias("n_parts"),
            F.round(
                num.cast("double") / (den.cast("double") * F.lit(100.0)), 6
            ).alias("price_per_size_unit"),
        )
    )


# ------------------------------------ Q138 hour-of-week seasonality
@query(
    "q138_seasonality_profile",
    oracle="""
        WITH h AS (
          SELECT event_type, isodow(ts) AS dow, hour(ts) AS hod,
                 COUNT(*) AS c
          FROM events GROUP BY 1, 2, 3
        )
        SELECT event_type, CAST(dow AS BIGINT) AS dow,
               CAST(hod AS BIGINT) AS hod,
               CAST(c AS BIGINT) AS n_events,
               ROUND(c * 1.0 / SUM(c) OVER (PARTITION BY event_type), 6)
                   AS share
        FROM h
    """,
    tags=("agg", "behavioral", "monitoring"),
)
def q138(spark: SparkSession, sf: str) -> DataFrame:
    """Hour-of-week seasonality heatmap per event type: ISO day-of-week ×
    hour-of-day counts with each type's share profile — the traffic-shape
    baseline behind anomaly detection and capacity planning. Portability
    note baked into the expression: Spark's ``weekday`` is Monday=0 where
    DuckDB's ``isodow`` is Monday=1, so the Spark side computes
    weekday+1 — misaligned calendar functions are exactly the class of
    silent cross-engine bug the oracle exists to catch. One map-combined
    aggregate to ≤ types×168 cells; the share window runs over those
    cells."""
    (events,) = load(spark, sf, "events")
    h = events.groupBy(
        "event_type",
        (F.weekday("ts") + 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type")
    return h.select(
        "event_type",
        "dow",
        "hod",
        F.col("c").cast("long").alias("n_events"),
        F.round(F.col("c") * F.lit(1.0) / F.sum("c").over(w), 6).alias(
            "share"
        ),
    )


# ------------------------------------ Q139 order consistency audit
_AUDIT_TOL_CENTS = 1


@query(
    "q139_order_consistency",
    oracle=f"""
        WITH l AS (
          SELECT l_orderkey,
                 SUM(CAST(FLOOR(l_extendedprice * (1 + l_tax)
                                * (1 - l_discount) * 100 + 0.5)
                          AS BIGINT)) AS line_cents,
                 COUNT(*) AS n_lines
          FROM lineitem GROUP BY l_orderkey
        ),
        j AS (
          SELECT o.o_orderkey, l.l_orderkey,
                 CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
                     AS total_cents,
                 l.line_cents
          FROM orders o FULL OUTER JOIN l ON o.o_orderkey = l.l_orderkey
        )
        SELECT CAST(COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT)
                   AS childless_orders,
               CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT)
                   AS orphan_lineitem_orders,
               CAST(COUNT(*) FILTER (
                    WHERE o_orderkey IS NOT NULL
                      AND l_orderkey IS NOT NULL
                      AND abs(total_cents - line_cents)
                          > {_AUDIT_TOL_CENTS * 100}) AS BIGINT)
                   AS price_mismatches,
               CAST(COUNT(*) AS BIGINT) AS n_checked
        FROM j
    """,
    tags=("join", "agg", "quality"),
)
def q139(spark: SparkSession, sf: str) -> DataFrame:
    """Referential + arithmetic consistency audit of the order fact
    chain: orders with no line items, line items whose order is missing,
    and orders whose stored total deviates from the recomputed line sum
    (price·(1+tax)·(1−discount)) by more than a $1 tolerance — the
    data-quality gate a warehouse load runs before anything downstream
    trusts the tables. Both money columns quantize to cents in the scan
    so every comparison is integer-exact; the FULL OUTER join is the
    completeness check itself (either side NULL = a violation). One
    orderkey shuffle, 1-row result."""
    orders, lineitem = load(spark, sf, "orders", "lineitem")
    line_cents = F.floor(
        F.col("l_extendedprice")
        * (1 + F.col("l_tax"))
        * (1 - F.col("l_discount"))
        * 100
        + 0.5
    ).cast("long")
    l = lineitem.groupBy("l_orderkey").agg(
        F.sum(line_cents).alias("line_cents")
    )
    o = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("total_cents"),
    )
    j = o.join(l, F.col("o_orderkey") == F.col("l_orderkey"), "full_outer")
    bad_price = (
        F.col("o_orderkey").isNotNull()
        & F.col("l_orderkey").isNotNull()
        & (
            F.abs(F.col("total_cents") - F.col("line_cents"))
            > _AUDIT_TOL_CENTS * 100
        )
    )
    return j.agg(
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("childless_orders"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("orphan_lineitem_orders"),
        F.sum(F.when(bad_price, 1).otherwise(0))
        .cast("long")
        .alias("price_mismatches"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
    )


# ------------------------------------ Q140 source Pareto coverage
@query(
    "q140_source_pareto",
    oracle="""
        WITH s AS (
          SELECT source, SUM(len(string_split(text, ' '))) AS tok
          FROM documents GROUP BY source
        ),
        r AS (SELECT source, tok,
                     SUM(tok) OVER (ORDER BY tok DESC, source
                                    ROWS UNBOUNDED PRECEDING) AS cum,
                     SUM(tok) OVER () AS total,
                     row_number() OVER (ORDER BY tok DESC, source) AS rk
              FROM s)
        SELECT CAST(rk AS BIGINT) AS rank, source,
               CAST(tok AS BIGINT) AS n_tokens,
               ROUND(cum * 1.0 / total, 6) AS cum_share,
               cum * 5 >= total * 4 AS covers_80pct
        FROM r
    """,
    tags=("agg", "window-fn", "monitoring"),
)
def q140(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto coverage of the corpus by source: sources ranked by token
    volume with cumulative share and an exact integer 80 %-coverage flag
    (cum·5 ≥ total·4 — no double ever decides the flag) — the
    "how few sources dominate the mix" table that drives source-level
    curation priorities. The windows run over the SOURCE-sized aggregate
    (one map-combined shuffle from the corpus), never over documents."""
    (documents,) = load(spark, sf, "documents")
    s = documents.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("tok")
    )
    wr = Window.orderBy(F.desc("tok"), "source")
    wc = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy()
    return s.select(
        F.row_number().over(wr).cast("long").alias("rank"),
        "source",
        F.col("tok").cast("long").alias("n_tokens"),
        F.round(
            F.sum("tok").over(wc) * F.lit(1.0) / F.sum("tok").over(wt), 6
        ).alias("cum_share"),
        (F.sum("tok").over(wc) * 5 >= F.sum("tok").over(wt) * 4).alias(
            "covers_80pct"
        ),
    )


# ------------------------------------ Q142 length-repetition correlation
@query(
    "q142_len_rep_corr",
    oracle="""
        WITH m AS (
          SELECT lang,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
                 CAST((10000 * (len({TRI}) - len(list_distinct({TRI}))))
                      // len({TRI}) AS BIGINT) AS y
          FROM documents
          WHERE len({TRI}) > 0
        ),
        s AS (SELECT lang, COUNT(*) AS n,
                     SUM(x) AS sx, SUM(y) AS sy,
                     SUM(CAST(x AS HUGEINT) * y) AS sxy,
                     SUM(CAST(x AS HUGEINT) * x) AS sxx,
                     SUM(CAST(y AS HUGEINT) * y) AS syy
              FROM m GROUP BY lang)
        SELECT lang, CAST(n AS BIGINT) AS n_docs,
               ROUND(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx
                                 AS DOUBLE)
                            * CAST(n * syy - CAST(sy AS HUGEINT) * sy
                                   AS DOUBLE)), 6) AS corr_len_rep
        FROM s
        WHERE n >= 2 AND n * sxx > CAST(sx AS HUGEINT) * sx
          AND n * syy > CAST(sy AS HUGEINT) * sy
    """.replace(
        "{TRI}",
        "list_transform(generate_series(1,"
        " len(string_split(text,' ')) - 2),"
        " i -> string_split(text,' ')[i] || ' ' ||"
        " string_split(text,' ')[i+1] || ' ' ||"
        " string_split(text,' ')[i+2])",
    ),
    tags=("text", "llm", "statistics", "quality", "slow"),
)
def q142(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Pearson correlation between document length and trigram
    repetition (in integer basis points) per language — answers "is our
    repetition filter just a length filter in disguise?" before a
    curation cascade double-counts the same signal. BOTH variables are
    integers (token count; bp floor division), so the correlation's
    sufficient statistics are exact integer sums with DECIMAL(38,0)
    cross terms (q97's rule with zero quantization error anywhere);
    degenerate languages (constant x or y) are excluded by exact integer
    variance tests, identically on both engines. Scan-side metrics, one
    lang-sized aggregate, no joins."""
    (documents,) = load(spark, sf, "documents")
    tri = dedup.shingle_list("text", 3)
    m = documents.select(
        "lang",
        F.size(text.tokens("text")).cast("long").alias("x"),
        F.size(tri).alias("n_tri"),
        F.size(F.array_distinct(tri)).alias("n_uniq"),
    ).filter(F.col("n_tri") > 0).select(
        "lang",
        "x",
        F.expr("CAST((10000 * (n_tri - n_uniq)) DIV n_tri AS BIGINT)")
        .alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    num = dec("n") * F.col("sxy") - dec("sx") * F.col("sy")
    dx = dec("n") * F.col("sxx") - dec("sx") * F.col("sx")
    dy = dec("n") * F.col("syy") - dec("sy") * F.col("sy")
    return (
        s.filter((F.col("n") >= 2) & (dx > 0) & (dy > 0))
        .select(
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            F.round(
                num.cast("double")
                / F.sqrt(dx.cast("double") * dy.cast("double")),
                6,
            ).alias("corr_len_rep"),
        )
    )


# ------------------------------------ Q143 first-touch attribution
@query(
    "q143_first_touch_attribution",
    oracle="""
        WITH fp AS (
          SELECT user_id, MIN(ts) AS first_purchase
          FROM events WHERE event_type = 'purchase' GROUP BY user_id
        ),
        pre AS (
          SELECT e.user_id, e.event_type, e.ts, e.event_id
          FROM events e JOIN fp ON e.user_id = fp.user_id
          WHERE e.ts < fp.first_purchase
        ),
        ft AS (
          SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM pre
        )
        SELECT event_type AS first_touch,
               CAST(COUNT(*) AS BIGINT) AS n_converted_users,
               ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6)
                   AS share
        FROM ft WHERE rn = 1 GROUP BY event_type
    """,
    tags=("window-fn", "behavioral", "cohort"),
)
def q143(spark: SparkSession, sf: str) -> DataFrame:
    """First-touch attribution: for every user who ever purchased, the
    very first event they performed BEFORE their first purchase, rolled
    up to per-channel converted-user counts — the marketing-attribution
    baseline every funnel report argues about. Plan: the first-purchase
    table is a user_id aggregate that joins back on the same user_id
    clustering; the first-touch window is WindowGroupLimit-shaped
    (rn = 1). Ties on identical timestamps are broken by event_id on
    both engines. The share window runs over the |event types| rollup."""
    (events,) = load(spark, sf, "events")
    fp = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    pre = events.join(fp, "user_id").filter(
        F.col("ts") < F.col("first_purchase")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ft = (
        pre.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("event_type").alias("first_touch"))
    )
    ws = Window.partitionBy()
    g = ft.groupBy("first_touch").agg(
        F.count(F.lit(1)).cast("long").alias("n_converted_users")
    )
    return g.select(
        "first_touch",
        "n_converted_users",
        F.round(
            F.col("n_converted_users")
            * F.lit(1.0)
            / F.sum("n_converted_users").over(ws),
            6,
        ).alias("share"),
    )


# ------------------------------------ Q144 longest daily streak
@query(
    "q144_longest_streak",
    oracle="""
        WITH ud AS (
          SELECT DISTINCT user_id, date_trunc('day', ts) AS day
          FROM events
        ),
        isl AS (
          SELECT user_id,
                 day - INTERVAL (row_number() OVER (
                     PARTITION BY user_id ORDER BY day)) DAY AS island
          FROM ud
        ),
        st AS (SELECT user_id, island, COUNT(*) AS streak
               FROM isl GROUP BY user_id, island),
        mx AS (SELECT user_id, MAX(streak) AS max_streak FROM st
               GROUP BY user_id)
        SELECT CAST(max_streak AS BIGINT) AS streak_days,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM mx GROUP BY max_streak
    """,
    tags=("window-fn", "behavioral"),
)
def q144(spark: SparkSession, sf: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, reported as a
    streak-length histogram — the engagement metric behind "day streaks",
    computed with the classic gaps-and-islands identity: within a user's
    sorted distinct days, day − row_number·1day is CONSTANT exactly on
    consecutive runs, so islands fall out of one window + one groupBy
    with zero self-joins. Everything is exact calendar arithmetic; one
    user_id shuffle serves the window and both rollups; the output is
    streak-length-sized."""
    (events,) = load(spark, sf, "events")
    ud = events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = ud.select(
        "user_id",
        F.date_sub(
            F.col("day").cast("date"), F.row_number().over(w)
        ).alias("island"),
    )
    st = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak")
    )
    mx = st.groupBy("user_id").agg(F.max("streak").alias("max_streak"))
    return mx.groupBy("max_streak").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    ).select(
        F.col("max_streak").cast("long").alias("streak_days"), "n_users"
    )


# ------------------------------------ Q145 fulfilment latency SLA table
@query(
    "q145_fulfilment_latency",
    oracle="""
        WITH d AS (
          SELECT o_orderpriority AS priority,
                 date_diff('day', o_orderdate, l_shipdate) AS lat_d
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        n AS (SELECT priority, COUNT(*) AS nl FROM d GROUP BY priority),
        h AS (SELECT priority, lat_d, COUNT(*) AS c
              FROM d GROUP BY priority, lat_d),
        cum AS (SELECT priority, lat_d,
                       SUM(c) OVER (PARTITION BY priority
                                    ORDER BY lat_d) AS cc
                FROM h),
        p50 AS (SELECT priority, MIN(lat_d) AS p50_days FROM cum
                JOIN n USING (priority)
                WHERE cc * 2 >= nl GROUP BY priority),
        p95 AS (SELECT priority, MIN(lat_d) AS p95_days FROM cum
                JOIN n USING (priority)
                WHERE cc * 20 >= 19 * nl GROUP BY priority)
        SELECT priority, CAST(nl AS BIGINT) AS n_lines,
               CAST(p50_days AS BIGINT) AS p50_days,
               CAST(p95_days AS BIGINT) AS p95_days
        FROM n JOIN p50 USING (priority) JOIN p95 USING (priority)
    """,
    tags=("join", "statistics", "agg"),
)
def q145(spark: SparkSession, sf: str) -> DataFrame:
    """Order-to-ship latency SLA table: exact p50/p95 days from order
    placement to line shipment, per order priority — does the URGENT
    queue actually ship faster? Same scale-safe histogram-percentile
    pattern as q103/q131: integer day gaps bucket into a (priority,
    days) histogram bounded by the latency range, the cumulative window
    runs over that histogram, and the threshold tests are all-integer.
    One fact-fact join (AQE strategy) feeds one map-combined histogram."""
    lineitem, orders = load(spark, sf, "lineitem", "orders")
    d = lineitem.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("lat_d"),
    )
    return histogram_percentiles(
        d,
        ["priority"],
        "lat_d",
        {"p50_days": (1, 2), "p95_days": (19, 20)},
        n_alias="nl",
    ).select(
        "priority",
        F.col("nl").cast("long").alias("n_lines"),
        F.col("p50_days").cast("long").alias("p50_days"),
        F.col("p95_days").cast("long").alias("p95_days"),
    )


# ------------------------------------ Q146 target-mix deficit audit
# Target token mix per language, in basis points (sums to 10000).
_MIX_TARGET_BP = {"en": 4000, "de": 1500, "es": 1500, "fr": 1500, "zh": 1500}


@query(
    "q146_mix_deficit",
    oracle=f"""
        WITH c AS (
          SELECT lang, SUM(len(string_split(text, ' '))) AS tok
          FROM documents GROUP BY lang
        ),
        t AS (SELECT * FROM (VALUES {", ".join(
            f"('{k}', {v})" for k, v in sorted(_MIX_TARGET_BP.items())
        )}) AS tt(lang, target_bp)),
        j AS (SELECT t.lang, t.target_bp,
                     COALESCE(c.tok, 0) AS tok,
                     SUM(COALESCE(c.tok, 0)) OVER () AS total
              FROM t LEFT JOIN c ON t.lang = c.lang)
        SELECT lang,
               CAST(tok AS BIGINT) AS n_tokens,
               CAST(target_bp AS BIGINT) AS target_bp,
               CAST((10000 * tok) // total AS BIGINT) AS actual_bp,
               CAST((10000 * tok) // total - target_bp AS BIGINT)
                   AS surplus_bp
        FROM j WHERE total > 0
    """,
    tags=("agg", "llm", "monitoring", "slow"),
)
def q146(spark: SparkSession, sf: str) -> DataFrame:
    """Training-mix deficit audit: actual token share per language vs the
    declared target mix (a constants table), in exact integer basis
    points — the table that tells the curation pipeline which languages
    to upsample (q82's operator) or trim (q88's) and by how much. The
    target mix joins as a literal 5-row frame (LEFT join so a language
    with zero corpus presence still reports its full deficit); shares
    are floor-divided integers — no double ever decides a deficit. One
    lang-sized aggregate from one corpus scan."""
    (documents,) = load(spark, sf, "documents")
    c = documents.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("tok")
    )
    t = spark.createDataFrame(
        sorted(_MIX_TARGET_BP.items()), ["lang", "target_bp"]
    )
    j = (
        t.join(c, "lang", "left")
        .withColumn("tok", F.coalesce(F.col("tok"), F.lit(0)))
        .withColumn("total", F.sum("tok").over(Window.partitionBy()))
    )
    return j.filter(F.col("total") > 0).select(
        "lang",
        F.col("tok").cast("long").alias("n_tokens"),
        F.col("target_bp").cast("long").alias("target_bp"),
        F.expr("CAST((10000 * tok) DIV total AS BIGINT)").alias("actual_bp"),
        F.expr(
            "CAST((10000 * tok) DIV total - target_bp AS BIGINT)"
        ).alias("surplus_bp"),
    )


# ------------------------------------ Q147 customer LTV percentiles
@query(
    "q147_ltv_percentiles",
    oracle="""
        WITH u AS (
          SELECT c_mktsegment AS segment,
                 SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                     AS ltv_c
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_mktsegment, o_custkey
        ),
        n AS (SELECT segment, COUNT(*) AS nc FROM u GROUP BY segment),
        h AS (SELECT segment, ltv_c, COUNT(*) AS c
              FROM u GROUP BY segment, ltv_c),
        cum AS (SELECT segment, ltv_c,
                       SUM(c) OVER (PARTITION BY segment
                                    ORDER BY ltv_c) AS cc
                FROM h),
        p50 AS (SELECT segment, MIN(ltv_c) AS p50c FROM cum
                JOIN n USING (segment)
                WHERE cc * 2 >= nc GROUP BY segment),
        p90 AS (SELECT segment, MIN(ltv_c) AS p90c FROM cum
                JOIN n USING (segment)
                WHERE cc * 10 >= 9 * nc GROUP BY segment)
        SELECT segment, CAST(nc AS BIGINT) AS n_customers,
               p50c / 100.0 AS p50_ltv,
               p90c / 100.0 AS p90_ltv
        FROM n JOIN p50 USING (segment) JOIN p90 USING (segment)
    """,
    tags=("join", "statistics", "behavioral", "slow"),
)
def q147(spark: SparkSession, sf: str) -> DataFrame:
    """Exact customer-lifetime-value percentiles per market segment —
    the p50/p90 spend table behind segment-level pricing and churn
    economics. Per-customer cent totals (q133's quantization) histogram
    by exact value per segment, then q131's histogram-percentile
    pattern: cumulative window over the (segment, cents) HISTOGRAM,
    all-integer thresholds, cents→currency as the only division. The
    customer dim joins under AQE's size choice; two shuffles total."""
    orders, customer = load(spark, sf, "orders", "customer")
    u = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("ltv_c")
        )
    )
    return histogram_percentiles(
        u,
        ["segment"],
        "ltv_c",
        {"p50c": (1, 2), "p90c": (9, 10)},
        n_alias="nc",
    ).select(
        "segment",
        F.col("nc").cast("long").alias("n_customers"),
        (F.col("p50c") / F.lit(100.0)).alias("p50_ltv"),
        (F.col("p90c") / F.lit(100.0)).alias("p90_ltv"),
    )


# ------------------------------------ Q148 events-per-user percentiles
@query(
    "q148_activity_percentiles",
    oracle="""
        WITH u AS (SELECT user_id, COUNT(*) AS n_ev FROM events
                   GROUP BY user_id),
        n AS (SELECT COUNT(*) AS nu FROM u),
        h AS (SELECT n_ev, COUNT(*) AS c FROM u GROUP BY n_ev),
        cum AS (SELECT n_ev, SUM(c) OVER (ORDER BY n_ev) AS cc FROM h)
        SELECT CAST(n.nu AS BIGINT) AS n_users,
               CAST((SELECT MIN(n_ev) FROM cum, n WHERE cc * 2 >= nu)
                    AS BIGINT) AS p50_events,
               CAST((SELECT MIN(n_ev) FROM cum, n WHERE cc * 10 >= 9 * nu)
                    AS BIGINT) AS p90_events,
               CAST((SELECT MIN(n_ev) FROM cum, n
                     WHERE cc * 100 >= 99 * nu) AS BIGINT) AS p99_events
        FROM n
    """,
    tags=("statistics", "agg", "behavioral"),
)
def q148(spark: SparkSession, sf: str) -> DataFrame:
    """Exact p50/p90/p99 of events-per-user — the activity-skew summary
    that, together with q109's Gini, decides whether the per-user
    operators (sessionize, funnels, retention) need salting: a p99 far
    above p50 means hot keys. The per-user counts histogram by exact
    count value (bounded by the hottest user, never the user count —
    q131's rule), one cumulative window, all-integer thresholds, 1-row
    result."""
    (events,) = load(spark, sf, "events")
    u = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_ev"))
    return histogram_percentiles(
        u,
        [],
        "n_ev",
        {
            "p50_events": (1, 2),
            "p90_events": (9, 10),
            "p99_events": (99, 100),
        },
        n_alias="nu",
    ).select(
        F.col("nu").cast("long").alias("n_users"),
        F.col("p50_events").cast("long"),
        F.col("p90_events").cast("long"),
        F.col("p99_events").cast("long"),
    )


# ------------------------------------ Q149 cheapest supplier per part
_CHEAP_REGION = "EUROPE"


@query(
    "q149_cheapest_supplier",
    oracle=f"""
        WITH sup AS (
          SELECT s_suppkey, s_name FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = '{_CHEAP_REGION}'
        ),
        u AS (
          SELECT l_partkey, l_suppkey, s_name,
                 l_extendedprice / l_quantity AS unit_price
          FROM lineitem JOIN sup ON l_suppkey = s_suppkey
        ),
        m AS (
          SELECT l_partkey,
                 MIN({{'p': unit_price, 's': l_suppkey, 'n': s_name}})
                     AS best
          FROM u GROUP BY l_partkey
        )
        SELECT l_partkey AS p_partkey, best.s AS best_suppkey,
               best.n AS best_supplier, best.p AS best_unit_price
        FROM m
    """,
    tags=("join", "agg"),
)
def q149(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape — the cheapest in-region supplier for every part
    (groupwise-min with a deterministic suppkey tiebreak). The dim chain
    region->nation->supplier prunes the supplier side BEFORE it meets
    lineitem (size-gated broadcast), and the groupwise min is a
    `min(struct(price, suppkey))` AGGREGATE, not a window: it partial-
    aggregates map-side, needs no sort, and is immune to per-part skew —
    the physical strategy the correlated subquery in the original Q2
    should compile to at 100 TB. Unit price is one row-level IEEE
    division, bitwise identical on both engines; no double is ever
    summed."""
    lineitem, supplier, nation, region = load(
        spark, sf, "lineitem", "supplier", "nation", "region"
    )
    from ..plans import broadcast_if_small

    sup = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(
                        region.filter(F.col("r_name") == _CHEAP_REGION)
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name")
    )
    u = lineitem.join(
        # gate on the BASE supplier table: the dim chain only shrinks it,
        # while Catalyst's join-multiplied estimate would refuse the hint
        # and leave the fact side as the (wrong) static build choice
        broadcast_if_small(sup, gate=supplier),
        F.col("l_suppkey") == F.col("s_suppkey"),
    ).select(
        "l_partkey",
        "l_suppkey",
        "s_name",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    # s_name rides in the min-struct (unit_price, l_suppkey already form a
    # deterministic total order, so the name never influences the min) —
    # the winner's attributes come out of the aggregate itself and the
    # join-back shuffle the textbook Q2 plan pays disappears.
    m = u.groupBy("l_partkey").agg(
        F.min(F.struct("unit_price", "l_suppkey", "s_name")).alias("best")
    )
    return m.select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("best.l_suppkey").alias("best_suppkey"),
        F.col("best.s_name").alias("best_supplier"),
        F.col("best.unit_price").alias("best_unit_price"),
    )


# ------------------------------------ Q150 sole-late-supplier audit
@query(
    "q150_sole_late_supplier",
    oracle="""
        WITH g AS (
          SELECT l_orderkey, l_suppkey,
                 MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                     THEN 1 ELSE 0 END) AS late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1, 2
        ),
        w AS (
          SELECT *, COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
                 SUM(late) OVER (PARTITION BY l_orderkey) AS n_late
          FROM g
        )
        SELECT l_suppkey AS s_suppkey, s_name,
               CAST(COUNT(*) AS BIGINT) AS numwait
        FROM w JOIN supplier ON l_suppkey = s_suppkey
        WHERE late = 1 AND n_supp > 1 AND n_late = 1
        GROUP BY 1, 2
    """,
    tags=("join", "window", "agg"),
    bench=True,
)
def q150(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who were the SOLE late shipper in a
    multi-supplier order (the original's EXISTS + NOT EXISTS pair,
    re-expressed without self-joins): pre-aggregate lineitem x orders to
    one row per (order, supplier) with a late flag, then ONE orderkey-
    partitioned window yields both the supplier count and the late count
    per order — the two correlated subqueries collapse into two window
    aggregates over the same partitioning, so the whole query costs one
    fact-fact join plus two narrow shuffles of (order, supplier, flag)
    tuples (the first map-combines lineitem down to distinct pairs
    before anything crosses the wire). Bucket width = suppliers
    per order (bounded by order size, never corpus size); the final
    per-supplier count is supplier-dim sized. All-integer."""
    lineitem, orders, supplier = load(
        spark, sf, "lineitem", "orders", "supplier"
    )
    from ..plans import broadcast_if_small

    g = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    # interval arithmetic (not date_add) so the engine and
                    # the oracle agree on non-midnight orderdates too
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    ranked = g.withColumn("n_supp", F.count(F.lit(1)).over(w)).withColumn(
        "n_late", F.sum("late").over(w)
    )
    sole = ranked.filter(
        (F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
    )
    return (
        sole.join(
            broadcast_if_small(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.col("l_suppkey").alias("s_suppkey"), "s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


# ------------------------------------ Q151 dormant high-balance custs
_DORMANT_CUTOFF = "2000-08-01"


@query(
    "q151_dormant_rich_customers",
    oracle=f"""
        WITH c AS (
          SELECT c_custkey, c_nationkey,
                 CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
          FROM customer
        ),
        s AS (
          SELECT SUM(CASE WHEN bal_c > 0 THEN bal_c ELSE 0 END) AS tot,
                 SUM(CASE WHEN bal_c > 0 THEN 1 ELSE 0 END) AS n
          FROM c
        ),
        d AS (
          SELECT c.* FROM c, s
          WHERE c.bal_c * s.n > s.tot
            AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '{_DORMANT_CUTOFF}'
            )
        )
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_dormant,
               SUM(bal_c) / 100.0 AS total_balance
        FROM d GROUP BY 1
    """,
    tags=("join", "agg", "subquery"),
)
def q151(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape — per nation, the count and total balance of
    customers whose balance beats the positive-balance average but who
    placed no order since the cutoff (the win-back call list). The
    correlated NOT EXISTS is an anti-join against the DISTINCT custkeys
    of the recent-orders slice (the date filter prunes the fact scan
    first); the 'above average' test is integer-exact without a
    division: bal_c * n_pos > total_pos on cent-quantized balances,
    where the scalar (total, n) is a one-row aggregate broadcast by the
    cross join. No double is ever summed; the /100.0 is the only
    division, applied per output row."""
    customer, orders = load(spark, sf, "customer", "orders")
    c = customer.select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("bal_c"),
    )
    pos = F.when(F.col("bal_c") > 0, F.col("bal_c")).otherwise(F.lit(0))
    s = c.agg(
        F.sum(pos).alias("tot"),
        F.sum(F.when(F.col("bal_c") > 0, 1).otherwise(0)).alias("n"),
    )
    recent = (
        orders.filter(F.col("o_orderdate") >= F.lit(_DORMANT_CUTOFF))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    d = (
        c.crossJoin(F.broadcast(s))
        .filter(F.col("bal_c") * F.col("n") > F.col("tot"))
        .join(recent, "c_custkey", "left_anti")
    )
    return d.groupBy(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_dormant"),
        (F.sum("bal_c") / F.lit(100.0)).alias("total_balance"),
    )


# ------------------------------------ Q152 hot parts vs mean revenue
@query(
    "q152_part_revenue_hotlist",
    oracle="""
        WITH p AS (
          SELECT l_partkey,
                 SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                                + 0.5) AS BIGINT)) AS rq
          FROM lineitem GROUP BY l_partkey
        ),
        g AS (SELECT SUM(CAST(rq AS HUGEINT)) AS grq,
                     COUNT(*) AS np FROM p)
        SELECT l_partkey AS p_partkey,
               rq / 10000.0 AS revenue,
               CAST((CAST(rq AS HUGEINT) * np * 10000) // grq
                    AS BIGINT) AS mean_multiple_bp
        FROM p, g
        WHERE CAST(rq AS HUGEINT) * np > 2 * grq
    """,
    tags=("agg", "subquery"),
)
def q152(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape — parts whose revenue exceeds twice the MEAN
    per-part revenue (a scale-invariant threshold, unlike Q11's fixed
    fraction), plus how many basis points of the mean each earns. The
    global scalar (total quantized revenue, part count) is a one-row
    aggregate broadcast into a cross join; the keep test multiplies
    exact integers (DECIMAL(38,0) guards the rq*np product, which wraps
    int64 past ~1e5 parts at 100 TB revenue magnitudes) so no division
    or double ever decides membership. One partkey shuffle total —
    the same aggregate feeds the scalar and the hotlist."""
    (lineitem,) = load(spark, sf, "lineitem")
    p = lineitem.groupBy("l_partkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                + 0.5
            ).cast("long")
        ).alias("rq")
    )
    g = p.agg(
        F.sum(F.col("rq").cast("decimal(38,0)")).alias("grq"),
        F.count(F.lit(1)).alias("np"),
    )
    rqd = F.col("rq").cast("decimal(38,0)")
    return (
        p.crossJoin(F.broadcast(g))
        .filter(rqd * F.col("np") > 2 * F.col("grq"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("rq") / F.lit(10000.0)).alias("revenue"),
            F.expr(
                "CAST((CAST(rq AS DECIMAL(38,0)) * np * 10000) DIV grq"
                " AS BIGINT)"
            ).alias("mean_multiple_bp"),
        )
    )


# ------------------------------------ Q153 small-quantity revenue
@query(
    "q153_small_qty_revenue",
    oracle="""
        WITH q AS (
          SELECT l_partkey,
                 CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS qc,
                 CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                            + 0.5) AS BIGINT) AS rq,
                 SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
                     OVER (PARTITION BY l_partkey) AS sum_qc,
                 COUNT(*) OVER (PARTITION BY l_partkey) AS cnt
          FROM lineitem
        )
        SELECT p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_small_lines,
               SUM(rq) / 10000.0 AS small_qty_revenue
        FROM q JOIN part ON l_partkey = p_partkey
        WHERE qc * cnt * 5 < sum_qc
        GROUP BY p_brand
    """,
    tags=("join", "window", "agg"),
)
def q153(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape — revenue carried by line items whose quantity is
    below 20% of that part's average quantity, rolled up per brand: the
    fragmented-demand audit. The per-part average is the original's
    correlated scalar subquery, computed here as ONE partkey-partitioned
    window over the same scan (no self-join, no second shuffle); the
    'below 1/5 of average' test is integer-exact on centi-quantized
    quantities (qc*cnt*5 < sum_qc — no division), and revenue sums as
    int64 quanta. The part dim joins under a size-gated broadcast;
    output is brand-sized."""
    lineitem, part = load(spark, sf, "lineitem", "part")
    from ..plans import broadcast_if_small

    qc = F.floor(F.col("l_quantity") * 100 + 0.5).cast("long")
    rq = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    w = Window.partitionBy("l_partkey")
    q = lineitem.select(
        "l_partkey", qc.alias("qc"), rq.alias("rq")
    ).select(
        "*",
        F.sum("qc").over(w).alias("sum_qc"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    return (
        q.filter(F.col("qc") * F.col("cnt") * 5 < F.col("sum_qc"))
        .join(
            broadcast_if_small(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_small_lines"),
            (F.sum("rq") / F.lit(10000.0)).alias("small_qty_revenue"),
        )
    )


# ------------------------------------ Q154 large-volume customers
_LARGE_QTY_C = 250 * 100  # 250 units, centi-quantized


@query(
    "q154_large_volume_customers",
    oracle=f"""
        WITH t AS (
          SELECT l_orderkey,
                 SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS tq
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
                 > {_LARGE_QTY_C}
        )
        SELECT c_custkey, c_name, o_orderkey, o_orderdate,
               tq / 100.0 AS total_qty
        FROM t JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
    """,
    tags=("join", "agg"),
)
def q154(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape — orders whose total quantity exceeds 250 units,
    with their customers: the bulk-buyer report. The orderkey aggregate
    partial-aggregates map-side and the HAVING filter runs BEFORE any
    join, so only the rare survivors (0.1% of orders at every SF — the
    threshold is a quantity distribution property, not a data-size one)
    meet the orders fact, and AQE sees a kilobyte-sized build side it
    broadcasts at runtime. Quantities compare as exact centi-quantized
    int64; the /100.0 is per output row."""
    lineitem, orders, customer = load(
        spark, sf, "lineitem", "orders", "customer"
    )
    t = (
        lineitem.groupBy("l_orderkey")
        .agg(
            F.sum(
                F.floor(F.col("l_quantity") * 100 + 0.5).cast("long")
            ).alias("tq")
        )
        .filter(F.col("tq") > _LARGE_QTY_C)
    )
    return (
        t.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            (F.col("tq") / F.lit(100.0)).alias("total_qty"),
        )
    )


# ------------------------------------ Q155 hard-negative mining
_HARDNEG_QUERIES = 16
_HARDNEG_K = 5


@query(
    "q155_hard_negatives",
    oracle=f"""
        WITH q AS (
          SELECT vec_id AS qid, label AS qlabel,
                 embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < {_HARDNEG_QUERIES}
        ),
        s AS (
          SELECT qid, e.vec_id, e.label,
                 ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qv), 6)
                     AS score
          FROM embeddings e, q
          WHERE e.label <> qlabel
        ),
        r AS (
          SELECT qid, vec_id, label, score,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY score DESC, vec_id) AS rn
          FROM s
        )
        SELECT qid, vec_id, CAST(label AS BIGINT) AS neg_label, score, rn
        FROM r WHERE rn <= {_HARDNEG_K}
    """,
    tags=("similarity", "llm"),
)
def q155(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each
    query vector, the top-k most-similar vectors with a DIFFERENT label
    — the near-misses a triplet/InfoNCE loss learns the most from
    (Karpukhin et al., DPR). Same physical shape as q58's batch k-NN
    (broadcast query batch, one codegen'd cosine projection over a
    single scan, WindowGroupLimit rank pushdown keeps <=k rows per query
    per partition before the shuffle) with the label-inequality filter
    applied BEFORE scoring, so excluded same-label rows never cost a
    dot product. At 100 TB the query batch blocks through q42's IVF
    cells; the per-cell pattern is unchanged."""
    from ..operators.similarity import as_double, cosine

    (embeddings,) = load(spark, sf, "embeddings")
    q = embeddings.filter(F.col("vec_id") < _HARDNEG_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        as_double(F.col("embedding")).alias("qv"),
    )
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            "vec_id",
            "label",
            F.round(
                cosine(as_double(F.col("embedding")), F.col("qv")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HARDNEG_K)
        .select(
            "qid",
            "vec_id",
            F.col("label").cast("long").alias("neg_label"),
            "score",
            "rn",
        )
    )


# ------------------------------------ Q156 temperature-resampled mix
@query(
    "q156_temperature_mix",
    oracle="""
        WITH c AS (
          SELECT lang, SUM(len(string_split(text, ' '))) AS tok
          FROM documents GROUP BY lang
        ),
        s AS (
          SELECT lang, tok,
                 CAST(FLOOR(sqrt(CAST(tok AS DOUBLE)) * 1000000 + 0.5)
                      AS BIGINT) AS sq
          FROM c
        ),
        t AS (SELECT SUM(CAST(tok AS HUGEINT)) AS tot_tok,
                     SUM(CAST(sq AS HUGEINT)) AS tot_sq FROM s)
        SELECT lang, CAST(tok AS BIGINT) AS n_tokens,
               CAST((CAST(tok AS HUGEINT) * 1000000) // tot_tok
                    AS BIGINT) AS raw_ppm,
               CAST((CAST(sq AS HUGEINT) * 1000000) // tot_sq
                    AS BIGINT) AS temp_ppm
        FROM s, t
    """,
    tags=("agg", "llm", "sampling"),
)
def q156(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-resampled language mix (the mT5/XLM-R alpha=0.5
    recipe): per language, the raw token share vs the temperature-
    smoothed sampling share p_l ∝ n_l^0.5 that upweights low-resource
    languages — the table that drives q82's upsampling factors. sqrt is
    an IEEE-754 CORRECTLY-ROUNDED operation (unlike ln), so the per-lang
    row value is bitwise identical across engines; it is still quantized
    to int64 at 1e-6 BEFORE the cross-language sum (the q96 rule), so
    both shares are exact integer parts-per-million — DECIMAL(38,0)
    guards the share products, which wrap int64 past ~9e12 tokens. One
    lang-sized aggregate from one corpus scan; the scalar totals
    broadcast."""
    (documents,) = load(spark, sf, "documents")
    c = documents.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("tok")
    )
    s = c.withColumn(
        "sq",
        F.floor(
            F.sqrt(F.col("tok").cast("double")) * 1000000 + 0.5
        ).cast("long"),
    )
    t = s.agg(
        F.sum(F.col("tok").cast("decimal(38,0)")).alias("tot_tok"),
        F.sum(F.col("sq").cast("decimal(38,0)")).alias("tot_sq"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "lang",
        F.col("tok").cast("long").alias("n_tokens"),
        F.expr(
            "CAST((CAST(tok AS DECIMAL(38,0)) * 1000000) DIV tot_tok"
            " AS BIGINT)"
        ).alias("raw_ppm"),
        F.expr(
            "CAST((CAST(sq AS DECIMAL(38,0)) * 1000000) DIV tot_sq"
            " AS BIGINT)"
        ).alias("temp_ppm"),
    )


# ---------------------------------- Q162 disjunctive predicate revenue
_Q162_ARMS = [
    ("Brand#1", 1, 15, 1, 11),
    ("Brand#2", 10, 30, 10, 20),
    ("Brand#3", 20, 50, 20, 30),
]
_Q162_ARMS_SQL = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN {s0} AND {s1} "
    f"AND l_quantity >= {q0} AND l_quantity <= {q1})"
    for b, s0, s1, q0, q1 in _Q162_ARMS
)


@query(
    "q162_disjunctive_revenue",
    oracle=f"""
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                              + 0.5) AS BIGINT)) / 10000.0 AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE {_Q162_ARMS_SQL}
        GROUP BY p_brand
        ORDER BY p_brand
    """,
    tags=("join", "agg", "filtering"),
)
def q162(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape — revenue under an OR of per-brand conjunct arms
    (brand x size-range x quantity-range). The optimizer challenge is
    DISJUNCTIVE pushdown: Catalyst extracts the common-column
    disjunction (p_brand IN arms, p_size within the union envelope,
    l_quantity within the union envelope) below the join so BOTH scans
    prune before any row crosses the join — the classic Q19 pitfall is
    evaluating the whole OR only above the join and scanning everything.
    part is dim-sized (size-gated broadcast); the mixed-table residual
    conjuncts evaluate post-join in codegen. Determinism: revenue
    quantized to int64 1e-4 BEFORE the sum (the repo's
    quantize-before-sum rule)."""
    lineitem, part = load(spark, sf, "lineitem", "part")
    arms = None
    for b, s0, s1, q0, q1 in _Q162_ARMS:
        arm = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(s0, s1)
            & (F.col("l_quantity") >= q0)
            & (F.col("l_quantity") <= q1)
        )
        arms = arm if arms is None else (arms | arm)
    qrev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    from ..plans import broadcast_if_small

    return (
        lineitem.join(
            broadcast_if_small(part), F.col("p_partkey") == F.col("l_partkey")
        )
        .filter(arms)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            (F.sum(qrev) / 10000.0).alias("revenue"),
        )
        .orderBy("p_brand")
    )


# ---------------------- Q184 customer order-count distribution (TPC-H Q13)
@query(
    "q184_customer_distribution",
    oracle="""
        WITH oc AS (
          SELECT c.c_custkey,
                 CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey
           AND o.o_orderpriority <> '5-LOW'
          GROUP BY c.c_custkey)
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM oc GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    tags=("relational", "join", "tpch"),
)
def q184(spark: SparkSession, sf: str) -> DataFrame:
    """Customer order-count DISTRIBUTION (TPC-H Q13 shape) —
    the one classic shape the inventory lacked: a LEFT join whose
    unmatched side must surface as a ZERO bucket in a histogram of
    counts (customers with no qualifying orders are the business
    signal, so an inner join is the classic wrong answer). The filter
    (here: priority <> '5-LOW', standing in for Q13's comment
    NOT LIKE — this corpus has no o_comment) sits in the JOIN
    CONDITION, not a WHERE, which is what keeps orderless customers
    alive.

    Scale shape: orders pre-aggregate to per-customer counts BEFORE
    the join (map-side partials; the join then moves customer-sized
    rows, never order-sized — LEFT join + COUNT commutes with the
    pre-aggregate when the count of an absent key coalesces to 0);
    the final histogram is bounded by the distinct count values
    (dozens), so the second aggregate is kilobytes. All-integer
    output, hash-exact."""
    customer, orders = load(spark, sf, "customer", "orders")
    per_cust = (
        orders.filter(F.col("o_orderpriority") != "5-LOW")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_count"))
    )
    oc = (
        customer.select("c_custkey")
        .join(per_cust, "c_custkey", "left")
        .select(F.coalesce(F.col("c_count"), F.lit(0)).cast("long")
                .alias("c_count"))
    )
    return (
        oc.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ----------------------------- Q185 top supplier by revenue (TPC-H Q15)
_Q185_FROM = "1995-07-01"
_Q185_TO = "1995-10-01"


@query(
    "q185_top_supplier",
    oracle=f"""
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                     * 10000 + 0.5) AS BIGINT))
                      AS BIGINT) AS r_q
          FROM lineitem
          WHERE l_shipdate >= DATE '{_Q185_FROM}'
            AND l_shipdate < DATE '{_Q185_TO}'
          GROUP BY l_suppkey),
        mx AS (SELECT MAX(r_q) AS m FROM rev)
        SELECT s.s_suppkey, s.s_name, rev.r_q / 10000.0 AS total_revenue
        FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
        CROSS JOIN mx
        WHERE rev.r_q = mx.m
        ORDER BY s.s_suppkey
    """,
    tags=("relational", "join", "tpch"),
)
def q185(spark: SparkSession, sf: str) -> DataFrame:
    """Top supplier by quarterly revenue (TPC-H Q15 shape):
    the max-of-an-aggregate membership test Q15 spells with a view —
    suppliers whose three-month revenue EQUALS the global maximum
    (plural on ties, which is why the shape is not a LIMIT 1).

    Scale shape: revenue per supplier is ONE map-combined aggregate
    over the date-pruned scan (predicate pushed to parquet); the
    global max is a 1-row aggregate over the supplier-sized frame,
    broadcast back (explicit F.broadcast, the scalar-broadcast idiom);
    membership is an exact integer equality on the 1e-4-quantized
    revenue — quantized per ROW before the sum (the q09 idiom), so
    the max and the equality can never split on double low bits, and
    ties are exact. The one double (total_revenue) is a single
    division of an exact integer — deterministic both engines."""
    supplier, lineitem = load(spark, sf, "supplier", "lineitem")
    qrev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(_Q185_FROM).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q185_TO).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(qrev).cast("long").alias("r_q"))
    )
    mx = rev.groupBy().agg(F.max("r_q").alias("m"))
    return (
        supplier.join(rev, supplier.s_suppkey == rev.l_suppkey)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("r_q") == F.col("m"))
        .select(
            "s_suppkey", "s_name",
            (F.col("r_q") / 10000.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# -------------------------- Q186 shipping priority (TPC-H Q3)
_Q186_DATE = "1997-06-15"


@query(
    "q186_shipping_priority",
    oracle=f"""
        SELECT l.l_orderkey,
               SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                              * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '{_Q186_DATE}'
          AND l.l_shipdate > TIMESTAMP '{_Q186_DATE}'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
    """,
    tags=("relational", "join", "tpch"),
)
def q186(spark: SparkSession, sf: str) -> DataFrame:
    """Shipping priority (TPC-H Q3 shape): unshipped-revenue
    top-10 for one market segment — the canonical selective 3-table
    join + aggregate + top-k.

    Scale shape: both date predicates and the segment filter push to
    the parquet scans (PushedFilters); the segment-filtered customer
    side shrinks ~5x before its join; the grouped aggregate is
    map-combined on the (orderkey, date, priority) key; the final
    top-10 is TakeOrderedAndProject (per-partition heaps, O(k) driver
    memory — no global sort). Revenue quantized per ROW before the sum
    (the q09/q185 idiom) so ordering ties are exact integers; the
    l_orderkey tiebreak makes the LIMIT a total order."""
    customer, orders, lineitem = load(
        spark, sf, "customer", "orders", "lineitem"
    )
    qrev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    cut = F.lit(_Q186_DATE).cast("timestamp")
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .join(
            orders.filter(F.col("o_orderdate") < cut).select(
                "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            lineitem.filter(F.col("l_shipdate") > cut).select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(qrev) / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# ----------------------- Q187 order priority checking (TPC-H Q4)
_Q187_FROM = "1997-01-01"
_Q187_TO = "1997-04-01"


@query(
    "q187_order_priority",
    oracle=f"""
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '{_Q187_FROM}'
          AND o.o_orderdate < TIMESTAMP '{_Q187_TO}'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
    tags=("relational", "join", "tpch"),
)
def q187(spark: SparkSession, sf: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape): per-priority
    counts of orders having AT LEAST ONE late line — Q4's
    l_commitdate < l_receiptdate test re-expressed on this schema as
    l_shipdate > o_orderdate + 90 days (the q128 lateness convention;
    this corpus carries no commit/receipt dates).

    The EXISTS is a LEFT SEMI join whose condition spans both sides
    (key equality + the lateness comparison) — Spark keeps the key
    part as the equi-join and evaluates the comparison as a join
    residual, so the plan is a hash semi-join on l_orderkey, never a
    cartesian. Scale shape: the quarter predicate prunes orders at the
    scan; the semi join deduplicates order keys on the build side
    as it probes (no distinct needed, no row explosion for multi-line
    orders); the priority rollup is 5 groups — kilobytes."""
    orders, lineitem = load(spark, sf, "orders", "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(_Q187_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q187_TO).cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = lineitem.select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ------------------------- Q188 forecast revenue change (TPC-H Q6)
@query(
    "q188_forecast_revenue",
    oracle="""
        SELECT SUM(CAST(FLOOR(l_extendedprice * l_discount * 10000 + 0.5)
                        AS BIGINT)) / 10000.0 AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount >= 0.045 AND l_discount <= 0.075
          AND l_quantity < 24
    """,
    tags=("relational", "scan", "tpch"),
)
def q188(spark: SparkSession, sf: str) -> DataFrame:
    """Forecast revenue change (TPC-H Q6 shape): the pure
    scan-aggregate — what would revenue have been without these
    discounts. No join, no groupBy key: ONE map-combined global
    aggregate over a fully-pushed-down scan (all three predicates
    reach parquet; ReadSchema is 4 columns of 11). The discount band
    uses open midpoints (0.045/0.075) rather than equality on stored
    doubles — the fixture's 0.01-step grid makes the band exactly
    {0.05, 0.06, 0.07} on both engines without trusting double
    representation of the literals. Revenue quantized per row before
    the sum; deterministic to the last bit."""
    (lineitem,) = load(spark, sf, "lineitem")
    qrev = F.floor(
        F.col("l_extendedprice") * F.col("l_discount") * 10000 + 0.5
    ).cast("long")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.045)
            & (F.col("l_discount") <= 0.075)
            & (F.col("l_quantity") < 24)
        )
        .groupBy()
        .agg(
            (F.sum(qrev) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


# ---------------------------- Q189 volume shipping (TPC-H Q7)
_Q189_N1 = "NATION_1"
_Q189_N2 = "NATION_2"


@query(
    "q189_volume_shipping",
    oracle=f"""
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
               SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                              * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = '{_Q189_N1}' AND n2.n_name = '{_Q189_N2}')
            OR (n1.n_name = '{_Q189_N2}' AND n2.n_name = '{_Q189_N1}'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("relational", "join", "tpch"),
)
def q189(spark: SparkSession, sf: str) -> DataFrame:
    """Volume shipping between two nations (TPC-H Q7 shape):
    bilateral trade volume by year and direction — the 6-table join
    with a DISJUNCTIVE cross-table predicate (either nation supplies
    the other).

    Scale shape: nation is a BROADCAST_DIMS table (25 rows at any SF)
    — both nation joins broadcast, so the disjunction evaluates as a
    residual filter on broadcast-joined rows, never a shuffle; the
    two-year predicate pushes to the lineitem scan. The supplier and
    customer joins are key-shuffles of scan-pruned columns only. The
    4-column projection of lineitem is what crosses the wire; volume
    is quantized per row before the sum (exact), and the 2x2xyears
    result is bounded."""
    supplier, lineitem, orders, customer, nation = load(
        spark, sf, "supplier", "lineitem", "orders", "customer", "nation"
    )
    qvol = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_suppkey", "l_orderkey", "l_shipdate",
             "l_extendedprice", "l_discount")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        supplier.select("s_suppkey", "s_nationkey")
        .join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == _Q189_N1)
             & (F.col("cust_nation") == _Q189_N2))
            | ((F.col("supp_nation") == _Q189_N2)
               & (F.col("cust_nation") == _Q189_N1))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(qvol) / 10000.0).alias("volume"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------- Q190 returned items (TPC-H Q10)
_Q190_FROM = "1997-01-01"
_Q190_TO = "1997-04-01"


@query(
    "q190_returned_items",
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                              * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS revenue,
               c.c_acctbal, n.n_name
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '{_Q190_FROM}'
          AND o.o_orderdate < TIMESTAMP '{_Q190_TO}'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
    tags=("relational", "join", "tpch"),
)
def q190(spark: SparkSession, sf: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10 shape): the top-20
    customers by revenue lost to returns in one quarter — the
    customer-attribution join with two selective scan filters.

    Scale shape: the quarter predicate prunes orders and the
    returnflag prunes lineitem AT THE SCAN (both PushedFilters); the
    order-line join runs on the pruned sides; nation broadcasts
    (BROADCAST_DIMS). The aggregate groups on the customer key with
    its attributes carried as grouping columns (functionally dependent
    — no second join to re-attach them); top-20 is
    TakeOrderedAndProject with the c_custkey tiebreak making the LIMIT
    a total order. Revenue quantized per row before the sum."""
    customer, orders, lineitem, nation = load(
        spark, sf, "customer", "orders", "lineitem", "nation"
    )
    qrev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(_Q190_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q190_TO).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(
                nation.select("n_nationkey", "n_name")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(qrev) / 10000.0).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ------------------- Q199 local supplier volume (TPC-H Q5 shape)
_Q199_REGION = "ASIA"
_Q199_FROM = "1997-01-01"
_Q199_TO = "1998-01-01"


@query(
    "q199_local_supplier_volume",
    oracle=f"""
        SELECT n.n_name,
               SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                              * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND s.s_nationkey = c.c_nationkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = '{_Q199_REGION}'
          AND o.o_orderdate >= TIMESTAMP '{_Q199_FROM}'
          AND o.o_orderdate < TIMESTAMP '{_Q199_TO}'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n.n_name
    """,
    # in the basket since r13 (the verdict's rotation ask) with the
    # floor caveat on record: the year+region filters leave DuckDB
    # ~50 ms of work at sf0.1, so the ratio measures Spark's per-query
    # scheduling floor, not the join (the documented q150/q157b regime)
    tags=("relational", "join", "tpch"),
    bench=True,
)
def q199(spark: SparkSession, sf: str) -> DataFrame:
    """Local supplier volume (TPC-H Q5 shape) — the classic
    6-table star join with the LOCAL constraint (supplier and customer
    in the same nation) expressed as an extra equi-condition on the
    lineitem-supplier join, NOT a post-filter: Catalyst pushes it into
    the join so mismatched-nation rows never survive the probe. Dims
    (nation x region) broadcast; the orderdate filter pushes to the
    orders scan; fact-side joins are AQE-planned on the two fact keys.
    Revenue quantized per row (the q186 idiom) so the DESC ordering
    ties exactly."""
    customer, orders, lineitem, supplier, nation, region = load(
        spark, sf, "customer", "orders", "lineitem", "supplier",
        "nation", "region",
    )
    qrev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    nr = (
        nation.join(
            region.filter(F.col("r_name") == _Q199_REGION),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(_Q199_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q199_TO).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    return (
        customer.select("c_custkey", "c_nationkey")
        .join(F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            lineitem.select(
                "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            supplier.select("s_suppkey", "s_nationkey"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg((F.sum(qrev) / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# ------------------- Q200 national market share (TPC-H Q8 shape)
_Q200_NATION = "NATION_7"
_Q200_REGION = "ASIA"
_Q200_TYPE = "ECONOMY"


@query(
    "q200_nation_market_share",
    oracle=f"""
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               ROUND(
                 SUM(CASE WHEN sn.n_name = '{_Q200_NATION}'
                          THEN CAST(FLOOR(l.l_extendedprice
                                          * (1 - l.l_discount)
                                          * 10000 + 0.5) AS BIGINT)
                          ELSE 0 END)
                 * 1.0 /
                 SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                                * 10000 + 0.5) AS BIGINT)),
                 6) AS mkt_share
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = cn.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        WHERE p.p_type = '{_Q200_TYPE}'
          AND r.r_name = '{_Q200_REGION}'
        GROUP BY 1
        ORDER BY 1
    """,
    tags=("relational", "join", "tpch"),
)
def q200(spark: SparkSession, sf: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): the share of
    one supplying nation's revenue within a consuming region's market
    for one part type, by order year — the 8-table join with TWO roles
    for nation (customer side restricting the market, supplier side
    labeling the competitor). Both nation dims and region broadcast;
    the p_type filter prunes the part build side before the fact probe;
    share = ratio of two integer-quantized sums (exact ties), rounded
    to 6 dp on both engines."""
    customer, orders, lineitem, supplier, nation, region, part = load(
        spark, sf, "customer", "orders", "lineitem", "supplier",
        "nation", "region", "part",
    )
    qrev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    market_nations = (
        nation.join(
            region.filter(F.col("r_name") == _Q200_REGION),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_n = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    joined = (
        lineitem.select(
            "l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount",
        )
        .join(
            F.broadcast(
                part.filter(F.col("p_type") == _Q200_TYPE)
                .select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(market_nations),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .join(
            supplier.select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(supp_n), F.col("s_nationkey") == F.col("sn_key")
        )
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("sn_name") == _Q200_NATION, qrev)
                    .otherwise(F.lit(0).cast("long"))
                )
                * 1.0
                / F.sum(qrev),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ------------------- Q201 product-type profit (TPC-H Q9 shape, adapted)
_Q201_NAME_PART = "gear"


@query(
    "q201_product_profit",
    oracle=f"""
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)
                               - p.p_retailprice * l.l_quantity * 0.1)
                              * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_profit
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE p.p_name LIKE '%{_Q201_NAME_PART}%'
        GROUP BY 1, 2
        ORDER BY 1, 2 DESC
    """,
    tags=("relational", "join", "tpch"),
    bench=True,
)
def q201(spark: SparkSession, sf: str) -> DataFrame:
    """Product-type profit (TPC-H Q9 shape, ADAPTED: the
    testdata star has no partsupp, so supply cost is proxied by 10% of
    p_retailprice x quantity — same join topology and arithmetic
    shape, profit = revenue minus cost joined in from the part dim).
    The p_name LIKE filter prunes the broadcast part build side; the
    per-row profit expression is written IDENTICALLY on both engines
    (one IEEE multiply chain, then the 1e4 quantize) so the sums are
    integer-exact; group by supplier nation x order year."""
    orders, lineitem, supplier, nation, part = load(
        spark, sf, "orders", "lineitem", "supplier", "nation", "part"
    )
    qprofit = F.floor(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("p_retailprice") * F.col("l_quantity") * 0.1
        )
        * 10000
        + 0.5
    ).cast("long")
    return (
        lineitem.select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount",
        )
        .join(
            F.broadcast(
                part.filter(F.col("p_name").contains(_Q201_NAME_PART))
                .select("p_partkey", "p_retailprice")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            supplier.select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(qprofit) / 10000.0).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# ------------- Q209 parts/supplier relationship (TPC-H Q16 shape)
_Q209_EXCL_BRAND = "Brand#13"
_Q209_EXCL_TYPE = "MEDIUM"
_Q209_SIZES = (1, 9, 14, 19, 23, 36, 45, 49)


@query(
    "q209_parts_supplier_relationship",
    oracle=f"""
        WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        complaints AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
        WHERE p.p_brand <> '{_Q209_EXCL_BRAND}'
          AND p.p_type NOT LIKE '{_Q209_EXCL_TYPE}%'
          AND p.p_size IN ({", ".join(str(s) for s in _Q209_SIZES)})
          AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM complaints)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("relational", "join", "tpch"),
)
def q209(spark: SparkSession, sf: str) -> DataFrame:
    """Parts/supplier relationship (TPC-H Q16 shape;
    completes the TPC-H shape sweep with q210). The schema has no
    partsupp table, so the supply relation is derived as DISTINCT
    (l_partkey, l_suppkey) from lineitem — one hash exchange on the
    pair key; the Q16 "Customer Complaints" NOT IN subquery maps to
    negative-balance suppliers, compiled as a BROADCAST anti-join
    (supplier ids are bounded — never a correlated loop). Part
    predicates (<> brand, NOT LIKE type prefix, size IN-list) push to
    the part scan; count(distinct suppkey) per (brand, type, size)
    re-aggregates on the grouping key. DESC count + full key ordering
    ties exactly (integer counts)."""
    part, supplier, lineitem = load(
        spark, sf, "part", "supplier", "lineitem"
    )
    ps = (
        lineitem.select("l_partkey", "l_suppkey").distinct()
    )
    complaints = supplier.filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = part.filter(
        (F.col("p_brand") != _Q209_EXCL_BRAND)
        & ~F.col("p_type").startswith(_Q209_EXCL_TYPE)
        & F.col("p_size").isin(*_Q209_SIZES)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        ps.join(
            F.broadcast(complaints),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        # no broadcast hint on the part side: the filtered part table
        # is ~16% of part (size IN-list) — dim-sized here, NOT
        # broadcastable at 100 TB; AQE picks broadcast at this SF and
        # a shuffled hash join at scale. complaints IS force-broadcast:
        # a flagged-supplier set is operationally bounded.
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


# ------------- Q210 potential part promotion (TPC-H Q20 shape)
_Q210_NAME_PREFIX = "red"
_Q210_NATION = "NATION_3"
_Q210_WIN_FROM = "1997-01-01"
_Q210_WIN_TO = "1998-01-01"


@query(
    "q210_potential_part_promotion",
    oracle=f"""
        WITH agg AS (
          SELECT l_partkey, l_suppkey,
                 SUM(CASE WHEN l_shipdate < TIMESTAMP '{_Q210_WIN_FROM}'
                          THEN CAST(FLOOR(l_quantity * 100 + 0.5)
                                    AS BIGINT) ELSE 0 END) AS hist_q,
                 SUM(CASE WHEN l_shipdate >= TIMESTAMP '{_Q210_WIN_FROM}'
                           AND l_shipdate < TIMESTAMP '{_Q210_WIN_TO}'
                          THEN CAST(FLOOR(l_quantity * 100 + 0.5)
                                    AS BIGINT) ELSE 0 END) AS win_q
          FROM lineitem GROUP BY 1, 2),
        qual AS (
          SELECT DISTINCT a.l_suppkey FROM agg a
          WHERE a.win_q > 0 AND 2 * a.hist_q > a.win_q
            AND a.l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_name LIKE '{_Q210_NAME_PREFIX}%'))
        SELECT s.s_name FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = '{_Q210_NATION}'
          AND s.s_suppkey IN (SELECT l_suppkey FROM qual)
        ORDER BY s.s_name
    """,
    tags=("relational", "join", "tpch"),
)
def q210(spark: SparkSession, sf: str) -> DataFrame:
    """Potential part promotion (TPC-H Q20 shape): suppliers
    in one nation holding surplus stock of name-matched parts. Q20's
    nested EXISTS/IN chain — parts IN-list inside a partsupp filter
    inside a supplier semi-join, with a CORRELATED half-sum scalar
    subquery per (part, supplier) — compiles here to a SINGLE lineitem
    pass with conditional aggregation (hist_q = pre-window quantity,
    the ps_availqty proxy; win_q = in-window demand) followed by two
    semi-joins over pre-aggregates, never a correlated loop. The
    half-sum predicate is exact in integers (quantities quantized x100,
    `2*hist > win` instead of `hist > 0.5*win`); win_q > 0 mirrors
    Q20's NULL-scalar-subquery exclusion. Part names semi-join
    broadcast; the qualifying supplier set semi-joins the nation-
    filtered supplier dim. Scale shape: one shuffle on the (part,
    supplier) pair key, everything after is broadcast-sized."""
    part, supplier, lineitem, nation = load(
        spark, sf, "part", "supplier", "lineitem", "nation"
    )
    qqty = F.floor(F.col("l_quantity") * 100 + 0.5).cast("long")
    win_from = F.lit(_Q210_WIN_FROM).cast("timestamp")
    win_to = F.lit(_Q210_WIN_TO).cast("timestamp")
    agg = (
        lineitem.select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(
                F.when(F.col("l_shipdate") < win_from, qqty).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("hist_q"),
            F.sum(
                F.when(
                    (F.col("l_shipdate") >= win_from)
                    & (F.col("l_shipdate") < win_to),
                    qqty,
                ).otherwise(F.lit(0).cast("long"))
            ).alias("win_q"),
        )
    )
    red_parts = part.filter(
        F.col("p_name").startswith(_Q210_NAME_PREFIX)
    ).select("p_partkey")
    qual = (
        agg.filter(
            (F.col("win_q") > 0) & (2 * F.col("hist_q") > F.col("win_q"))
        )
        # no broadcast hint: the name-matched part set is ~1% of part
        # (tens of millions of keys at 100 TB) — AQE broadcasts the
        # 8 KB version at this SF, shuffles the semi-join at scale
        .join(
            red_parts,
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(
            F.broadcast(
                nation.filter(F.col("n_name") == _Q210_NATION).select(
                    "n_nationkey"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_name")
        .orderBy("s_name")
    )


# --------- Q221 global chunk dedup with document RECONSTRUCTION
_Q221_W = 8


def _q221_rebuild_sql(sts: str, ts: str) -> str:
    """Rebuilt-text expression shared by the oracle's projection: join
    the surviving chunks (slices of the original token array at the
    kept start positions) back into one string."""
    return (
        f"array_to_string(list_transform({sts}, "
        f"s -> array_to_string(list_slice({ts}, s, s + {_Q221_W - 1}), "
        f"' ')), ' ')"
    )


@query(
    "q221_chunk_dedup_rebuild",
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
                   FROM documents),
        s AS (SELECT doc_id, ts,
                     unnest(generate_series(1, len(ts), {_Q221_W}))
                         AS st
              FROM t),
        c AS (SELECT doc_id, st,
                     {fingerprint_sql(
                         "array_to_string(list_slice(ts, st, st + "
                         + str(_Q221_W - 1) + "), ' ')")} AS cfp
              FROM s),
        k AS (SELECT doc_id, st,
                     ROW_NUMBER() OVER (PARTITION BY cfp
                                        ORDER BY doc_id, st) AS rk
              FROM c),
        agg AS (SELECT doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_chunks,
                       CAST(COUNT(*) FILTER (rk = 1) AS BIGINT)
                           AS n_kept,
                       list_sort(list(st) FILTER (rk = 1)) AS sts
                FROM k GROUP BY doc_id)
        SELECT a.doc_id, a.n_chunks, a.n_kept,
               CASE WHEN a.n_kept = 0 THEN 0 ELSE
                 {fingerprint_sql(_q221_rebuild_sql("a.sts", "t.ts"))}
               END AS rebuilt_fp
        FROM agg a JOIN t ON t.doc_id = a.doc_id
        ORDER BY a.doc_id
    """,
    tags=("dedup", "text", "llm"),
)
def q221(spark: SparkSession, sf: str) -> DataFrame:
    """GLOBAL chunk dedup with document RECONSTRUCTION
    (the CCNet/C4 paragraph-dedup shape, Wenzek et al. 2020: drop every
    repeated paragraph corpus-wide, keep the FIRST occurrence, and
    re-emit the surviving document text): documents split into
    fixed-8-token chunks (this corpus has no paragraph separators, so
    the chunk IS the paragraph unit — q112's boilerplate detector uses
    the same convention), each chunk fingerprinted, first occurrence
    per fingerprint kept by (doc_id, position) rank, and each
    document's TEXT REBUILT from its surviving chunks in order. q112
    counts the boilerplate; q175b scrubs exact substrings matching a
    query set; this is the third member — corpus-wide self-dedup that
    rewrites the corpus, the transform a training-data pipeline
    actually ships.

    Emits per doc: chunk count, kept count, and the rolling-hash
    fingerprint of the rebuilt text (scalar columns — the driver
    cannot hash arrays; a doc whose every chunk is a repeat rebuilds
    to the documented 0 sentinel).

    Scale shape: the dedup shuffle carries (doc_id, st, cfp) — 20
    bytes a chunk, never text; the rank window is per-fingerprint
    (bucket width = chunk multiplicity). Reconstruction joins only
    the per-doc kept-start LISTS back to the document scan on doc_id
    — one equi-join; the token arrays move at most once (AQE
    broadcasts the list frame when small; a doc_id-bucketed corpus
    pays zero shuffles, the q217 layout)."""
    (documents,) = load(spark, sf, "documents")
    d = documents.select("doc_id", F.split("text", " ").alias("ts"))
    ex = d.select(
        "doc_id",
        "ts",
        F.explode(
            F.sequence(F.lit(1), F.size("ts"), F.lit(_Q221_W))
        ).alias("st"),
    )
    c = ex.select(
        "doc_id",
        "st",
        text.fingerprint(
            F.array_join(F.slice("ts", F.col("st"), _Q221_W), " ")
        ).alias("cfp"),
    )
    w = Window.partitionBy("cfp").orderBy("doc_id", "st")
    k = c.withColumn("rk", F.row_number().over(w))
    agg = k.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.count(F.when(F.col("rk") == 1, 1)).cast("long").alias("n_kept"),
        F.sort_array(
            F.collect_list(F.when(F.col("rk") == 1, F.col("st")))
        ).alias("sts"),
    )
    rebuilt = F.array_join(
        F.transform(
            F.col("sts"),
            lambda s: F.array_join(F.slice(F.col("ts"), s, _Q221_W), " "),
        ),
        " ",
    )
    return (
        agg.join(d, "doc_id")
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.when(F.col("n_kept") == 0, F.lit(0).cast("long"))
            .otherwise(text.fingerprint(rebuilt))
            .alias("rebuilt_fp"),
        )
        .orderBy("doc_id")
    )


# ------------- Q230 Heaps'-law vocabulary growth (corpus health)
_HEAPS_Q = 10**6   # micro-nat quantization (the q114 Zipf convention)
_HEAPS_G = 8       # prefix checkpoints at i/8 of the corpus


@query(
    "q230_heaps_vocab_growth",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents
        ),
        fd AS (SELECT token, MIN(doc_id) AS first_doc FROM tok
               GROUP BY token),
        dt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
               FROM tok GROUP BY doc_id),
        nn AS (SELECT COUNT(*) AS n FROM documents),
        grid AS (SELECT DISTINCT
                        CAST(ceil(nn.n * i / {_HEAPS_G}.0) AS BIGINT)
                            AS cp
                 FROM nn, unnest(generate_series(1, {_HEAPS_G}))
                     AS t(i)),
        pts AS (SELECT g.cp,
                       (SELECT SUM(d.n_tok) FROM dt d
                        WHERE d.doc_id < g.cp) AS t_tok,
                       (SELECT COUNT(*) FROM fd f
                        WHERE f.first_doc < g.cp) AS v_vocab
                FROM grid g
                -- tiny-corpus robustness: duplicate
                -- checkpoints are collapsed above, and an empty doc-id
                -- prefix (possible when ids don't start at 0 or n <
                -- grid size) contributes no point on EITHER engine
                WHERE t_tok IS NOT NULL AND v_vocab > 0),
        q AS (SELECT cp,
                     CAST(floor(ln(t_tok) * {_HEAPS_Q} + 0.5) AS BIGINT)
                         AS x,
                     CAST(floor(ln(v_vocab) * {_HEAPS_Q} + 0.5)
                          AS BIGINT) AS y,
                     t_tok, v_vocab
              FROM pts)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
               -- degenerate-fit guard: a single
               -- surviving checkpoint (or all-equal x) zeroes the
               -- denominator; emit NULL explicitly on BOTH engines
               -- instead of relying on engine-specific /0 behavior
               CASE WHEN (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) = 0
                    THEN NULL
                    ELSE ROUND(
                        (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) * 1.0
                        / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)),
                        4)
               END AS heaps_beta,
               CAST(MAX(v_vocab) AS BIGINT) AS vocab_full,
               CAST(MAX(t_tok) AS BIGINT) AS tokens_full
        FROM q
    """,
    tags=("text", "llm", "monitoring"),
)
def q230(spark: SparkSession, sf: str) -> DataFrame:
    """HEAPS'-LAW vocabulary growth — the companion to
    q114's Zipf slope in the corpus-health family: V(T) ~ K*T^beta
    (Heaps 1978, public), fit as a least-squares slope in log-log
    space over 8 corpus-prefix checkpoints (vocab after the first
    i/8 of documents vs tokens seen). beta far from the 0.4-0.6
    natural-text band flags synthetic or template-heavy data the
    same way a bent Zipf curve does — and the PREFIX formulation is
    the scalable one: a token's contribution to every checkpoint is
    a pure function of its FIRST-occurrence document (one
    min-aggregate per token), so vocab-at-checkpoint needs no
    running scan — V(cp) = count(first_doc < cp), T(cp) =
    sum(doc tokens | doc < cp), both one bounded join against the
    8-row broadcast grid.

    Determinism: the q114 convention — each ln quantizes to
    micro-nats BEFORE the least-squares sums (integer,
    order-independent), one final rounded division. Hash-matched at
    both SFs."""
    (documents,) = load(spark, sf, "documents")
    # ONE explode feeds one first-level (doc, token) aggregate; fd and
    # dt then derive from that SMALL frame (distinct pairs, not the
    # token stream), so the corpus is scanned once, not three times. The
    # localCheckpoint materializes tf2 once, never the raw explode.
    tf2 = (
        documents.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    fd = tf2.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    dt = tf2.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tok")
    )
    n = documents.count()  # parquet footer count, no data scan
    grid = (
        spark.range(1, _HEAPS_G + 1)
        .select(
            F.ceil(F.lit(float(n)) * F.col("id") / _HEAPS_G)
            .cast("long")
            .alias("cp")
        )
        .distinct()
    )
    t_pts = (
        dt.crossJoin(F.broadcast(grid))
        .filter(F.col("doc_id") < F.col("cp"))
        .groupBy("cp")
        .agg(F.sum("n_tok").alias("t_tok"))
    )
    v_pts = (
        fd.crossJoin(F.broadcast(grid))
        .filter(F.col("first_doc") < F.col("cp"))
        .groupBy("cp")
        .agg(F.count(F.lit(1)).cast("long").alias("v_vocab"))
    )
    q = t_pts.join(v_pts, "cp").select(
        "cp",
        F.floor(F.log("t_tok") * _HEAPS_Q + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(F.log("v_vocab") * _HEAPS_Q + F.lit(0.5))
        .cast("long")
        .alias("y"),
        "t_tok",
        "v_vocab",
    )
    cnt = F.count(F.lit(1))
    # degenerate-fit guard mirrored with the oracle:
    # one surviving checkpoint (or all-equal x) -> NULL, explicitly
    denom = (cnt * F.sum(F.col("x") * F.col("x"))
             - F.sum("x") * F.sum("x"))
    return q.agg(
        cnt.cast("long").alias("n_points"),
        F.when(
            denom != 0,
            F.round(
                (cnt * F.sum(F.col("x") * F.col("y"))
                 - F.sum("x") * F.sum("y"))
                * 1.0
                / denom,
                4,
            ),
        ).alias("heaps_beta"),
        F.max("v_vocab").cast("long").alias("vocab_full"),
        F.max("t_tok").cast("long").alias("tokens_full"),
    )
