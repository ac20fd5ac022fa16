"""LLM training-data pipeline queries (SURVEY.md §2B Q26-Q28 + extensions):
dedup (Jaccard / MinHash / SimHash / embedding-cosine), similarity search,
text analysis (token stats, language ID, quality, fingerprint), and the
multimodal decode pipeline.

Oracles mirror the Spark expressions in DuckDB SQL symbol-for-symbol; the
shared constants (stopword lists, fingerprint modulus) are injected into
the SQL at import time so both sides can never drift.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import dedup, multimodal, similarity, text
from ..plans import materialize_once
from ..tables import load
from . import REGISTRY, query


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


ALL_STOP = tuple(w for ws in text.STOPWORDS.values() for w in ws)


def _langid_scores_sql(table: str = "documents") -> str:
    """Per-language stopword-hit scores over ``table`` — the shared body of
    every oracle that mirrors text.lang_id (q35, q102)."""
    cols = ",\n                 ".join(
        f"len(list_filter(string_split(text,' '),"
        f" t -> list_contains({_sql_list(ws)}, t))) AS sc_{lang}"
        for lang, ws in text.STOPWORDS.items()
    )
    return f"SELECT *,\n                 {cols}\n          FROM {table}"


# argmax with the fixed tie order en>es>de>fr (matches text.lang_id)
_LANGID_CASE_SQL = """
               CASE WHEN sc_en > 0 AND sc_en >= sc_es AND sc_en >= sc_de
                         AND sc_en >= sc_fr THEN 'en'
                    WHEN sc_es > 0 AND sc_es >= sc_de AND sc_es >= sc_fr
                         THEN 'es'
                    WHEN sc_de > 0 AND sc_de >= sc_fr THEN 'de'
                    WHEN sc_fr > 0 THEN 'fr'
                    ELSE 'unknown' END"""


# ----------------------------------------------- Q26 near-dup (exact Jaccard)
@query(
    "q26_jaccard_neardup",
    oracle="""
        WITH sh AS (
          SELECT doc_id, source,
                 list_distinct(list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2])) AS shingles
          FROM documents
        ),
        ex AS (SELECT doc_id, source, unnest(shingles) AS s,
                      len(shingles) AS n FROM sh),
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common,
                 any_value(a.n) AS n1, any_value(b.n) AS n2
          FROM ex a JOIN ex b
            ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT d1, d2,
               ROUND(common * 1.0 / (n1 + n2 - common), 6) AS jaccard
        FROM pairs
        WHERE ROUND(common * 1.0 / (n1 + n2 - common), 6) >= 0.5
    """,
    tags=("dedup", "llm"),
    bench=True,
)
def q26(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via shingle equi-join (no cross
    join; `source` as the blocking key). See operators.dedup.jaccard_pairs
    for the 100 TB design notes."""
    (documents,) = load(spark, sf, "documents")
    return dedup.jaccard_pairs(documents, threshold=0.5)


@query("q26b_minhash_neardup", oracle=None, tags=("dedup", "llm", "approx"), bench=True)
def q26b(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash (64 perms) + 16-band LSH near-dup candidates with estimated
    Jaccard >= 0.5. Sketch-based: signatures computed in the scan, candidates
    from a band equi-join — the 100 TB path where exact shingle joins are too
    wide. Rows-only check; recall vs q26 is asserted in tests."""
    (documents,) = load(spark, sf, "documents")
    return dedup.minhash_neardup_pairs(documents, threshold=0.5)


@query(
    "q26d_minhash_verify",
    oracle="""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2])) AS shingles
          FROM documents
        ),
        ex AS (SELECT doc_id, unnest(shingles) AS s,
                      len(shingles) AS n FROM sh),
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common,
                 any_value(a.n) AS n1, any_value(b.n) AS n2
          FROM ex a JOIN ex b
            ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT d1, d2,
               ROUND(common * 1.0 / (n1 + n2 - common), 6) AS jaccard
        FROM pairs
        WHERE ROUND(common * 1.0 / (n1 + n2 - common), 6) >= 0.5
    """,
    tags=("dedup", "llm"),
)
def q26d(spark: SparkSession, sf: str) -> DataFrame:
    """LSH candidates exact-verified via true n-gram Jaccard
    (operators/dedup.py minhash_verified_pairs). The result is provably
    free of false positives (exact verify), and on this dataset the banded
    candidate generation recalls every true >=0.5 pair (deterministic
    seed; recall test in tests/test_llm_ops.py), so the output equals the
    full exact near-dup set — the oracle states exactly that: unblocked
    pairwise Jaccard >= 0.5."""
    (documents,) = load(spark, sf, "documents")
    return dedup.minhash_verified_pairs(documents, threshold=0.5)


@query(
    "q26e_jaccard_maxdf",
    oracle="""
        WITH sh AS (
          SELECT doc_id, source,
                 list_distinct(list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2])) AS shingles
          FROM documents
        ),
        ex0 AS (SELECT doc_id, source, unnest(shingles) AS s FROM sh),
        hot AS (SELECT source, s FROM ex0
                GROUP BY source, s HAVING COUNT(*) > 2),
        ex AS (SELECT e.doc_id, e.source, e.s
               FROM ex0 e ANTI JOIN hot h
                 ON e.source = h.source AND e.s = h.s),
        n AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
          FROM ex a JOIN ex b
            ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT d1, d2,
               ROUND(common * 1.0 / (na.n + nb.n - common), 6) AS jaccard
        FROM pairs
        JOIN n na ON pairs.d1 = na.doc_id
        JOIN n nb ON pairs.d2 = nb.doc_id
        WHERE ROUND(common * 1.0 / (na.n + nb.n - common), 6) >= 0.5
    """,
    tags=("dedup", "llm", "skew"),
)
def q26e(spark: SparkSession, sf: str) -> DataFrame:
    """q26 with the document-frequency ceiling ACTIVE (max_df=2): shingles
    occurring in >2 docs (within the source blocking key) are dropped from
    both the intersection and the per-doc set sizes before Jaccard. This is
    the 100 TB skew-safety valve — a boilerplate shingle shared by every
    document would otherwise make its join bucket quadratic
    (operators/dedup.py jaccard_pairs; adversarial bound test in
    tests/test_llm_ops.py)."""
    (documents,) = load(spark, sf, "documents")
    return dedup.jaccard_pairs(documents, threshold=0.5, max_df=2)


@query("q26c_simhash_neardup", oracle=None, tags=("dedup", "llm", "approx"))
def q26c(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash-64 near-dup pairs within Hamming distance 6, candidates
    via the 2-of-8-chunk combination pigeonhole (the fixture's true
    near-dup pairs reach SimHash distance 5, beyond a radius-3
    geometry; the combination keys guarantee every pair within
    distance 6 is a candidate while keeping 16-bit key values, i.e.
    unchanged bucket widths). Recall vs the exact Jaccard pair set is
    pinned at 1.0 in APPROX_EVIDENCE.json with precision alongside."""
    (documents,) = load(spark, sf, "documents")
    return dedup.simhash_neardup_pairs(documents, max_hamming=6)


# ------------------------------------------------- Q27 similarity search
@query(
    "q27_cosine_topk",
    oracle="""
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                   WHERE vec_id = 0)
        SELECT vec_id,
               ROUND(list_cosine_similarity(embedding::DOUBLE[], qv), 6)
                   AS score
        FROM embeddings, q
        ORDER BY score DESC, vec_id LIMIT 10
    """,
    tags=("similarity", "llm"),
    bench=True,
)
def q27(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-10 against the vec_id=0 embedding: broadcast 1-row
    query side, codegen'd fold dot product, TakeOrderedAndProject."""
    (emb,) = load(spark, sf, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    return similarity.topk_cosine(emb, qv, k=10)


@query("q27b_ann_lsh_topk", oracle=None, tags=("similarity", "llm", "approx"))
def q27b(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate top-10 via BANDED random-hyperplane LSH (20 bands x 5
    sign bits, OR-amplified — similarity.ann_topk_lsh_banded). Candidates
    drop to ~half of N before any exact math; top-10 overlap vs exact
    (q27) is 9/10 at sf0.01 AND sf0.1 (APPROX_EVIDENCE.json), up from the
    single-table Hamming path's 4/10 (that path remains available as
    similarity.ann_topk_lsh for corpora clustered enough to support it)."""
    (emb,) = load(spark, sf, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    return similarity.ann_topk_lsh_banded(emb, qv, k=10)


# ------------------------------------------------- Q28 token analytics
@query(
    "q28_top_tokens",
    oracle="""
        WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token
                     FROM documents),
        c AS (SELECT lang, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2)
        SELECT lang, token, cnt, rn FROM (
            SELECT lang, token, cnt,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY cnt DESC, token) AS BIGINT)
                       AS rn
            FROM c
        ) WHERE rn <= 20
    """,
    tags=("text", "llm"),
    bench=True,
)
def q28(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 tokens per language facet: explode -> two-phase count -> rank
    pushdown (WindowGroupLimit keeps 20 per lang before the final sort)."""
    (documents,) = load(spark, sf, "documents")
    counts = (
        documents.select("lang", F.explode(text.tokens("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "token")
    return counts.select(
        "lang", "token", "cnt", F.row_number().over(w).cast("long").alias("rn")
    ).filter(F.col("rn") <= 20)


# --------------------------------------------------- Q157 BM25 retrieval
_BM25_TERMS = ["hash", "join", "vector", "window", "spark"]
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


def _bm25_tf_dl(documents: DataFrame, terms: list[str]):
    """((doc_id, token, tf, dl) frame, 1-row (n, dl_sum) stats) — ONE
    corpus scan, ZERO corpus shuffle, shared by every BM25 consumer.
    The token array is filtered ONCE per document
    through an `isin` membership probe (above the 10-literal
    threshold — q157b's 31-term union — Catalyst converts it to an
    InSet hash set, O(1) per token; q157's 5-term set stays an In
    equality chain, O(5), still one pass), and per-term counts are
    then taken over the tiny MATCHED array only. The previous shape
    evaluated `size(filter(tokens, = term))` once PER TERM — an
    O(dl x |terms|) scan per document (~31x the token volume for
    q157b; the r14 bench row's 12x oracle gap was largely this bill —
    DuckDB's unnest + IN probe touches each token once). The
    MATERIALIZED frame is the pre-explode (doc_id, dl, matched) base —
    all docs, but only ids + lengths + matched terms, never the text —
    so the corpus stats (n, dl_sum) aggregate from it instead of
    paying a second corpus scan+split, and
    the df aggregate + scoring join both re-derive the tf explode from
    it cheaply. Values are plan-independent (same counts), so every
    BM25 oracle is untouched. The `spread` fan-out exists for the same
    reason as everywhere else (dedup._spread): the bench corpus is one
    parquet row group, so without it the CPU-bound split+probe phase
    runs on ONE task while 31 cores idle — at real scale the scan
    already has thousands of splits and AQE coalesces the excess."""
    from ..operators.dedup import spread

    base = materialize_once(
        spread(documents, "doc_id").select(
            "doc_id", F.split("text", " ").alias("_toks")
        ).select(
            "doc_id",
            F.size("_toks").cast("long").alias("dl"),
            F.filter(
                F.col("_toks"), lambda x: x.isin(*terms)
            ).alias("_m"),
        )
    )
    st = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("dl_sum"),
    )
    entries = F.transform(
        F.array_distinct(F.col("_m")),
        lambda t: F.struct(
            t.alias("token"),
            F.size(
                F.filter(F.col("_m"), lambda x: x == t)
            ).cast("long").alias("tf"),
        ),
    )
    tf = (
        base.select(
            "doc_id",
            "dl",
            F.explode(entries).alias("e"),
        )
        .select("doc_id", "dl", F.col("e.token").alias("token"),
                F.col("e.tf").alias("tf"))
    )
    return tf, st


def _bm25_quantized_contrib():
    """The Okapi BM25 per-(doc, term) contribution (k1=1.2, b=0.75),
    int64-quantized at 1e-6 BEFORE any summation — expects columns tf,
    dl, df, n, dl_sum in scope. ONE definition shared by q157, q157b,
    and scripts/stress.py so the float literals the determinism
    contract pins ("spelled identically in both texts") can never
    desynchronize between the queries, their oracles, and the sweep."""
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    denom = F.col("tf") + 1.2 * (
        0.25 + 0.75 * (F.col("dl") * F.col("n")) / F.col("dl_sum")
    )
    return F.floor(
        idf * (F.col("tf") * 2.2) / denom * 1000000 + 0.5
    ).cast("long")


def _bm25_contrib(documents: DataFrame, terms: list[str]) -> DataFrame:
    """The scored-contribution frame every BM25 consumer builds on:
    single-pass tf+dl (materialized once), |terms|-row df broadcast,
    1-row stats broadcast — columns (doc_id, token, tf, dl, df, n,
    dl_sum). ONE definition for q157, q157b, and q169 so a plan rework
    (like r9's tf+dl fold) can never leave a copy on the old shape."""
    tf, st = _bm25_tf_dl(documents, terms)
    df_ = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    return tf.join(F.broadcast(df_), "token").crossJoin(F.broadcast(st))


@query(
    "q157_bm25_topk",
    oracle=f"""
        WITH dl AS (SELECT doc_id,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                    FROM documents),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(dl) AS BIGINT) AS dl_sum FROM dl),
        tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
               FROM (SELECT doc_id,
                            unnest(string_split(text, ' ')) AS token
                     FROM documents)
               WHERE token IN ({_BM25_TERMS_SQL})
               GROUP BY 1, 2),
        df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
               GROUP BY 1),
        contrib AS (
          SELECT tf.doc_id,
                 CAST(FLOOR(
                   ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl * st.n) / st.dl_sum))
                   * 1000000 + 0.5) AS BIGINT) AS q
          FROM tf
          JOIN df USING (token)
          JOIN dl USING (doc_id)
          CROSS JOIN st)
        SELECT doc_id, SUM(q) / 1000000.0 AS score
        FROM contrib GROUP BY doc_id
        ORDER BY SUM(q) DESC, doc_id LIMIT 20
    """,
    tags=("text", "retrieval", "llm"),
)
def q157(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BM25 top-k retrieval (Okapi k1=1.2, b=0.75) for a fixed
    term set — the lexical scorer a training pipeline uses for quality
    filtering and hard-negative mining next to the embedding retrievers
    (q27/q42/q155). All built-ins: explode -> tf groupBy, df and the
    (N, total-length) scalars broadcast, one doc_id join, TakeOrdered
    top-k (no global sort).

    Determinism discipline: every per-term contribution is quantized to
    int64 millionths BEFORE the per-doc sum (q96's ln precedent — the
    1e-6 quantum absorbs libm ulp differences between Spark's Math.log
    and DuckDB's ln), the length norm keeps dl*N/dl_sum as one integer
    product before its single double division (no avg() whose low bits
    could differ between engines), every shared float literal (2.2,
    0.25, 0.75, 1.2) is spelled identically in both texts so IEEE
    evaluation order matches, and the top-k orders by the INTEGER
    quantized sum with a doc_id tie-break.

    Scale shape (r9 rework): tf AND dl come from ONE corpus scan
    projection with ZERO corpus shuffle — per-term occurrence counts are
    `size(filter(tokens, = term))` expressions in whole-stage codegen,
    packed as (token, tf) structs and exploded only where tf > 0, with
    dl riding along on each row. That removes the old (doc_id, token)
    tf aggregate AND the doc_id join with a corpus-sized length table
    (which Catalyst was happy to BROADCAST at small SF — exactly the
    build choice that explodes at 100 TB). df is |terms| rows and the
    stats frame is 1 row (both broadcast); the only shuffles left are
    the |terms|-row df aggregate and the 1-row stats aggregate."""
    (documents,) = load(spark, sf, "documents")
    contrib = _bm25_contrib(documents, _BM25_TERMS)
    q = _bm25_quantized_contrib()
    return (
        contrib.select("doc_id", q.alias("q"))
        .groupBy("doc_id")
        .agg(F.sum("q").alias("_qs"))
        .orderBy(F.desc("_qs"), "doc_id")
        .limit(20)
        .select("doc_id", (F.col("_qs") / 1000000.0).alias("score"))
    )


# ------------------------------------------ Q157b batched BM25 retrieval
# A fixed batch of 24 retrieval queries (2-4 terms each) over the corpus
# vocabulary — the multi-query generalization q157's docstring use cases
# (quality filtering, hard-negative mining) actually need: one corpus
# pass scores EVERY query, instead of one pass per query.
_BM25B_QUERIES: dict[int, list[str]] = {
    0: ["hash", "join"],
    1: ["vector", "scan"],
    2: ["window", "agg", "group"],
    3: ["spark", "stream"],
    4: ["sort", "merge", "join"],
    5: ["batch", "row"],
    6: ["column", "scan", "filter"],
    7: ["customer", "order"],
    8: ["key", "value"],
    9: ["query", "fast"],
    10: ["slow", "query"],
    11: ["big", "data", "table"],
    12: ["small", "table", "join"],
    13: ["dup", "line"],
    14: ["part", "order", "customer"],
    15: ["stream", "window"],
    16: ["hash", "agg"],
    17: ["merge", "sort"],
    18: ["filter", "scan", "column", "row"],
    19: ["group", "key"],
    20: ["vector", "batch"],
    21: ["data", "stream", "spark"],
    22: ["fast", "scan"],
    23: ["the", "a"],
}
_BM25B_TERMS = sorted({t for ts in _BM25B_QUERIES.values() for t in ts})
_BM25B_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25B_TERMS)
_BM25B_QT_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, ts in sorted(_BM25B_QUERIES.items()) for t in ts
)
_BM25B_K = 10


@query(
    "q157b_bm25_batch_topk",
    oracle=f"""
        WITH qt(query_id, token) AS (VALUES {_BM25B_QT_SQL}),
        dl AS (SELECT doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
               FROM documents),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(dl) AS BIGINT) AS dl_sum FROM dl),
        tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
               FROM (SELECT doc_id,
                            unnest(string_split(text, ' ')) AS token
                     FROM documents)
               WHERE token IN ({_BM25B_TERMS_SQL})
               GROUP BY 1, 2),
        df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
               GROUP BY 1),
        contrib AS (
          SELECT qt.query_id, tf.doc_id,
                 CAST(FLOOR(
                   ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl * st.n) / st.dl_sum))
                   * 1000000 + 0.5) AS BIGINT) AS q
          FROM tf
          JOIN qt USING (token)
          JOIN df USING (token)
          JOIN dl USING (doc_id)
          CROSS JOIN st),
        s AS (SELECT query_id, doc_id, SUM(q) AS qs
              FROM contrib GROUP BY 1, 2)
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
               CAST(rnk AS BIGINT) AS rank, qs / 1000000.0 AS score
        FROM (SELECT query_id, doc_id, qs,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY qs DESC, doc_id) AS rnk
              FROM s)
        WHERE rnk <= {_BM25B_K}
    """,
    tags=("text", "retrieval", "llm", "slow"),
    # bench: the batched-retrieval perf point (q158 is NOT bench — its
    # oracle restates synthesis arithmetic, not an honest perf baseline)
    bench=True,
)
def q157b(spark: SparkSession, sf: str) -> DataFrame:
    """Batched BM25: top-10 per query for 24 simultaneous term-set
    queries, ONE corpus pass. The (query_id, token) relation is a tiny
    broadcast table; tf is computed once for the UNION of all query
    terms and materialized once (q157's checkpoint rationale — df is a
    second consumer of the same subtree); fanning a (doc_id, token) tf
    row out to the queries containing that token is a broadcast hash
    join, so adding queries to the batch adds NO corpus work — only
    contribution rows proportional to matches. Per-query top-k is
    row_number over (query_id) ordered by the integer quantized score —
    Catalyst's WindowGroupLimit pushes the k=10 cut below the final rank
    sort, so no per-query global sort and no driver collect.

    Same determinism discipline as q157: per-(query,doc,term)
    contributions quantized to int64 millionths before the per-(query,
    doc) sum; ranking on the integer sum with doc_id tie-break; float
    literals spelled identically in both engine texts."""
    (documents,) = load(spark, sf, "documents")
    qt = spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(_BM25B_QUERIES.items()) for t in ts],
        "query_id long, token string",
    )
    contrib = _bm25_contrib(documents, _BM25B_TERMS).join(
        F.broadcast(qt), "token"
    )
    qcol = _bm25_quantized_contrib()
    s = (
        contrib.select("query_id", "doc_id", qcol.alias("q"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("q").alias("_qs"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_qs"), "doc_id")
    return (
        s.select(
            "query_id",
            "doc_id",
            F.row_number().over(w).cast("long").alias("rank"),
            "_qs",
        )
        .filter(F.col("rank") <= _BM25B_K)
        .select(
            "query_id", "doc_id", "rank",
            (F.col("_qs") / 1000000.0).alias("score"),
        )
    )


# ------------------------------------------ Q169 hybrid retrieval (RRF)
_RRF_K = 60
_RRF_DEPTH = 20


@query(
    "q169_hybrid_rrf",
    oracle=f"""
        WITH dl AS (SELECT doc_id,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                    FROM documents),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(dl) AS BIGINT) AS dl_sum FROM dl),
        tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
               FROM (SELECT doc_id,
                            unnest(string_split(text, ' ')) AS token
                     FROM documents)
               WHERE token IN ({_BM25_TERMS_SQL})
               GROUP BY 1, 2),
        df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
               GROUP BY 1),
        contrib AS (
          SELECT tf.doc_id,
                 CAST(FLOOR(
                   ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl * st.n) / st.dl_sum))
                   * 1000000 + 0.5) AS BIGINT) AS q
          FROM tf
          JOIN df USING (token)
          JOIN dl USING (doc_id)
          CROSS JOIN st),
        bm_all AS (SELECT doc_id, SUM(q) AS qs FROM contrib GROUP BY doc_id),
        bm AS (SELECT doc_id,
                      ROW_NUMBER() OVER (ORDER BY qs DESC, doc_id) AS r
               FROM bm_all
               QUALIFY r <= {_RRF_DEPTH}),
        qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 0),
        cos AS (SELECT vec_id AS doc_id,
                       ROW_NUMBER() OVER (
                         ORDER BY ROUND(list_cosine_similarity(
                                    embedding::DOUBLE[], qv), 6) DESC,
                                  vec_id) AS r
                FROM embeddings, qv
                QUALIFY r <= {_RRF_DEPTH})
        SELECT doc_id,
               ROUND(COALESCE(1.0 / ({_RRF_K} + bm.r), 0)
                     + COALESCE(1.0 / ({_RRF_K} + cos.r), 0), 6) AS rrf
        FROM bm FULL OUTER JOIN cos USING (doc_id)
        ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    tags=("retrieval", "similarity", "text", "llm"),
)
def q169(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion — THE standard fusion
    of lexical and semantic rankings (rrf = Σ 1/(60 + rank), missing
    side contributes 0): q157's BM25 top-20 and q27's exact cosine
    top-20 full-outer-join on doc id, fused, global top-10. At sf0.1 the
    embedding table covers only part of the corpus, so the outer join's
    one-sided rows are exercised by real data, not a contrived case.

    Determinism: both rankings use the engines' shared tiebreaks
    (integer quantized BM25 sum / 6-dp-rounded cosine, then id), and the
    fused score is a sum of at most TWO identical doubles — IEEE
    addition of two operands is order-insensitive, so no quantization is
    needed beyond the per-source rules.

    Scale shape: each source produces its top-20 via TakeOrdered (never
    a global sort); rank assignment is a window over the 20 surviving
    rows (single tiny partition BY CONSTRUCTION — the depth, not the
    corpus, bounds it); the fusion join is 20x20."""
    (documents,) = load(spark, sf, "documents")
    (emb,) = load(spark, sf, "embeddings")
    # lexical side: q157's machinery, ranked to depth 20
    bm_top = (
        _bm25_contrib(documents, _BM25_TERMS)
        .select("doc_id", _bm25_quantized_contrib().alias("q"))
        .groupBy("doc_id")
        .agg(F.sum("q").alias("_qs"))
        .orderBy(F.desc("_qs"), "doc_id")
        .limit(_RRF_DEPTH)
    )
    w_bm = Window.orderBy(F.desc("_qs"), "doc_id")
    bm = bm_top.select(
        "doc_id", F.row_number().over(w_bm).alias("r_bm")
    )
    # semantic side: q27's exact cosine, ranked to depth 20
    qv = emb.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    cos_top = similarity.topk_cosine(emb, qv, k=_RRF_DEPTH)
    w_cos = Window.orderBy(F.desc("score"), "vec_id")
    cos = cos_top.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_cos).alias("r_cos"),
    )
    rrf = F.round(
        F.coalesce(1.0 / (_RRF_K + F.col("r_bm")), F.lit(0.0))
        + F.coalesce(1.0 / (_RRF_K + F.col("r_cos")), F.lit(0.0)),
        6,
    )
    return (
        bm.join(cos, "doc_id", "full_outer")
        .select("doc_id", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(10)
    )


# ------------------------------------------- Q170 semantic dedup (SemDeDup)
_SEMDEDUP_K = 8       # k-means cells (q81's deterministic first-k init)
_SEMDEDUP_THETA = 0.4  # 6-dp-rounded cosine at/above which a pair is a dup


@query(
    "q170_semdedup",
    oracle=f"""
        WITH c AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
                 embedding::DOUBLE[] AS cv
          FROM embeddings ORDER BY vec_id LIMIT {_SEMDEDUP_K}
        ),
        s AS (
          SELECT e.vec_id, c.cid,
                 list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS sim
          FROM embeddings e CROSS JOIN c
        ),
        a AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid) AS rn
            FROM s) WHERE rn = 1
        ),
        v AS (
          SELECT a.vec_id, a.cid, e.embedding::DOUBLE[] AS v
          FROM a JOIN embeddings e USING (vec_id)
        ),
        d AS (
          SELECT DISTINCT v2.cid, v2.vec_id
          FROM v v1 JOIN v v2
            ON v1.cid = v2.cid AND v1.vec_id < v2.vec_id
          WHERE ROUND(list_cosine_similarity(v1.v, v2.v), 6)
                    >= {_SEMDEDUP_THETA}
        ),
        t AS (SELECT cid, COUNT(*) AS n_vecs FROM a GROUP BY cid)
        SELECT CAST(t.cid AS BIGINT) AS cid,
               CAST(t.n_vecs AS BIGINT) AS n_vecs,
               CAST(COALESCE(dn.n, 0) AS BIGINT) AS n_dropped,
               CAST(t.n_vecs - COALESCE(dn.n, 0) AS BIGINT) AS n_kept
        FROM t LEFT JOIN (SELECT cid, COUNT(*) AS n FROM d GROUP BY cid) dn
            USING (cid)
        ORDER BY cid
    """,
    tags=("similarity", "dedup", "llm", "clustering", "slow"),
    bench=True,
)
def q170(spark: SparkSession, sf: str) -> DataFrame:
    """SEMANTIC dedup, SemDeDup-style (Abbas et al. 2023, public): the
    embedding-space complement of the lexical near-dup family — k-means
    cells bound the pairwise search (q81's zero-shuffle assignment:
    centroids are plan literals, the cell id is one codegen'd
    projection), then each cell's pairwise cosines score in ONE
    Arrow-batched numpy kernel (`similarity.semdedup_cell_stats` —
    the shape the SemDeDup paper itself runs) and every vector with a
    >= theta neighbor of SMALLER id is dropped — dropped neighbors
    included, so NOT transitive keep-first greedy (an A-B, B-C chain
    with A-C < theta drops both B and C); deterministic, order-free,
    and exactly what the oracle states (operators/similarity.py:
    semdedup_drops documents the delta).
    Output: per-cell (n_vecs, n_dropped, n_kept), emitted BY the
    kernel — the rollup is fused, so the whole query is one cell-key
    exchange plus a k-row sum (a cid equi-join pays an expression-eval
    constant per pair ELEMENT in the fold cosine — 7.8 s at sf0.1 vs
    ~1 s fused, for the same pair count; the q179b unroll-vs-kernel
    lesson).

    Determinism: pair membership tests the 6-dp-ROUNDED cosine (the
    q58 idiom — the round absorbs summation-order low bits, numpy here
    vs DuckDB's native kernel, the same cross-engine contract q27/q58
    already stand on; rounding is floor(x*1e6+0.5), HALF_UP on the
    non-negative thetas dedup uses); assignment parity with the oracle
    is q81's established contract.

    Scale shape: the whole point of SemDeDup is that cells bound the
    quadratic — kernel pair work is sum of n_c^2 over cells, never
    N^2, and the only corpus shuffle is the cell-key exchange
    (plan-asserted: FlatMapGroupsInPandas, no join at all). The
    fixture uses k=8 to stay inside q81's oracle-able deterministic
    init; at 100 TB k scales with N (cells of ~1k vectors), which ALSO
    spreads the exchange across k partitions — and a degenerate hot
    cell (the all-one-cell geometry a botched embedder produces) gets
    the ``max_cell`` sub-split ceiling, q159's max-bucket precedent
    (adversarially tested, OFF here so the oracle semantics
    stay exact — with the kernel it bounds task MEMORY as well as
    pair work)."""
    from ..operators import kmeans

    (emb,) = load(spark, sf, "embeddings")
    cents = kmeans.initial_centroids(emb, _SEMDEDUP_K)
    a = kmeans.assign(emb, cents).select(
        "vec_id", "cid", similarity.as_double(F.col("embedding")).alias("v")
    )
    stats = similarity.semdedup_cell_stats(
        a, theta=_SEMDEDUP_THETA, id_col="vec_id", vec_col="v", max_cell=None
    )
    return (
        stats.select(
            "cid",
            "n_vecs",
            "n_dropped",
            (F.col("n_vecs") - F.col("n_dropped")).cast("long")
            .alias("n_kept"),
        )
        .orderBy("cid")
    )


# -------------------------------- Q169b BATCH hybrid retrieval (RRF x 24)
_RRF_BATCH_NQ = 24   # query vectors: embeddings vec_id < 24, one per
#                      q157b lexical query (query_id == vec_id)
_RRF_BATCH_K = 10


@query(
    "q169b_hybrid_rrf_batch",
    oracle=f"""
        WITH qt(query_id, token) AS (VALUES {_BM25B_QT_SQL}),
        dl AS (SELECT doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
               FROM documents),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(dl) AS BIGINT) AS dl_sum FROM dl),
        tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
               FROM (SELECT doc_id,
                            unnest(string_split(text, ' ')) AS token
                     FROM documents)
               WHERE token IN ({_BM25B_TERMS_SQL})
               GROUP BY 1, 2),
        df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
               GROUP BY 1),
        contrib AS (
          SELECT qt.query_id, tf.doc_id,
                 CAST(FLOOR(
                   ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl * st.n) / st.dl_sum))
                   * 1000000 + 0.5) AS BIGINT) AS q
          FROM tf
          JOIN qt USING (token)
          JOIN df USING (token)
          JOIN dl USING (doc_id)
          CROSS JOIN st),
        s AS (SELECT query_id, doc_id, SUM(q) AS qs
              FROM contrib GROUP BY 1, 2),
        bm AS (SELECT query_id, doc_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY qs DESC, doc_id) AS r
               FROM s
               QUALIFY r <= {_BM25B_K}),
        cos AS (SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
                       ROW_NUMBER() OVER (
                         PARTITION BY q.vec_id
                         ORDER BY ROUND(list_cosine_similarity(
                                    e.embedding::DOUBLE[],
                                    q.embedding::DOUBLE[]), 6) DESC,
                                  e.vec_id) AS r
                FROM embeddings e
                JOIN embeddings q
                  ON q.vec_id < {_RRF_BATCH_NQ} AND e.vec_id <> q.vec_id
                QUALIFY r <= {_RRF_BATCH_K}),
        f AS (
          SELECT query_id, doc_id,
                 ROUND(COALESCE(1.0 / ({_RRF_K} + bm.r), 0)
                       + COALESCE(1.0 / ({_RRF_K} + cos.r), 0), 6) AS rrf
          FROM bm FULL OUTER JOIN cos USING (query_id, doc_id))
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
               CAST(rnk AS BIGINT) AS rank, rrf
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY rrf DESC, doc_id)
                            AS rnk
              FROM f)
        WHERE rnk <= {_RRF_BATCH_K}
    """,
    tags=("retrieval", "similarity", "text", "llm", "slow"),
)
def q169b(spark: SparkSession, sf: str) -> DataFrame:
    """BATCH hybrid retrieval — the production fusion q169 demonstrates
    for one query, run for the whole 24-query batch in one plan:
    q157b's batched lexical ranks (24 queries, ONE corpus pass,
    broadcast (query_id, token) fan-out) full-outer-joined per
    (query_id, doc_id) with per-query k-NN semantic ranks (q58's
    broadcast-batch `knn_join` — 24 query vectors, one scan of the
    vector table; the q159 banded regime swaps in when the batch
    cannot broadcast), RRF-fused (Σ 1/(60 + rank), absent side
    contributes 0), per-query top-10.

    Determinism: lexical ranks order by the int64-quantized BM25 sum,
    semantic ranks by the 6-dp-rounded cosine, both with id tiebreaks;
    the fused score is one IEEE addition of two operands + round —
    order-insensitive, no further quantization needed.

    Scale shape: corpus scan count stays CONSTANT in batch size on both
    sides (that is the whole point of batching); every rank is a
    per-query window over at most depth-k rows surviving
    WindowGroupLimit-guarded rank filters — local sorts only, never a
    global sort of the corpus; the fusion join is (24 x 10) vs
    (24 x 10) rows. At sf0.1 the embedding table covers only part of
    the doc_id space, so one-sided outer rows are exercised by real
    data on both sides."""
    lex = (
        REGISTRY["q157b_bm25_batch_topk"].fn(spark, sf)
        .select("query_id", "doc_id", F.col("rank").alias("r_bm"))
    )
    (emb,) = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < _RRF_BATCH_NQ).select(
        F.col("vec_id").alias("qid"),
        similarity.as_double(F.col("embedding")).alias("qv"),
    )
    sem = similarity.knn_join(emb, queries, k=_RRF_BATCH_K).select(
        F.col("qid").alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        F.col("rn").alias("r_cos"),
    )
    rrf = F.round(
        F.coalesce(1.0 / (_RRF_K + F.col("r_bm")), F.lit(0.0))
        + F.coalesce(1.0 / (_RRF_K + F.col("r_cos")), F.lit(0.0)),
        6,
    )
    fused = (
        lex.join(sem, ["query_id", "doc_id"], "full_outer")
        .select("query_id", "doc_id", rrf.alias("rrf"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.select(
            "query_id", "doc_id",
            F.row_number().over(w).cast("long").alias("rank"), "rrf",
        )
        .filter(F.col("rank") <= _RRF_BATCH_K)
    )


# ------------------------------------------- Q158 perceptual image dedup
def _synth_group_bmps(df: DataFrame) -> DataFrame:
    """The q158/q160-family image fixture: groups of 3 doc_ids share a
    pseudo-random 32x32 base pattern, each member rendered through its
    per-doc brightness/contrast transform — ONE definition shared by
    q158, the streaming twin q165, and scripts/stress.py so the
    synthesis arithmetic the oracles restate can never fork."""
    import numpy as np
    import pandas as pd

    def make_bmps(it):
        for pdf in it:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                g = d // 3
                rng = np.random.RandomState((g * 2654435761) % (2**31))
                base = rng.randint(0, 97, (32, 32))
                img = base * (1 + d % 2) + 10 * (d % 5)
                blobs.append(
                    multimodal.encode_bmp_pixels(
                        32, 32, bytes(img.astype(np.uint8).ravel())
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return multimodal.widen_partitions(df.select("doc_id")).mapInPandas(
        make_bmps, "doc_id long, blob binary"
    )


@query(
    "q158_phash_image_neardup",
    oracle="""
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS BIGINT) AS hamming
        FROM documents a JOIN documents b
          ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
    """,
    tags=("multimodal", "dedup", "llm", "slow"),
)
def q158(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual image near-dup (pHash) — the canonical image-dedup
    operator a multimodal training pipeline needs, tying the real decode
    kernels to the Hamming-bucket dedup machinery end-to-end:

      synthesize BMP -> decode pixels (real kernel) -> 32x32 DCT pHash
      -> 16-bit-chunk pigeonhole equi-join -> exact Hamming verify

    Fixture synthesis (q40-family style, oracle restates the arithmetic):
    docs come in groups of 3 (group = doc_id // 3); each group has a
    pseudo-random 32x32 base pattern (values 0..96), and each member
    renders it through a per-doc brightness/contrast transform
    (scale 1+(doc_id%2), offset 10*(doc_id%5) — range-safe, max 232).
    pHash drops the DC term and thresholds AC coefficients at their
    median, so it is EXACTLY invariant to that transform: same-group
    pairs hash identically (hamming 0) while cross-group patterns are
    independent — measured minimum cross-group distance over ALL pairs
    sharing any 16-bit chunk is 18 at sf0.1, far beyond the <=3 verify
    cut. The oracle can therefore state the exact output: every
    same-group pair at hamming 0.

    Scale shape: blobs never leave the executors (encode, decode, and
    hash are one Arrow-batched pipeline per partition); the only shuffle
    is the (chunk_id, chunk_value) candidate equi-join on 8-byte keys —
    never a cross join (plan-asserted)."""
    (documents,) = load(spark, sf, "documents")
    hashed = multimodal.phash_blobs(_synth_group_bmps(documents))
    return dedup.hamming_neardup_pairs(
        hashed, max_hamming=3, hash_col="phash"
    )


@query(
    "q158b_image_dup_clusters",
    oracle="""
        SELECT a.doc_id AS node, CAST(3 * (a.doc_id // 3) AS BIGINT) AS label
        FROM documents a
        WHERE EXISTS (SELECT 1 FROM documents b
                      WHERE b.doc_id // 3 = a.doc_id // 3
                        AND b.doc_id <> a.doc_id)
        ORDER BY node
    """,
    tags=("multimodal", "dedup", "llm", "iterative", "slow"),
)
def q158b(spark: SparkSession, sf: str) -> DataFrame:
    """Image duplicate-CLUSTER resolution: q158's pHash near-dup pairs
    -> connected components (iterative min-label propagation,
    operators/cluster.py) -> (node, min-id label) per clustered image —
    the q56 step for the image modality, so a multimodal pipeline keeps
    ONE representative per perceptual-duplicate group. Because q158's
    pair set is exactly the same-group pairs (its oracle's proof), the
    expected clusters are closed-form: every member of a >=2-member
    doc_id//3 group labeled by the group's smallest id — which is what
    the oracle states, and only a correct decode -> pHash -> pair ->
    closure chain reproduces."""
    from ..operators import cluster

    pairs = REGISTRY["q158_phash_image_neardup"].fn(spark, sf)
    comps = cluster.connected_components(pairs, src="d1", dst="d2")
    return comps.orderBy("node")


def _synth_group_images_multicodec(df: DataFrame) -> DataFrame:
    """The q158c fixture: groups of 3 doc_ids share a pseudo-random 7x7
    block pattern (even values 28..106), each member rendered through a
    DIFFERENT codec — member doc_id%3==0 as BMP, ==1 as PNG, ==2 as
    baseline JPEG — after its per-doc brightness/contrast transform
    (scale 1+(doc_id%2), offset 10*(doc_id%5); offsets even and max
    value 106*2+40=252, so the JPEG stays quant-exact per
    `encode_jpeg`'s even-value contract). Images are 56x56 (7x7 grid of
    8x8 blocks): the 8-aligned grid of a 32x32 fixture would park 15
    pHash DCT coefficients (u=4 or v=4) at exact zero — noise bits under
    the transform — while 56->32 nearest-index downsampling breaks the
    block/DCT-node alignment (measured: 0 within-group hash mismatches
    and cross-group min Hamming 10 over all 1,667 sf0.1 groups)."""
    import numpy as np
    import pandas as pd

    def make_blobs(it):
        for pdf in it:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                g = d // 3
                rng = np.random.RandomState((g * 2654435761 + 101) % (2**31))
                base = 28 + 2 * rng.randint(0, 40, (7, 7))
                vals = base * (1 + d % 2) + 10 * (d % 5)
                img = np.kron(vals, np.ones((8, 8), dtype=np.int64))
                m = d % 3
                if m == 0:
                    blob = multimodal.encode_bmp_pixels(
                        56, 56, bytes(img.astype(np.uint8).ravel())
                    )
                elif m == 1:
                    blob = multimodal.encode_png(
                        56, 56, bytes(img.astype(np.uint8).ravel()),
                        n_channels=1,
                    )
                else:
                    blob = multimodal.encode_jpeg(
                        56, 56, [int(v) for v in vals.ravel()]
                    )
                blobs.append(blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return multimodal.widen_partitions(df.select("doc_id")).mapInPandas(
        make_blobs, "doc_id long, blob binary"
    )


@query(
    "q158c_phash_cross_codec",
    oracle="""
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS BIGINT) AS hamming
        FROM documents a JOIN documents b
          ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
    """,
    tags=("multimodal", "dedup", "llm", "closed_form_oracle"),
    bench=True,
)
def q158c(spark: SparkSession, sf: str) -> DataFrame:
    """CROSS-CODEC perceptual image near-dup: the q158 chain with each
    duplicate group rendered through three DIFFERENT real codecs (BMP /
    PNG / baseline JPEG — `_synth_group_images_multicodec`), exercising
    the magic-byte dispatch of `multimodal.decode_image_pixels` and the
    PNG/JPEG pixel-reconstruction kernels end-to-end. This is the shape
    a real image corpus has — the same photo crawled as a PNG here and
    a JPEG there — and what makes pHash-based dedup an actual operator
    rather than a byte-hash: lossless codecs reproduce identical pixels
    and the quant-exact JPEG construction reproduces them through the
    lossy pipeline, so every same-group pair lands at Hamming 0
    regardless of codec, which is exactly what the oracle states.

    Scale shape identical to q158: encode, decode, and hash are one
    Arrow-batched projection per partition (blobs never shuffle); the
    only exchange is the 8-byte (chunk_id, chunk_value) candidate
    equi-join — never a cross join."""
    (documents,) = load(spark, sf, "documents")
    hashed = multimodal.phash_blobs(_synth_group_images_multicodec(documents))
    return dedup.hamming_neardup_pairs(
        hashed, max_hamming=3, hash_col="phash"
    )


def _synth_group_images_quadcodec(df: DataFrame) -> DataFrame:
    """q158d fixture: groups of FOUR docs (doc_id // 4) render one
    pseudo-random 56x56 pattern through four DIFFERENT real codecs —
    BMP (d%4==0), PNG (1), quant-exact baseline JPEG (2), and GIF with
    real LZW compression (3, `encode_gif_pixels`) — at
    per-doc brightness/contrast (pHash exactly invariant to both). The
    56x56 geometry and the JPEG even-value/quant-16 exactness contract
    are q158c's (see `_synth_group_images_multicodec`); the group seed
    salt differs so the two fixtures' patterns are independent."""
    import numpy as np
    import pandas as pd

    def make_blobs(it):
        for pdf in it:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                g = d // 4
                rng = np.random.RandomState((g * 2654435761 + 211) % (2**31))
                base = 28 + 2 * rng.randint(0, 40, (7, 7))
                vals = base * (1 + d % 2) + 10 * (d % 5)
                img = np.kron(vals, np.ones((8, 8), dtype=np.int64))
                m = d % 4
                if m == 0:
                    blob = multimodal.encode_bmp_pixels(
                        56, 56, bytes(img.astype(np.uint8).ravel())
                    )
                elif m == 1:
                    blob = multimodal.encode_png(
                        56, 56, bytes(img.astype(np.uint8).ravel()),
                        n_channels=1,
                    )
                elif m == 2:
                    blob = multimodal.encode_jpeg(
                        56, 56, [int(v) for v in vals.ravel()]
                    )
                else:
                    # alternate interlaced storage so the four-pass
                    # de-interlace path runs on half the GIF legs
                    blob = multimodal.encode_gif_pixels(
                        56, 56, bytes(img.astype(np.uint8).ravel()),
                        interlace=g % 2 == 1,
                    )
                blobs.append(blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return multimodal.widen_partitions(df.select("doc_id")).mapInPandas(
        make_blobs, "doc_id long, blob binary"
    )


@query(
    "q158d_phash_quad_codec",
    oracle="""
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS BIGINT) AS hamming
        FROM documents a JOIN documents b
          ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id
    """,
    tags=("multimodal", "dedup", "llm"),
)
def q158d(spark: SparkSession, sf: str) -> DataFrame:
    """FOUR-codec perceptual image near-dup: q158c's
    cross-codec chain extended with the GIF leg — each duplicate group
    renders the same pattern as a BMP, a PNG, a quant-exact baseline
    JPEG, and a REAL-LZW GIF (half of them interlaced, exercising the
    four-pass de-interlace), at per-doc brightness/contrast. GIF is the
    one common crawled format that was still outside the real-decode
    envelope and is pure-stdlib feasible (unlike the inter-frame video
    codecs); being palette-lossless it must land every same-group pair
    at Hamming 0 through the full parse + LZW + palette + composition
    chain — which is exactly what the oracle states (measured: 0
    within-group hash mismatches and cross-group min Hamming 12 over
    all 1,250 sf0.1 groups).

    Scale shape identical to q158/q158c: encode, decode, and hash are
    one Arrow-batched projection per partition (blobs never shuffle);
    the only exchange is the 8-byte (chunk_id, chunk_value) candidate
    equi-join — never a cross join."""
    (documents,) = load(spark, sf, "documents")
    hashed = multimodal.phash_blobs(_synth_group_images_quadcodec(documents))
    return dedup.hamming_neardup_pairs(
        hashed, max_hamming=3, hash_col="phash"
    )


# -------------------------- Q171 robust-ingest media quarantine
_Q171_REASON = (
    "undecodable: not a well-formed BMP / PNG / JPEG / GIF image"
)


@query(
    "q171_media_quarantine",
    oracle=f"""
        WITH st AS (SELECT doc_id, doc_id % 7 = 3 AS bad, doc_id // 3 AS g
                    FROM documents),
        good AS (SELECT g, COUNT(*) AS n FROM st WHERE NOT bad GROUP BY g)
        SELECT s.doc_id,
               CASE WHEN s.bad THEN 'quarantined' ELSE 'ok' END AS status,
               CASE WHEN s.bad THEN '{_Q171_REASON}' END AS reason,
               CAST(CASE WHEN s.bad THEN 0 ELSE gd.n - 1 END AS BIGINT)
                   AS n_dups
        FROM st s LEFT JOIN good gd USING (g)
        ORDER BY s.doc_id
    """,
    tags=("multimodal", "dedup", "llm", "robustness", "slow"),
)
def q171(spark: SparkSession, sf: str) -> DataFrame:
    """ROBUST-INGEST media dedup — the quarantine-not-kill deployment
    shape of the q158 chain on a corpus with corrupted payloads (the
    reality of any crawled image set): every doc_id % 7 == 3 blob is
    replaced with garbage bytes AFTER synthesis, `phash_blobs` runs with
    ``strict=False`` (NULL hash + reason column for undecodable rows —
    the kernels' totality contract, never an exception), the Hamming
    near-dup join runs over the surviving clean rows only, and the
    output is a per-document ingest report: status ok/quarantined, the
    quarantine reason, and the number of near-dup partners found.

    The oracle restates the whole pipeline arithmetically: quarantined
    rows are exactly the corrupted ones (clean rows are byte-identical
    to strict mode, so the q158 fixture invariant holds — same-group
    pairs at Hamming 0, nothing cross-group within the <=3 cut), hence
    a clean doc's n_dups is (clean members of its group) - 1 and a
    quarantined doc's is 0. That the engine reproduces this from the
    garbage-injected blobs is the evidence that corruption neither
    kills the job NOR perturbs clean-row results.

    Scale shape identical to q158 (one Arrow-batched projection, 8-byte
    chunk equi-join); the quarantine branch adds no exchange — status
    and reason ride the same mapInPandas projection."""
    (documents,) = load(spark, sf, "documents")
    blobs = _synth_group_bmps(documents).withColumn(
        "blob",
        F.when(F.col("doc_id") % 7 == 3, F.lit(b"\x00garbage-not-an-image"))
        .otherwise(F.col("blob")),
    )
    # The decode->pHash projection has FIVE consumers downstream (both
    # sides of the Hamming join, the pairs subtree twice via the d1/d2
    # union, and the final report join) — unlike the cheap codegen
    # projections the recompute-per-consumer policy (q170, SCALE.md)
    # tolerates, the Python-side decode dominates; materialize once.
    hashed = materialize_once(multimodal.phash_blobs(blobs, strict=False))
    pairs = dedup.hamming_neardup_pairs(
        hashed.filter(F.col("phash").isNotNull()),
        max_hamming=3,
        hash_col="phash",
    )
    n_dups = (
        pairs.select(F.col("d1").alias("doc_id"))
        .unionAll(pairs.select(F.col("d2").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dups"))
    )
    return (
        hashed.join(n_dups, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("phash").isNull(), F.lit("quarantined"))
            .otherwise(F.lit("ok"))
            .alias("status"),
            "reason",
            F.coalesce(F.col("n_dups"), F.lit(0)).cast("long")
            .alias("n_dups"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------- Q160 audio fingerprint dedup
@query(
    "q160_audio_fingerprint_neardup",
    oracle="""
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS BIGINT) AS hamming
        FROM documents a JOIN documents b
          ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
    """,
    tags=("multimodal", "dedup", "llm"),
)
def q160(spark: SparkSession, sf: str) -> DataFrame:
    """Audio near-dup via energy-difference fingerprinting — q158's
    pattern for the audio modality, over the REAL PCM WAV decode path:

      synthesize 16-bit WAV -> decode samples (real kernel) -> 64-frame
      energy AFP -> 16-bit-chunk pigeonhole equi-join -> Hamming verify

    Fixture synthesis: groups of 3 docs share a pseudo-random 2048-sample
    pattern; each member renders it at gain 1+(doc_id%3) (range-safe:
    |base| < 4096, so max 12288 < 2^15). The AFP compares ADJACENT frame
    energies, and int16 energies are exact in float64, so positive gain
    leaves every comparison EXACTLY unchanged: same-group clips hash
    identically (hamming 0) while cross-group patterns are independent —
    measured minimum cross-group distance over all chunk-sharing
    candidates is 12, far beyond the <=3 cut. The oracle states the
    closed-form pair set; only a correct sample decode + energy chain
    reproduces it. Blobs never leave the executors; the only shuffle is
    the 8-byte chunk-key candidate join."""
    import numpy as np
    import pandas as pd

    (documents,) = load(spark, sf, "documents")

    def make_wavs(it):
        for pdf in it:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                g = d // 3
                rng = np.random.RandomState((g * 2654435761 + 17) % (2**31))
                base = rng.randint(-4096, 4096, 2048)
                blobs.append(
                    multimodal.encode_wav_samples(base * (1 + d % 3))
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = multimodal.widen_partitions(documents.select("doc_id")).mapInPandas(
        make_wavs, "doc_id long, blob binary"
    )
    hashed = multimodal.afp_blobs(blobs)
    return dedup.hamming_neardup_pairs(
        hashed, max_hamming=3, hash_col="afp"
    )


# --------------------------------- Q160b cross-codec audio dedup (FLAC)
def _synth_group_clips_dualcodec(df: DataFrame) -> DataFrame:
    """q160b/q160c fixture (one home): groups of 3 docs share one
    pseudo-random 2100-sample pattern; member 0 renders 16-bit WAV at
    gain 1, members 1-2 render multi-frame FLAC (block_size=512, ragged
    52-sample last block) at gains 2 and 3 — range-safe (|base| < 4096,
    max 12288 < 2^15) and group-constant under the energy AFP."""
    import numpy as np
    import pandas as pd

    def make_clips(it):
        for pdf in it:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                g = d // 3
                rng = np.random.RandomState((g * 2654435761 + 29) % (2**31))
                base = rng.randint(-4096, 4096, 2100)
                scaled = (base * (1 + d % 3)).astype(np.int16)
                if d % 3 == 0:
                    blobs.append(multimodal.encode_wav_samples(scaled))
                else:
                    blobs.append(
                        multimodal.encode_flac_samples(
                            scaled, block_size=512
                        )
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return multimodal.widen_partitions(df.select("doc_id")).mapInPandas(
        make_clips, "doc_id long, blob binary"
    )




@query(
    "q160b_audio_cross_codec",
    oracle="""
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS BIGINT) AS hamming
        FROM documents a JOIN documents b
          ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
    """,
    tags=("multimodal", "dedup", "llm"),
)
def q160b(spark: SparkSession, sf: str) -> DataFrame:
    """CROSS-CODEC audio near-dup — q158c's shape for the
    audio modality: each duplicate group renders ONE pseudo-random
    2100-sample pattern through TWO different real codecs, 16-bit PCM
    WAV (member 0, gain 1) and FLAC (members 1-2, gains 2 and 3;
    `encode_flac_samples` at block_size=512, so the decode walks FOUR
    Rice-coded frames plus a ragged 52-sample last block, CRC-8/16 and
    MD5 verified per clip). FLAC is lossless, so
    `decode_audio_samples`' magic-byte dispatch reproduces the exact
    int16 samples either way, and the energy-difference AFP's gain
    invariance (adjacent-energy comparisons, exact int arithmetic)
    lands every same-group pair at Hamming 0 — the closed-form pair
    set the oracle states; only a correct FLAC frame walk + predictor
    reconstruction + energy chain reproduces it. Scale shape identical
    to q160: encode/decode/hash are one Arrow-batched projection,
    blobs never shuffle, the only exchange is the 8-byte chunk-key
    candidate equi-join. Fixture synthesis shared with the streaming
    twin q160c (`_synth_group_clips_dualcodec`, one home)."""
    (documents,) = load(spark, sf, "documents")
    hashed = multimodal.afp_blobs(_synth_group_clips_dualcodec(documents))
    return dedup.hamming_neardup_pairs(
        hashed, max_hamming=3, hash_col="afp"
    )


# ------------------------------------ Q174 MJPEG video frame-pixel dedup
@query(
    "q174_video_mjpeg_phash_dedup",
    oracle="""
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS BIGINT) AS hamming
        FROM documents a JOIN documents b
          ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
    """,
    tags=("multimodal", "dedup", "llm", "closed_form_oracle", "slow"),
    bench=True,
)
def q174(spark: SparkSession, sf: str) -> DataFrame:
    """VIDEO perceptual near-dup over REAL frame-PIXEL decode — the
    q158 chain one modality up, for the Motion-JPEG family (every
    sample a standalone JPEG: the webcam/capture/archival format whose
    frame pixels need no codec library):

      synthesize MJPEG MP4 (real JPEG frames in a real ISO-BMFF
      container, stsd codec b'jpeg') -> walk the stts/stsz/stsc/stco
      sample tables -> SELECTIVELY decode the middle frame only (seek +
      one huffman+IDCT JPEG pixel decode per video, cost independent of
      video length) -> luma -> pHash -> Hamming chunk equi-join.

    Fixture (`multimodal.synth_mjpeg_blobs`, the ONE arithmetic home):
    group g = doc_id//3 shares a group-determined video (n_frames =
    3 + g%3, frame f's 56x56 quant-exact blocks vary with f — the
    middle-frame pick is load-bearing, a wrong frame index changes the
    hash). Same-group videos hash identically (hamming 0); the oracle
    states the closed-form pair set, and only a correct container walk
    + frame seek + full JPEG pixel decode reproduces it. Inter-frame
    codecs (H.264/VP9/AV1) remain the honest environment-blocked stub.

    Scale shape identical to q158: one Arrow-batched projection (blobs
    never leave the executors), 8-byte chunk-key candidate join, no
    cross join."""
    (documents,) = load(spark, sf, "documents")
    videos = multimodal.synth_mjpeg_blobs(documents)
    hashed = multimodal.mjpeg_phash_blobs(videos)
    return dedup.hamming_neardup_pairs(
        hashed, max_hamming=3, hash_col="vhash"
    )


# ------------------------------------------------- text statistics / quality
@query(
    "q34_text_stats",
    oracle=f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_m,
               ROUND(length(text) * 1.0 / len(string_split(text, ' ')), 6)
                   AS chars_per_token,
               ROUND(len(list_filter(string_split(text, ' '),
                         t -> list_contains({_sql_list(ALL_STOP)}, t)))
                     * 1.0 / len(string_split(text, ' ')), 6) AS stop_ratio,
               ROUND(least(1.0, len(string_split(text, ' ')) / 100.0) *
                     (1 - len(list_filter(string_split(text, ' '),
                          t -> list_contains({_sql_list(ALL_STOP)}, t)))
                        * 1.0 / len(string_split(text, ' '))), 6) AS quality
        FROM documents
    """,
    tags=("text", "llm"),
)
def q34(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document quality metrics: token count, char count, chars/token,
    stopword density, composite quality score. Pure codegen expressions —
    no shuffle, linear scan."""
    (documents,) = load(spark, sf, "documents")
    toks = text.tokens("text")
    n = F.size(toks)
    hits = text.stopword_hits(toks, ALL_STOP)
    return documents.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_m"),
        F.round(F.length("text") * F.lit(1.0) / n, 6).alias("chars_per_token"),
        F.round(hits * F.lit(1.0) / n, 6).alias("stop_ratio"),
        text.quality_score("text").alias("quality"),
    )


@query(
    "q35_langid",
    oracle=f"""
        WITH s AS ({_langid_scores_sql()})
        SELECT doc_id, {_LANGID_CASE_SQL} AS lang_pred
        FROM s
    """,
    tags=("text", "llm"),
)
def q35(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-heuristic language ID (deterministic argmax, fixed tie
    order en>es>de>fr)."""
    (documents,) = load(spark, sf, "documents")
    return documents.select(
        "doc_id", text.lang_id(text.tokens("text")).alias("lang_pred")
    )


@query(
    "q36_fingerprint",
    oracle=f"""
        SELECT doc_id, {text.fingerprint_sql('text')} AS fp
        FROM documents
    """,
    tags=("text", "llm"),
)
def q36(spark: SparkSession, sf: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (dedup key for
    exact-content matching independent of doc_id)."""
    (documents,) = load(spark, sf, "documents")
    return documents.select("doc_id", text.fingerprint("text").alias("fp"))


# --------------------------------------- embedding near-dup (top pairs)
@query(
    "q37_embedding_pairs",
    oracle="""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                   FROM embeddings)
        SELECT v1, v2, score FROM (
            SELECT a.vec_id AS v1, b.vec_id AS v2,
                   ROUND(list_cosine_similarity(a.v, b.v), 6) AS score
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        ) ORDER BY score DESC, v1, v2 LIMIT 50
    """,
    tags=("dedup", "similarity", "llm"),
)
def q37(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup: top-50 most similar pairs, blocked on
    `label` (the blocking key bounds pair count — at 100 TB the block would
    be an LSH bucket instead, same join shape)."""
    (emb,) = load(spark, sf, "embeddings")
    e = emb.select(
        "vec_id", "label", similarity.as_double(F.col("embedding")).alias("v")
    )
    # Probe side fanned out over all cores (single-row-group input would
    # score every pair on one task); build side broadcast WHEN SMALL — a
    # label-keyed SHUFFLE join would cap parallelism at the label count
    # and concentrate skewed labels, so the broadcast is the right shape,
    # but the hint is gated on Catalyst's size estimate
    # (plans.broadcast_if_small) so past broadcastable sizes the join
    # degrades to shuffle instead of OOMing the driver. At 100 TB the
    # broadcast side is the LSH/IVF bucket slice, same join shape.
    from kstreamjs_spark.plans import broadcast_if_small

    a = dedup.spread(e, "vec_id").select(
        F.col("vec_id").alias("v1"), F.col("label").alias("lbl"), F.col("v").alias("va")
    )
    b = e.select(
        F.col("vec_id").alias("v2"), F.col("label").alias("lbl2"), F.col("v").alias("vb")
    )
    pairs = a.join(
        broadcast_if_small(b),
        (F.col("lbl") == F.col("lbl2")) & (F.col("v1") < F.col("v2")),
    )
    score = F.round(similarity.cosine(F.col("va"), F.col("vb")), 6)
    return (
        pairs.select("v1", "v2", score.alias("score"))
        .orderBy(F.col("score").desc(), "v1", "v2")
        .limit(50)
    )


# --------------------------------------------------- multimodal plumbing
@query(
    "q40_multimodal_decode",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
               CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
               CAST(octet_length(encode(text)) % 480 AS BIGINT) AS height,
               CAST(3 AS BIGINT) AS channels
        FROM documents
    """,
    tags=("multimodal", "llm"),
)
def q40(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal column pipeline through the REAL ingestion reader:
    documents exported once as .bin files (test fixture), read back via
    spark.read.format('binaryFile') -> (doc_id, blob), then mapInPandas
    'decode' to typed metadata. The decode kernel decodes uncompressed
    BMP for real (multimodal.decode_bmp — header arithmetic, no
    codec library, round-trip-tested); non-image payloads like these text
    blobs take the deterministic stub fallback, which is what the oracle
    states (text bytes can never alias into the BMP path: the validated
    file-size field alone rules them out). The binaryFile reader,
    Arrow-batched plumbing, and schema are real and proven against the
    oracle (blob bytes == utf-8 text bytes, so the oracle stays on
    documents)."""
    import os
    import tempfile

    (documents,) = load(spark, sf, "documents")
    # The cache key includes a cheap content signature, not just the sf
    # basename: regenerated testdata (or a different data root with the
    # same leaf name) must not serve stale blobs from a previous corpus.
    sig = documents.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).alias("c"),
    ).collect()[0]
    fixture = os.path.join(
        tempfile.gettempdir(),
        "kstreamjs_blobs_{}_{}_{}".format(
            os.path.basename(os.path.normpath(sf)), sig["n"], sig["c"]
        ),
    )
    multimodal.write_blob_fixture(documents, fixture)
    blobs = multimodal.read_blob_files(spark, fixture)
    return multimodal.decode_blobs(blobs)


@query(
    "q40c_audio_decode",
    oracle="""
        SELECT doc_id,
               CAST(44 + least(n_chars, 2000) * (1 + abs(doc_id) % 2) * 2
                    AS BIGINT) AS byte_len,
               CAST(1 + abs(doc_id) % 2 AS BIGINT) AS n_channels,
               CAST(16000 AS BIGINT) AS sample_rate,
               CAST(least(n_chars, 2000) AS BIGINT) AS n_samples
        FROM documents
    """,
    tags=("multimodal", "llm"),
)
def q40c(spark: SparkSession, sf: str) -> DataFrame:
    """Audio-column pipeline with the REAL decode kernel: per-document
    PCM WAV payloads (synthesized in the encode stage — parameters
    derived from document fields: n_samples = min(n_chars, 2000),
    channels = 1 + doc_id%2, 16 kHz) decoded back to typed metadata by
    the pure-Python RIFF/WAVE chunk-walk (multimodal.decode_wav). The
    oracle restates the parameter derivation plus the fixed 44-byte
    PCM header arithmetic — so a header-layout or chunk-walk bug
    hash-mismatches. Both stages are Arrow-batched mapInPandas; blobs
    never leave the executors."""
    import pandas as pd

    (documents,) = load(spark, sf, "documents")

    def make_wavs(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob": [
                        # abs() on BOTH sides (engine + oracle): Python %
                        # is sign-following toward +inf, DuckDB % toward
                        # zero — abs removes the divergence for any
                        # future negative doc_id (identical on current
                        # non-negative data, so the r7 driver row stands).
                        multimodal.encode_wav(
                            min(int(n), 2000), 16000, 1 + abs(int(d)) % 2
                        )
                        for d, n in zip(pdf["doc_id"], pdf["n_chars"])
                    ],
                }
            )

    blobs = multimodal.widen_partitions(documents.select("doc_id", "n_chars")).mapInPandas(
        make_wavs, "doc_id long, blob binary"
    )
    return multimodal.decode_audio_blobs(blobs)


@query(
    "q40d_image_png_decode",
    oracle="""
        SELECT doc_id,
               CAST(1 + n_chars % 64 AS BIGINT) AS width,
               CAST(1 + abs(doc_id) % 56 AS BIGINT) AS height,
               CAST(1 + 2 * (abs(doc_id) % 2) AS BIGINT) AS n_channels,
               CAST(8 AS BIGINT) AS bit_depth,
               CAST((1 + n_chars % 64) * (1 + 2 * (abs(doc_id) % 2))
                    * ((1 + abs(doc_id) % 56) * (abs(doc_id) % 200)
                       + ((1 + abs(doc_id) % 56) * (abs(doc_id) % 56)) // 2)
                    AS BIGINT) AS pixel_sum
        FROM documents
    """,
    tags=("multimodal", "llm"),
)
def q40d(spark: SparkSession, sf: str) -> DataFrame:
    """Compressed-image pipeline with the REAL decode kernel: per-document
    8-bit PNG payloads (synthesized in the encode stage with dimensions,
    channel count, and a row-gradient fill all derived from document
    fields; the encoder cycles through ALL FIVE PNG filter types) decoded
    back by the pure-Python chunk-walk + CRC + zlib-inflate + unfilter
    (multimodal.decode_png). The oracle restates the parameter derivation
    plus the closed-form pixel checksum: row y is filled with byte
    base+y (base = abs(doc_id)%200, height <= 56 so no byte wrap), so
    pixel_sum = w*c*(h*base + h*(h-1)/2) — a value only a correct
    inflate and filter reconstruction can reproduce. Both stages are
    Arrow-batched mapInPandas; blobs never leave the executors.
    (Reference has no media surface — src/stream.ts:38-56 map is where a
    user would hang a decode callback.)"""
    import pandas as pd

    (documents,) = load(spark, sf, "documents")

    def make_pngs(it):
        for pdf in it:
            blobs = []
            for d, n in zip(pdf["doc_id"], pdf["n_chars"]):
                d, n = abs(int(d)), int(n)
                w, h, c = 1 + n % 64, 1 + d % 56, 1 + 2 * (d % 2)
                base = d % 200
                px = b"".join(bytes([base + y]) * (w * c) for y in range(h))
                blobs.append(multimodal.encode_png(w, h, px, c))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = multimodal.widen_partitions(documents.select("doc_id", "n_chars")).mapInPandas(
        make_pngs, "doc_id long, blob binary"
    )
    return multimodal.decode_png_blobs(blobs)


@query(
    "q40e_video_mp4_decode",
    oracle="""
        SELECT doc_id,
               CAST((1 + n_chars % 240) * 40 AS BIGINT) AS duration_ms,
               CAST(16 * (1 + abs(doc_id) % 80) AS BIGINT) AS width,
               CAST(16 * (1 + abs(doc_id) % 45) AS BIGINT) AS height,
               CAST(1 + n_chars % 240 AS BIGINT) AS n_frames,
               CAST(16 * (1 + n_chars % 240)
                    + ((1 + n_chars % 240) // 7) * 21
                    + (((1 + n_chars % 240) % 7)
                       * ((1 + n_chars % 240) % 7 - 1)) // 2
                    AS BIGINT) AS sample_bytes
        FROM documents
    """,
    tags=("multimodal", "llm"),
)
def q40e(spark: SparkSession, sf: str) -> DataFrame:
    """Video pipeline with the REAL metadata decode kernel: per-document
    ISO-BMFF MP4 payloads (synthesized with frame count, frame timing,
    and track dimensions all derived from document fields; per-frame
    sizes 16+(i%7)) decoded back by the pure-Python box walk over
    moov/mvhd/trak/tkhd and the stts/stsz sample tables
    (multimodal.decode_mp4). The oracle restates the parameter
    derivation plus the closed-form sample-byte total: sum of 16+(i%7)
    over n frames = 16n + 21*(n//7) + r(r-1)/2 with r = n%7 — a value
    only a correct stsz table walk reproduces. duration_ms exercises the
    mvhd timescale arithmetic (timescale 1000, 40 ticks/frame). Both
    stages are Arrow-batched mapInPandas; blobs never leave the
    executors; the derivation lives in multimodal.synth_mp4_blobs, the
    one home q40g and the stress shape share. (Reference has no media
    surface — src/stream.ts:38-56 map is where a user would hang a
    decode callback.)"""
    (documents,) = load(spark, sf, "documents")
    return multimodal.decode_video_blobs(multimodal.synth_mp4_blobs(documents))


@query(
    "q40f_image_jpeg_decode",
    oracle="""
        SELECT doc_id,
               CAST(8 * wb AS BIGINT) AS width,
               CAST(8 * hb AS BIGINT) AS height,
               CAST(1 AS BIGINT) AS n_components,
               CAST(64 * (28 * wb * hb
                    + 2 * (((base + wb * hb) // 114) * 6441
                           + (((base + wb * hb) % 114)
                              * ((base + wb * hb) % 114 - 1)) // 2
                           - (base * (base - 1)) // 2))
                    AS BIGINT) AS pixel_sum
        FROM (SELECT doc_id,
                     1 + n_chars % 16 AS wb,
                     1 + abs(doc_id) % 12 AS hb,
                     abs(doc_id) % 114 AS base
              FROM documents)
    """,
    tags=("multimodal", "llm"),
)
def q40f(spark: SparkSession, sf: str) -> DataFrame:
    """Lossy-compressed-image pipeline with the REAL decode kernel:
    per-document grayscale baseline JPEGs (block-uniform 8x8 grid, block
    b filled with the EVEN value 28+2*((base+b)%114) so the quantized DC
    survives the lossy pipeline exactly; DC differences wrap through
    huffman magnitude categories 1 and 7) decoded back by the pure-Python
    marker walk + DHT-driven huffman entropy decode + dequant +
    numpy-batched 2-D IDCT (multimodal.decode_jpeg). The oracle restates
    the parameter derivation plus the closed-form pixel checksum: with
    S(m) = sum of j%114 for j<m = (m//114)*6441 + (m%114)(m%114-1)/2,
    pixel_sum = 64*(28*nb + 2*(S(base+nb) - S(base))) — a value only a
    correct huffman+IDCT chain reproduces (base < 114, so S(base)
    reduces to base(base-1)/2). Both stages are Arrow-batched
    mapInPandas; blobs never leave the executors; the derivation lives
    in multimodal.synth_jpeg_blobs, shared with the stress shape."""
    (documents,) = load(spark, sf, "documents")
    return multimodal.decode_jpeg_blobs(multimodal.synth_jpeg_blobs(documents))


@query(
    "q40h_image_jpeg420_decode",
    oracle="""
        SELECT doc_id,
               CAST(8 * wb AS BIGINT) AS width,
               CAST(8 * hb AS BIGINT) AS height,
               CAST(3 AS BIGINT) AS n_components,
               CAST(3 * 64 * (28 * wb * hb
                    + 2 * (((base + wb * hb) // 114) * 6441
                           + (((base + wb * hb) % 114)
                              * ((base + wb * hb) % 114 - 1)) // 2
                           - (base * (base - 1)) // 2))
                    AS BIGINT) AS pixel_sum
        FROM (SELECT doc_id,
                     2 * (1 + n_chars % 8) AS wb,
                     2 * (1 + abs(doc_id) % 6) AS hb,
                     abs(doc_id) % 114 AS base
              FROM documents)
    """,
    tags=("multimodal", "llm"),
)
def q40h(spark: SparkSession, sf: str) -> DataFrame:
    """CHROMA-SUBSAMPLED (4:2:0) JPEG decode with the REAL kernel —
    the dominant camera/web format, which r10's sampling-factor support
    brings inside the decode envelope: per-document color 4:2:0 JPEGs
    (even Y-block grid so every 16x16 MCU is full; neutral chroma, so
    the decoded RGB equals the Y values on all three channels
    regardless of the upsampling filter) decoded back through the
    2x2-Y MCU traversal, chained Y DC predictor, per-component IDCT,
    chroma box upsample, and YCbCr->RGB. The oracle restates the q40f
    closed form times 3 (three identical channels): with S(m) = sum of
    j%114 for j<m, pixel_sum = 3*64*(28*nb + 2*(S(base+nb) - S(base)))
    — a value only the full subsampled reconstruction chain reproduces.
    Arrow-batched mapInPandas; blobs never leave the executors."""
    (documents,) = load(spark, sf, "documents")
    return multimodal.decode_jpeg_blobs(
        multimodal.synth_jpeg420_blobs(documents)
    )


@query(
    "q40i_image_jpeg_progressive_decode",
    oracle="""
        SELECT doc_id,
               CAST(8 * wb AS BIGINT) AS width,
               CAST(8 * hb AS BIGINT) AS height,
               CAST(3 AS BIGINT) AS n_components,
               CAST(3 * 64 * (28 * wb * hb
                    + 2 * (((base + wb * hb) // 114) * 6441
                           + (((base + wb * hb) % 114)
                              * ((base + wb * hb) % 114 - 1)) // 2
                           - (base * (base - 1)) // 2))
                    AS BIGINT) AS pixel_sum
        FROM (SELECT doc_id,
                     2 * (1 + n_chars % 8) AS wb,
                     2 * (1 + abs(doc_id) % 6) AS hb,
                     abs(doc_id) % 114 AS base
              FROM documents)
    """,
    tags=("multimodal", "llm"),
)
def q40i(spark: SparkSession, sf: str) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG decode with the REAL kernel — the web's
    other JPEG mode (large images are routinely saved progressive),
    which r10's multi-scan engine brings inside the decode envelope:
    per-document color 4:2:0 PROGRESSIVE files — an interleaved DC
    first scan at point transform Al=1, a DC refinement scan, and
    per-component spectral-selection AC scans coded as cross-block EOB
    runs — decoded back through scan-by-scan coefficient accumulation
    (DC predictor chain at reduced precision + raw refinement bits, AC
    band decode with EOB-run state, non-interleaved per-component scan
    geometry over the subsampled chroma planes), then one dequantize +
    IDCT + upsample + YCbCr->RGB pass over the accumulated grids. The
    oracle is q40h's closed form verbatim: the progressive rendering of
    the same block values must reconstruct the identical pixels — a
    value only the full multi-scan reassembly reproduces (the
    baseline<->progressive pixel-equality is separately pinned at the
    kernel level on arbitrary coefficients, including the refinement
    correction-bit path). Arrow-batched mapInPandas; blobs never leave
    the executors."""
    (documents,) = load(spark, sf, "documents")
    return multimodal.decode_jpeg_blobs(
        multimodal.synth_jpeg_progressive_blobs(documents)
    )


@query(
    "q40g_video_frame_sample",
    oracle="""
        SELECT doc_id,
               CAST(i AS BIGINT) AS frame_idx,
               CAST(16 * i + (i // 7) * 21 + ((i % 7) * (i % 7 - 1)) // 2
                    AS BIGINT) AS frame_off,
               CAST(16 + i % 7 AS BIGINT) AS frame_bytes,
               CAST(i * 40 AS BIGINT) AS t_ms
        FROM (SELECT doc_id,
                     unnest(generate_series(0, n_chars % 240)) AS i
              FROM documents)
    """,
    tags=("multimodal", "llm"),
)
def q40g(spark: SparkSession, sf: str) -> DataFrame:
    """REAL frame-sample stage: 1:N explode of each synthesized MP4 into
    its per-sample rows via the stts/stsz/stsc/stco table walk
    (multimodal.sample_mp4_frames) — offsets relative to the mdat
    payload, sizes, and timestamps, exactly what a keyframe extractor
    reads before touching a codec. The oracle restates the synthesis
    arithmetic per frame i: offset = running sum of earlier sizes =
    16i + 21*(i//7) + r(r-1)/2 (r = i%7), size = 16+(i%7), t =
    i*40 ms. frame_off is mdat-relative BY DESIGN: file-absolute stco
    offsets depend on box layout byte counts, which are not
    arithmetic-derivable (the same reasoning that excluded PNG's deflate
    length from q40d). Retires the byte-window `sample_frames` stub for
    ISO-BMFF payloads. (Reference's 1:N surface is explode,
    src/stream.ts:78-90.)"""
    (documents,) = load(spark, sf, "documents")
    return multimodal.sample_mp4_frames(multimodal.synth_mp4_blobs(documents))


@query(
    "q161_scene_cuts",
    oracle="""
        SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
               CAST(i * 40 AS BIGINT) AS t_ms
        FROM (SELECT doc_id,
                     unnest(generate_series(0, n_chars % 240)) AS i
              FROM documents)
        WHERE i % 7 = 6 AND i >= 6
    """,
    tags=("multimodal", "llm", "window-fn"),
)
def q161(spark: SparkSession, sf: str) -> DataFrame:
    """Scene-cut / keyframe detection from REAL MP4 sample tables — the
    frame-size-spike heuristic every container-level keyframe extractor
    uses before touching a codec (I-frames are much larger than the
    inter frames around them): a frame is a cut when its size exceeds
    1.15x the average of its 6 predecessors. Runs on q40g's real
    stts/stsz/stsc/stco frame rows, so only a correct box-walk AND a
    correct per-video window pass reproduce the oracle.

    The oracle states the closed form the synthesis implies: sizes cycle
    16 + (i % 7), so the trailing-6 average at residue r is (117 - r)/6
    and the 1.15x test is satisfied exactly at r = 6 with >=6
    predecessors (margins >= 0.27 absolute — far beyond fp divergence
    between engines, the q96 rule's spirit without needing
    quantization).

    Scale shape: ONE doc_id shuffle feeds the window (frames of a video
    are contiguous per partition after it); no joins, no collect —
    per-video time-series ops on exploded frame tables are exactly how
    a vision pipeline picks frames to decode at 100 TB."""
    (documents,) = load(spark, sf, "documents")
    frames = multimodal.sample_mp4_frames(multimodal.synth_mp4_blobs(documents))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("frame_idx")
        .rowsBetween(-6, -1)
    )
    return (
        frames.withColumn("_avg6", F.avg("frame_bytes").over(w))
        .withColumn("_n6", F.count("frame_bytes").over(w))
        .filter(
            (F.col("_n6") == 6)
            & (F.col("frame_bytes") > 1.15 * F.col("_avg6"))
        )
        .select("doc_id", "frame_idx", "t_ms")
    )


@query(
    "q163_compressibility",
    oracle=None,
    tags=("text", "quality", "llm"),
)
def q163(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/C4-family compressibility quality gate: per-doc zlib
    ratio (operators/text.compressibility) plus the keep decision —
    repetition-degenerate docs (ratio < 0.2) and noise-like docs
    (ratio > 0.8 — printable-ASCII noise tops out ~0.84 under DEFLATE,
    so the gate sits just below it) are flagged for drop. DEFLATE is not SQL-expressible,
    so this is rows-only for the driver (the same category as the
    stateful ops); the behavioral contract — repetition < prose <
    noise, determinism, exact byte accounting — is pinned in
    tests/test_llm_ops.py."""
    (documents,) = load(spark, sf, "documents")
    ratios = text.compressibility(documents)
    return ratios.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        "comp_ratio",
        (
            (F.col("comp_ratio") >= 0.2) & (F.col("comp_ratio") <= 0.8)
        ).alias("keep"),
    )


# ------------------------------------------------- Q164 PII redaction
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b555-\d{3}-\d{4}\b"


@query(
    "q164_pii_redaction",
    oracle=f"""
        WITH pii AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id ||
                 '@example.com or 555-' ||
                 lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
                 lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_PII_EMAIL}'))
                    AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, '{_PII_PHONE}'))
                    AS BIGINT) AS n_phones,
               regexp_replace(
                   regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
        FROM pii
    """,
    tags=("text", "quality", "privacy", "llm"),
)
def q164(spark: SparkSession, sf: str) -> DataFrame:
    """C4-family PII scrubbing: regex redaction of emails and
    NANP-style phone numbers, pure codegen regexp_replace — no shuffle,
    linear scan, the preprocessing pass every public-corpus pipeline
    runs before training. The corpus has no organic PII, so each doc
    gets one deterministic email + phone injected from its own doc_id
    (both engine texts state the same construction), making the
    redaction counts exact: every doc must report exactly 1 email and
    1 phone found and a fully-scrubbed output string — hash-matched.
    Patterns stay within the regex subset Java and RE2 agree on
    (character classes, bounded quantifiers, word boundaries)."""
    (documents,) = load(spark, sf, "documents")
    with_pii = documents.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return with_pii.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), 0))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_PHONE), 0))
        .cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ).alias("redacted"),
    )


# -------------------------------------------- BPE-ish regex tokenization
_BPE_RE = r"\w+|[^\w\s]"


@query(
    "q34b_regex_tokens",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
                   AS n_pieces,
               CAST(len(list_distinct(regexp_extract_all(text, '{_BPE_RE}')))
                   AS BIGINT) AS n_uniq_pieces
        FROM documents
    """,
    tags=("text", "llm"),
)
def q34b(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-word-style token counting with a BPE-ish regex (word runs +
    individual punctuation) — the tokenizer-budget estimate pass of a
    training-data pipeline. Pure codegen regexp, no shuffle."""
    (documents,) = load(spark, sf, "documents")
    pieces = F.regexp_extract_all("text", F.lit(_BPE_RE), 0)
    return documents.select(
        "doc_id",
        F.size(pieces).cast("long").alias("n_pieces"),
        F.size(F.array_distinct(pieces)).cast("long").alias("n_uniq_pieces"),
    )


# ---------------------------------------------------------- IVF ANN path
@query("q42_ivf_ann_topk", oracle=None, tags=("similarity", "llm", "approx"))
def q42(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate top-10: sample-trained broadcast codebook, scan-side
    cell assignment, probe the 4 nearest of 16 cells, exact cosine within.
    The partition-prunable ANN layout for 100 TB (see operators.similarity).
    Rows-only check; recall vs exact q27 asserted in tests."""
    (emb,) = load(spark, sf, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    return similarity.ivf_topk(emb, qv, k=10)


@query(
    "q40b_frame_sample",
    oracle="""
        WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n
                   FROM documents),
        f AS (SELECT doc_id, n, greatest(n // 4, 1) AS step FROM b)
        SELECT doc_id,
               CAST(i AS BIGINT) AS frame_idx,
               CAST(i * step AS BIGINT) AS frame_off,
               CAST(least(step, n - i * step) AS BIGINT) AS frame_bytes
        FROM f, LATERAL unnest(generate_series(0, least(4, n) - 1)) AS t(i)
    """,
    tags=("multimodal", "llm"),
)
def q40b(spark: SparkSession, sf: str) -> DataFrame:
    """Frame sampling: 1:N generator over binary payloads via mapInPandas
    (the multimodal explode). Kernel stubbed (even byte windows), plumbing
    real — the oracle reproduces the window arithmetic in SQL."""
    (documents,) = load(spark, sf, "documents")
    return multimodal.sample_frames(multimodal.with_blob(documents), n_frames=4)


# ------------------------------------ end-to-end training-data prep pipeline
@query(
    "q46_training_prep",
    oracle=f"""
        WITH fp AS (
          SELECT doc_id, lang, text,
                 {text.fingerprint_sql('text')} AS fp
          FROM documents
        ),
        dedup AS (
          SELECT * FROM fp
          QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
        ),
        scored AS (
          SELECT lang,
                 len(string_split(text, ' ')) AS n_tok,
                 -- per-row ROUND matches quality_score's own rounding, so
                 -- both the filter and the AVG see identical inputs
                 ROUND(least(1.0, len(string_split(text, ' ')) / 100.0) *
                   (1 - len(list_filter(string_split(text, ' '),
                        t -> list_contains({_sql_list(ALL_STOP)}, t)))
                      * 1.0 / len(string_split(text, ' '))), 6) AS q
          FROM dedup
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               ROUND(AVG(q), 6) AS avg_quality
        FROM scored WHERE q >= 0.3
        GROUP BY lang
    """,
    tags=("llm", "pipeline"),
    bench=True,
)
def q46(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end training-data prep: exact dedup by content fingerprint
    (keep lowest doc_id) -> quality filter -> per-language token budget.
    The composite shape a real corpus pipeline runs nightly; one window for
    the dedup, one aggregate for the budget, everything else scan-side
    expressions."""
    (documents,) = load(spark, sf, "documents")
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        documents.withColumn("fp", text.fingerprint("text"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    scored = deduped.select(
        "lang",
        F.size(text.tokens("text")).alias("n_tok"),
        text.quality_score("text").alias("q"),
    ).filter(F.col("q") >= 0.3)
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
    )


# ----------------------------------------------- scalar pandas UDF surface
@query(
    "q48_pandas_udf_scalar",
    oracle="""
        SELECT doc_id, reverse(text) AS rev,
               CAST(length(text) AS BIGINT) AS n
        FROM documents
    """,
    tags=("udf", "llm"),
)
def q48(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar Arrow-batched pandas UDF (series -> series) — the 1:1 opaque
    transform slot (reference async `map` callback, src/stream.ts:38-56).
    Deliberately computes something SQL-expressible so the oracle can
    hash-check the UDF plumbing itself; completes the UDF surface next to
    q33 (mapInArrow), q40 (mapInPandas), q44 (stateful).

    Caveat (probed, not hit by this corpus): Python's s[::-1] reverses
    CODEPOINTS while DuckDB's reverse() reverses GRAPHEME clusters — they
    diverge on combining marks ('e\\u0301') and multi-codepoint emoji. The
    test corpus is ASCII-tokenized so the hash-match is sound here."""
    from pyspark.sql.functions import pandas_udf

    # no type hints: postponed annotation evaluation (future.annotations)
    # turns them into strings pandas_udf cannot resolve; the returnType
    # argument carries the schema instead
    @pandas_udf("string")
    def rev(s):
        return s.str[::-1]

    (documents,) = load(spark, sf, "documents")
    return documents.select(
        "doc_id", rev("text").alias("rev"), F.length("text").cast("long").alias("n")
    )


# ------------------------------------------ Q68 collocations (bigram PMI)
@query(
    "q68_bigram_pmi",
    oracle="""
        WITH tk AS (SELECT string_split(text, ' ') AS ts FROM documents),
        uni AS (SELECT w, COUNT(*) AS cw
                FROM (SELECT unnest(ts) AS w FROM tk) GROUP BY w),
        tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS t FROM uni),
        bg AS (SELECT b, COUNT(*) AS cxy FROM (
                 SELECT unnest(list_transform(
                     generate_series(1, len(ts) - 1),
                     i -> ts[i] || ' ' || ts[i+1])) AS b
                 FROM tk WHERE len(ts) >= 2) GROUP BY b),
        btot AS (SELECT CAST(SUM(cxy) AS BIGINT) AS bt FROM bg),
        j AS (SELECT b, cxy, u1.cw AS cx, u2.cw AS cy
              FROM bg
              JOIN uni u1 ON u1.w = string_split(b, ' ')[1]
              JOIN uni u2 ON u2.w = string_split(b, ' ')[2])
        SELECT b AS bigram,
               CAST(cxy AS BIGINT) AS cnt,
               ROUND(LN(cxy) + 2 * LN(t) - LN(bt) - LN(cx) - LN(cy), 6)
                   AS pmi
        FROM j, tot, btot
        WHERE cxy >= 5
        ORDER BY pmi DESC, bigram
        LIMIT 20
    """,
    tags=("text", "llm"),
)
def q68(spark: SparkSession, sf: str) -> DataFrame:
    """Collocation mining: top-20 bigrams by pointwise mutual information
    ln(p(xy) / (p(x)p(y))) with a min-count floor — the phrase-discovery
    pass of a text pipeline. PMI is computed in log-sum form (each ln sees
    an exact int64 count; counts stay below 2^53 far past 100 TB), with
    identical term order on both engines and a 6 dp round, so the
    hash-match is exact and no intermediate product can overflow. Plan
    shape: two token explodes -> map-side-combined counts; the unigram
    join is vocabulary-sized (AQE broadcasts when small); top-20 via
    TakeOrderedAndProject."""
    (documents,) = load(spark, sf, "documents")
    # Fan out before the CPU-heavy explodes (single-row-group input would
    # otherwise run both token passes on one task — measured 2.6 s -> ~0.6 s
    # at sf0.1); harmless at real scale, where the scan is already split.
    docs = dedup.spread(documents, "doc_id")
    toks = F.split("text", " ")
    # uni feeds the total, both join sides, and
    # bg feeds its total + the PMI join — five subtrees that each
    # replayed a corpus token explode from the scan (audit: 5 scans).
    # Both aggregates are vocabulary-sized; cut once, lazily.
    uni = materialize_once(
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw")),
        eager=False,
    )
    bigram_arr = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = materialize_once(
        docs.select(F.explode(bigram_arr).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cxy")),
        eager=False,
    )
    t_tot = uni.agg(F.sum("cw").cast("long").alias("t"))
    b_tot = bg.agg(F.sum("cxy").cast("long").alias("bt"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("cx"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("cy"))
    j = (
        bg.filter(F.col("cxy") >= 5)
        .withColumn("w1", F.substring_index("b", " ", 1))
        .withColumn("w2", F.substring_index("b", " ", -1))
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(b_tot))
    )
    # Log-sum form, NOT ln(cxy*t*t / (bt*cx*cy)): the int64 product
    # cxy*t*t overflows once total tokens pass ~1.4e9 (ANSI raises, the
    # oracle's HUGEINT doesn't) — at 100 TB that product is ~10^8x over
    # int64. Each ln sees an exactly-representable int and the additions
    # run in the same order as the oracle, so the rounded double matches.
    pmi = F.round(
        F.log("cxy")
        + F.lit(2) * F.log("t")
        - F.log("bt")
        - F.log("cx")
        - F.log("cy"),
        6,
    )
    return (
        j.select(
            F.col("b").alias("bigram"),
            F.col("cxy").alias("cnt"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(20)
    )


# -------------------------------------- Q70 context-window chunking
@query(
    "q70_chunk_overlap",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
                   FROM documents),
        s AS (SELECT doc_id, ts,
                     unnest(generate_series(1, len(ts), 48)) AS st
              FROM t)
        SELECT doc_id,
               CAST((st - 1) // 48 AS BIGINT) AS chunk_idx,
               CAST(len(list_slice(ts, st, st + 63)) AS BIGINT) AS n_tok,
               array_to_string(list_slice(ts, st, st + 63), ' ')
                   AS chunk_text
        FROM s
        ORDER BY doc_id, chunk_idx
    """,
    tags=("packing", "text", "llm"),
)
def q70(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window chunking: split every document into 64-token chunks
    at stride 48 (16-token overlap) — the window-splitting pass that fits
    long documents into a model's context budget, with overlap so no
    span is lost at a boundary. Pure scan-side explode of the stride
    starts + array slice/join: no shuffle, no UDF, fan-out ~n_tok/stride
    per doc. The chunk TEXT itself is hash-matched, not a proxy stat."""
    (documents,) = load(spark, sf, "documents")
    toks = F.split("text", " ")
    d = documents.select("doc_id", toks.alias("ts")).select(
        "doc_id", "ts",
        F.explode(
            F.sequence(F.lit(1), F.size("ts"), F.lit(48))
        ).alias("st"),
    )
    chunk = F.slice("ts", F.col("st"), 64)
    return (
        d.select(
            "doc_id",
            F.expr("CAST((st - 1) DIV 48 AS BIGINT)").alias("chunk_idx"),
            F.size(chunk).cast("long").alias("n_tok"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ----------------------------------- Q71 quality-ranked token-budget fill
_QUALITY_SQL = f"""ROUND(least(1.0, len(string_split(text, ' ')) / 100.0) *
                     (1 - len(list_filter(string_split(text, ' '),
                          t -> list_contains({_sql_list(ALL_STOP)}, t)))
                        * 1.0 / len(string_split(text, ' '))), 6)"""


@query(
    "q71_budget_select",
    oracle=f"""
        WITH q AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 {_QUALITY_SQL} AS quality
          FROM documents
        ), c AS (
          SELECT doc_id, n_tok, quality,
                 SUM(n_tok) OVER (ORDER BY quality DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
          FROM q
        )
        SELECT doc_id, n_tok, quality
        FROM c WHERE cum - n_tok < 20000
        ORDER BY doc_id
    """,
    tags=("packing", "sampling", "llm"),
)
def q71(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget corpus selection: fill a 20k-token training budget
    with the highest-quality documents (q34's composite score, mirrored
    symbol-for-symbol) — keep every doc that STARTS within the budget in
    quality-descending order. Reuses the distributed prefix sum
    (operators/packing.py) ordered by (-quality, doc_id): selected docs
    are exactly those in pack 0, so no single-partition window runs —
    the oracle's global ORDER BY window states the same thing the scalable
    way cannot afford."""
    from ..operators import packing

    (documents,) = load(spark, sf, "documents")
    d = documents.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        text.quality_score("text").alias("quality"),
    ).withColumn("negq", -F.col("quality"))
    sel = packing.sequence_pack(d, "n_tok", 20000, ["negq", "doc_id"])
    return (
        sel.filter(F.col("pack_id") == 0)
        .select("doc_id", "n_tok", "quality")
        .orderBy("doc_id")
    )


# ---------------------------------------------- Q74 TF-IDF top terms
@query(
    "q74_tfidf_topterms",
    oracle="""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                     FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n FROM documents),
        s AS (SELECT t.doc_id, t.term,
                     ROUND(t.tf * LN(n.n * 1.0 / d.df), 6) AS tfidf
              FROM tf t JOIN df d USING (term), n)
        SELECT doc_id, term, tfidf FROM (
          SELECT doc_id, term, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term) AS rn
          FROM s)
        WHERE rn <= 5
        ORDER BY doc_id, term
    """,
    tags=("text", "llm"),
)
def q74(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document TF-IDF top-5 terms — the keyword-extraction pass of a
    text pipeline (and the classic relevance weight PMI does not give).
    One token explode -> map-combined (doc, term) counts; document
    frequency is a count over that aggregate (rows are distinct per doc
    by construction, no COUNT DISTINCT shuffle); N is a broadcast scalar;
    per-doc top-5 plans WindowGroupLimit so no full sort of the posting
    list. ln(N/df) on exact int64 counts, rounded 6 dp, same term order
    both engines (binary collation).

    ``tf`` feeds TWO consumers (the df aggregate and the scoring join),
    and without a lineage cut the runtime plan replays the token
    explode + (doc, term) shuffle under BOTH (2 Generates in the
    executed plan; different column prunings defeat ReusedExchange), so
    the corpus pays its heaviest pass twice. The POST-shuffle aggregate
    is materialized once instead — the q157b tf precedent: checkpoint
    the deduped (doc, term, tf) rows, never re-run the corpus
    explode."""
    from ..plans import materialize_once

    (documents,) = load(spark, sf, "documents")
    tf = materialize_once(
        documents.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf")),
        eager=False,
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = documents.agg(F.count(F.lit(1)).alias("n"))
    s = tf.join(dfreq, "term").crossJoin(F.broadcast(n))
    tfidf = F.round(
        F.col("tf") * F.log(F.col("n") * F.lit(1.0) / F.col("df")), 6
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        s.select("doc_id", "term", tfidf.alias("tfidf"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("doc_id", "term")
    )


# ------------------------------- Q86 bigram language-model quality score
@query(
    "q86_bigram_lm_score",
    oracle="""
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
          CROSS JOIN vocab)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(SUM(q) / (COUNT(*) * 1000000.0), 6) AS avg_logprob
        FROM scored GROUP BY doc_id
    """,
    tags=("text", "llm", "quality"),
)
def q86(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical-LM quality scoring: train an add-1-smoothed bigram model
    on the corpus itself, then score every document by its mean bigram
    log-likelihood ln((c(w1,w2)+1)/(c(w1)+V)) — the classic cheap
    perplexity proxy that separates fluent text from shuffled/garbled
    text (a real pipeline swaps in a KenLM/transformer scorer via
    mapInPandas; counting + scoring plumbing is identical).

    Determinism: each bigram's log-prob is quantized to an int64
    (floor(ln*1e6+0.5)) BEFORE the per-doc sum, so the aggregation is
    order-free integer arithmetic — the same quantized-sum idiom as q81.
    Scale shape: unigram/bigram count tables are vocabulary-sized
    aggregates (map-side combined); the doc-bigram stream joins them on
    the token key (AQE broadcasts while the vocabulary fits, degrades to
    a shuffle join beyond); V is a 1-row broadcast. No unbounded state,
    no driver loop."""
    from ..plans import materialize_once

    (documents,) = load(spark, sf, "documents")
    toks = F.split("text", " ")
    # ``uni`` feeds two consumers (the V scalar
    # and the scoring join) — without a lineage cut each replays the
    # full token explode + vocabulary shuffle from the scan. The
    # vocabulary-sized aggregate is checkpointed once instead.
    uni = materialize_once(
        documents.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu")),
        eager=False,
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("long").alias("v"))
    bigram_structs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.concat(
                    F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
                ).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,b:string>>"))
    # Fan the doc stream out to all cores BEFORE the bigram explode and the
    # two count-table joins: broadcast joins keep the stream's partitioning,
    # so a single-row-group input would otherwise run the whole scoring
    # pipeline on ONE task (measured 6.3 s -> ~1 s at sf0.1). At real scale
    # the scan already has thousands of splits and AQE coalesces.
    bg = dedup.spread(documents, "doc_id").select(
        "doc_id", F.explode(bigram_structs).alias("s")
    ).select("doc_id", F.col("s.w1").alias("w1"), F.col("s.b").alias("b"))
    # A/B note: a per-doc bigram-count fold +
    # checkpoint (the q196/q157b treatment — explode once, shuffle
    # distinct (doc, bigram) rows, derive count table and scoring join
    # from the cut) was measured ~0.3-0.6 s SLOWER at sf0.1 than the
    # double-explode it replaces: both bigram consumers here are fed
    # by BROADCAST joins, so the replayed explode is pipelined
    # shuffle-free CPU work while the fold adds a full occurrence-
    # count exchange plus a checkpoint barrier. Left on the replay
    # shape; at a scale where bgc stops broadcasting, the join itself
    # forces the bigram exchange and the fold becomes the right shape.
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
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(
            F.sum("q") / (F.count(F.lit(1)) * F.lit(1_000_000.0)), 6
        ).alias("avg_logprob"),
    )


# --------------------------------- Q90 near-containment dedup (quotes)
@query(
    "q90_containment_pairs",
    oracle="""
        WITH sh AS (
          SELECT doc_id, source,
                 list_distinct(list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2])) AS shingles
          FROM documents
        ),
        ex AS (SELECT doc_id, source, unnest(shingles) AS s,
                      len(shingles) AS n FROM sh),
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common,
                 any_value(a.n) AS n1, any_value(b.n) AS n2
          FROM ex a JOIN ex b
            ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT d1, d2, c1, c2, GREATEST(c1, c2) AS containment
        FROM (SELECT d1, d2,
                     ROUND(common * 1.0 / n1, 6) AS c1,
                     ROUND(common * 1.0 / n2, 6) AS c2
              FROM pairs)
        WHERE GREATEST(c1, c2) >= 0.5
    """,
    tags=("dedup", "llm"),
)
def q90(spark: SparkSession, sf: str) -> DataFrame:
    """Near-CONTAINMENT pairs C(A→B) = |S(A)∩S(B)|/|S(A)| at 3-gram
    granularity — the dedup mode Jaccard misses: a short document quoted
    wholesale inside a long one has Jaccard ≈ |short|/|long| (arbitrarily
    small) but containment ≈ 1 on the short side. Same single-shuffle
    shingle equi-join as q26 (operators/dedup.py:containment_pairs shares
    q26's candidate machinery, so the blocking-partition + max_df
    bucket-bounding arguments carry over verbatim)."""
    (documents,) = load(spark, sf, "documents")
    return dedup.containment_pairs(documents, threshold=0.5)


# ------------------------------ Q95 cross-source duplication audit
@query(
    "q95_cross_source_overlap",
    oracle=f"""
        WITH f AS (
          SELECT DISTINCT source, {text.fingerprint_sql('text')} AS fp
          FROM documents
        )
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS shared_fps
        FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    tags=("dedup", "llm", "provenance"),
)
def q95(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source duplication audit: for every pair of sources, how many
    exact content fingerprints they share — the provenance matrix that
    tells you which crawls/dumps re-scraped each other BEFORE you debug a
    leaky train/val split or double-count a source's contribution. Plan:
    scan-side fingerprints (q36's rolling hash) -> distinct (source, fp)
    -> self equi-join on fp (bucket width = sources per fingerprint,
    bounded by the source count, never by corpus size) -> pair counts.
    At 100 TB this shuffles fingerprints, not text."""
    (documents,) = load(spark, sf, "documents")
    f = documents.select(
        "source", text.fingerprint("text").alias("fp")
    ).distinct()
    a = f.select(F.col("source").alias("src_a"), F.col("fp").alias("fpa"))
    b = f.select(F.col("source").alias("src_b"), F.col("fp").alias("fpb"))
    return (
        a.join(b, (F.col("fpa") == F.col("fpb")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .orderBy("src_a", "src_b")
    )


# ----------------------------------- Q96 per-doc token entropy
@query(
    "q96_token_entropy",
    oracle="""
        WITH c AS (
          SELECT doc_id, token, COUNT(*) AS c FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
          GROUP BY doc_id, token
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               ROUND(ln(SUM(c))
                     - SUM(CAST(floor(c * ln(c) * 1000000 + 0.5)
                                AS BIGINT))
                       / (SUM(c) * 1000000.0), 6) AS entropy
        FROM c GROUP BY doc_id
    """,
    tags=("text", "llm", "quality"),
)
def q96(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution,
    H = ln(n) - (1/n)·Σ c·ln(c) — low entropy exposes repetitive/
    template text that the trigram repetition ratio (q78) can miss when
    the repeats are long-range. Each token's c·ln(c) term is quantized to
    int64 BEFORE the per-doc sum (order-free, the q81/q86 idiom); the
    ln(n) correction is one row-level op on an exact integer. One token
    explode + two map-combined aggregations — (doc, token) counts then a
    per-doc rollup."""
    (documents,) = load(spark, sf, "documents")
    c = (
        documents.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qt = F.floor(F.col("c") * F.log("c") * F.lit(1_000_000) + 0.5).cast("long")
    return c.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.round(
            F.log(F.sum("c"))
            - F.sum(qt) / (F.sum("c") * F.lit(1_000_000.0)),
            6,
        ).alias("entropy"),
    )


# ---------------------------------- Q102 language-ID confusion matrix
@query(
    "q102_langid_confusion",
    oracle=f"""
        WITH s AS ({_langid_scores_sql()})
        SELECT lang, {_LANGID_CASE_SQL} AS lang_pred,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM s
        GROUP BY lang, lang_pred
        ORDER BY lang, lang_pred
    """,
    tags=("text", "llm", "evaluation"),
)
def q102(spark: SparkSession, sf: str) -> DataFrame:
    """Confusion matrix of the stopword-heuristic language ID (q35)
    against the labeled lang column — the classifier-evaluation pass
    that turns "we have a language ID" into "here is where it fails,
    per language". Shares q35's scoring expressions on both engines
    (one source of truth, _langid_scores_sql). Scan-side scoring, then
    a |langs|² aggregate — kilobytes shuffled at any corpus size."""
    (documents,) = load(spark, sf, "documents")
    return (
        documents.select(
            "lang", text.lang_id(text.tokens("text")).alias("lang_pred")
        )
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy("lang", "lang_pred")
    )


# ------------------------------- Q104 edit-distance fuzzy duplicate pairs
@query(
    "q104_fuzzy_prefix_pairs",
    oracle=f"""
        WITH p AS (
          SELECT doc_id, source,
                 substring({text.normalize_text_sql('text')}, 1, 40) AS pre
          FROM documents
        )
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist
        FROM p a JOIN p b
          ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE levenshtein(a.pre, b.pre) <= 5
        ORDER BY d1, d2
    """,
    tags=("dedup", "llm", "fuzzy"),
)
def q104(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT edit-distance fuzzy duplicates: every document pair whose
    normalized 40-char prefixes are within Levenshtein distance 5 — the
    typo/OCR-noise dedup mode that token-set metrics (Jaccard,
    containment) miss because one character edit changes every shingle it
    touches. This is the small-scale ORACLE variant: the pair space is
    all pairs within the `source` block (an equi-join on source with the
    d1<d2 residual — Spark plans a shuffled hash/sort-merge join; no
    broadcast is forced, so beyond broadcastable sizes it degrades to a
    shuffle join instead of a driver OOM). Quadratic per source block by
    construction — run it on samples/audits; the production-shaped
    blocked variant with the same verify metric is q104b
    (dedup.fuzzy_prefix_pairs), whose recall vs THIS query's exact pair
    set is what tests/test_llm_ops.py measures."""
    (documents,) = load(spark, sf, "documents")
    p = documents.select(
        "doc_id", "source",
        F.substring(text.normalize_text("text"), 1, 40).alias("pre"),
    )
    a = dedup.spread(p, "doc_id").select(
        F.col("doc_id").alias("d1"), F.col("source").alias("src1"),
        F.col("pre").alias("pre1"),
    )
    b = p.select(
        F.col("doc_id").alias("d2"), F.col("source").alias("src2"),
        F.col("pre").alias("pre2"),
    )
    return (
        a.join(
            b,
            (F.col("src1") == F.col("src2")) & (F.col("d1") < F.col("d2")),
        )
        .select(
            "d1", "d2",
            F.levenshtein("pre1", "pre2").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= 5)
        .orderBy("d1", "d2")
    )


# ----------------------- Q104b pigeonhole-blocked fuzzy duplicate pairs
def _q104b_chunk_values_sql() -> str:
    """The chunk layout constant, spelled as DuckDB VALUES rows — derived
    from the same prefix_chunk_bounds() the Spark side uses so the two
    engines cannot drift."""
    rows = ", ".join(
        f"({cid}, {start}, {ln})"
        for cid, start, ln in dedup.prefix_chunk_bounds(40, 5)
    )
    return f"(VALUES {rows}) AS c(cid, st, ln)"


@query(
    "q104b_fuzzy_blocked_pairs",
    oracle=f"""
        WITH p AS (
          SELECT doc_id, source,
                 substring({text.normalize_text_sql('text')}, 1, 40) AS pre
          FROM documents
        ),
        ch AS (
          SELECT doc_id, source, pre, c.cid,
                 substring(pre, c.st, c.ln) AS ctext
          FROM p CROSS JOIN {_q104b_chunk_values_sql()}
          WHERE pre <> '' AND substring(pre, c.st, c.ln) <> ''
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                 a.pre AS pre1, b.pre AS pre2
          FROM ch a JOIN ch b
            ON a.cid = b.cid AND a.ctext = b.ctext
           AND a.source = b.source AND a.doc_id < b.doc_id
        )
        SELECT d1, d2, CAST(levenshtein(pre1, pre2) AS BIGINT) AS dist
        FROM cand
        WHERE levenshtein(pre1, pre2) <= 5
    """,
    tags=("dedup", "llm", "fuzzy"),
    bench=True,
)
def q104b(spark: SparkSession, sf: str) -> DataFrame:
    """q104's verify metric at production scale-shape: candidates from a
    pigeonhole chunk EQUI-join (6 chunks of the 40-char normalized prefix
    — at most 5 edits touch at most 5 chunks, so a within-distance-5
    substitution-noise pair shares >=1 untouched aligned chunk), then
    exact levenshtein verify (operators/dedup.py fuzzy_prefix_pairs).
    Never all-pairs, never a corpus broadcast — the join shuffles on
    (source, chunk_id, chunk_text) like every other dedup candidate join
    in this engine, so one skewed source no longer serializes into a
    quadratic block. The oracle mirrors the candidate generation exactly
    (same chunk layout constant, same verify), so this is hash-matched,
    not rows-only; recall vs the exact q104 pair set is asserted
    separately in tests/test_llm_ops.py (1.0 for substitution noise by
    the pigeonhole argument; indel-shifted pairs are the documented
    approximation)."""
    (documents,) = load(spark, sf, "documents")
    # No presentation sort: a global orderBy adds a range-partitioner
    # sampling job that re-executes the whole candidate join (measured
    # 0.90 s -> 0.25 s at sf0.1 removing it); the driver compare is
    # order-insensitive.
    return dedup.fuzzy_prefix_pairs(
        documents, max_dist=5, prefix_len=40, partition_col="source"
    )


# --------------------------------- Q105 vocabulary drift between halves
@query(
    "q105_vocab_drift",
    oracle="""
        WITH half AS (
          SELECT lang, text,
                 doc_id >= (SELECT MAX(doc_id) / 2 FROM documents) AS new_half
          FROM documents
        ),
        tok AS (SELECT lang, new_half, unnest(string_split(text, ' ')) AS w
                FROM half),
        oldv AS (SELECT DISTINCT lang, w FROM tok WHERE NOT new_half),
        newc AS (SELECT lang, w, COUNT(*) AS c FROM tok WHERE new_half
                 GROUP BY lang, w)
        SELECT n.lang,
               CAST(COUNT(*) AS BIGINT) AS n_new_types,
               CAST(COALESCE(SUM(CASE WHEN o.w IS NULL THEN 1 END), 0)
                    AS BIGINT) AS n_unseen_types,
               CAST(COALESCE(SUM(CASE WHEN o.w IS NULL THEN n.c END), 0)
                    AS BIGINT) AS unseen_occurrences
        FROM newc n LEFT JOIN oldv o ON n.lang = o.lang AND n.w = o.w
        GROUP BY n.lang
        ORDER BY n.lang
    """,
    tags=("text", "llm", "monitoring"),
)
def q105(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary drift between the older and newer half of the corpus
    (split at max(doc_id)/2 — the id order standing in for ingestion
    time): per language, how many of the new half's token types — and how
    many token OCCURRENCES — were never seen in the old half. The
    corpus-monitoring number that flags a crawl-source change, an
    encoding regression, or genuine topic drift between snapshots. Plan:
    both halves reduce to vocabulary-sized aggregates before the only
    join (distinct old types LEFT-joined to new counts); the scalar split
    point is a 1-row broadcast. Shuffles vocabularies, never text."""
    (documents,) = load(spark, sf, "documents")
    mid = documents.agg((F.max("doc_id") / 2).alias("mid"))
    half = documents.crossJoin(F.broadcast(mid)).select(
        "lang", "text", (F.col("doc_id") >= F.col("mid")).alias("new_half")
    )
    tok = half.select(
        "lang", "new_half", F.explode(F.split("text", " ")).alias("w")
    )
    oldv = tok.filter(~F.col("new_half")).select("lang", "w").distinct()
    newc = (
        tok.filter(F.col("new_half"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    j = newc.join(
        oldv.withColumn("seen", F.lit(1)), ["lang", "w"], "left"
    )
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new_types"),
            F.coalesce(
                F.sum(F.when(F.col("seen").isNull(), 1)), F.lit(0)
            ).cast("long").alias("n_unseen_types"),
            F.coalesce(
                F.sum(F.when(F.col("seen").isNull(), F.col("c"))), F.lit(0)
            ).cast("long").alias("unseen_occurrences"),
        )
        .orderBy("lang")
    )


# ------------------- Q175 exact-substring dedup (maximal duplicated spans)
_SSD_W = 8  # window width in tokens — the dedup granularity


@query(
    "q175_substring_dedup",
    oracle=f"""
        WITH t AS (SELECT doc_id, lang,
                          string_split(text, ' ') AS ts
                   FROM documents),
        w AS (SELECT doc_id, lang, len(ts) AS n_tokens, ts,
                     unnest(generate_series(1, len(ts) - {_SSD_W - 1}, 1))
                         AS st
              FROM t WHERE len(ts) >= {_SSD_W}),
        f AS (SELECT doc_id, lang, n_tokens, st,
                     {text.fingerprint_sql(
                         "array_to_string(list_slice(ts, st, st + "
                         + str(_SSD_W - 1) + "), ' ')")} AS wfp
              FROM w),
        m AS (SELECT doc_id, lang, n_tokens, st,
                     COUNT(*) OVER (PARTITION BY wfp) AS nd
              FROM f),
        d AS (SELECT doc_id, lang, n_tokens,
                     st, st + {_SSD_W - 1} AS en
              FROM m WHERE nd >= 2),
        g AS (SELECT doc_id, lang, n_tokens, st, en,
                     MAX(en) OVER (PARTITION BY doc_id ORDER BY st
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING) AS pmax
              FROM d),
        i AS (SELECT doc_id, lang, n_tokens, st, en,
                     SUM(CASE WHEN pmax IS NULL OR st > pmax + 1
                              THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY st
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS gid
              FROM g),
        s AS (SELECT doc_id, lang, n_tokens, gid,
                     MAX(en) - MIN(st) + 1 AS span_tokens
              FROM i GROUP BY doc_id, lang, n_tokens, gid)
        SELECT doc_id, lang,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(span_tokens) * 1000 // n_tokens AS BIGINT)
                   AS dup_permille
        FROM s GROUP BY doc_id, lang, n_tokens
    """,
    tags=("dedup", "text", "llm", "quality"),
    bench=True,
)
def q175(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT-SUBSTRING dedup at arbitrary alignment — the suffix-array
    family (Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better", public): every STRIDE-1 window of 8 tokens is
    fingerprinted, windows whose fingerprint recurs anywhere in the corpus
    mark their token span as duplicated, and per document the overlapping
    marked spans are merged into MAXIMAL duplicated regions
    (gaps-and-islands), yielding the duplicated-token count/fraction that
    drives span-level removal. This is strictly stronger than q112's
    aligned non-overlapping chunks: a shared run is caught at ANY offset
    in either document. Spark-first plan, two exchanges total: (1) window
    fingerprints are computed IN THE SCAN PROJECTION (text never
    shuffles; the exchange carries (wfp, doc_id, pos) only) and
    multiplicity comes from ONE count-window over wfp — q112's measured
    single-pass formulation, bucket width = window multiplicity, the same
    boilerplate-bounded argument; (2) the island merge runs per doc_id
    (running-max window + island-id prefix sum + island extents), and the
    final per-doc aggregate REUSES the doc_id exchange (HashPartitioning
    on doc_id satisfies the groupBy). At 100 TB the shuffled bytes are
    O(total_tokens) fixed-width rows — the same asymptotic bill as the
    suffix-array construction the reference family pays, with no driver
    state. Fingerprint equality stands in for string equality (q25/q57's
    established contract, shared modulus with the oracle). Body lives in
    operators/dedup.py:substring_dup_spans (single home, also driven by
    the behavioral pytest and the century profiler)."""
    (documents,) = load(spark, sf, "documents")
    return dedup.substring_dup_spans(documents, width=_SSD_W)


# --------------- Q177 DSIR — data selection via importance resampling
_DSIR_BUCKETS = 64   # hashed-bigram feature space
_DSIR_K = 100        # selection size
_DSIR_TARGET = "en"  # target distribution = English docs; raw pool = rest

# The fit (tk -> bg -> fb -> stats -> tot -> lam) and the raw-doc scoring
# aggregate are ONE arithmetic home shared by batch q177 and streaming
# q177b — both the SQL text and the Spark builders below.
_DSIR_FIT_SQL = f"""
        WITH tk AS (SELECT doc_id, lang, source,
                           string_split(text,' ') AS ts
                    FROM documents),
        bg AS (SELECT doc_id, lang, source,
                      unnest(list_transform(generate_series(1, len(ts)-1),
                             i -> ts[i] || ' ' || ts[i+1])) AS b
               FROM tk WHERE len(ts) >= 2),
        fb AS (SELECT doc_id, lang, source,
                      {text.fingerprint_sql('b')} % {_DSIR_BUCKETS} AS f
               FROM bg),
        stats AS (SELECT f,
                         COUNT(*) FILTER (WHERE lang = '{_DSIR_TARGET}')
                             AS ct,
                         COUNT(*) FILTER (WHERE lang <> '{_DSIR_TARGET}')
                             AS cr
                  FROM fb GROUP BY f),
        tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM stats),
        lam AS (SELECT f,
                       CAST(floor(ln(((ct + 1.0) * (tr + {_DSIR_BUCKETS}))
                                     / ((cr + 1.0)
                                        * (tt + {_DSIR_BUCKETS})))
                                  * 1000000 + 0.5) AS BIGINT) AS lam
                FROM stats CROSS JOIN tot)"""

_DSIR_SCORE_SQL = f"""
        sc AS (SELECT fb.doc_id, fb.source,
                      COUNT(*) AS n_bigrams, SUM(lam.lam) AS score
               FROM fb JOIN lam USING (f)
               WHERE fb.lang <> '{_DSIR_TARGET}'
               GROUP BY fb.doc_id, fb.source)"""


def _dsir_fb(documents: DataFrame, *, spread_ids: bool = True) -> DataFrame:
    """Per-bigram bucket rows (doc_id, lang, source, f) — the Spark
    mirror of the tk/bg/fb CTEs."""
    d = (
        dedup.spread(documents, "doc_id") if spread_ids else documents
    ).select("doc_id", "lang", "source", F.split("text", " ").alias("ts"))
    bg = (
        d.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            "lang",
            "source",
            F.explode(
                F.sequence(F.lit(1), F.size("ts") - 1, F.lit(1))
            ).alias("i"),
            "ts",
        )
        .select(
            "doc_id",
            "lang",
            "source",
            F.concat_ws(
                " ",
                F.element_at("ts", F.col("i")),
                F.element_at("ts", F.col("i") + 1),
            ).alias("b"),
        )
    )
    return bg.select(
        "doc_id",
        "lang",
        "source",
        (text.fingerprint("b") % _DSIR_BUCKETS).alias("f"),
    )


def _dsir_lam(fb: DataFrame) -> DataFrame:
    """The 64-row quantized log-importance table — the Spark mirror of
    the stats/tot/lam CTEs (q86 micro-nat policy)."""
    is_t = F.col("lang") == _DSIR_TARGET
    stats = fb.groupBy("f").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~is_t, 1).otherwise(0)).alias("cr"),
    )
    tot = stats.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    return stats.crossJoin(F.broadcast(tot)).select(
        "f",
        F.floor(
            F.ln(
                ((F.col("ct") + 1.0) * (F.col("tr") + _DSIR_BUCKETS))
                / ((F.col("cr") + 1.0) * (F.col("tt") + _DSIR_BUCKETS))
            )
            * 1000000
            + 0.5
        ).cast("long").alias("lam"),
    )


@query(
    "q177_dsir_select",
    oracle=_DSIR_FIT_SQL + "," + _DSIR_SCORE_SQL + f""",
        r AS (SELECT *, row_number()
                            OVER (ORDER BY score DESC, doc_id) AS rn
              FROM sc)
        SELECT doc_id, source, CAST(n_bigrams AS BIGINT) AS n_bigrams,
               CAST(score AS BIGINT) AS dsir_score
        FROM r WHERE rn <= {_DSIR_K}
    """,
    tags=("sampling", "llm", "quality", "slow"),
)
def q177(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    public): select from a raw pool the documents whose hashed-n-gram
    feature distribution best matches a TARGET corpus. Features are
    bigrams hashed into 64 buckets (q36's rolling fingerprint mod 64 —
    one shared constant with the oracle); target (lang=en) and raw bucket
    multinomials get +1 smoothing; each bucket's log importance ratio
    ln(p_f/q_f) is quantized to int64 MICRO-NATS by the q86 policy
    (floor(ln·1e6 + 0.5) of a single ln over an exactly-representable
    integer ratio — no FP sum crosses engines), so every per-doc score is
    an exact integer sum. Spark-first plan: bucket ids are computed in
    the scan projection (text never shuffles); the 64-row stats table
    comes from ONE groupBy over the full corpus with map-side partials;
    the totals ride a 1-row broadcast crossJoin (established scalar-frame
    pattern); scoring broadcast-joins the 64-row lambda table to the raw
    side's per-bigram rows and aggregates per doc in ONE doc_id exchange
    (partial agg collapses bigrams before the shuffle); selection is
    TakeOrdered depth-100 (never a global sort). Two corpus scans total —
    the fit pass and the score pass — exactly the two passes the DSIR
    recipe itself prescribes at 100 TB."""
    (documents,) = load(spark, sf, "documents")
    fb = _dsir_fb(documents)
    lam = _dsir_lam(fb)
    sc = (
        fb.filter(F.col("lang") != _DSIR_TARGET)
        .join(F.broadcast(lam), "f")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("lam").cast("long").alias("dsir_score"),
        )
    )
    return (
        sc.orderBy(F.col("dsir_score").desc(), "doc_id")
        .limit(_DSIR_K)
        .select("doc_id", "source", "n_bigrams", "dsir_score")
    )


# ------------------- Q175b exact-substring SCRUB (span removal)
@query(
    "q175b_substring_scrub",
    oracle=f"""
        WITH t AS (SELECT doc_id, lang,
                          string_split(text, ' ') AS ts
                   FROM documents),
        w AS (SELECT doc_id, len(ts) AS n_tokens, ts,
                     unnest(generate_series(1, len(ts) - {_SSD_W - 1}, 1))
                         AS st
              FROM t WHERE len(ts) >= {_SSD_W}),
        f AS (SELECT doc_id, st,
                     {text.fingerprint_sql(
                         "array_to_string(list_slice(ts, st, st + "
                         + str(_SSD_W - 1) + "), ' ')")} AS wfp
              FROM w),
        m AS (SELECT doc_id, st, COUNT(*) OVER (PARTITION BY wfp) AS nd
              FROM f),
        d AS (SELECT doc_id, st, st + {_SSD_W - 1} AS en
              FROM m WHERE nd >= 2),
        g AS (SELECT doc_id, st, en,
                     MAX(en) OVER (PARTITION BY doc_id ORDER BY st
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING) AS pmax
              FROM d),
        i AS (SELECT doc_id, st, en,
                     SUM(CASE WHEN pmax IS NULL OR st > pmax + 1
                              THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY st
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS gid
              FROM g),
        isl AS (SELECT doc_id, gid, MIN(st) AS s, MAX(en) AS e
                FROM i GROUP BY doc_id, gid),
        tok AS (SELECT doc_id, lang, len(ts) AS n_tokens,
                       unnest(ts) AS tok,
                       unnest(generate_series(1, len(ts))) AS pos
                FROM t),
        cov AS (SELECT k.doc_id, k.lang, k.n_tokens, k.tok, k.pos,
                       EXISTS(SELECT 1 FROM isl
                              WHERE isl.doc_id = k.doc_id
                                AND k.pos BETWEEN isl.s AND isl.e) AS c
                FROM tok k)
        SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(COUNT(*) FILTER (WHERE NOT c) AS BIGINT)
                   AS kept_tokens,
               COALESCE(string_agg(tok, ' ' ORDER BY pos)
                            FILTER (WHERE NOT c), '') AS scrubbed_text
        FROM cov GROUP BY doc_id, lang, n_tokens
    """,
    tags=("dedup", "text", "llm", "quality"),
)
def q175b(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring SCRUB — the REMOVAL half of the suffix-array dedup
    family q175 reports on: every maximal duplicated region (text that
    appears verbatim anywhere else in the corpus at >= 8-token length) is
    cut from every document, and the surviving tokens are reassembled
    into the deduplicated text — the transformation Lee et al. 2021
    actually apply before training. Semantics choice, made explicit:
    remove-ALL-occurrences (C4-style boilerplate removal), not
    keep-one-copy — at MAXIMAL-span granularity keep-one is ill-posed
    (two docs' islands over the same shared run have different extents,
    so no occurrence is canonical for "the span"); pipelines that need
    keep-one compose q25/q110's document-level keepers with this scrub.
    TOTAL over the corpus: clean and
    too-short documents pass through verbatim; a fully-duplicated
    document survives as an empty string (kept_tokens = 0), never a
    dropped row. Plan: islands come from substring_dup_islands (two
    content exchanges, text never shuffles on that side); the
    reassembly side posexplodes tokens ONCE, marks coverage with a
    per-document left equi-join against the islands (range predicate
    rides the doc_id equi-join; bucket width = tokens-per-doc x
    islands-per-doc, bounded by document length — never corpus size),
    and rebuilds the string with the q47 idiom (sort INSIDE the
    collected array — collect_list order is nondeterministic at any
    parallelism, array_sort(struct(pos, tok)) is not). Reassembly is the
    one stage whose exchange carries token text — inherent to any
    transformation that must EMIT text."""
    (documents,) = load(spark, sf, "documents")
    isl = dedup.substring_dup_islands(
        documents, width=_SSD_W, carry=()
    ).select(
        F.col("doc_id").alias("i_doc"), "isl_st", "isl_en"
    )
    d = dedup.spread(documents, "doc_id").select(
        "doc_id", "lang", F.split("text", " ").alias("ts")
    )
    tok = d.select(
        "doc_id",
        "lang",
        F.size("ts").alias("n_tokens"),
        F.posexplode("ts").alias("pos0", "tok"),
    ).select(
        "doc_id", "lang", "n_tokens", "tok",
        (F.col("pos0") + 1).alias("pos"),
    )
    j = tok.join(
        isl,
        (F.col("doc_id") == F.col("i_doc"))
        & F.col("pos").between(F.col("isl_st"), F.col("isl_en")),
        "left",
    )
    kept_struct = F.when(
        F.col("isl_st").isNull(), F.struct("pos", "tok")
    )
    return (
        j.groupBy("doc_id", "lang", "n_tokens")
        .agg(
            F.sum(F.when(F.col("isl_st").isNull(), 1).otherwise(0))
            .cast("long").alias("kept_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("scrubbed_text"),
        )
        .select(
            "doc_id", "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "kept_tokens", "scrubbed_text",
        )
    )


# --------------------------- Q178 Gopher quality-rule funnel
# Rae et al. 2021 (public) rule set, thresholds adapted to the fixture
# corpus where noted; the REQUIRED-WORD list is Gopher's, intersected
# with the repo's en function-word vocabulary.
_GOPHER_WC_LO, _GOPHER_WC_HI = 50, 100_000
_GOPHER_MWL_LO10, _GOPHER_MWL_HI10 = 30, 100   # mean word length x10
_GOPHER_REQ = ("the", "of", "and", "to")       # >= 2 distinct required
_GOPHER_TOP2_BP = 2000                         # top-2-gram chars <= 20%

# ONE home for the rule expressions, shared by batch q178 (funnel) and
# streaming q178b (per-doc verdicts at ingest) on BOTH engines — the
# only legitimate difference between the two queries is WHERE top_cov
# comes from (groupBy vs row-local), so that is the only parameter.
_GOPHER_SCALARS_SQL = f"""len(ts) AS n_tok,
                     list_sum(list_transform(ts, x -> len(x)))
                         AS sum_len,
                     len(list_distinct(list_filter(ts,
                         x -> list_contains({_sql_list(_GOPHER_REQ)}, x))))
                         AS n_req"""


def _gopher_verdicts_sql(top_cov: str, pre: str = "") -> str:
    """The four rule CASEs over scalars qualified by ``pre``, with the
    top-2-gram coverage supplied as an expression by the caller."""
    return f"""CASE WHEN {pre}n_tok BETWEEN {_GOPHER_WC_LO}
                               AND {_GOPHER_WC_HI}
                          THEN 0 ELSE 1 END AS f_wc,
                     CASE WHEN {pre}n_tok > 0
                               AND (10 * {pre}sum_len) // {pre}n_tok
                                   BETWEEN {_GOPHER_MWL_LO10}
                                       AND {_GOPHER_MWL_HI10}
                          THEN 0 ELSE 1 END AS f_mwl,
                     CASE WHEN {pre}n_req >= 2 THEN 0 ELSE 1 END AS f_req,
                     CASE WHEN {top_cov} * 10000
                               // GREATEST({pre}n_chars, 1)
                               <= {_GOPHER_TOP2_BP}
                          THEN 0 ELSE 1 END AS f_top"""


def _gopher_scalar_exprs() -> list:
    """Spark mirror of _GOPHER_SCALARS_SQL — per-doc rule scalars from a
    ``ts`` token-array column."""
    req = F.array(*[F.lit(w) for w in _GOPHER_REQ])
    return [
        F.size("ts").alias("n_tok"),
        F.aggregate(
            F.transform("ts", lambda x: F.length(x)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        F.size(
            F.array_intersect(F.array_distinct("ts"), req)
        ).alias("n_req"),
    ]


def _gopher_verdict_exprs() -> list:
    """Spark mirror of _gopher_verdicts_sql — requires columns n_tok,
    sum_len, n_req, n_chars, and a long ``top_cov`` (0 when absent)."""
    return [
        F.when(
            F.col("n_tok").between(_GOPHER_WC_LO, _GOPHER_WC_HI), 0
        ).otherwise(1).cast("long").alias("f_wc"),
        F.when(
            (F.col("n_tok") > 0)
            & F.expr("(10 * sum_len) DIV n_tok").between(
                _GOPHER_MWL_LO10, _GOPHER_MWL_HI10
            ),
            0,
        ).otherwise(1).cast("long").alias("f_mwl"),
        F.when(F.col("n_req") >= 2, 0).otherwise(1).cast("long")
        .alias("f_req"),
        F.when(
            F.expr("(CAST(top_cov AS BIGINT) * 10000)"
                   " DIV GREATEST(n_chars, 1)")
            <= _GOPHER_TOP2_BP,
            0,
        ).otherwise(1).cast("long").alias("f_top"),
    ]


@query(
    "q178_gopher_rules",
    oracle=f"""
        WITH t AS (SELECT doc_id, lang, n_chars,
                          string_split(text,' ') AS ts
                   FROM documents),
        m AS (SELECT doc_id, lang, n_chars, ts,
                     {_GOPHER_SCALARS_SQL}
              FROM t),
        bg AS (SELECT doc_id,
                      unnest(list_transform(
                          generate_series(1, len(ts) - 1),
                          i -> ts[i] || ' ' || ts[i+1])) AS b
               FROM m WHERE n_tok >= 2),
        cov AS (SELECT doc_id,
                       MAX(cnt * blen) AS top_cov
                FROM (SELECT doc_id, b, COUNT(*) AS cnt,
                             len(b) AS blen
                      FROM bg GROUP BY doc_id, b, len(b))
                GROUP BY doc_id),
        r AS (SELECT m.doc_id, m.lang,
                     {_gopher_verdicts_sql(
                         "COALESCE(cov.top_cov, 0)", pre="m.")}
              FROM m LEFT JOIN cov ON cov.doc_id = m.doc_id)
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(f_wc) AS BIGINT) AS fail_wordcount,
               CAST(SUM(f_mwl) AS BIGINT) AS fail_wordlen,
               CAST(SUM(f_req) AS BIGINT) AS fail_required,
               CAST(SUM(f_top) AS BIGINT) AS fail_topngram,
               CAST(SUM(CASE WHEN f_wc + f_mwl + f_req + f_top = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
        FROM r GROUP BY lang
    """,
    tags=("text", "llm", "quality"),
)
def q178(spark: SparkSession, sf: str) -> DataFrame:
    """GOPHER quality-rule funnel (Rae et al. 2021, public — the named
    heuristic filter set every modern pretraining pipeline starts from):
    per language, how many documents fail EACH rule and how many pass
    them all — word-count bounds [50, 100k], mean-word-length bounds
    [3, 10] (exact integers: x10 basis via (10*sum_len) DIV n_tok),
    the required-function-word rule (>= 2 distinct of the/of/and/to —
    Gopher's list intersected with the fixture vocabulary), and the
    top-2-gram character-coverage ceiling (<= 20% of chars in the single
    most covering bigram — max(count x char-len), deterministic without
    a tie-break). ALL integer arithmetic. Spark-first plan, one corpus
    scan: per-doc scalars (token count, summed token length, distinct
    required-word hits) are scan-projection higher-order functions with
    NO explode; only the top-bigram rule explodes, and its two
    aggregations carry fixed-width (doc_id, bigram) rows with map-side
    partials; the per-rule funnel is a per-lang aggregate over the
    joined verdicts. The rules are VERDICT columns, not filters, so one
    pass yields the whole go/no-go table — at 100 TB you read the funnel
    before committing to a cutoff (q117's banding precedent, extended to
    the named rule set)."""
    (documents,) = load(spark, sf, "documents")
    d = dedup.spread(documents, "doc_id").select(
        "doc_id", "lang", "n_chars", F.split("text", " ").alias("ts")
    )
    m = d.select(
        "doc_id",
        "lang",
        "n_chars",
        "ts",
        *_gopher_scalar_exprs(),
    )
    bg = m.filter(F.col("n_tok") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("ts", i), F.element_at("ts", i + 1)
                ),
            )
        ).alias("b"),
    )
    cov = (
        bg.groupBy("doc_id", "b")
        .agg((F.count(F.lit(1)) * F.length("b")).alias("covb"))
        .groupBy("doc_id")
        .agg(F.max("covb").cast("long").alias("cov_raw"))
    )
    r = (
        m.join(cov, "doc_id", "left")
        .withColumn(
            "top_cov", F.coalesce(F.col("cov_raw"), F.lit(0).cast("long"))
        )
        .select("lang", *_gopher_verdict_exprs())
    )
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("f_wc").cast("long").alias("fail_wordcount"),
        F.sum("f_mwl").cast("long").alias("fail_wordlen"),
        F.sum("f_req").cast("long").alias("fail_required"),
        F.sum("f_top").cast("long").alias("fail_topngram"),
        F.sum(
            F.when(
                F.col("f_wc") + F.col("f_mwl") + F.col("f_req")
                + F.col("f_top") == 0,
                1,
            ).otherwise(0)
        ).cast("long").alias("pass_all"),
    )


# --------------------- Q179 distributed BPE tokenizer training
_BPE_MERGES = 6
_BPE_SEP = "\x1f"  # unit-separator — cannot occur in corpus tokens


def _bpe_oracle(k: int = _BPE_MERGES, chain_only: bool = False) -> str:
    """Generated-CTE mirror of the k-merge BPE loop (the q172b unrolled-
    chain policy): each level computes the pair table, takes the argmax
    (count DESC, pair ASC — fully deterministic), and applies the merge
    with a LEFT-TO-RIGHT STRING FOLD — exact greedy BPE application:
    when the accumulator's last symbol equals the pair's left and the
    incoming symbol equals its right, append the right WITHOUT a
    separator (replacing trailing ``a`` with ``a||b`` IS appending
    ``b``); a just-merged symbol string-differs from the pair's left, so
    self-overlapping runs pair two-at-a-time exactly as Sennrich's
    algorithm does ('aaaaa' -> aa aa a — a sep-anchored replace gets
    this WRONG, stranding singles mid-run, which a review pass caught
    empirically). The argmax rides a LEFT JOIN ON TRUE so a round with
    no pairs left is a NULL no-op level, mirroring the Spark side's
    early loop exit."""
    fold = """list_reduce(string_split(s, chr(31)),
                     (acc, x) -> CASE
                       WHEN x = t.b AND (acc = t.a
                                         OR ends_with(acc,
                                                      chr(31) || t.a))
                       THEN acc || x
                       ELSE acc || chr(31) || x END)"""
    sql = """
        WITH w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c
                    FROM (SELECT unnest(string_split(text,' ')) AS word
                          FROM documents)
                    GROUP BY word),
        seq0 AS (SELECT word, c,
                        array_to_string(string_split(word, ''), chr(31))
                            AS s
                 FROM w0)"""
    for i in range(1, k + 1):
        p = i - 1
        sql += f""",
        pair{i} AS (SELECT l[j] || chr(31) || l[j+1] AS pr, SUM(c) AS n
                    FROM (SELECT string_split(s, chr(31)) AS l, c
                          FROM seq{p}),
                         unnest(generate_series(1, len(l)-1)) AS g(j)
                    GROUP BY pr),
        top{i} AS (SELECT split_part(pr, chr(31), 1) AS a,
                          split_part(pr, chr(31), 2) AS b
                   FROM pair{i} ORDER BY n DESC, pr LIMIT 1),
        seq{i} AS (SELECT word, c, {fold} AS s
                   FROM seq{p} LEFT JOIN top{i} t ON true)"""
    if chain_only:
        # just the CTE chain (callers append their own tail CTEs + SELECT
        # — an explicit API, not string surgery over generated SQL)
        return sql
    sql += f"""
        SELECT word, c AS word_count,
               CAST(len(string_split(s, chr(31))) AS BIGINT) AS n_symbols,
               replace(s, chr(31), ' ') AS segmentation
        FROM seq{k}"""
    return sql


@query(
    "q179_bpe_train",
    oracle=_bpe_oracle(),
    tags=("text", "llm", "tokenizer", "slow"),
    bench=True,
)
def q179(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (Sennrich et al. 2016, public —
    the algorithm behind every modern subword vocabulary): learn the
    first 6 merges on the corpus word-frequency table and return every
    word's final segmentation. Spark-first shape, the standard scalable
    BPE factorization: training runs on the WORD-COUNT table (millions
    of rows at 100 TB — distributed; never on the token stream), built
    by one corpus scan + one aggregate and MATERIALIZED ONCE; each merge
    round is then (a) one pair-count aggregate over the words frame with
    map-side partials — the only per-round shuffle, O(distinct pairs)
    rows, (b) a 1-ROW argmax collect (count DESC, pair ASC tiebreak —
    the centroid-collect bounded policy; an empty pair table ends
    training early — the vocabulary is fully merged), and (c) a codegen
    merge-application: a left-to-right STRING FOLD over the symbol
    array (F.aggregate), NO Python in the row path — exact greedy BPE
    including self-overlapping runs ('aaaaa' pairs two-at-a-time to
    aa aa a; a sep-anchored replace strands singles mid-run, caught
    empirically by a review pass and pinned in the pytest). The oracle
    unrolls all 6 rounds as a generated CTE chain with the same fold
    (list_reduce) and the argmax as a 1-row LEFT join. Output is the
    APPLIED tokenizer — (word, count, n_symbols, segmentation) for the
    whole vocabulary. Training loop lives in _bpe_train (one home,
    shared with streaming q179b's fit side)."""
    (documents,) = load(spark, sf, "documents")
    seq, _merges = _bpe_train(documents)
    return seq.select(
        "word",
        F.col("c").alias("word_count"),
        F.size(F.split("s", _BPE_SEP)).cast("long").alias("n_symbols"),
        F.replace(F.col("s"), F.lit(_BPE_SEP), F.lit(" "))
        .alias("segmentation"),
    )


def _bpe_train(documents: DataFrame) -> tuple[DataFrame, list[tuple[str, str]]]:
    """q179's training loop — ONE home shared by batch q179 and streaming
    q179b's fit side: returns (final symbol-sequence frame (word, c, s),
    the learned merge list in rank order). The word-count table is
    materialized once; each round is one pair-count aggregate, a 1-row
    argmax collect (count DESC, pair ASC), and the greedy string fold.
    An empty pair table ends training early (vocabulary fully merged)."""
    from ..plans import materialize_once

    w = materialize_once(
        documents.select(
            F.explode(F.split("text", " ")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    seq = w.select(
        "word", "c",
        F.array_join(F.split("word", ""), _BPE_SEP).alias("s"),
    )
    merges: list[tuple[str, str]] = []
    for _ in range(_BPE_MERGES):
        lcol = F.split("s", _BPE_SEP)
        pair_arr = F.when(
            F.size(lcol) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(lcol) - 1),
                lambda j: F.concat(
                    F.element_at(lcol, j),
                    F.lit(_BPE_SEP),
                    F.element_at(lcol, j + 1),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        rows = (
            seq.select(F.explode(pair_arr).alias("pr"), "c")
            .groupBy("pr")
            .agg(F.sum("c").alias("n"))
            .orderBy(F.col("n").desc(), "pr")
            .limit(1)
            .collect()  # BOUNDED: at most one row by construction
        )
        if not rows:
            break  # vocabulary fully merged; oracle's NULL no-op rounds
        a, b = rows[0]["pr"].split(_BPE_SEP)
        merges.append((a, b))
        folded = F.aggregate(
            F.slice(lcol, 2, F.size(lcol) - 1),
            F.element_at(lcol, 1),
            lambda acc, x: F.when(
                (x == F.lit(b))
                & (
                    (acc == F.lit(a))
                    | acc.endswith(F.lit(_BPE_SEP + a))
                ),
                F.concat(acc, x),
            ).otherwise(F.concat(acc, F.lit(_BPE_SEP), x)),
        )
        seq = seq.select("word", "c", folded.alias("s"))
    return seq, merges


# ----------------- Q180 Misra-Gries heavy hitters (mergeable sketch)
_MG_K = 64        # counters per partition summary
_MG_TOP = 10      # report size


@query("q180_heavy_hitters", oracle=None,
       tags=("sketch", "approx", "text", "llm", "slow"))
def q180(spark: SparkSession, sf: str) -> DataFrame:
    """HEAVY HITTERS via Misra-Gries — the mergeable-summary pattern
    (Misra & Gries 1982; Agarwal et al. 2012 "Mergeable Summaries",
    public) the built-in sketches (q24b HLL/GK, q50 HLL-union) don't
    show: a BOUNDED imperative per-partition summary (<= 64 counters,
    Arrow kernel — tokens never leave their partition) merged by ONE
    ordinary groupBy-sum over <= 64 x partitions rows, with the provable
    guarantee est in [true - N/65, true] and every token above the N/65
    frequency threshold present. Output: top-10 tokens by estimated
    count (est DESC, token ASC — deterministic: in-partition traversal
    is pinned by sortWithinPartitions and the decrement-all step has no
    tie ambiguity). Rows-only by design — a sketch is not
    SQL-expressible (the q163 category); the error-bound, completeness,
    and determinism contracts are pinned quantitatively in pytest and
    APPROX_EVIDENCE.json against exact counts."""
    from ..operators import sketch

    (documents,) = load(spark, sf, "documents")
    # (doc_id, pos) is a TOTAL order over the exploded tokens — doc_id
    # alone ties all tokens of a doc, leaving traversal (and thus the
    # exact estimates) to Spark's scan order rather than the pinned key
    toks = dedup.spread(documents, "doc_id").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    hh = sketch.misra_gries(
        toks, "token", k=_MG_K, sort_cols=("doc_id", "pos")
    ).select(F.col("item").alias("token"), "est_count")
    return hh.orderBy(F.col("est_count").desc(), "token").limit(_MG_TOP)


# --------------- Q181 KLL quantile sketch (mergeable rank summary)
_KLL_K = 200
_KLL_QS = (0.5, 0.9, 0.99)


@query("q181_quantile_sketch", oracle=None,
       tags=("sketch", "approx", "relational"))
def q181(spark: SparkSession, sf: str) -> DataFrame:
    """QUANTILES via a mergeable KLL-style sketch — the other summary a
    100 TB rollup needs next to q180's frequencies (Karnin-Lang-Liberty
    2016 / MRL 1998, public; deterministic alternating compaction):
    each partition reduces its l_extendedprice stream to <= k*log(N/k)
    weighted items plus a SELF-COMPUTED rank-error bound, summaries
    merge by union (the under/over-counts add — Agarwal et al. 2012's
    mergeability, exactly q180's argument transposed to ranks), and
    p50/p90/p99 come off the merged summary with a per-answer
    guarantee: |true_rank(est) - q*N| <= err_bound, reported in the
    row itself. Rows-only by design (a sketch is not SQL-expressible —
    the q163/q180 category); the bound, mergeability, and determinism
    contracts are pinned quantitatively in pytest and
    APPROX_EVIDENCE.json against exact percentiles
    (operators/percentile.py's histogram path / DuckDB median) at both
    SFs. Traversal pinned by the (l_orderkey, l_linenumber) total
    order."""
    from ..operators import sketch

    (lineitem,) = load(spark, sf, "lineitem")
    return sketch.kll_quantiles(
        lineitem, "l_extendedprice", quantiles=_KLL_QS, k=_KLL_K,
        sort_cols=("l_orderkey", "l_linenumber"),
    )


# ------------------- Q182 animated-GIF perceptual dedup (middle frame)
def _synth_gif_anim_blobs(df: DataFrame) -> DataFrame:
    """q182 fixture-synthesis stage — q174's derivation arithmetic for
    the GIF container: every doc in perceptual group g = id//3 gets the
    SAME animation (group-determined length n_frames = 3 + g%3; frame f
    a 56x56 grayscale plane whose 7x7 blocks hold values drawn from an
    rng seeded by (g, f) — INDEPENDENT patterns per group and per
    frame, so animations dedup exactly by group while a wrong frame
    index changes the hash) rendered at per-doc brightness/contrast
    (vals*(1+d%2) + 10*(d%5), pHash exactly invariant to both). Real
    LZW encoding per frame, graphic-control delays, NETSCAPE loop
    extension — the blob is what a crawler actually stores for an
    animated GIF."""
    import numpy as np
    import pandas as pd

    def make(it):
        for pdf in it:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                g = d // 3
                n_frames = 3 + g % 3
                frames = []
                for f in range(n_frames):
                    rng = np.random.RandomState(
                        (g * 2654435761 + f * 97 + 59) % (2**31)
                    )
                    base = 28 + 2 * rng.randint(0, 40, (7, 7))
                    vals = base * (1 + d % 2) + 10 * (d % 5)
                    img = np.kron(vals, np.ones((8, 8), dtype=np.int64))
                    frames.append(bytes(img.astype(np.uint8).ravel()))
                blobs.append(
                    multimodal.encode_gif_anim(56, 56, frames, delay_cs=4)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return multimodal.widen_partitions(df.select("doc_id")).mapInPandas(make, "doc_id long, blob binary")


@query(
    "q182_gif_anim_phash_dedup",
    oracle="""
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS BIGINT) AS hamming
        FROM documents a JOIN documents b
          ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
    """,
    tags=("multimodal", "dedup", "llm", "video", "slow"),
)
def q182(spark: SparkSession, sf: str) -> DataFrame:
    """ANIMATED-GIF perceptual dedup over real frame-pixel decode:
    q174's video-dedup chain for the GIF container — the
    other intra-frame animation format a crawl actually contains whose
    frames need NO codec library. The frame table walks the
    graphic-control/image-descriptor structure (`gif_frame_table`, the
    `mp4_sample_table` analog), the MIDDLE frame decodes through full
    LZW + sequential composition (`decode_gif_frame` — GIF frames are
    deltas over the canvas, so unlike MJPEG's chunk-table seek the cost
    is O(n_frames/2) per animation; stated, not hidden), and the pHash
    feeds the same Hamming chunk equi-join. Group-determined animation
    LENGTH and per-(group, frame) independent content make the
    middle-frame pick load-bearing — a wrong frame index or a botched
    composition changes the hash and the closed-form oracle catches it.

    Scale shape identical to q174: synthesis, decode, and hash are one
    Arrow-batched projection per partition (blobs never shuffle); the
    only exchange is the 8-byte (chunk_id, chunk_value) candidate
    equi-join."""
    (documents,) = load(spark, sf, "documents")
    hashed = multimodal.gif_anim_phash_blobs(_synth_gif_anim_blobs(documents))
    return dedup.hamming_neardup_pairs(
        hashed, max_hamming=3, id_col="doc_id", hash_col="vhash"
    )


# ------------------- Q183 APNG animation perceptual dedup (middle frame)
def _synth_apng_anim_blobs(df: DataFrame) -> DataFrame:
    """q183 fixture-synthesis stage — q182's derivation arithmetic for
    the APNG container (group-determined n_frames = 3 + g%3, per-(g, f)
    independent 56x56 patterns at per-doc brightness/contrast), with a
    DIFFERENT seed salt so the two animation fixtures are independent.
    Frames compress through real per-frame DEFLATE with the all-five-
    filters rotation; frame 0 rides IDAT, the rest sequence-numbered
    fdAT — the blob is what a crawler stores for an animated PNG."""
    import numpy as np
    import pandas as pd

    def make(it):
        for pdf in it:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                g = d // 3
                n_frames = 3 + g % 3
                frames = []
                for f in range(n_frames):
                    rng = np.random.RandomState(
                        (g * 2654435761 + f * 131 + 73) % (2**31)
                    )
                    base = 28 + 2 * rng.randint(0, 40, (7, 7))
                    vals = base * (1 + d % 2) + 10 * (d % 5)
                    img = np.kron(vals, np.ones((8, 8), dtype=np.int64))
                    frames.append(bytes(img.astype(np.uint8).ravel()))
                blobs.append(multimodal.encode_apng(56, 56, frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return multimodal.widen_partitions(df.select("doc_id")).mapInPandas(make, "doc_id long, blob binary")


@query(
    "q183_apng_anim_phash_dedup",
    oracle="""
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS BIGINT) AS hamming
        FROM documents a JOIN documents b
          ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
    """,
    tags=("multimodal", "dedup", "llm", "video", "slow"),
)
def q183(spark: SparkSession, sf: str) -> DataFrame:
    """APNG animation perceptual dedup over real frame decode:
    q182's chain for the SECOND pure-stdlib animation
    container — APNG rides the PNG chunk stream (acTL/fcTL/fdAT, W3C
    spec, public), so `apng_frame_table` walks CRC-verified chunks and
    sequence numbers, `decode_apng_frame` composes regions through the
    shared PNG inflate + all-five-filter reconstruction with the
    spec's dispose (none/background/previous) and blend (source/over
    Porter-Duff) semantics, and the middle frame pHashes into the same
    Hamming chunk equi-join. Group-determined length and per-(group,
    frame) independent content keep the middle-frame pick and the
    composition load-bearing, exactly as q182 argues.

    Scale shape identical to q174/q182: synthesis, decode, and hash
    are one Arrow-batched projection per partition (blobs never
    shuffle); the only exchange is the 8-byte (chunk_id, chunk_value)
    candidate equi-join."""
    (documents,) = load(spark, sf, "documents")
    hashed = multimodal.apng_phash_blobs(_synth_apng_anim_blobs(documents))
    return dedup.hamming_neardup_pairs(
        hashed, max_hamming=3, id_col="doc_id", hash_col="vhash"
    )


@query("q191_pq_ann_topk", oracle=None, tags=("similarity", "llm", "approx"))
def q191(spark: SparkSession, sf: str) -> DataFrame:
    """PQ/ADC approximate top-10 with exact rerank: vectors
    compressed to 16 sub-quantizer codes (sample-trained codebooks,
    Arrow-batched encoding), query scored by an m x 16 lookup table as
    a pure codegen int-array expression, ADC top-80 reranked exactly.
    The memory-bound ANN scale path — at 100 TB the ADC scan reads a
    ~16x smaller codes table and only 80 raw vectors are fetched.
    Operating point m=16 (4-dim subspaces), rerank=8: top-10 overlap
    vs exact 10/10 at sf0.001 and sf0.01, 9/10 at sf0.1 on the
    near-uniform worst-case corpus (the q42/q27b bar). Rows-only
    check; overlap measured in APPROX_EVIDENCE.json and pinned by
    tests/test_llm_ops.py."""
    (emb,) = load(spark, sf, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    return similarity.pq_topk(emb, qv, k=10, m=16, rerank=8)


@query("q192_kmv_distinct", oracle=None,
       tags=("sketch", "approx", "text", "llm"))
def q192(spark: SparkSession, sf: str) -> DataFrame:
    """CARDINALITY via a mergeable KMV (k-minimum-values) sketch —
    completing the mergeable-summary matrix (q180 frequencies, q181
    quantiles, here distinct counts; Bar-Yossef et al. 2002 / Beyer et
    al. 2007, public). Unlike MG/KLL the summary is a pure function of
    the input SET (min-of-hashes commutes, dedup commutes), so the
    merge is EXACT union — no traversal pin, no bound addition — and
    the estimate is deterministic on any partitioning. Two scopes the
    corpus audit needs: distinct whitespace tokens over documents (the
    vocabulary size feeding q80/q105) and distinct users over events.
    The estimator (k-1)/u_k carries a ~1/sqrt(k-2) standard error
    (k=1024 -> ~3.1%); when distinct < k the sketch holds the whole
    set and the answer is EXACT (reported via the `exact` flag).
    Rows-only by design (the q180/q181 category); relative error vs
    exact countDistinct pinned in APPROX_EVIDENCE.json at both SFs and
    by pytest contracts."""
    from ..operators import sketch

    documents, events, lineitem = load(
        spark, sf, "documents", "events", "lineitem"
    )
    toks = documents.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    rows = []
    for scope, frame, col in (
        # doc_tokens is exact-when-small at every SF (31 distinct);
        # event_users is exact at sf0.01 (150) but crosses into the
        # estimator regime at sf0.1 (1500 > k); order_keys is always
        # the estimator regime (15k/150k distinct >> k=1024)
        ("doc_tokens", toks, "tok"),
        ("event_users", events, "user_id"),
        ("order_keys", lineitem, "l_orderkey"),
    ):
        est, n_kept = sketch.kmv_distinct(frame, col, k=1024)
        rows.append((scope, est, n_kept, 1024, n_kept < 1024))
    return spark.createDataFrame(
        rows, "scope string, est_distinct long, n_kept long, k long, "
              "exact boolean"
    )


# ------------------- Q193 C4 quality rules (Raffel et al. 2020, public)
# The corpus is token soup (no punctuation, no newlines), so page
# structure is INJECTED deterministically from (doc_id, line_idx) — the
# q164 fixture convention, stated identically in both engine texts:
# lines are 8-token windows; line j of doc d is decorated with
#   'lorem ipsum ' prefix   iff (d*13 + j) % 17 == 0   (+2 words)
#   ' {' suffix             iff (d*7  + j) % 11 == 0   (+1 word)
#   ' javascript' suffix    iff (d*3  + j) % 13 == 0   (+1 word)
#   terminal '.'            iff (d + j) % 3 != 0       (+0 words)
# C4's rules then apply: a LINE is kept iff it ends in terminal
# punctuation AND has >= 5 words AND does not mention javascript; a
# PAGE is kept iff no '{', no 'lorem ipsum', and >= 3 kept lines.
# kept_chars counts the undecorated token bytes of kept lines
# (tokens + single spaces).
_C4_LINE_W = 8
_C4_MIN_WORDS = 5
_C4_MIN_LINES = 3


def _c4_doc_cols():
    """Per-document C4 columns (n_lines, n_kept_lines, any_brace,
    any_lorem, kept_chars, doc_kept) over a frame carrying doc_id and
    ts (the token array). Pure codegen higher-order functions — one
    scan projection, shared verbatim by batch q193 and streaming
    q193b (one rule home)."""
    d = F.col("doc_id")
    ts = F.col("ts")
    n_tok = F.size(ts)
    w = F.lit(_C4_LINE_W)
    n_lines = F.ceil(n_tok / w).cast("long")
    js_seq = F.sequence(F.lit(0).cast("long"), n_lines - 1)

    def base(j):
        return F.least(w.cast("long"), n_tok.cast("long") - j * w)

    def lorem(j):
        return (d * 13 + j) % 17 == 0

    def brace(j):
        return (d * 7 + j) % 11 == 0

    def js(j):
        return (d * 3 + j) % 13 == 0

    def punct(j):
        return (d + j) % 3 != 0

    def words(j):
        return (
            base(j)
            + F.when(lorem(j), 2).otherwise(0)
            + F.when(brace(j), 1).otherwise(0)
            + F.when(js(j), 1).otherwise(0)
        )

    def kept(j):
        return punct(j) & ~js(j) & (words(j) >= _C4_MIN_WORDS)

    def chars(j):
        sl = F.slice(ts, (j * w + 1).cast("int"), base(j).cast("int"))
        return (
            F.aggregate(
                sl, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
            )
            + base(j)
            - 1
        )

    n_kept = F.size(F.filter(js_seq, kept)).cast("long")
    any_brace = F.exists(js_seq, brace)
    any_lorem = F.exists(js_seq, lorem)
    kept_chars = F.aggregate(
        F.filter(js_seq, kept),
        F.lit(0).cast("long"),
        lambda a, j: a + chars(j),
    )
    doc_kept = ~any_brace & ~any_lorem & (n_kept >= _C4_MIN_LINES)
    return [
        n_lines.alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        any_brace.alias("any_brace"),
        any_lorem.alias("any_lorem"),
        kept_chars.alias("kept_chars"),
        doc_kept.alias("doc_kept"),
    ]


_C4_DOC_SQL = f"""
        t AS (SELECT doc_id, lang, source,
                     string_split(text, ' ') AS ts
              FROM documents),
        l AS (SELECT doc_id, lang, source, ts, len(ts) AS n_tok,
                     CAST(ceil(len(ts) / {_C4_LINE_W}.0) AS BIGINT)
                         AS n_lines
              FROM t),
        x AS (SELECT doc_id, lang, source, ts, n_tok, n_lines,
                     CAST(j AS BIGINT) AS j
              FROM l, LATERAL unnest(generate_series(0, n_lines - 1))
                   AS u(j)),
        f AS (SELECT doc_id, lang, source, n_lines, j,
                     least({_C4_LINE_W}, n_tok - j * {_C4_LINE_W}) AS base,
                     ((doc_id * 13 + j) % 17 = 0) AS lorem,
                     ((doc_id * 7 + j) % 11 = 0) AS brace,
                     ((doc_id * 3 + j) % 13 = 0) AS js,
                     ((doc_id + j) % 3 <> 0) AS punct,
                     list_aggregate(
                         list_transform(
                             ts[j * {_C4_LINE_W} + 1 :
                                j * {_C4_LINE_W} +
                                least({_C4_LINE_W},
                                      n_tok - j * {_C4_LINE_W})],
                             s -> len(s)),
                         'sum')
                       + least({_C4_LINE_W}, n_tok - j * {_C4_LINE_W}) - 1
                         AS chars
              FROM x),
        k AS (SELECT *,
                     base + CASE WHEN lorem THEN 2 ELSE 0 END
                          + CASE WHEN brace THEN 1 ELSE 0 END
                          + CASE WHEN js THEN 1 ELSE 0 END AS words
              FROM f),
        kk AS (SELECT *,
                      (punct AND NOT js AND words >= {_C4_MIN_WORDS})
                          AS kept
               FROM k),
        doc AS (SELECT doc_id, lang, source,
                       MAX(n_lines) AS n_lines,
                       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_kept_lines,
                       bool_or(brace) AS any_brace,
                       bool_or(lorem) AS any_lorem,
                       CAST(COALESCE(SUM(CASE WHEN kept THEN chars
                                          ELSE 0 END), 0) AS BIGINT)
                           AS kept_chars
                FROM kk GROUP BY doc_id, lang, source)
"""


@query(
    "q193_c4_rules",
    oracle=f"""
        WITH {_C4_DOC_SQL},
        v AS (SELECT *,
                     (NOT any_brace AND NOT any_lorem
                      AND n_kept_lines >= {_C4_MIN_LINES}) AS doc_kept
              FROM doc)
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_lines) AS BIGINT) AS n_lines,
               CAST(SUM(n_kept_lines) AS BIGINT) AS n_kept_lines,
               CAST(SUM(CASE WHEN any_brace THEN 1 ELSE 0 END)
                    AS BIGINT) AS drop_brace,
               CAST(SUM(CASE WHEN any_lorem THEN 1 ELSE 0 END)
                    AS BIGINT) AS drop_lorem,
               CAST(SUM(CASE WHEN doc_kept THEN 1 ELSE 0 END)
                    AS BIGINT) AS docs_kept,
               CAST(SUM(CASE WHEN doc_kept THEN kept_chars ELSE 0 END)
                    AS BIGINT) AS kept_chars
        FROM v
        GROUP BY lang, source
        ORDER BY lang, source
    """,
    tags=("text", "llm", "quality"),
)
def q193(spark: SparkSession, sf: str) -> DataFrame:
    """C4 quality-rule funnel (Raffel et al. 2020 §2.2, public) — the
    OTHER canonical web-corpus ruleset next to q178's Gopher rules
    (production pipelines run both): line-level keep (terminal
    punctuation, >= 5 words, no javascript mention) cascading into
    page-level drop ('{', 'lorem ipsum', < 3 kept lines), reported as
    a per-(lang, source) yield funnel. Page structure is injected
    deterministically from (doc_id, line_idx) — the q164 fixture
    convention; both engine texts state the identical construction.

    Scale shape: ONE scan projection computes every per-line flag and
    the per-doc verdicts as nested higher-order functions (codegen,
    O(lines) per doc, zero Python, zero explode — the line dimension
    never materializes as rows); the only exchange is the final
    (lang, source) rollup of a dozen groups. All-integer output,
    hash-exact at both SFs."""
    (documents,) = load(spark, sf, "documents")
    per_doc = documents.select(
        "doc_id", "lang", "source", F.split("text", " ").alias("ts")
    ).select("doc_id", "lang", "source", *_c4_doc_cols())
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.sum("n_kept_lines").cast("long").alias("n_kept_lines"),
            F.sum(F.col("any_brace").cast("long")).cast("long")
            .alias("drop_brace"),
            F.sum(F.col("any_lorem").cast("long")).cast("long")
            .alias("drop_lorem"),
            F.sum(F.col("doc_kept").cast("long")).cast("long")
            .alias("docs_kept"),
            F.sum(
                F.when(F.col("doc_kept"), F.col("kept_chars")).otherwise(0)
            ).cast("long").alias("kept_chars"),
        )
        .orderBy("lang", "source")
    )


@query("q194_ivfpq_ann_topk", oracle=None,
       tags=("similarity", "llm", "approx"))
def q194(spark: SparkSession, sf: str) -> DataFrame:
    """IVFADC approximate top-10 — the canonical composed
    index (Jegou et al. 2011): IVF cells bound WHICH rows are scanned
    (q42's partition pruning), PQ/ADC bounds WHAT is read per row
    (q191's 16x-smaller codes); the reductions MULTIPLY (~n_probe/
    n_centroids x 1/16 of the raw-vector I/O at the defaults) while
    the exact rerank stays a constant 80-row fetch. Rows-only check;
    top-10 overlap vs exact q27 measured in APPROX_EVIDENCE.json —
    the cell probe adds q42's error source on top of q191's ADC
    ordering error, so the composed recall is the honest product of
    the two."""
    (emb,) = load(spark, sf, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    return similarity.ivfpq_topk(emb, qv, k=10)


@query("q195_kmv_overlap", oracle=None,
       tags=("sketch", "approx", "relational"))
def q195(spark: SparkSession, sf: str) -> DataFrame:
    """SET ALGEBRA on KMV sketches (Beyer et al. 2007,
    public) — the q95/q100 cross-source-overlap question answered at
    SKETCH cost: how many order keys appear in BOTH the returned
    ('R') and accepted ('A') line populations, and their Jaccard,
    estimated from two bounded k-min summaries without ever joining
    the full key sets (two scans, <= 2k longs exchanged — at 100 TB
    the contamination-overlap audit that doesn't shuffle either
    corpus). The union sketch is exact sketch algebra (k smallest of
    the union of sketches ARE the union's k smallest); intersection
    via the ratio estimator rho * D_union; everything exact when the
    union fits in k. Rows-only by design; rel err vs the exact join
    pinned in APPROX_EVIDENCE.json at both SFs."""
    from ..operators import sketch

    (lineitem,) = load(spark, sf, "lineitem")
    rel = sketch.kmv_set_relations(
        lineitem.filter(F.col("l_returnflag") == "R"), "l_orderkey",
        lineitem.filter(F.col("l_returnflag") == "A"), "l_orderkey",
        k=1024,
    )
    return spark.createDataFrame(
        [(
            "returned_vs_accepted_orders",
            rel["est_a"], rel["est_b"], rel["est_union"],
            rel["est_intersection"],
            round(rel["est_jaccard"], 6), rel["exact"],
        )],
        "scope string, est_a long, est_b long, est_union long, "
        "est_intersection long, est_jaccard double, exact boolean",
    )


# ------------- Q196 Kneser-Ney bigram LM scoring (CCNet-style quality)
@query(
    "q196_kneser_ney_score",
    oracle="""
        WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts
                    FROM documents),
        bg AS (SELECT doc_id,
                      unnest(list_transform(
                          generate_series(1, len(ts) - 1),
                          i -> ts[i] || chr(31) || ts[i+1])) AS b
               FROM tk WHERE len(ts) >= 2),
        bgc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cb
                FROM bg GROUP BY b),
        ctx AS (SELECT string_split(b, chr(31))[1] AS w1,
                       CAST(SUM(cb) AS BIGINT) AS cw1,
                       CAST(COUNT(*) AS BIGINT) AS n1l
                FROM bgc GROUP BY 1),
        cont AS (SELECT string_split(b, chr(31))[2] AS w2,
                        CAST(COUNT(*) AS BIGINT) AS n1r
                 FROM bgc GROUP BY 1),
        btypes AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM bgc),
        scored AS (
          SELECT bg.doc_id,
                 CAST(floor(ln(
                     CAST(btypes.bt * (4 * bgc.cb - 3)
                          + 3 * ctx.n1l * cont.n1r AS DOUBLE)
                     / CAST(4 * ctx.cw1 * btypes.bt AS DOUBLE))
                     * 1000000 + 0.5) AS BIGINT) AS q
          FROM bg
          JOIN bgc USING (b)
          JOIN ctx ON ctx.w1 = string_split(bg.b, chr(31))[1]
          JOIN cont ON cont.w2 = string_split(bg.b, chr(31))[2]
          CROSS JOIN btypes)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(SUM(q) / (COUNT(*) * 1000000.0), 6) AS avg_logprob_kn
        FROM scored GROUP BY doc_id
    """,
    tags=("text", "llm", "quality"),
)
def q196(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney
    1995 / Chen & Goodman 1998, public) — the smoothing a real
    CCNet-style perplexity filter runs (KenLM's default), upgrading
    q86's add-1 proxy: P(w2|w1) = (c(w1w2) - d)/c(w1•) +
    d·N1+(w1•)/c(w1•) · N1+(•w2)/N1+(••) with d = 3/4. Every factor is
    an integer count, so with d = 3/4 the probability is the exact
    rational (B·(4·c_b − 3) + 3·n1l·n1r) / (4·c(w1•)·B) — ONE ln per
    bigram over an exactly-representable quotient, quantized to
    micro-nats before the per-doc sum (the q86/q177 idiom: order-free
    integer aggregation, cross-engine hash-exact). Scoring covers each
    doc's own observed bigrams, so the discounted term is always
    positive and no backoff-to-unigram branch is needed.

    Scale shape: four vocabulary-sized count tables (bigram counts,
    left-context totals + continuation fan-out, right continuation
    fan-out — all map-side combined) joined to the doc-bigram stream on
    token keys (AQE broadcasts while the vocabulary fits, shuffle join
    beyond), one 1-row broadcast (distinct bigram types), one doc_id
    rollup. No driver loop, no unbounded state."""
    (documents,) = load(spark, sf, "documents")
    toks = F.split("text", " ")
    bigram_structs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = dedup.spread(documents, "doc_id").select(
        "doc_id", F.explode(bigram_structs).alias("s")
    ).select(
        "doc_id", F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2")
    )
    # The corpus bigram explode feeds FIVE subtrees (the global count
    # table, its three rollups, and the scoring join's occurrence
    # stream), and unmaterialized it is replayed from the scan under
    # each (5 documents scans). Fold occurrences to
    # per-doc bigram counts ONCE (map-side combinable, output bounded
    # by distinct bigrams per doc), materialize, and derive every count
    # table from that frame; the per-doc sum weights each distinct
    # bigram's quantized score by its occurrence count — the same
    # integers in a different grouping order, so the result is
    # hash-identical by construction.
    dbg = materialize_once(
        bg.groupBy("doc_id", "w1", "w2").agg(
            F.count(F.lit(1)).cast("long").alias("nocc")
        ),
        eager=False,
    )
    bgc = materialize_once(
        dbg.groupBy("w1", "w2").agg(
            F.sum("nocc").cast("long").alias("cb")
        ),
        eager=False,
    )
    ctx = bgc.groupBy("w1").agg(
        F.sum("cb").cast("long").alias("cw1"),
        F.count(F.lit(1)).cast("long").alias("n1l"),
    )
    cont = bgc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1r")
    )
    btypes = bgc.agg(F.count(F.lit(1)).cast("long").alias("bt"))
    scored = (
        dbg.join(bgc, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(btypes))
        .select(
            "doc_id",
            "nocc",
            F.floor(
                F.log(
                    (
                        F.col("bt") * (4 * F.col("cb") - 3)
                        + 3 * F.col("n1l") * F.col("n1r")
                    ).cast("double")
                    / (4 * F.col("cw1") * F.col("bt")).cast("double")
                )
                * 1_000_000
                + 0.5
            )
            .cast("long")
            .alias("q"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("nocc").cast("long").alias("n_bigrams"),
        F.round(
            F.sum(F.col("nocc") * F.col("q"))
            / (F.sum("nocc") * 1_000_000.0),
            6,
        ).alias("avg_logprob_kn"),
    )


# ----------- Q197 CCNet head/middle/tail banding on the KN scores
def _q197_oracle() -> str:
    """q196's oracle text verbatim as a derived table (one scoring
    home), banded by NTILE over the same total order."""
    base = REGISTRY["q196_kneser_ney_score"].oracle
    return f"""
        SELECT band,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(avg_logprob_kn) AS min_score,
               MAX(avg_logprob_kn) AS max_score,
               CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams
        FROM (
          SELECT doc_id, n_bigrams, avg_logprob_kn,
                 CAST(NTILE(3) OVER (
                     ORDER BY avg_logprob_kn DESC, doc_id) AS BIGINT)
                     AS band
          FROM ({base}) scores
        ) banded
        GROUP BY band
        ORDER BY band
    """


@query(
    "q197_ccnet_bands",
    oracle=_q197_oracle,
    tags=("text", "llm", "quality"),
)
def q197(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020,
    public) — the final stage of the perplexity-filtering pipeline:
    rank every document by its KN score (q196, one scoring home) and
    cut the corpus into three equal-count bands; head = most fluent
    third (what CCNet keeps or upweights). Semantics are exactly
    NTILE(3) over the TOTAL order (score desc, doc_id tiebreak) — the
    oracle states it that way — but the plan never sorts the corpus in
    one task. Instead,
    the q131 histogram idiom: (1) histogram by the 6-dp-rounded score —
    distinct values are bounded by the score RANGE in micro-nats, a
    constant wrt corpus size, so the one cumulative window over the
    histogram is range-bounded, never corpus-sized; (2) each score's
    rows occupy a contiguous rank interval [cum_before+1, cum], and the
    NTILE boundary ranks b1/b2 are pure integer arithmetic on the total
    count carried by the same window; (3) ties AT a cut score are
    broken by a row_number window partitioned BY score — each partition
    is one tie group (CCNet scores are near-unique; a hot score would
    mean the quantization collapsed), so no single task ever holds more
    than a tie group. One narrow equi-join of the doc-score frame to
    the histogram offsets, one score-partitioned window, a 3-row
    rollup: every corpus-sized exchange is hash-partitioned."""
    # the KN scoring pipeline feeds BOTH the histogram and the join
    # probe (different projections — ReuseExchange cannot collapse
    # them), so materialize it once (the q157b tf policy;
    # unmaterialized, the dominant scoring cost runs twice)
    scored = materialize_once(
        REGISTRY["q196_kneser_ney_score"].fn(spark, sf)
    )
    hist = scored.groupBy("avg_logprob_kn").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    part = Window.partitionBy()
    cum_w = part.orderBy(F.col("avg_logprob_kn").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # NTILE(3) bucket boundaries over n rows: the first (n mod 3)
    # buckets get one extra row, so band 1 ends at rank n div 3 +
    # min(rem, 1) and band 2 at 2*(n div 3) + min(rem, 2).
    aug = (
        hist.withColumn("cum", F.sum("cnt").over(cum_w))
        .withColumn("n", F.sum("cnt").over(part))
        .select(
            "avg_logprob_kn",
            (F.col("cum") - F.col("cnt")).alias("cum_before"),
            (F.expr("n div 3") + F.least(F.col("n") % 3, F.lit(1)))
            .cast("long")
            .alias("b1"),
            (F.expr("n div 3") * 2 + F.least(F.col("n") % 3, F.lit(2)))
            .cast("long")
            .alias("b2"),
        )
    )
    tie_w = Window.partitionBy("avg_logprob_kn").orderBy("doc_id")
    rank = F.col("cum_before") + F.row_number().over(tie_w)
    banded = (
        scored.join(aug, "avg_logprob_kn")
        .withColumn(
            "band",
            F.when(rank <= F.col("b1"), 1)
            .when(rank <= F.col("b2"), 2)
            .otherwise(3)
            .cast("long"),
        )
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("avg_logprob_kn").alias("min_score"),
            F.max("avg_logprob_kn").alias("max_score"),
            F.sum("n_bigrams").cast("long").alias("n_bigrams"),
        )
        .orderBy("band")
    )


# --------- Q198 exact heavy hitters — the two-pass MG + recount pattern
@query(
    "q198_exact_heavy_hitters",
    oracle="""
        SELECT w AS token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY w
        ORDER BY cnt DESC, token
        LIMIT 10
    """,
    tags=("sketch", "text", "llm"),
)
def q198(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT top-k heavy hitters with bounded memory — the standard
    two-pass pattern that turns q180's approximate summary into an
    exact answer (Misra-Gries' classic deployment): pass 1 builds
    MG(k') candidates (every item with count > N/(k'+1) is guaranteed
    present — a SUPERSET of the true top-k whenever the k-th heavy
    count clears that bar, which the caller sizes k' for); pass 2
    exact-counts ONLY the <= k' candidates (broadcast isin filter on
    the scan — the count state is candidate-sized, never
    vocabulary-sized) and takes the top k with a total order.

    Because the answer is exact, this is the one sketch-family query
    the oracle can hash-match outright — the sketch does the memory
    bounding, not the semantics. At 100 TB: pass 1 exchanges k' x P
    summary rows, pass 2 counts 64 candidates instead of the full
    vocabulary; both scans, no vocabulary-sized shuffle anywhere.

    The exactness guarantee is CHECKED at runtime: pass 2 folds
    non-candidates into one NULL bucket, so the
    same bounded aggregate yields every candidate's exact count AND
    the total token count N; the result is provably the true top-10
    iff the 10th-ranked candidate count exceeds N/(k'+1) (anything
    outside MG(k') is bounded by that bar). A fixture or data change
    that silently broke the precondition now raises instead of
    returning a wrong answer labeled exact."""
    from ..operators import sketch

    (documents,) = load(spark, sf, "documents")
    toks = documents.select(
        F.explode(F.split("text", " ")).alias("token")
    )
    cand_rows = sketch.misra_gries(toks, "token", k=64).collect()
    candidates = [r["item"] for r in cand_rows]  # bounded: <= 64
    counted = (
        toks.select(
            F.when(F.col("token").isin(candidates), F.col("token"))
            .alias("t")
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    )  # bounded: <= 65 rows (64 candidates + the non-candidate bucket)
    n_total = sum(r["cnt"] for r in counted)
    top = sorted(
        ((r["cnt"], r["t"]) for r in counted if r["t"] is not None),
        key=lambda cv: (-cv[0], cv[1]),
    )[:10]
    if len(top) < 10 or top[-1][0] * 65 <= n_total:
        raise RuntimeError(
            "q198: MG(64) superset precondition violated — 10th "
            f"candidate count {top[-1][0] if top else 0} does not "
            f"exceed N/(k'+1) = {n_total}/65; the top-10 would not be "
            "provably exact"
        )
    return spark.createDataFrame(
        [(t, c) for c, t in top], "token string, cnt long"
    )


# ----------- Q202 filter-stack ensemble (Gopher x C4 contingency)
@query(
    "q202_filter_ensemble",
    oracle=f"""
        WITH gt AS (SELECT doc_id, n_chars,
                           string_split(text, ' ') AS ts
                    FROM documents),
        gm AS (SELECT doc_id, n_chars, ts, {_GOPHER_SCALARS_SQL}
               FROM gt),
        gbg AS (SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(ts) - 1),
                           i -> ts[i] || ' ' || ts[i+1])) AS b
                FROM gm WHERE n_tok >= 2),
        gcov AS (SELECT doc_id, MAX(cnt * blen) AS top_cov
                 FROM (SELECT doc_id, b, COUNT(*) AS cnt,
                              len(b) AS blen
                       FROM gbg GROUP BY doc_id, b, len(b))
                 GROUP BY doc_id),
        g AS (SELECT gm.doc_id, gm.n_chars,
                     {_gopher_verdicts_sql(
                         "COALESCE(gcov.top_cov, 0)", pre="gm.")}
              FROM gm LEFT JOIN gcov ON gcov.doc_id = gm.doc_id),
        {_C4_DOC_SQL},
        v AS (SELECT doc_id,
                     (NOT any_brace AND NOT any_lorem
                      AND n_kept_lines >= {_C4_MIN_LINES}) AS c4_kept
              FROM doc)
        SELECT (g.f_wc + g.f_mwl + g.f_req + g.f_top = 0) AS gopher_pass,
               v.c4_kept,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(g.n_chars) AS BIGINT) AS sum_chars
        FROM g JOIN v USING (doc_id)
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    tags=("text", "llm", "quality"),
)
def q202(spark: SparkSession, sf: str) -> DataFrame:
    """FILTER-STACK ensemble: the go/no-go contingency a
    real curation run reads before committing to a ruleset — every doc
    judged by BOTH canonical rule families in one pass (Gopher, Rae et
    al. 2021; C4, Raffel et al. 2020), rolled up into the 2x2
    (gopher_pass, c4_kept) table with doc and char mass per cell. The
    off-diagonal cells ARE the decision data: docs C4 keeps but Gopher
    rejects (and vice versa) quantify how much corpus each ruleset
    uniquely removes. Rule arithmetic is shared verbatim with
    q178/q193 (one rule home: _gopher_scalar_exprs /
    _gopher_verdict_exprs / _c4_doc_cols) — this query adds NO new
    rule text, only the composition.

    Scale shape: both families are scan-projection verdicts; the only
    corpus-keyed exchanges are Gopher's top-bigram aggregate and the
    doc_id join of the two verdict frames (AQE-planned equi-join),
    then a 4-row rollup."""
    (documents,) = load(spark, sf, "documents")
    d = dedup.spread(documents, "doc_id").select(
        "doc_id", "n_chars", F.split("text", " ").alias("ts")
    )
    m = d.select("doc_id", "n_chars", "ts", *_gopher_scalar_exprs())
    bg = m.filter(F.col("n_tok") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("ts", i), F.element_at("ts", i + 1)
                ),
            )
        ).alias("b"),
    )
    cov = (
        bg.groupBy("doc_id", "b")
        .agg((F.count(F.lit(1)) * F.length("b")).alias("covb"))
        .groupBy("doc_id")
        .agg(F.max("covb").cast("long").alias("cov_raw"))
    )
    gopher = (
        m.join(cov, "doc_id", "left")
        .withColumn(
            "top_cov", F.coalesce(F.col("cov_raw"), F.lit(0).cast("long"))
        )
        .select("doc_id", "n_chars", *_gopher_verdict_exprs())
        .select(
            "doc_id",
            "n_chars",
            (
                F.col("f_wc") + F.col("f_mwl") + F.col("f_req")
                + F.col("f_top") == 0
            ).alias("gopher_pass"),
        )
    )
    c4 = (
        documents.select("doc_id", F.split("text", " ").alias("ts"))
        .select("doc_id", *_c4_doc_cols())
        .select("doc_id", F.col("doc_kept").alias("c4_kept"))
    )
    return (
        gopher.join(c4, "doc_id")
        .groupBy("gopher_pass", "c4_kept")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("gopher_pass", "c4_kept")
    )


# ------- Q203 Gopher repetition-signal family (top-n + dup-n coverage)
# Gopher's published repetition thresholds (Rae et al. 2021, table A1):
# top-n-gram char coverage ceilings for n=2,3,4 and duplicate-n-gram
# char-fraction ceilings for n=5..10, in basis points of n_chars.
_Q203_TOP_BP = {2: 2000, 3: 1800, 4: 1600}
_Q203_DUP_BP = {5: 1500, 6: 1400, 7: 1300, 8: 1200, 9: 1100, 10: 1000}


def _q203_oracle() -> str:
    fail_cols = []
    for n, bp in _Q203_TOP_BP.items():
        fail_cols.append(
            f"CAST(SUM(CASE WHEN n = {n} AND top_raw * 10000"
            f" // GREATEST(n_chars, 1) > {bp} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS fail_top{n}"
        )
    for n, bp in _Q203_DUP_BP.items():
        fail_cols.append(
            f"CAST(SUM(CASE WHEN n = {n} AND dup_raw * 10000"
            f" // GREATEST(n_chars, 1) > {bp} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS fail_dup{n}"
        )
    return f"""
        WITH t AS (SELECT doc_id, lang, n_chars,
                          string_split(text, ' ') AS ts
                   FROM documents),
        g AS (SELECT doc_id, n,
                     array_to_string(list_slice(ts, i, i + n - 1), ' ')
                         AS gram
              FROM t,
                   LATERAL unnest(generate_series(2, 10)) AS nn(n),
                   LATERAL unnest(generate_series(1,
                       GREATEST(len(ts) - n + 1, 0))) AS ii(i)),
        c AS (SELECT doc_id, n, gram, COUNT(*) AS cnt,
                     len(gram) AS glen
              FROM g GROUP BY doc_id, n, gram, len(gram)),
        per AS (SELECT doc_id, n,
                       MAX(cnt * glen) AS top_raw,
                       COALESCE(SUM(CASE WHEN cnt >= 2
                                         THEN cnt * glen END), 0)
                           AS dup_raw
                FROM c GROUP BY doc_id, n),
        j AS (SELECT t.doc_id, t.lang, t.n_chars, per.n,
                     per.top_raw, per.dup_raw
              FROM t LEFT JOIN per ON per.doc_id = t.doc_id),
        perdoc AS (SELECT doc_id, lang, {", ".join(
            f"MAX(CASE WHEN n = {n} AND top_raw * 10000"
            f" // GREATEST(n_chars, 1) > {bp} THEN 1 ELSE 0 END)"
            f" AS f_top{n}" for n, bp in _Q203_TOP_BP.items())},
            {", ".join(
            f"MAX(CASE WHEN n = {n} AND dup_raw * 10000"
            f" // GREATEST(n_chars, 1) > {bp} THEN 1 ELSE 0 END)"
            f" AS f_dup{n}" for n, bp in _Q203_DUP_BP.items())}
            FROM j GROUP BY doc_id, lang)
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               {", ".join(
                   f"CAST(SUM(f_top{n}) AS BIGINT) AS fail_top{n}"
                   for n in _Q203_TOP_BP)},
               {", ".join(
                   f"CAST(SUM(f_dup{n}) AS BIGINT) AS fail_dup{n}"
                   for n in _Q203_DUP_BP)},
               CAST(SUM(CASE WHEN {" + ".join(
                   [f"f_top{n}" for n in _Q203_TOP_BP]
                   + [f"f_dup{n}" for n in _Q203_DUP_BP])} = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
        FROM perdoc
        GROUP BY lang
        ORDER BY lang
    """


@query("q203_gopher_repetition", oracle=_q203_oracle(),
       tags=("text", "llm", "quality", "slow"), bench=True)
def q203(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher's FULL repetition-signal family (Rae et al. 2021 A1,
    public) — the eight n-gram rules q178 sampled one of:
    top-n-gram character-coverage ceilings (n = 2, 3, 4) and
    duplicate-n-gram coverage ceilings (n = 5..10, the count x
    char-len mass of grams occurring twice or more — the standard
    non-positional restatement, identical on both engines). Per-lang
    funnel: documents failing EACH of the nine rules, plus pass_all.

    Scale shape: ONE explode produces every (doc, n, position) gram —
    9x token fan-out, fixed-width rows — then two map-combined
    aggregates (gram counts, per-(doc, n) top/dup mass) and a per-doc
    conditional rollup; thresholds are integer basis points (raw *
    10000 div n_chars), so no double ever decides a verdict. At 100 TB
    the gram exchange dominates and is exactly the q178 top-bigram
    shape widened by the constant 9."""
    (documents,) = load(spark, sf, "documents")
    d = dedup.spread(documents, "doc_id").select(
        "doc_id", "lang", "n_chars", F.split("text", " ").alias("ts")
    )
    grams = (
        d.select(
            "doc_id",
            "ts",
            F.explode(F.sequence(F.lit(2), F.lit(10))).alias("n"),
        )
        .select(
            "doc_id",
            "n",
            # guard: Spark's sequence(1, 0) is the DESCENDING [1, 0]
            # (step inferred -1), so a doc with < n tokens must yield
            # an EMPTY position array, matching the oracle's empty
            # generate_series — unguarded it would explode i=0 (slice
            # start 0 crashes) and a partial gram at i=1
            F.explode(
                F.when(
                    F.size("ts") >= F.col("n"),
                    F.sequence(
                        F.lit(1), F.size("ts") - F.col("n") + 1
                    ),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
            F.col("ts"),
        )
        .select(
            "doc_id",
            "n",
            F.array_join(
                F.slice("ts", F.col("i"), F.col("n")), " "
            ).alias("gram"),
        )
    )
    per = (
        grams.groupBy("doc_id", "n", "gram")
        .agg(
            (F.count(F.lit(1)) * F.length("gram")).alias("mass"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .groupBy("doc_id", "n")
        .agg(
            F.max("mass").cast("long").alias("top_raw"),
            F.coalesce(
                F.sum(F.when(F.col("cnt") >= 2, F.col("mass"))),
                F.lit(0),
            ).cast("long").alias("dup_raw"),
        )
    )
    j = d.select("doc_id", "lang", "n_chars").join(per, "doc_id", "left")
    bp = lambda raw: F.expr(f"{raw} * 10000 DIV GREATEST(n_chars, 1)")
    flags = []
    for n, th in _Q203_TOP_BP.items():
        flags.append(
            F.max(
                F.when(
                    (F.col("n") == n) & (bp("top_raw") > th), 1
                ).otherwise(0)
            ).alias(f"f_top{n}")
        )
    for n, th in _Q203_DUP_BP.items():
        flags.append(
            F.max(
                F.when(
                    (F.col("n") == n) & (bp("dup_raw") > th), 1
                ).otherwise(0)
            ).alias(f"f_dup{n}")
        )
    perdoc = j.groupBy("doc_id", "lang").agg(*flags)
    all_flags = [f"f_top{n}" for n in _Q203_TOP_BP] + [
        f"f_dup{n}" for n in _Q203_DUP_BP
    ]
    return (
        perdoc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            *[
                F.sum(f"f_top{n}").cast("long").alias(f"fail_top{n}")
                for n in _Q203_TOP_BP
            ],
            *[
                F.sum(f"f_dup{n}").cast("long").alias(f"fail_dup{n}")
                for n in _Q203_DUP_BP
            ],
            F.sum(
                F.when(
                    sum(
                        (F.col(c) for c in all_flags), F.lit(0)
                    ) == 0,
                    1,
                ).otherwise(0)
            ).cast("long").alias("pass_all"),
        )
        .orderBy("lang")
    )


# -------- Q204 Matryoshka truncation recall audit (MRL, public)
_Q204_PREFIX = 16   # audit the first-16-of-64 dim prefix
_Q204_K = 10
_Q204_QMOD = 101    # query sample: vec_id % 101 == 0 (bounded audit set)


@query(
    "q204_matryoshka_recall",
    oracle=f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv,
                     v[1:{_Q204_PREFIX}] AS qt
              FROM e WHERE vec_id % {_Q204_QMOD} = 0),
        p AS (SELECT q.qid, e.vec_id,
                     ROUND(list_cosine_similarity(e.v, q.qv), 6)
                         AS sfull,
                     ROUND(list_cosine_similarity(
                         e.v[1:{_Q204_PREFIX}], q.qt), 6) AS strunc
              FROM e, q),
        r AS (SELECT qid, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY sfull DESC, vec_id) AS rf,
                     ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY strunc DESC, vec_id) AS rt
              FROM p),
        per AS (SELECT qid,
                       SUM(CASE WHEN rf <= {_Q204_K}
                                 AND rt <= {_Q204_K}
                                THEN 1 ELSE 0 END) AS overlap
                FROM r GROUP BY qid)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               ROUND(AVG(overlap / {_Q204_K}.0), 6) AS avg_recall,
               ROUND(MIN(overlap / {_Q204_K}.0), 6) AS min_recall
        FROM per
    """,
    tags=("similarity", "llm", "embedding"),
)
def q204(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka truncation recall audit (Kusupati et al. 2022 MRL,
    public) — the dimension-reduction question every
    embedding-storage budget decision asks: if queries ran on the
    first-16-of-64 dim prefix, what fraction of each query's exact
    top-10 survives? Recall@10 per sampled query (bounded audit set,
    vec_id % 101 == 0), reported as (n_queries, avg, min). Overlap is
    computed ROW-LOCALLY: one pass scores full AND truncated cosine
    per (query, vector) pair, two qid-partitioned rank windows, and a
    member of both top-10s is simply a row with both ranks <= 10 —
    no set materialization. Cosines rounded to 6 dp with vec_id
    tiebreaks (the q27 determinism contract).

    Scale shape: the query side is a bounded SAMPLE (an audit, not a
    serving path), broadcast against the corpus — one scan, two
    windows partitioned by query id, a per-query rollup. At 100 TB
    recall auditing stays O(sample x N) with the corpus read once."""
    from ..operators.similarity import as_double, cosine

    (emb,) = load(spark, sf, "embeddings")
    e = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    qs = e.filter(F.col("vec_id") % _Q204_QMOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.slice("v", 1, _Q204_PREFIX).alias("qt"),
    )
    p = e.crossJoin(F.broadcast(qs)).select(
        "qid",
        "vec_id",
        F.round(cosine(F.col("v"), F.col("qv")), 6).alias("sfull"),
        F.round(
            cosine(F.slice("v", 1, _Q204_PREFIX), F.col("qt")), 6
        ).alias("strunc"),
    )
    wf = Window.partitionBy("qid").orderBy(
        F.col("sfull").desc(), "vec_id"
    )
    wt = Window.partitionBy("qid").orderBy(
        F.col("strunc").desc(), "vec_id"
    )
    per = (
        p.withColumn("rf", F.row_number().over(wf))
        .withColumn("rt", F.row_number().over(wt))
        .groupBy("qid")
        .agg(
            F.sum(
                F.when(
                    (F.col("rf") <= _Q204_K) & (F.col("rt") <= _Q204_K),
                    1,
                ).otherwise(0)
            ).alias("overlap")
        )
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.avg(F.col("overlap") / float(_Q204_K)), 6)
        .alias("avg_recall"),
        F.round(F.min(F.col("overlap") / float(_Q204_K)), 6)
        .alias("min_recall"),
    )


# --------- Q206 dedup threshold-sensitivity curve (integer bands)
@query(
    "q206_dedup_threshold_curve",
    oracle="""
        WITH sh AS (
          SELECT doc_id, source,
                 list_distinct(list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2])) AS shingles
          FROM documents
        ),
        ex AS (SELECT doc_id, source, unnest(shingles) AS s,
                      len(shingles) AS n FROM sh),
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common,
                 any_value(a.n) AS n1, any_value(b.n) AS n2
          FROM ex a JOIN ex b
            ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        b AS (SELECT d1, d2,
                     CAST((10 * common) // (n1 + n2 - common) AS BIGINT)
                         AS band
              FROM pairs),
        pb AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs
               FROM b WHERE band >= 3 GROUP BY band),
        dm AS (SELECT doc, MAX(band) AS m
               FROM (SELECT d1 AS doc, band FROM b WHERE band >= 3
                     UNION ALL
                     SELECT d2 AS doc, band FROM b WHERE band >= 3)
               GROUP BY doc),
        dh AS (SELECT m AS band, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM dm GROUP BY m),
        g AS (SELECT CAST(x AS BIGINT) AS band
              FROM unnest(generate_series(3, 10)) AS t(x))
        SELECT g.band,
               COALESCE(pb.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
               CAST((SELECT COALESCE(SUM(n_pairs), 0) FROM pb
                     WHERE pb.band >= g.band) AS BIGINT) AS cum_pairs,
               CAST((SELECT COALESCE(SUM(n_docs), 0) FROM dh
                     WHERE dh.band >= g.band) AS BIGINT) AS cum_docs
        FROM g LEFT JOIN pb ON pb.band = g.band
        ORDER BY g.band
    """,
    tags=("dedup", "llm"),
)
def q206(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup THRESHOLD-SENSITIVITY curve — the parameter
    question every near-dup deployment answers before committing to a
    cutoff: at each Jaccard band (0.3 steps of 0.1 up to exact dup),
    how many candidate pairs exist, how many pairs a >= cutoff run
    would act on (cum_pairs), and how many documents are touched by at
    least one such pair (cum_docs — the drop-count ceiling). Bands are
    PURE INTEGER arithmetic on the exact shingle counts —
    (10*common) div union — so no floating-point rounding ever picks a
    band on either engine (sidestepping the 0.x*10 IEEE band-edge trap
    entirely). One shingle equi-join (q26's machinery, shared
    `_shingle_pair_counts` home), two bounded 8-row rollups; the grid
    join makes the output row set a constant 8 regardless of data."""
    from ..operators.dedup import _shingle_pair_counts

    (documents,) = load(spark, sf, "documents")
    agg = _shingle_pair_counts(
        documents, n=3, partition_col="source"
    )
    from ..plans import materialize_once

    # Three consumers fan out of ``b`` below — the pair rollup plus
    # BOTH branches of the doc-level union — and unmaterialized each
    # replays the whole shingle self-join from the scan (6 documents
    # scans). (d1, d2, band) is 24 B/row, so
    # one lazy lineage cut replaces two full pair-join re-executions.
    b = materialize_once(
        agg.select(
            "d1",
            "d2",
            F.expr("(10 * common) DIV (n1 + n2 - common)")
            .cast("long")
            .alias("band"),
        ).filter(F.col("band") >= 3),
        eager=False,
    )
    pb = b.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    dm = (
        b.select(F.col("d1").alias("doc"), "band")
        .unionByName(b.select(F.col("d2").alias("doc"), "band"))
        .groupBy("doc")
        .agg(F.max("band").alias("band"))
    )
    dh = dm.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    grid = spark.range(3, 11).select(F.col("id").alias("band"))
    # cumulative sums ride an 8-row window over the joined grid —
    # bounded by the band count, never the data
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        grid.join(pb, "band", "left")
        .join(dh, "band", "left")
        .select(
            "band",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0)).alias("__nd"),
        )
        .withColumn("cum_pairs", F.sum("n_pairs").over(w).cast("long"))
        .withColumn("cum_docs", F.sum("__nd").over(w).cast("long"))
        .select("band", "n_pairs", "cum_pairs", "cum_docs")
        .orderBy("band")
    )


# --------- Q207 content-defined chunking (CDC) storage-dedup audit
_Q207_W = 8     # rolling-window width (chars)
_Q207_D = 71    # boundary density: ~1 boundary per D positions (prime)


@query(
    "q207_cdc_chunk_dedup",
    oracle=f"""
        WITH d AS (SELECT doc_id, text, len(text) AS n
                   FROM documents WHERE len(text) >= 1),
        hb AS (SELECT doc_id, i AS e
               FROM d, LATERAL unnest(generate_series({_Q207_W}, n))
                    AS t(i)
               WHERE list_aggregate(list_transform(
                       generate_series(i - {_Q207_W - 1}, i),
                       j -> ord(substr(text, j, 1))
                            * (j - i + {_Q207_W})), 'sum')
                     % {_Q207_D} = 0),
        ends AS (SELECT DISTINCT doc_id, e
                 FROM (SELECT doc_id, e FROM hb
                       UNION ALL SELECT doc_id, n FROM d)),
        ch AS (SELECT doc_id,
                      COALESCE(LAG(e) OVER (PARTITION BY doc_id
                                            ORDER BY e), 0) + 1 AS s,
                      e
               FROM ends),
        ck AS (SELECT substr(d.text, ch.s, ch.e - ch.s + 1) AS chunk
               FROM ch JOIN d USING (doc_id))
        SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COUNT(DISTINCT chunk) AS BIGINT) AS n_distinct,
               CAST(SUM(len(chunk)) AS BIGINT) AS total_chars,
               CAST((SELECT SUM(len(c)) FROM
                     (SELECT DISTINCT chunk AS c FROM ck)) AS BIGINT)
                   AS distinct_chars,
               ROUND(1 - (SELECT SUM(len(c)) FROM
                          (SELECT DISTINCT chunk AS c FROM ck)) * 1.0
                       / SUM(len(chunk)), 6) AS savings
        FROM ck
    """,
    tags=("dedup", "llm", "storage"),
)
def q207(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking dedup audit (the
    Rabin/FastCDC family, Muthitacharoen et al. 2001 LBFS, public) —
    the STORAGE-level dedup question next to the document-level
    families: split every text at content-defined boundaries (a
    windowed positional hash of the last 8 chars hitting 0 mod 71),
    so identical passages chunk identically wherever they sit, then
    measure global chunk-store savings: distinct-chunk chars vs total
    chars. Insertions shift byte offsets but NOT downstream chunk
    boundaries — the property fixed-size blocks lack and the reason
    every dedup filesystem/corpus store uses CDC. The hash is the
    portable positional fold pinned identical on both engines; chunks
    partition each doc exactly (sum of chunk lens == total chars — an
    oracle-checked invariant).

    Scale shape: boundary detection is one explode over positions with
    a W-term codegen fold per position (O(W n) scan work, no Python);
    chunk slicing joins the bounded (doc, end) frame back to the text
    by doc_id; the dedup accounting is one distinct + two global sums
    — the same map-combined shape as q25. At 100 TB the chunk-hash
    exchange (not the text) is the bill, exactly like production CDC
    stores which ship fingerprints, not bytes."""
    W, D = _Q207_W, _Q207_D
    (documents,) = load(spark, sf, "documents")
    d = documents.filter(F.length("text") >= 1).select(
        "doc_id", "text", F.length("text").alias("n")
    )
    from ..operators.dedup import spread

    # spread before the per-position fold (guide §2.5): the bench
    # corpus is one row group, so the O(W x n)-per-doc boundary scan
    # otherwise runs on a single core; at real scale the scan already
    # has thousands of splits and this is a no-op-sized exchange.
    hb = (
        spread(d.filter(F.col("n") >= W), "doc_id")
        .select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(W), F.col("n"))).alias("i"),
        )
        .select(
            "doc_id",
            F.col("i").alias("e"),
            F.aggregate(
                F.sequence(F.col("i") - (W - 1), F.col("i")),
                F.lit(0).cast("long"),
                lambda acc, j: acc
                + F.ascii(F.substr("text", j, F.lit(1)))
                * (j - F.col("i") + W),
            ).alias("h"),
        )
        .filter(F.col("h") % D == 0)
        .select("doc_id", "e")
    )
    ends = hb.unionByName(
        d.select("doc_id", F.col("n").alias("e"))
    ).distinct()
    w = Window.partitionBy("doc_id").orderBy("e")
    # The savings accounting consumes ``ck`` twice (distinct-chunk
    # stats + totals), and unmaterialized each consumer replays the
    # O(W x n) per-position boundary fold — the most expensive
    # projection here — from the scan (6 documents scans).
    # Materializing the OFFSET frame (doc_id, s, e — 24 B/row,
    # never the text) runs the fold once; the two consumers re-join
    # the text by doc_id, which is plain pruned IO.
    from ..plans import materialize_once

    ch = materialize_once(
        ends.withColumn(
            "s", F.coalesce(F.lag("e").over(w), F.lit(0)) + 1
        ),
        eager=False,
    )
    ck = ch.join(d.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.expr("substr(text, s, e - s + 1)").alias("chunk")
    )
    # n_docs rides the same aggregate (every doc with n >= 1 owns at
    # least one chunk, so countDistinct(doc_id) here IS the doc count
    # — a separate d.count() action would re-scan the corpus just for
    # the header scalar)
    dc = ck.select("chunk").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.length("chunk")).cast("long").alias("distinct_chars"),
    )
    tot = ck.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.length("chunk")).cast("long").alias("total_chars"),
    )
    return tot.crossJoin(F.broadcast(dc)).select(
        "n_docs",
        "n_chunks",
        "n_distinct",
        "total_chars",
        "distinct_chars",
        F.round(
            1 - F.col("distinct_chars") / F.col("total_chars"), 6
        ).alias("savings"),
    )


# --------- Q208 retrieval-quality metrics (MRR@10 / NDCG@10 / hit rate)
_Q208_NQ = len(_BM25B_QUERIES)  # 24 queries, ids 0..23
_Q208_K = _BM25B_K


def _q208_oracle() -> str:
    """q157b's oracle text verbatim as the ranking home (the q197
    pattern), evaluated against the deterministic synthetic relevance
    rel(q, d) = (d mod NQ == q). All metric arithmetic is quantized to
    micro-units per query BEFORE any sum, so no IEEE summation order
    ever moves a rounded metric."""
    base = REGISTRY["q157b_bm25_batch_topk"].oracle
    nq, k = _Q208_NQ, _Q208_K
    return f"""
        WITH ranked AS ({base}),
        rq AS (SELECT CAST(doc_id % {nq} AS BIGINT) AS query_id,
                      CAST(COUNT(*) AS BIGINT) AS n_rel
               FROM documents GROUP BY 1),
        perq AS (
          SELECT r.query_id,
                 COALESCE(SUM(CASE WHEN r.doc_id % {nq} = r.query_id
                       THEN CAST(FLOOR(1000000.0 / log2(r.rank + 1)
                                       + 0.5) AS BIGINT) END), 0)
                     AS dcg_int,
                 MIN(CASE WHEN r.doc_id % {nq} = r.query_id
                          THEN r.rank END) AS min_rank
          FROM ranked r GROUP BY r.query_id),
        scored AS (
          SELECT perq.query_id,
                 CASE WHEN perq.min_rank IS NULL THEN 0
                      ELSE CAST(FLOOR(1000000.0 / perq.min_rank + 0.5)
                                AS BIGINT) END AS mrr_int,
                 CASE WHEN perq.dcg_int = 0 THEN 0
                      ELSE CAST(FLOOR(1000000.0 * perq.dcg_int /
                        (SELECT SUM(CAST(FLOOR(1000000.0 / log2(i + 1)
                                               + 0.5) AS BIGINT))
                         FROM unnest(generate_series(1,
                              LEAST(rq.n_rel, {k}))) AS t(i))
                        + 0.5) AS BIGINT) END AS ndcg_int,
                 CASE WHEN perq.min_rank IS NULL THEN 0 ELSE 1 END
                     AS hit
          FROM perq JOIN rq USING (query_id))
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               ROUND(SUM(mrr_int) / (COUNT(*) * 1000000.0), 6) AS mrr,
               ROUND(SUM(ndcg_int) / (COUNT(*) * 1000000.0), 6)
                   AS ndcg,
               ROUND(SUM(hit) * 1.0 / COUNT(*), 6) AS hit_rate
        FROM scored
    """


@query(
    "q208_retrieval_eval",
    oracle=_q208_oracle,
    tags=("retrieval", "llm", "eval"),
)
def q208(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval-quality evaluation — the rank-metric
    family every retrieval stack reports and the inventory lacked:
    MRR@10, binary NDCG@10, and hit-rate@10 of the q157b BM25 ranking
    against a deterministic synthetic relevance (rel(q, d) iff
    d mod 24 == q — known-class retrieval; the METRIC ARITHMETIC is
    the operator under test, the labels are fixture). Determinism
    contract: every per-rank gain quantizes to micro-units BEFORE any
    sum (floor(1e6/log2(rank+1))), per-query NDCG quantizes its
    single division the same way, so all cross-row aggregation is
    integer and no IEEE summation order can move a rounded metric —
    the q196 micro-nat idiom applied to IR metrics.

    Scale shape: the ranking is q157b's one-corpus-pass top-k; the
    metrics add one per-class relevance count (a 24-row broadcast) and
    one 24-row rollup — evaluation costs nothing beyond the ranking
    at any corpus size."""
    ranked = REGISTRY["q157b_bm25_batch_topk"].fn(spark, sf)
    (documents,) = load(spark, sf, "documents")
    nq, k = _Q208_NQ, _Q208_K
    rq = documents.groupBy(
        (F.col("doc_id") % nq).cast("long").alias("query_id")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    rel = F.col("doc_id") % nq == F.col("query_id")
    gain = F.floor(
        1_000_000.0 / F.log2(F.col("rank") + 1) + 0.5
    ).cast("long")
    perq = ranked.groupBy("query_id").agg(
        F.coalesce(
            F.sum(F.when(rel, gain)), F.lit(0).cast("long")
        ).alias("dcg_int"),
        F.min(F.when(rel, F.col("rank"))).alias("min_rank"),
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(k))),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.floor(1_000_000.0 / F.log2(i + 1) + 0.5).cast("long"),
    )
    scored = (
        perq.join(F.broadcast(rq), "query_id")
        .select(
            "query_id",
            F.when(F.col("min_rank").isNull(), F.lit(0).cast("long"))
            .otherwise(
                F.floor(1_000_000.0 / F.col("min_rank") + 0.5)
                .cast("long")
            )
            .alias("mrr_int"),
            F.when(F.col("dcg_int") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.floor(
                    1_000_000.0 * F.col("dcg_int") / idcg + 0.5
                ).cast("long")
            )
            .alias("ndcg_int"),
            F.when(F.col("min_rank").isNull(), 0).otherwise(1)
            .alias("hit"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.sum("mrr_int") / (F.count(F.lit(1)) * 1_000_000.0), 6
        ).alias("mrr"),
        F.round(
            F.sum("ndcg_int") / (F.count(F.lit(1)) * 1_000_000.0), 6
        ).alias("ndcg"),
        F.round(F.sum("hit") * 1.0 / F.count(F.lit(1)), 6)
        .alias("hit_rate"),
    )


# --------- Q212 unigram-LM (SentencePiece-style) tokenizer training
_UNI_VOCAB = 96        # target vocabulary size (incl. all single chars)
_UNI_MAX_PIECE = 4     # seed substring ceiling
_UNI_ITERS = 2         # Viterbi-EM rounds
_UNI_MAX_WORD = 16     # DP length bound (longer words are excluded
                       # from training, mirrored exactly)
_UNI_LOG_SCALE = 1_000_000  # micro-log-prob integer quantization


def _unigram_viterbi(word: str, score: dict) -> list[str]:
    """Best segmentation of ``word`` under integer piece scores —
    maximize total score; ties prefer FEWER pieces, then the
    lexicographically smaller piece list. Pure Python, deterministic;
    the one segmentation home shared by the distributed E-step kernel
    and the pure-Python mirror (same function, two callers — the
    mirror's independence lives in the surrounding pipeline, not the
    DP).

    Out-of-vocabulary single characters score as UNK (SentencePiece's
    unk piece): a floor penalty far below any real piece score, so any
    known segmentation always beats one through UNK but the DP stays
    TOTAL on arbitrary input. Training never hits this branch — the
    vocabulary keeps every single char of the training words — but the
    streaming application (q212b) tokenizes arbitrary ingest text,
    including chars the training corpus never saw or saw only inside
    words longer than the _UNI_MAX_WORD training bound."""
    n = len(word)
    # Deterministic UNK floor: one full log-scale unit below the worst
    # real piece (SentencePiece uses min_score - 10; the gap size is
    # irrelevant as long as UNK never outranks a real segmentation).
    unk = min(score.values(), default=0) - 10 * _UNI_LOG_SCALE
    # dp[i] = (total_score, -n_pieces, pieces_tuple) for word[:i]
    dp: list = [None] * (n + 1)
    dp[0] = (0, 0, ())
    for i in range(1, n + 1):
        best = None
        for j in range(max(0, i - _UNI_MAX_PIECE), i):
            if dp[j] is None:
                continue
            piece = word[j:i]
            s = score.get(piece)
            if s is None:
                if i - j != 1:
                    continue
                s = unk  # OOV single char -> UNK fallback
            cand = (
                dp[j][0] + s,
                dp[j][1] - 1,
                dp[j][2] + (piece,),
            )
            # maximize (score, -n_pieces); minimize pieces lexicographically
            if best is None or (
                (cand[0], cand[1]) > (best[0], best[1])
                or ((cand[0], cand[1]) == (best[0], best[1])
                    and cand[2] < best[2])
            ):
                best = cand
        dp[i] = best
    assert dp[n] is not None  # total: every single char scores (UNK floor)
    return list(dp[n][2])


def _unigram_scores(vocab: dict) -> dict:
    """Integer micro-log-prob scores with Laplace smoothing:
    floor(ln((cnt+1) / (total + |V|)) * 1e6). Same CPython arithmetic
    on both the distributed path and the mirror — bit-identical."""
    import math

    total = sum(vocab.values()) + len(vocab)
    return {
        p: math.floor(
            math.log((c + 1) / total) * _UNI_LOG_SCALE
        )
        for p, c in vocab.items()
    }


def _unigram_select(char_counts: dict, multi_counts: dict) -> dict:
    """Vocabulary selection: ALL single characters (coverage guarantee)
    plus the top (vocab_size - |chars|) multi-char pieces by
    (count DESC, piece ASC)."""
    room = _UNI_VOCAB - len(char_counts)
    kept = sorted(
        multi_counts.items(), key=lambda kv: (-kv[1], kv[0])
    )[:max(room, 0)]
    vocab = dict(char_counts)
    vocab.update(kept)
    return vocab


def _unigram_mirror(word_counts: dict) -> tuple[dict, dict]:
    """Pure-Python single-process mirror of the WHOLE training loop
    over a {word: count} table — the correctness pin for q212 (the
    verdict-blessed q196-style mirror: the distributed pipeline must
    reproduce this exactly at both SFs). Returns (final vocab counts,
    {word: segmentation})."""
    wc = {
        w: c for w, c in word_counts.items()
        if 0 < len(w) <= _UNI_MAX_WORD
    }
    chars: dict = {}
    multi: dict = {}
    for w, c in wc.items():
        for i in range(len(w)):
            for k in range(1, _UNI_MAX_PIECE + 1):
                if i + k > len(w):
                    break
                p = w[i:i + k]
                tgt = chars if k == 1 else multi
                tgt[p] = tgt.get(p, 0) + c
    vocab = _unigram_select(chars, multi)
    segs: dict = {}
    for _ in range(_UNI_ITERS):
        score = _unigram_scores(vocab)
        new_chars = {p: 0 for p in chars}
        new_multi: dict = {}
        for w, c in wc.items():
            seg = _unigram_viterbi(w, score)
            segs[w] = seg
            for p in seg:
                if len(p) == 1:
                    new_chars[p] = new_chars.get(p, 0) + c
                else:
                    new_multi[p] = new_multi.get(p, 0) + c
        vocab = _unigram_select(new_chars, new_multi)
    return vocab, segs


@query(
    "q212_unigram_lm_train",
    oracle=None,  # Viterbi-EM has no closed SQL form (q26b's category);
                  # the contract is HARD equality with the pure-Python
                  # mirror at both SFs (pytest + APPROX_EVIDENCE)
    tags=("text", "llm", "tokenizer", "approx"),
)
def q212(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer TRAINING (Kudo 2018,
    public — the other family next to BPE q179): seed a substring
    vocabulary from the corpus word-count table, then Viterbi-EM —
    E-step segments every distinct word under integer micro-log-prob
    scores (hard EM), M-step re-counts pieces over the best
    segmentations and re-selects the vocabulary (all single chars kept
    for coverage + top multi-char pieces by count).

    Spark-first factorization, q179's exact scale shape: training runs
    on the WORD-COUNT table (one corpus scan + one aggregate,
    materialized once — never the token stream). Per round: the E-step
    is an Arrow-batched mapInPandas over the words frame with the
    BOUNDED vocabulary broadcast (<= 96 pieces — the centroid-collect
    policy), the M-step is one piece-count aggregate (O(vocab) rows
    out) + a bounded driver-side re-selection. Integer quantized
    log-probs (floor(ln(p)*1e6)) make every comparison exact — no
    float drift between executors, rounds, or the mirror. Output is
    the APPLIED tokenizer — (word, word_count, n_pieces,
    segmentation) over the full vocabulary, the q179 output shape.

    Rows-only by design; hash-hard contract: equals `_unigram_mirror`
    exactly at both SFs (tests/test_llm_ops.py + APPROX_EVIDENCE)."""
    (documents,) = load(spark, sf, "documents")
    final_seg, _vocab = _unigram_train(spark, documents)
    return final_seg.select(
        "word",
        F.col("c").alias("word_count"),
        F.size("pieces").cast("long").alias("n_pieces"),
        F.array_join("pieces", " ").alias("segmentation"),
    ).orderBy("word")


def _unigram_train(
    spark: SparkSession, documents: DataFrame
) -> tuple[DataFrame, dict]:
    """q212's training loop — ONE home shared by batch q212 and the
    streaming q212b's fit side (the q179/_bpe_train convention).
    Returns (final segmentation frame (word, c, pieces), the final
    selected vocabulary counts)."""
    from ..plans import materialize_once
    w = materialize_once(
        documents.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(
            (F.length("word") >= 1)
            & (F.length("word") <= _UNI_MAX_WORD)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )

    # ---- seed counts: every substring of length 1.._UNI_MAX_PIECE,
    # with multiplicity, weighted by word count — one distributed
    # aggregate (expression-only substring generation via SQL
    # higher-order functions: substring() takes runtime offsets there)
    piece_rows = (
        w.select(
            "c",
            F.explode(
                F.expr(
                    f"""flatten(transform(
                        sequence(1, length(word)),
                        i -> transform(
                            sequence(1, least({_UNI_MAX_PIECE},
                                              length(word) - i + 1)),
                            k -> substring(word, i, k))))"""
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("n"))
    )
    # driver pulls only BOUNDED artifacts: the single-char alphabet
    # (charset-bounded) and the top-(room) multi-char pieces via a
    # distributed TakeOrdered — never the full substring table (at
    # 100 TB the distinct <=4-gram space is millions of rows; the
    # top-K order (-count, piece) is exactly _unigram_select's, so
    # the selection is unchanged)
    chars = {
        r["piece"]: int(r["n"])
        for r in piece_rows.filter(F.length("piece") == 1).collect()
    }
    room = max(_UNI_VOCAB - len(chars), 0)
    multi = {
        r["piece"]: int(r["n"])
        for r in piece_rows.filter(F.length("piece") > 1)
        .orderBy(F.col("n").desc(), "piece")
        .limit(room)
        .collect()
    }
    vocab = _unigram_select(chars, multi)

    import pandas as pd

    def make_e_step(bcast):
        # bind THIS round's broadcast explicitly: the returned seg_df
        # is lazy (the final one re-executes after the loop), so a
        # closure over the loop variable would silently rebind
        def e_step(it):
            sc = bcast.value
            for pdf in it:
                words, counts, pieces = [], [], []
                for word, c in zip(pdf["word"], pdf["c"]):
                    seg = _unigram_viterbi(word, sc)
                    words.append(word)
                    counts.append(int(c))
                    pieces.append(seg)
                yield pd.DataFrame(
                    {"word": words, "c": counts, "pieces": pieces}
                )

        return e_step

    final_seg = None
    for _ in range(_UNI_ITERS):
        score = _unigram_scores(vocab)
        bscore = spark.sparkContext.broadcast(score)
        seg_df = w.mapInPandas(
            make_e_step(bscore),
            "word string, c long, pieces array<string>",
        )
        final_seg = seg_df
        piece_counts = (
            seg_df.select("c", F.explode("pieces").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("c").cast("long").alias("n"))
            .collect()  # BOUNDED: <= _UNI_VOCAB rows by construction
        )
        new_chars = {p: 0 for p in chars}
        new_multi: dict = {}
        for r in piece_counts:
            if len(r["piece"]) == 1:
                new_chars[r["piece"]] = int(r["n"])
            else:
                new_multi[r["piece"]] = int(r["n"])
        vocab = _unigram_select(new_chars, new_multi)

    return final_seg, vocab


# --------- Q214 embedding-cosine near-dup pairs via banded SRP LSH
_Q214_THRESHOLD = 0.4


@query(
    "q214_embedding_neardup_lsh",
    oracle=None,  # SRP banding is plane-seeded (q26b's category); the
                  # recall-vs-exact gate lives in APPROX_EVIDENCE and
                  # the streaming twin pins hard equality with THIS
    tags=("dedup", "similarity", "llm", "approx"),
)
def q214(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup PAIRS at corpus scale —
    fills the one open cell in the dedup matrix's batch row: text has
    exact/minhash/simhash pair joins, perceptual has hamming buckets,
    embeddings had only label-blocked exact (q37) and cell-bounded
    SemDeDup (q170); this is the unblocked LSH pair join — banded SRP
    buckets (the `ann_topk_lsh_banded` signature home at the same
    seed) + exact-cosine verification, `similarity.
    cosine_neardup_pairs_lsh`. No false positives by construction;
    recall is the OR-amplified banding curve at the operating angle,
    measured against the exact pairwise SQL in APPROX_EVIDENCE at both
    SFs."""
    from ..operators.similarity import cosine_neardup_pairs_lsh

    (emb,) = load(spark, sf, "embeddings")
    return cosine_neardup_pairs_lsh(
        emb, threshold=_Q214_THRESHOLD
    ).orderBy("v1", "v2")


# --------- Q216 WordPiece-style greedy tokenizer — the third family
def _q216_oracle() -> str:
    from ..operators.text import greedy_chain_sql, wordpiece_vocab_sql

    return f"""
        WITH RECURSIVE {wordpiece_vocab_sql()},
        {greedy_chain_sql("wp_wc")}
        SELECT wc.w AS word,
               CAST(wc.c AS BIGINT) AS word_count,
               s.n_pieces,
               s.seg AS segmentation
        FROM wp_wc wc JOIN wp_seg s ON s.w = wc.w
        ORDER BY word
    """


@query(
    "q216_wordpiece_tokenize",
    oracle=_q216_oracle(),
    bench=True,  # the greedy-fold tokenizer application shape
    tags=("text", "llm", "tokenizer"),
)
def q216(spark: SparkSession, sf: str) -> DataFrame:
    """WordPiece-STYLE greedy longest-match tokenizer (Schuster &
    Nakajima 2012, the greedy maximal-munch application
    BERT's tokenizer popularized — public) — the third tokenizer
    family next to BPE (q179, merge-driven) and unigram-LM (q212,
    Viterbi-EM), and the only one whose application
    is exactly SQL-restatable: greedy longest-match is a FUNCTIONAL
    GRAPH (the jump at a position depends only on (word, position),
    never on the path), so the whole query is hash-matched against a
    DuckDB recursive-CTE oracle — no mirror, no rows-only row.

    Two halves, both distributed: (1) vocabulary = ALL single chars
    (coverage) + top-64 substrings of length 2..4 by weighted count —
    one corpus scan + one substring aggregate, bounded driver
    artifacts (`text.wordpiece_vocab`, the q212 seed machinery);
    (2) application = per-position longest-match jump table + a fold
    following the jump chain, ONE Catalyst expression per word
    (`text.greedy_pieces_sql`) — pure whole-stage codegen, no UDF, no
    Python, no shuffle beyond the word-count aggregate. Output is the
    applied tokenizer over the distinct-word table: (word, word_count,
    n_pieces, segmentation with '##' continuation rendering).

    Scale shape: the word-count aggregate is the only exchange; the
    vocabulary ships as a <=~100-string expression literal (the
    broadcast-artifact policy); per-word apply cost is
    O(len * max_piece) inside codegen. Simplification stated plainly:
    one shared vocabulary (the position-split ##-vocab of full
    WordPiece is a production extension); likelihood-driven vocab
    SELECTION (vs count-driven) is q212's EM — this family
    deliberately isolates the greedy APPLICATION semantics."""
    from ..operators.text import greedy_pieces, wordpiece_vocab
    from ..plans import materialize_once

    (documents,) = load(spark, sf, "documents")
    # One corpus pass for both halves (guide §3.3): the word-count
    # aggregate is the query's own output table AND the vocabulary
    # trainer's input — checkpoint it once and feed it to both instead
    # of re-scanning the corpus per half.
    words = materialize_once(
        documents.select(
            F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("word_count")),
        eager=False,
    )
    vocab = wordpiece_vocab(
        documents,
        word_counts=words.select(
            "word", F.col("word_count").alias("c")
        ),
    )
    g = greedy_pieces("word", vocab)
    return (
        words.select(
            "word",
            "word_count",
            g["n_pieces"].alias("n_pieces"),
            g["seg"].alias("segmentation"),
        )
        .orderBy("word")
    )



# ----- Q216c WordPiece LIKELIHOOD-scored tokenizer training
_WPT_MERGES = 6
_WPT_SCALE = 1_000_000_000_000  # 1e12 integer score quantization

# The WordPiece argmax score (n_ab * 1e12) DIV (n_a * n_b), computed in
# DECIMAL so it CANNOT wrap: long*long would overflow silently (non-ANSI
# Spark) past n_ab ~9.2e6 while the DuckDB oracle's HUGEINT kept going —
# a silent wrong-argmax divergence at corpus scale (the oracle mirrors
# with explicit HUGEINT casts). DECIMAL(19,0) holds any
# BIGINT count; the numerator product is DECIMAL(33,0) and the
# denominator DECIMAL(38,0) — both exact, no precision loss — and the
# quotient (<= 1e12 since n_ab <= min(n_a, n_b)) returns as BIGINT.
_WPT_SCORE_SQL = (
    f"CAST(n_ab AS DECIMAL(19,0)) * CAST({_WPT_SCALE} AS DECIMAL(13,0))"
    " DIV (CAST(n_a AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0)))"
)


def _wpt_oracle(k: int = _WPT_MERGES) -> str:
    """Generated-CTE mirror of the k-merge LIKELIHOOD-scored loop (the
    q179 unrolled-chain policy with a different argmax): each level
    computes the adjacent-pair table AND the symbol-count table, ranks
    pairs by the WordPiece training score count(ab)/(count(a)*count(b))
    — quantized to integer via (n_ab * 1e12) // (n_a * n_b), the same
    arithmetic the Spark side runs, so cross-engine comparison is exact
    — and applies the winning merge with the identical left-to-right
    string fold q179's oracle proved out (self-overlapping runs merge
    two-at-a-time; NULL no-op levels when no pairs remain)."""
    fold = """list_reduce(string_split(s, chr(31)),
                     (acc, x) -> CASE
                       WHEN x = t.b AND (acc = t.a
                                         OR ends_with(acc,
                                                      chr(31) || t.a))
                       THEN acc || x
                       ELSE acc || chr(31) || x END)"""
    sql = """
        WITH w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c
                    FROM (SELECT unnest(string_split(text,' ')) AS word
                          FROM documents)
                    GROUP BY word),
        seq0 AS (SELECT word, c,
                        array_to_string(string_split(word, ''), chr(31))
                            AS s
                 FROM w0)"""
    for i in range(1, k + 1):
        p = i - 1
        sql += f""",
        sym{i} AS (SELECT sym, SUM(c) AS n
                   FROM (SELECT unnest(string_split(s, chr(31))) AS sym,
                                c
                         FROM seq{p})
                   GROUP BY sym),
        pair{i} AS (SELECT l[j] || chr(31) || l[j+1] AS pr, SUM(c) AS n
                    FROM (SELECT string_split(s, chr(31)) AS l, c
                          FROM seq{p}),
                         unnest(generate_series(1, len(l)-1)) AS g(j)
                    GROUP BY pr),
        top{i} AS (SELECT split_part(pr, chr(31), 1) AS a,
                          split_part(pr, chr(31), 2) AS b
                   FROM (SELECT p.pr,
                                CAST(p.n AS HUGEINT) * {_WPT_SCALE}
                                    // (CAST(sa.n AS HUGEINT)
                                        * CAST(sb.n AS HUGEINT)) AS score
                         FROM pair{i} p
                         JOIN sym{i} sa
                           ON sa.sym = split_part(p.pr, chr(31), 1)
                         JOIN sym{i} sb
                           ON sb.sym = split_part(p.pr, chr(31), 2)
                         ORDER BY score DESC, p.pr LIMIT 1)),
        seq{i} AS (SELECT word, c, {fold} AS s
                   FROM seq{p} LEFT JOIN top{i} t ON true)"""
    sql += f"""
        SELECT word, c AS word_count,
               CAST(len(string_split(s, chr(31))) AS BIGINT) AS n_symbols,
               replace(s, chr(31), ' ') AS segmentation
        FROM seq{k}"""
    return sql


@query(
    "q216c_wordpiece_likelihood_train",
    oracle=_wpt_oracle(),
    tags=("text", "llm", "tokenizer", "slow"),
)
def q216c(spark: SparkSession, sf: str) -> DataFrame:
    """WordPiece LIKELIHOOD-scored tokenizer TRAINING (Schuster &
    Nakajima 2012, public) — completes the family q216
    deliberately split: q216 isolated the greedy APPLICATION, this is
    the real WordPiece vocabulary SELECTION rule. Identical machinery
    to BPE (q179: pair-count aggregate per round + 1-row argmax + the
    greedy string fold) with ONE change — the argmax maximizes the
    likelihood gain score count(ab) / (count(a) * count(b)) instead of
    raw count(ab), which requires a per-round SYMBOL-count aggregate
    alongside the pair counts (both map-side-combined, both bounded by
    the symbol/pair vocabulary, never the corpus). The score is
    quantized to integer ((n_ab * 1e12) DIV (n_a * n_b)) so the
    cross-engine argmax is exact — no float drift; the generated-CTE
    oracle runs the identical arithmetic, making this TRAINING loop
    hash-matched end to end (q179's category, not a rows-only mirror).

    Scale shape: q179's exactly, plus one vocabulary-sized aggregate
    per round; the argmax joins are pair-table x symbol-table
    (both vocabulary-bounded). The score multiply runs in DECIMAL on
    the Spark side and HUGEINT in the oracle (_WPT_SCORE_SQL), so it
    is exact for ANY int64 counts — a long*long form wraps silently
    past n_ab ~9.2e6 while the oracle keeps going, a wrong-argmax
    divergence instead of a loud failure."""
    from ..plans import materialize_once

    (documents,) = load(spark, sf, "documents")
    w = materialize_once(
        documents.select(
            F.explode(F.split("text", " ")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    seq = w.select(
        "word", "c",
        F.array_join(F.split("word", ""), _BPE_SEP).alias("s"),
    )
    for _ in range(_WPT_MERGES):
        lcol = F.split("s", _BPE_SEP)
        pair_arr = F.when(
            F.size(lcol) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(lcol) - 1),
                lambda j: F.concat(
                    F.element_at(lcol, j),
                    F.lit(_BPE_SEP),
                    F.element_at(lcol, j + 1),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        pairs = (
            seq.select(F.explode(pair_arr).alias("pr"), "c")
            .groupBy("pr")
            .agg(F.sum("c").alias("n_ab"))
        )
        syms = (
            seq.select(F.explode(lcol).alias("sym"), "c")
            .groupBy("sym")
            .agg(F.sum("c").alias("n_sym"))
        )
        rows = (
            pairs.withColumn(
                "a", F.split("pr", _BPE_SEP).getItem(0)
            )
            .withColumn("b", F.split("pr", _BPE_SEP).getItem(1))
            .join(
                syms.select(
                    F.col("sym").alias("a"),
                    F.col("n_sym").alias("n_a"),
                ),
                "a",
            )
            .join(
                syms.select(
                    F.col("sym").alias("b"),
                    F.col("n_sym").alias("n_b"),
                ),
                "b",
            )
            .withColumn("score", F.expr(_WPT_SCORE_SQL))
            .orderBy(F.col("score").desc(), "pr")
            .limit(1)
            .collect()  # BOUNDED: at most one row by construction
        )
        if not rows:
            break  # fully merged; oracle's NULL no-op levels
        a, b = rows[0]["pr"].split(_BPE_SEP)
        folded = F.aggregate(
            F.slice(lcol, 2, F.size(lcol) - 1),
            F.element_at(lcol, 1),
            lambda acc, x: F.when(
                (x == F.lit(b))
                & (
                    (acc == F.lit(a))
                    | acc.endswith(F.lit(_BPE_SEP + a))
                ),
                F.concat(acc, x),
            ).otherwise(F.concat(acc, F.lit(_BPE_SEP), x)),
        )
        seq = seq.select("word", "c", folded.alias("s"))
    return seq.select(
        "word",
        F.col("c").alias("word_count"),
        F.size(F.split("s", _BPE_SEP)).cast("long").alias("n_symbols"),
        F.regexp_replace("s", _BPE_SEP, " ").alias("segmentation"),
    ).orderBy("word")


# ---------- Q223 distributed perceptron training (quality classifier)
_Q223_BUCKETS = 64
_Q223_T = 5
# DuckDB spelling of operators/text._portable_token_hash, bucketed
_Q223_HASH_SQL = (
    "((length(t) * 131 + ascii(t) * 7 + ascii(right(t, 1))) % "
    f"{_Q223_BUCKETS})"
)


def _q223_chain() -> str:
    """The full-batch perceptron loop as a CTE chain (with WITH, no
    final select) ending at w{_Q223_T} — ONE source of truth shared by
    the q223 (weights) and q223b (corpus scoring) oracles, the
    q218-chain policy. Every reduction — per-doc margin, per-bucket
    gradient — is an INTEGER sum, so the loop is order-independent
    and bitwise engine-identical."""
    sql = f"""
        WITH d AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
                   string_split(text, ' ') AS ts
            FROM documents),
        f AS MATERIALIZED (
            SELECT doc_id, {_Q223_HASH_SQL} AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT doc_id, unnest(ts) AS t FROM d)
            GROUP BY 1, 2
            UNION ALL
            SELECT doc_id, -1, 1 FROM d),
        w0 AS (SELECT unnest(generate_series(-1, {_Q223_BUCKETS - 1}))
                          AS bucket,
                      CAST(0 AS BIGINT) AS w)"""
    for r in range(1, _Q223_T + 1):
        p = r - 1
        sql += f""",
        m{r} AS MATERIALIZED (
            SELECT f.doc_id, SUM(f.cnt * w.w) AS m
            FROM f JOIN w{p} w USING (bucket)
            GROUP BY f.doc_id),
        u{r} AS MATERIALIZED (
            SELECT f.bucket, CAST(SUM(d.y * f.cnt) AS BIGINT) AS g
            FROM f
            JOIN m{r} USING (doc_id)
            JOIN d USING (doc_id)
            WHERE d.y * m{r}.m <= 0
            GROUP BY f.bucket),
        w{r} AS (SELECT w.bucket,
                        CAST(w.w + COALESCE(u.g, 0) AS BIGINT) AS w
                 FROM w{p} w LEFT JOIN u{r} u USING (bucket))"""
    return sql


def _q223_oracle() -> str:
    return f"""
        {_q223_chain()}
        SELECT bucket, CAST(w AS BIGINT) AS weight
        FROM w{_Q223_T} ORDER BY bucket"""


@query(
    "q223_perceptron_quality_train",
    oracle=_q223_oracle(),
    tags=("text", "llm", "quality", "iterative"),
)
def q223(spark: SparkSession, sf: str) -> DataFrame:
    """DISTRIBUTED CLASSIFIER TRAINING — full-batch perceptron over
    hashed bag-of-words: the fastText-style linear quality/
    language filter every curation pipeline trains (Joulin et al.
    2016; FineWeb's edu classifier is the modern instance), here on
    the synthetic label lang=='en'. Five full-batch rounds: per-doc
    margin = <w, x> (x = 64-bucket hashed unigram counts + an
    always-on bias bucket -1), every zero-or-wrong-margin doc
    contributes y*x to the gradient, weights add the gradient sum.
    Emits the final 65-entry integer weight vector.

    Full-batch (not SGD) is the point: the gradient is a pure
    per-bucket INTEGER sum — order-independent, schedule-
    independent, and hash-matched by an unrolled 5-round CTE oracle
    (the q179/q216c/q222 training-loop category) — whereas SGD's
    sequential row order is exactly what a shuffle does not
    preserve. One corpus pass per round: margins are a feature/
    weight broadcast join (65 rows) + an integer groupBy(doc);
    updates a groupBy(bucket); the driver touches only the 65-row
    weight artifact per round (the q179 bounded-artifact policy).

    At 100 TB: weights grow at most T * total_token_count (~1e14 at
    T=5 over 2.5e13 tokens — comfortably int64), but the MARGIN
    product cnt * w reaches ~1e20 and would silently wrap int64, so
    margins carry the q216c DECIMAL treatment:
    DECIMAL(19,0) x DECIMAL(18,0) -> DECIMAL(38,0) products summed
    exactly — cannot wrap below 1e38. Feature hashing keeps the
    model O(buckets) regardless of vocabulary."""
    _feats, _labels, weights = _q223_train(spark, sf)
    return spark.createDataFrame(
        sorted(weights.items()), "bucket long, weight long"
    ).orderBy("bucket")


def _q223_train(spark: SparkSession, sf: str):
    """The q223 training loop — (feats, labels, weights dict), shared
    by q223 (emit weights) and q223b (serve: score the corpus)."""
    from ..operators.text import _portable_token_hash

    (documents,) = load(spark, sf, "documents")
    d = documents.select(
        "doc_id",
        "lang",
        F.when(F.col("lang") == "en", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
        F.split("text", " ").alias("ts"),
    )
    tok = d.select("doc_id", F.explode("ts").alias("t"))
    feats = (
        tok.select(
            "doc_id",
            F.pmod(
                _portable_token_hash(F.col("t")), F.lit(_Q223_BUCKETS)
            ).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .unionByName(
            d.select(
                "doc_id",
                F.lit(-1).cast("long").alias("bucket"),
                F.lit(1).cast("long").alias("cnt"),
            )
        )
        .localCheckpoint()  # shared by every round; one materialization
    )
    labels = d.select("doc_id", "lang", "y")
    weights = {b: 0 for b in range(-1, _Q223_BUCKETS)}
    for _ in range(_Q223_T):
        wdf = spark.createDataFrame(
            sorted(weights.items()), "bucket long, w long"
        )
        # DECIMAL margins: cnt*w is the one product that
        # outgrows int64 at scale (cnt <= 1e6/doc, |w| <= T*tokens)
        margins = (
            feats.join(F.broadcast(wdf), "bucket")
            .groupBy("doc_id")
            .agg(
                F.sum(
                    F.col("cnt").cast("decimal(19,0)")
                    * F.col("w").cast("decimal(18,0)")
                ).alias("m")
            )
        )
        mis = (
            margins.join(labels.select("doc_id", "y"), "doc_id")
            .filter(F.col("y") * F.col("m") <= 0)
            .select("doc_id", "y")
        )
        # NO broadcast hint on mis: in the first training pass (all-zero
        # weights) every doc is misclassified, so mis is the FULL corpus
        # key set — a forced broadcast would ship it to every executor
        # and cap out at scale; AQE picks broadcast when mis is
        # genuinely small
        upd = (
            feats.join(mis, "doc_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("y") * F.col("cnt")).alias("g"))
            .collect()  # <= buckets+1 rows: the bounded weight artifact
        )
        for r in upd:
            weights[r["bucket"]] += r["g"]
    return feats, labels, weights


@query(
    "q223b_perceptron_serve_scorecard",
    oracle=f"""
        {_q223_chain()},
        mfin AS MATERIALIZED (
            SELECT f.doc_id, SUM(f.cnt * w.w) AS m
            FROM f JOIN w{_Q223_T} w USING (bucket)
            GROUP BY f.doc_id),
        lab AS (SELECT doc_id, lang,
                       CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
                FROM documents)
        SELECT l.lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) FILTER (m.m > 0) AS BIGINT) AS n_pred_en,
               CAST(COUNT(*) FILTER ((l.y = 1) = (m.m > 0)) AS BIGINT)
                   AS n_correct
        FROM mfin m JOIN lab l USING (doc_id)
        GROUP BY l.lang ORDER BY l.lang
    """,
    tags=("text", "llm", "quality"),
)
def q223b(spark: SparkSession, sf: str) -> DataFrame:
    """TRAIN-THEN-SERVE for the q223 classifier: the same
    5-round perceptron trains, then the final weight vector SCORES
    the whole corpus in one broadcast-join pass and the per-language
    scorecard (docs, predicted-en, correct) comes off an integer
    aggregate — the apply-the-filter-model step a curation pipeline
    runs after training (q177's DSIR and q179b's tokenizer follow
    the same train-offline/apply-online split). The margin sign is
    the classification; all arithmetic is exact (integer counts,
    DECIMAL margins, which cannot wrap), so the scorecard
    hash-matches the oracle that re-runs the identical unrolled
    training chain and scores with ITS final weights — training AND
    serving value-checked end to end in one contract.

    At 100 TB: serving is one corpus pass (feature explode +
    65-row broadcast join + integer groupBy); the scorecard shuffle
    carries one row per language."""
    feats, labels, weights = _q223_train(spark, sf)
    wdf = spark.createDataFrame(
        sorted(weights.items()), "bucket long, w long"
    )
    margins = (
        feats.join(F.broadcast(wdf), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("cnt").cast("decimal(19,0)")
                * F.col("w").cast("decimal(18,0)")
            ).alias("m")
        )
    )
    return (
        margins.join(labels, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.when(F.col("m") > 0, 1))
            .cast("long")
            .alias("n_pred_en"),
            F.count(
                F.when((F.col("y") == 1) == (F.col("m") > 0), 1)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .orderBy("lang")
    )


# ------- Q231 WEIGHTED (tf) Jaccard near-dup pairs — the q26 upgrade
_Q231_THETA = 0.6


def _wjac_tf(documents: DataFrame) -> DataFrame:
    """(doc_id, source, token, tf) — the ONE tokenization/counting home
    shared by q231 (exact) and q232 (sketch + verify). The q232
    precision-1.0 invariant depends on its verify arithmetic staying
    byte-identical to q231's; a single source makes drift impossible.

    Materialized ONCE: every consumer fans this
    frame into 3-4 subtrees (pair sides a/b, per-doc totals, q232's
    source map) and each subtree otherwise replays the full corpus
    explode + tf groupBy from the parquet scan — 8
    documents scans in q232's plan, 4 in q231's. The aggregate output
    (ids + distinct tokens + counts, no text) is the smaller side of
    the explode, so one lineage cut replaces 3 corpus re-aggregations.
    Values are unchanged — the cut is storage, not arithmetic."""
    from ..operators.dedup import spread
    from ..plans import materialize_once

    tf = (
        spread(documents, "doc_id")
        .select(
            "doc_id",
            "source",
            F.explode(F.split("text", " ")).alias("token"),
        )
        .groupBy("doc_id", "source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    return materialize_once(tf, eager=False)


def _wjac_pairs(tf: DataFrame, cand: DataFrame | None = None) -> DataFrame:
    """Exact weighted-Jaccard pairs >= theta over a (doc, source,
    token, tf) frame. ``cand=None``: every same-source pair via the
    blocked token equi-join (q231). ``cand`` given: restrict the
    min-sum to the candidate (d1, d2) set (q232's verify) — identical
    arithmetic either way, by construction."""
    if cand is None:
        a = tf.select(
            F.col("doc_id").alias("d1"),
            "source",
            "token",
            F.col("tf").alias("tf1"),
        )
        b = tf.select(
            F.col("doc_id").alias("d2"),
            "source",
            "token",
            F.col("tf").alias("tf2"),
        )
        p = a.join(b, ["source", "token"]).filter(
            F.col("d1") < F.col("d2")
        )
    else:
        a = tf.select(
            F.col("doc_id").alias("d1"), "token", F.col("tf").alias("tf1")
        )
        b = tf.select(
            F.col("doc_id").alias("d2"), "token", F.col("tf").alias("tf2")
        )
        p = cand.join(a, "d1").join(b, ["d2", "token"])
    smin = p.groupBy("d1", "d2").agg(
        F.sum(F.least("tf1", "tf2")).cast("long").alias("smin")
    )
    tot = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("tot"))
    jw = F.round(
        F.col("smin") * 1.0 / (F.col("t1") + F.col("t2") - F.col("smin")),
        6,
    )
    return (
        smin.join(
            tot.select(F.col("doc_id").alias("d1"),
                       F.col("tot").alias("t1")),
            "d1",
        )
        .join(
            tot.select(F.col("doc_id").alias("d2"),
                       F.col("tot").alias("t2")),
            "d2",
        )
        .select("d1", "d2", jw.alias("w_jaccard"))
        .filter(F.col("w_jaccard") >= _Q231_THETA)
        .orderBy("d1", "d2")
    )


@query(
    "q231_weighted_jaccard_neardup",
    oracle=f"""
        WITH tf AS (
          SELECT doc_id, source, token, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, source,
                       unnest(string_split(text, ' ')) AS token
                FROM documents)
          GROUP BY 1, 2, 3
        ),
        tot AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tot
                FROM tf GROUP BY doc_id),
        p AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2,
                 CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS smin
          FROM tf a JOIN tf b
            ON a.token = b.token AND a.source = b.source
           AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT d1, d2,
               ROUND(smin * 1.0 / (ta.tot + tb.tot - smin), 6)
                   AS w_jaccard
        FROM p
        JOIN tot ta ON ta.doc_id = d1
        JOIN tot tb ON tb.doc_id = d2
        WHERE ROUND(smin * 1.0 / (ta.tot + tb.tot - smin), 6)
              >= {_Q231_THETA}
        ORDER BY d1, d2
    """,
    tags=("dedup", "text", "llm"),
    bench=True,  # the exact weighted-Jaccard blocked join
)
def q231(spark: SparkSession, sf: str) -> DataFrame:
    """WEIGHTED (tf) Jaccard near-dup pairs — the
    multiset upgrade to q26's set-Jaccard: J_w(A,B) =
    sum_t min(tf_A, tf_B) / sum_t max(tf_A, tf_B), the weighted
    Jaccard every production dedup weighs tokens by (a 10x-repeated
    boilerplate token should count 10x; set semantics let a
    length-skewed copy hide behind a few shared types). Exact and
    purely rational — so unlike an ICWS/weighted-MinHash sketch it
    HASH-matches: the pair generator is the SAME single blocked
    equi-join as q26 (shared token within source block, d1 < d2),
    carrying min(tf) partial sums; denominators come from per-doc
    totals via two broadcast-sized joins (sum_max = tot1 + tot2 -
    sum_min, so only MIN needs the pair join).

    At 100 TB: bucket width on the token join is bounded by the
    max_df ceiling exactly as in q26e (drop tokens whose df exceeds
    the ceiling — they contribute near-zero discrimination and all
    the blow-up); the threshold keeps the emitted pair set sparse.
    Dedup resolution composes with q56's components as usual."""
    (documents,) = load(spark, sf, "documents")
    return _wjac_pairs(_wjac_tf(documents))


# ----- Q232 weighted-MinHash (ICWS) banded candidates + exact verify
_Q232_K = 16      # CWS hashes
_Q232_BANDS = 8   # bands of r=2 rows: P(cand) = 1-(1-J^2)^8
_Q232_M = 2**32


def cws_banded_projection(
    documents: DataFrame,
    k: int = _Q232_K,
    bands: int = _Q232_BANDS,
    scope_col: str | None = None,
) -> DataFrame:
    """(doc_id, band, bsig) banded ICWS rows over a documents frame —
    the weighted-Jaccard sibling of `minhash_banded_projection`,
    batch/streaming agnostic (ONE home for q232's batch candidates
    AND q232b's at-ingest stream). Ioffe's ICWS (ICDM 2010) computed
    entirely scan-side: per-row (token, tf) entries from the row's
    own token array (no groupBy — streaming-safe), then per hash k
    the argmin element via array_min over the entries, banded 2-per
    and hashed. Three projections with the Generate barrier last —
    the q205b single-fold discipline: the entries array is built once
    and referenced as an attribute, never inlined into the 16 argmin
    expressions (CollapseProject's non-cheap-multi-reference guard
    keeps the projections apart).

    ``scope_col`` (q232b): fold a blocking column (source) into the
    band signature so bucket identity is scope-local — the streaming
    bucket emitter has no join key to restrict on, and WITHOUT the
    scope a 31-type vocabulary piles every source's docs into shared
    buckets (measured: 16.4M candidate pairs unscoped vs ~the batch
    candidate count scoped at sf0.1 — the m^2 bucket bill the batch
    path's same-source join key avoids)."""
    toks = F.split("text", " ")
    # (token, tf) entries via SORT + RUN-LENGTH boundaries (a
    # per-distinct-token F.filter count is O(doc_len * distinct_tokens)
    # per row — quadratic for long documents, undercutting the
    # scan-side cost framing at ingest scale). array_sort is
    # O(n log n); run starts are found with one
    # O(n) pass of O(1) element_at probes; tf = next start - start.
    # Entry ORDER differs from the old first-occurrence order, but the
    # signature takes array_min over the entries — order-invariant, so
    # emitted (band, bsig) rows are identical.
    # The dedup.bind rule: the sorted token array and the run-start
    # index array are BOUND once per row. A shape that captures
    # `srt` (an O(n log n) array_sort) inside the filter and
    # zip_with lambdas makes Catalyst re-evaluate the captured
    # subexpression PER ARRAY ELEMENT — the sort ran hundreds of times
    # per document (measured: the banded projection alone cost 26 s at
    # sf0.1/local[32]; ~1 s after binding). Same values, same entries.
    from ..operators.dedup import bind

    def _ents_of(srt: Column) -> Column:
        starts = F.filter(
            F.sequence(F.lit(1), F.size(srt)),
            lambda i: (i == 1)
            | (F.element_at(srt, i) != F.element_at(srt, i - 1)),
        )

        def _with_starts(st: Column) -> Column:
            ends = F.concat(
                F.slice(st, 2, F.greatest(F.size(st) - 1, F.lit(0))),
                F.array(F.size(srt) + 1),
            )
            return F.zip_with(
                st,
                ends,
                lambda a, b: F.struct(
                    F.element_at(srt, a).alias("token"),
                    (b - a).cast("long").alias("tf"),
                ),
            )

        return bind(starts, _with_starts)

    ents = bind(F.array_sort(toks), _ents_of)
    scope = [F.col(scope_col)] if scope_col else []
    e = documents.select("doc_id", ents.alias("ents"), *scope)

    def _u(token, kk, i):
        return (
            F.pmod(
                F.xxhash64(token, kk * 7 + F.lit(i)), F.lit(_Q232_M)
            ).cast("double")
            + 0.5
        ) / _Q232_M

    def _elem(kk):
        def scored(ent):
            r = -F.log(_u(ent["token"], kk, 1) * _u(ent["token"], kk, 2))
            c = -F.log(_u(ent["token"], kk, 3) * _u(ent["token"], kk, 4))
            b = _u(ent["token"], kk, 5)
            t = F.floor(F.log(ent["tf"].cast("double")) / r + b)
            y = F.exp(r * (t - b))
            a = c / (y * F.exp(r))
            return F.struct(
                a.alias("a"),
                F.xxhash64(ent["token"], t.cast("long"), kk).alias(
                    "elem"
                ),
            )

        return F.array_min(F.transform(F.col("ents"), scored))["elem"]

    sig = e.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda kk: _elem(kk),
        ).alias("elems"),
        *scope,
    )
    bsig_scope = [F.col(scope_col)] if scope_col else []
    bands_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.struct(
            j.alias("band"),
            F.xxhash64(
                *bsig_scope,
                F.element_at(F.col("elems"), j * 2 + 1),
                F.element_at(F.col("elems"), j * 2 + 2),
            ).alias("bsig"),
        ),
    )
    return (
        sig.select("doc_id", F.explode(bands_arr).alias("bs"))
        .select(
            "doc_id",
            F.col("bs.band").alias("band"),
            F.col("bs.bsig").alias("bsig"),
        )
    )


@query(
    "q232_weighted_minhash_neardup",
    oracle=None,
    tags=("dedup", "text", "llm", "approx"),
)
def q232(spark: SparkSession, sf: str) -> DataFrame:
    """WEIGHTED-MinHash near-dup pairs — the SKETCH twin of
    q231's exact weighted Jaccard, exactly as q26b is to q26: ICWS
    signatures (`_cws_signature`) banded 8x2, candidates from ONE
    equi-join on (band, band-signature), then every candidate
    EXACT-verified with q231's rational arithmetic and thresholded —
    so emitted pairs are a SUBSET of the exact q231 pair set
    (precision 1.0 by construction; the verify-at-candidate pattern
    of q26d/q205b) and RECALL is the only loss, measured in
    APPROX_EVIDENCE against q231 at both SFs with a pytest gate.

    Why this exists next to q231: the exact join's bucket width is
    bounded by max_df — fine for near-uniform vocabularies, but a
    corpus whose every doc shares hot tokens pays the full blocked
    join; the sketch replaces it with a 16-integer signature per doc
    and a bucket join whose width is bounded by TRUE near-dup
    multiplicity (the banding curve 1-(1-J^2)^8: 0.97 at the 0.6
    threshold, 0.26 at J=0.3 — candidates concentrate where the
    answer is). Rows-only by design: the argmin rides IEEE floats,
    deterministic within the engine but not SQL-oracle-stable."""
    (documents,) = load(spark, sf, "documents")
    tf = _wjac_tf(documents)
    src = tf.select("doc_id", "source").dropDuplicates(["doc_id"])
    # Materialize the banded ICWS rows once: the
    # candidate self-join below otherwise replays the 16-hash ICWS
    # argmin fold — the most expensive projection in the query — under
    # BOTH join sides. (doc_id, band, bsig, source) is ~32 B/row, so
    # the cut is cheap at any corpus size. Values unchanged.
    from ..operators.dedup import spread
    from ..plans import materialize_once

    banded = materialize_once(
        cws_banded_projection(spread(documents, "doc_id")).join(src, "doc_id"),
        eager=False,
    )
    # same-source blocking keeps the pair universe identical to q231's
    # (the q26 family convention) so the evidence comparison is
    # like-for-like; drop "source" from the join keys to hunt
    # cross-source mirrors instead
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            ["source", "band", "bsig"],
        )
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("d1"),
            F.col("y.doc_id").alias("d2"),
        )
        .dropDuplicates(["d1", "d2"])
    )
    # exact verify on candidates only — the SAME `_wjac_pairs`
    # arithmetic q231 uses, candidate-restricted (one source of truth)
    return _wjac_pairs(tf, cand)
