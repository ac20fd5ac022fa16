"""Training-data pipeline queries beyond dedup/similarity: deterministic
sampling, data mixing, skew-safe aggregation, batch sessionization, and
duplicate-cluster resolution.

The reference has no sampling or keyed-skew surface (its only predicate is
the opaque ``filter`` callback, reference src/stream.ts:57-77); these are
north-star additions for 100 TB corpus preparation. Oracles mirror the
Spark expressions symbol-for-symbol via the *_sql builders in
operators/sampling.py — one source of truth for the hash constants.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import cluster, sampling, skew, text
from ..tables import load
from . import REGISTRY, query
from . import llm  # noqa: F401  — registers q26, whose oracle q56/q59 embed
                   # at import time; without this a direct `import
                   # ...queries.pipeline` KeyErrors on REGISTRY lookup

# Data-mixing recipe for q53: downsample the dominant language hard, keep
# half of everything else (a typical rebalance before tokenization).
_MIX = {"en": 0.05, "zh": 0.5, "fr": 0.5, "de": 0.5, "es": 0.5}


# ------------------------------------------------ Q52 deterministic sample
@query(
    "q52_hash_sample",
    oracle=f"""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE {sampling.sample_hash_sql('doc_id', 0.1, seed=7)}
        ORDER BY doc_id
    """,
    tags=("sampling", "llm"),
)
def q52(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 10% corpus sample by key-hash threshold — reproducible
    across runs AND engines (the oracle runs the identical arithmetic),
    nested under larger fractions, and a pure scan-side codegen predicate
    (no rand(), no shuffle, pushes to the parquet scan).
    See operators/sampling.py for the 100 TB argument."""
    (documents,) = load(spark, sf, "documents")
    return (
        sampling.sample_hash(documents, "doc_id", 0.1, seed=7)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


# ------------------------------------------------ Q53 stratified data mix
@query(
    "q53_stratified_mix",
    oracle=f"""
        SELECT lang,
               COUNT(*) AS kept_docs,
               CAST(SUM(n_chars) AS BIGINT) AS kept_chars
        FROM documents
        WHERE {sampling.stratified_sample_sql('lang', _MIX, 'doc_id', seed=11)}
        GROUP BY lang
        ORDER BY lang
    """,
    tags=("sampling", "llm"),
)
def q53(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language mixture rebalance: keep 5% of the dominant language and
    50% of the rest, deterministically, in one scan-side CASE predicate —
    the data-mixing step of a training-data pipeline. Reports kept docs and
    chars per language (the numbers a mixing recipe is tuned against)."""
    (documents,) = load(spark, sf, "documents")
    kept = sampling.stratified_sample(
        documents, "lang", _MIX, "doc_id", seed=11
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            # Explicit long on BOTH sides: DuckDB SUM(INTEGER) is HUGEINT
            # (pandas float64) unless cast — the driver hashes dtypes.
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
        .orderBy("lang")
    )


# ------------------------------------------------ Q54 salted aggregation
@query(
    "q54_salted_agg",
    oracle="""
        SELECT user_id,
               SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_value,
               COUNT(event_id) AS cnt
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    tags=("skew", "agg"),
)
def q54(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user event totals via the salted two-phase aggregate
    (operators/skew.py): the reduce of a hot key splits across 16 salt
    buckets before the exact merge. The oracle is the PLAIN group-by —
    proving the salted rewrite is semantically invisible. Quantized-sum
    trick for cross-engine double determinism (README rules)."""
    (events,) = load(spark, sf, "events")
    q = events.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 10000 + 0.5).cast("long").alias("qval"),
    )
    agg = skew.salted_agg(
        q,
        ["user_id"],
        [("sum", "qval", "sum_q"), ("count", "event_id", "cnt")],
        parts=16,
    )
    return (
        agg.select(
            "user_id",
            (F.col("sum_q") / F.lit(10000.0)).alias("sum_value"),
            "cnt",
        ).orderBy("user_id")
    )


# ------------------------------------------------ Q55 batch sessionization
@query(
    "q55_sessionize",
    oracle="""
        WITH g AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR date_diff('second', lag(ts) OVER w, ts) > 1800
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT user_id, ts,
                 CAST(SUM(new_s) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS session_seq
          FROM g
        )
        SELECT user_id, session_seq, COUNT(*) AS cnt,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM s GROUP BY user_id, session_seq
    """,
    tags=("window", "sessionize"),
)
def q55(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization in batch: lag -> new-session flag ->
    running-sum session id -> per-session rollup. The batch complement of
    q31's streaming session_window (same 30 min gap rule), and the shape
    that survives scale: ONE shuffle on user_id serves both window passes
    and the final group-by (same partitioning reused across stages).
    Hot-user mitigation is q54's salting applied to the rollup. No
    presentation ORDER BY: a profile (BASELINE.md) showed the
    global sort-collect cost ~0.3 s against 0.13 s for the windowing
    itself — at scale results go to a sink, not a sorted driver fetch
    (the driver's compare is order-insensitive). Session assignment is
    the shared operator q108 uses (funnel.with_sessions — one source of
    truth for the >gap boundary and (ts, event_id) tie-break, which the
    boundary property test pins); the physical plan is identical to the
    former inline build."""
    from ..operators import funnel as funnel_ops

    (events,) = load(spark, sf, "events")
    s = funnel_ops.with_sessions(events, gap_s=1800)
    return (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


# ------------------------------------- Q56 dup-cluster resolution (CC)
def _cc_closure_sql() -> str:
    """edges/reach transitive-closure CTE block over a (d1, d2)
    relation named `pairs` — ONE source of truth for the closure
    semantics (symmetrize + self-loops so singletons label themselves;
    per-component MIN over `reach` is the label), shared by the q56
    and q218b oracles so a change to the closure shape can never leave
    one of them on the old text."""
    return """edges AS (
          SELECT d1 AS a, d2 AS b FROM pairs
          UNION SELECT d2, d1 FROM pairs
          UNION SELECT d1, d1 FROM pairs
          UNION SELECT d2, d2 FROM pairs
        ), reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        )"""


def _q56_oracle() -> str:
    # Build on q26's oracle verbatim (one source of truth for the pair
    # semantics): its result is the edge list; the closure is the shared
    # recursive CTE whose per-component min is the cluster label.
    pairs_sql = REGISTRY["q26_jaccard_neardup"].oracle
    return f"""
        WITH RECURSIVE pairs AS (
          SELECT d1, d2 FROM ({pairs_sql}) q
        ), {_cc_closure_sql()}
        SELECT a AS node, MIN(b) AS label
        FROM reach GROUP BY a ORDER BY node
    """


@query(
    "q56_dup_clusters",
    oracle=_q56_oracle(),
    tags=("dedup", "llm", "iterative"),
    bench=True,
)
def q56(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster resolution: near-dup PAIRS (q26) -> connected
    components (iterative min-label propagation, operators/cluster.py) ->
    (node, min-id label) per clustered doc. The step a real dedup pipeline
    needs after pair generation — transitive duplicates {a,b},{b,c} must
    collapse to ONE representative. Oracle = recursive-CTE transitive
    closure over the SAME pair SQL (labels are order-independent minima,
    so the iterative and closure formulations must agree exactly)."""
    pairs = REGISTRY["q26_jaccard_neardup"].fn(spark, sf)
    comps = cluster.connected_components(pairs, src="d1", dst="d2")
    return comps.orderBy("node")


# --------------------------------------- Q57 incremental ingest dedup
_BATCH_SRC = ("src0", "src1")


@query(
    "q57_incremental_ingest_dedup",
    oracle=f"""
        WITH fp AS (
          SELECT doc_id, source, {text.fingerprint_sql('text')} AS fp
          FROM documents
        )
        SELECT b.doc_id, b.fp
        FROM fp b
        WHERE b.source IN {str(tuple(_BATCH_SRC))}
          AND NOT EXISTS (
            SELECT 1 FROM fp c
            WHERE c.source NOT IN {str(tuple(_BATCH_SRC))} AND c.fp = b.fp
          )
        ORDER BY b.doc_id
    """,
    tags=("dedup", "llm", "incremental"),
)
def q57(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ingest dedup: a new batch (sources src0/src1 stand in
    for today's crawl) keeps only docs whose content fingerprint does not
    already exist in the corpus (every other source). The daily-ingest
    complement of q46's full-corpus dedup: the corpus side reduces to
    fingerprints only (8 bytes/doc — distinct'd map-side before the
    shuffle), the batch side anti-joins on fp, and at 100 TB the corpus
    fingerprint set is exactly what a runtime bloom filter or a bucketed
    fingerprint table keeps off the shuffle entirely."""
    (documents,) = load(spark, sf, "documents")
    fp = documents.select(
        "doc_id", "source", text.fingerprint("text").alias("fp")
    )
    batch = fp.filter(F.col("source").isin(*_BATCH_SRC))
    corpus_fps = (
        fp.filter(~F.col("source").isin(*_BATCH_SRC)).select("fp").distinct()
    )
    return (
        batch.join(corpus_fps, "fp", "left_anti")
        .select("doc_id", "fp")
        .orderBy("doc_id")
    )


# ------------------------------------------------ Q58 batch k-NN join
@query(
    "q58_knn_join",
    oracle="""
        WITH q AS (
          SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 20
        ), s AS (
          SELECT qid, e.vec_id,
                 ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qv), 6)
                     AS score
          FROM embeddings e, q
          WHERE e.vec_id <> qid
        ), r AS (
          SELECT qid, vec_id, score,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY score DESC, vec_id) AS rn
          FROM s
        )
        SELECT qid, vec_id, score, rn FROM r WHERE rn <= 5
        ORDER BY qid, rn
    """,
    tags=("similarity", "llm"),
)
def q58(spark: SparkSession, sf: str) -> DataFrame:
    """Batch k-NN join (operators/similarity.knn_join): top-5 neighbors for
    each of 20 query vectors in ONE scan of the vector table — broadcast
    query batch, codegen'd fold cosine, WindowGroupLimit rank pushdown
    (each partition keeps <= k rows per query before the shuffle). The
    retrieval/embedding-dedup workhorse; q27 is the 1-query special case,
    q42's IVF cells block the same pattern when the batch cannot
    broadcast."""
    from ..operators import similarity

    (embeddings,) = load(spark, sf, "embeddings")
    queries = embeddings.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        similarity.as_double(F.col("embedding")).alias("qv"),
    )
    return similarity.knn_join(embeddings, queries, k=5).orderBy("qid", "rn")


@query("q159_knn_join_lsh", oracle=None,
       tags=("similarity", "llm", "approx", "slow"))
def q159(spark: SparkSession, sf: str) -> DataFrame:
    """Batch k-NN join through BANDED LSH — q58's semantics when the
    query batch is too large to broadcast (similarity.knn_join_lsh_banded):
    both sides explode 20x5-bit signatures to (band_idx, band_val) rows,
    candidates come from the equi-join on that key (no broadcast, no
    cross join, plan-asserted), survivors are exact-scored and cut to
    top-5 per query by WindowGroupLimit. Same 20-query set as q58, so
    the recall vs the exact join is measured directly
    (APPROX_EVIDENCE.json; pytest pins >=80% overlap)."""
    from ..operators import similarity

    (embeddings,) = load(spark, sf, "embeddings")
    queries = embeddings.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        similarity.as_double(F.col("embedding")).alias("qv"),
    )
    return similarity.knn_join_lsh_banded(embeddings, queries, k=5).orderBy(
        "qid", "rn"
    )


# --------------------------------- Q59 transitive dedup, end to end
def _q59_oracle() -> str:
    # Compose on q56's oracle verbatim (the q110 pattern — one source of
    # truth for the closure semantics; a private copy would silently
    # diverge from the cluster query this pipeline claims to compose).
    labels = REGISTRY["q56_dup_clusters"].oracle
    return f"""
        WITH cc AS ({labels})
        SELECT lang, COUNT(*) AS kept_docs,
               CAST(SUM(n_chars) AS BIGINT) AS kept_chars
        FROM documents
        WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> label)
        GROUP BY lang
        ORDER BY lang
    """


@query(
    "q59_transitive_dedup",
    oracle=_q59_oracle(),
    tags=("dedup", "llm", "pipeline"),
)
def q59(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup pipeline end to end: near-dup pairs (q26) -> connected
    components (q56) -> keep_canonical (min-id representative per cluster)
    -> surviving per-lang corpus stats. Proves the keep_canonical anti-join
    under the oracle gate, not just unit tests: the oracle deletes the same
    non-representative set via the recursive closure."""
    (documents,) = load(spark, sf, "documents")
    pairs = REGISTRY["q26_jaccard_neardup"].fn(spark, sf)
    comps = cluster.connected_components(pairs, src="d1", dst="d2")
    kept = cluster.keep_canonical(documents, comps)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
        .orderBy("lang")
    )


# ------------------------------------- Q60 deterministic corpus shuffle
@query(
    "q60_deterministic_shuffle",
    oracle=f"""
        SELECT doc_id, lang,
               {sampling.hash_bucket_sql('doc_id', seed=23)} AS shuffle_key
        FROM documents
        ORDER BY shuffle_key, doc_id
        LIMIT 200
    """,
    tags=("sampling", "llm"),
)
def q60(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic corpus shuffle: training-example order randomization
    as ORDER BY hash(key) — reproducible across runs/engines (same LCG as
    q52, so the oracle replays the identical order) and free of rand()'s
    retry nondeterminism. At 100 TB this is repartitionByRange on the hash
    key: a range exchange plus per-partition sort produces globally
    shuffled output shards without any single-point sort; LIMIT here keeps
    the gate result small."""
    (documents,) = load(spark, sf, "documents")
    return (
        documents.select(
            "doc_id", "lang",
            sampling.hash_bucket("doc_id", seed=23).alias("shuffle_key"),
        )
        .orderBy("shuffle_key", "doc_id")
        .limit(200)
    )


# ------------------------------------------------ Q61 Python UDTF
@query(
    "q61_udtf_tokenize",
    oracle="""
        SELECT doc_id, word, CAST(length(word) AS INT) AS n
        FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents WHERE doc_id < 50
        )
        WHERE word <> ''
    """,
    tags=("udf", "udtf"),
)
def q61(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF (table-valued function): one input row -> many output
    rows with a declared schema — the generalization of the reference's
    only UDTF-shaped operator, explode (reference src/stream.ts:78-90),
    with arbitrary Python row-generation logic. Arrow-batched like every
    Python boundary here; the LATERAL join keeps it a per-partition
    flatMap, no shuffle. Hash-matched against the equivalent relational
    unnest, proving the UDTF plumbing row-exact."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, n: int")
    class SplitWords:
        def eval(self, text: str):
            for w in (text or "").split(" "):
                if w:
                    yield (w, len(w))

    spark.udtf.register("q61_split_words", SplitWords)
    (documents,) = load(spark, sf, "documents")
    documents.filter(F.col("doc_id") < 50).createOrReplaceTempView(
        "q61_docs"
    )
    return spark.sql(
        """SELECT d.doc_id, s.word, s.n
           FROM q61_docs d, LATERAL q61_split_words(d.text) s"""
    )


# ------------------------------------------------ Q62 weighted sampling
@query(
    "q62_weighted_sample",
    oracle=f"""
        SELECT lang, COUNT(*) AS kept_docs,
               CAST(SUM(n_chars) AS BIGINT) AS kept_chars
        FROM documents
        WHERE {sampling.weighted_sample_sql('doc_id', 'n_chars', 0.0005, seed=31)}
        GROUP BY lang
        ORDER BY lang
    """,
    tags=("sampling", "llm"),
)
def q62(spark: SparkSession, sf: str) -> DataFrame:
    """Length-weighted importance sampling: each doc survives with
    probability min(1, 0.0005 * n_chars), so long documents are
    proportionally favored — the char-budget-preserving way to thin a
    corpus. Deterministic (LCG hash vs per-row threshold), engine-exact
    (double comparison well under 2^53), one scan-side predicate."""
    (documents,) = load(spark, sf, "documents")
    kept = sampling.weighted_sample(
        documents, "doc_id", "n_chars", 0.0005, seed=31
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
        .orderBy("lang")
    )


# ------------------------------------------- Q64 robust outlier filter
@query(
    "q64_mad_outliers",
    oracle="""
        WITH s1 AS (SELECT median(value) AS m FROM events),
        s2 AS (SELECT median(abs(value - m)) AS mad FROM events, s1)
        SELECT event_type, COUNT(*) AS outliers
        FROM events, s1, s2
        WHERE abs(value - m) > 3 * mad
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("quality", "stats"),
)
def q64(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier detection (median/MAD, the mean/stddev-free form that
    heavy-tailed value distributions require): two exact-percentile scalar
    aggregates, each broadcast back to the scan as a 1-row cross join —
    three passes total, no shuffle of the fact table beyond the final tiny
    group-by. Exact percentiles match DuckDB median() bit-for-bit, so the
    filter boundary is engine-identical with no rounding."""
    (events,) = load(spark, sf, "events")
    med = events.agg(F.percentile("value", F.lit(0.5)).alias("m"))
    mad = (
        events.crossJoin(F.broadcast(med))
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)).alias("mad")
        )
    )
    return (
        events.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .filter(F.abs(F.col("value") - F.col("m")) > 3 * F.col("mad"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("outliers"))
        .orderBy("event_type")
    )


# ------------------------------------------- Q65 PII pseudonymization
@query(
    "q65_pseudonymize",
    oracle="""
        SELECT event_id,
               sha256('pepper-7' || CAST(user_id AS VARCHAR)) AS user_pseudo,
               event_type
        FROM events
        WHERE event_id < 1000
        ORDER BY event_id
    """,
    tags=("privacy", "llm"),
)
def q65(spark: SparkSession, sf: str) -> DataFrame:
    """PII pseudonymization for training-data release: replace the user
    identifier with a peppered SHA-256 digest — stable (joins and
    sessionization still work on the pseudonym), irreversible without the
    pepper, and a pure scan-side codegen expression (JVM-side hash, no
    UDF, no shuffle). Digests are hex-identical across engines, so the
    oracle hash-matches the actual bytes, not a proxy."""
    (events,) = load(spark, sf, "events")
    return (
        events.filter(F.col("event_id") < 1000)
        .select(
            "event_id",
            F.sha2(
                F.concat(F.lit("pepper-7"), F.col("user_id").cast("string")), 256
            ).alias("user_pseudo"),
            "event_type",
        )
        .orderBy("event_id")
    )


# --------------------------------------- Q66 greedy sequence packing
@query(
    "q66_sequence_pack",
    oracle=f"""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 {sampling.hash_bucket_sql('doc_id', seed=41)} AS h
          FROM documents
        ), c AS (
          SELECT doc_id, n_tok,
                 SUM(n_tok) OVER (ORDER BY h, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
          FROM t
        )
        SELECT doc_id, n_tok,
               CAST(FLOOR((cum - n_tok) * 1.0 / 2048) AS BIGINT) AS pack_id
        FROM c
        ORDER BY doc_id
    """,
    tags=("packing", "llm"),
)
def q66(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy sequence packing: documents visited in deterministic
    pseudo-random order (q60's LCG hash) are packed into consecutive
    2048-token budget packs — the padding-free batching step of a training
    pipeline. Implementation is the DISTRIBUTED prefix sum
    (operators/packing.py): one range exchange + per-partition Arrow
    cumsum + driver-cumulated per-partition offsets; the oracle states the
    same total-order window sum in one SQL expression (fine at sf0.01,
    single-point sort at scale — exactly what the operator avoids)."""
    from ..operators import packing

    (documents,) = load(spark, sf, "documents")
    d = documents.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        sampling.hash_bucket("doc_id", seed=41).alias("h"),
    )
    packed = packing.sequence_pack(d, "n_tok", 2048, ["h", "doc_id"])
    return packed.select("doc_id", "n_tok", "pack_id").orderBy("doc_id")


# ------------------------------------------- Q67 per-stratum quota sample
@query(
    "q67_quota_sample",
    oracle=f"""
        SELECT lang, doc_id, n_chars
        FROM (
          SELECT lang, doc_id, n_chars,
                 ROW_NUMBER() OVER (
                     PARTITION BY lang
                     ORDER BY {sampling.hash_bucket_sql('doc_id', seed=53)},
                              doc_id) AS rn
          FROM documents
        )
        WHERE rn <= 40
        ORDER BY lang, doc_id
    """,
    tags=("sampling", "llm"),
)
def q67(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-stratum quota sampling: exactly K docs per language,
    chosen by deterministic hash order — the 'budget N examples per
    class' counterpart of q53's FRACTIONAL mixing (quota guarantees the
    count even when strata are skewed). The rank filter plans
    WindowGroupLimit: each task keeps only its top-K per stratum before
    the shuffle, so the full corpus never sorts. Same LCG as q52/q60 —
    the oracle replays identical arithmetic."""
    (documents,) = load(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(
        sampling.hash_bucket("doc_id", seed=53), "doc_id"
    )
    return (
        documents.select(
            "lang", "doc_id", "n_chars", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 40)
        .drop("rn")
        .orderBy("lang", "doc_id")
    )


# ---------------------------------------------- Q69 global dense row ids
@query(
    "q69_global_row_ids",
    oracle=f"""
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY {sampling.hash_bucket_sql('doc_id', seed=41)},
                            doc_id) - 1 AS BIGINT) AS row_id
        FROM documents
        ORDER BY doc_id
    """,
    tags=("packing", "llm"),
)
def q69(spark: SparkSession, sf: str) -> DataFrame:
    """Contiguous 0-based global row ids in a deterministic shuffled order
    — training-example numbering that is stable across runs and engines
    (monotonically_increasing_id is neither contiguous nor
    order-deterministic). Implemented as the degenerate case of the
    distributed prefix sum (operators/packing.py): unit token, unit
    budget -> pack_id IS the dense rank. Same one-range-exchange plan; no
    single-partition window, unlike the oracle's ROW_NUMBER."""
    from ..operators import packing

    (documents,) = load(spark, sf, "documents")
    d = documents.select(
        "doc_id",
        F.lit(1).cast("long").alias("one"),
        sampling.hash_bucket("doc_id", seed=41).alias("h"),
    )
    ids = packing.sequence_pack(d, "one", 1, ["h", "doc_id"])
    return (
        ids.select("doc_id", F.col("pack_id").alias("row_id"))
        .orderBy("doc_id")
    )


# --------------------------------------- Q94 output shard layout manifest
_SHARD_N = 16
_SHARD_SEED = 47


@query(
    "q94_shard_manifest",
    oracle=f"""
        SELECT ({sampling.hash_bucket_sql('doc_id', _SHARD_SEED)})
                   % {_SHARD_N} AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MIN(doc_id) AS min_id,
               MAX(doc_id) AS max_id
        FROM documents
        GROUP BY shard
        ORDER BY shard
    """,
    tags=("sampling", "llm", "layout"),
)
def q94(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic output-shard manifest: every document is assigned
    shard = portable_hash(doc_id) % 16 and the manifest reports per-shard
    row and byte totals — the layout-planning/skew-audit pass before a
    100 TB `write.partitionBy(shard)` (balanced shards are what make the
    write, and every downstream shard-parallel read, elastic). The hash is
    the engine-portable LCG (q52/q60's), so the SAME shard assignment is
    reproducible in any system that can evaluate it — a manifest an
    external loader can verify. Scan-side bucket expr + 16-group
    aggregate: map-side combined, kilobytes shuffled at any scale."""
    (docs,) = load(spark, sf, "documents")
    shard = (
        sampling.hash_bucket("doc_id", _SHARD_SEED) % F.lit(_SHARD_N)
    ).alias("shard")
    return (
        docs.groupBy(shard)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("shard")
    )


# ------------------------------------- Q110 dedup keeper selection
def _q110_oracle() -> str:
    # Compose on q56's labels verbatim (one source of truth for the
    # cluster semantics), then rank keepers inside each cluster.
    labels = REGISTRY["q56_dup_clusters"].oracle
    return f"""
        WITH lab AS ({labels}),
        m AS (SELECT lab.node, lab.label,
                     CAST(len(string_split(d.text, ' ')) AS BIGINT) AS L
              FROM lab JOIN documents d ON d.doc_id = lab.node),
        k AS (SELECT label, node AS keeper FROM (
                SELECT label, node,
                       ROW_NUMBER() OVER (PARTITION BY label
                                          ORDER BY L DESC, node) AS rn
                FROM m) WHERE rn = 1)
        SELECT m.label, CAST(k.keeper AS BIGINT) AS keeper,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
        FROM m JOIN k USING (label)
        GROUP BY m.label, k.keeper
        ORDER BY m.label
    """


@query(
    "q110_dedup_keepers",
    oracle=_q110_oracle(),
    tags=("dedup", "llm", "clustering", "slow"),
)
def q110(spark: SparkSession, sf: str) -> DataFrame:
    """The step that actually DELETES: per near-dup cluster (q56's
    connected components over q26's pairs), elect one keeper — the
    longest member, ties to the lowest doc_id (longest-wins keeps the
    superset document when a fragment was quoted into it) — and report
    how many documents each cluster drops. Everything downstream of the
    pair join is cluster-cardinality-sized: the keeper window runs per
    label (WindowGroupLimit shape), the rollup per cluster. A real
    pipeline anti-joins the corpus against the non-keeper ids; the
    counts here ARE that delete manifest."""
    pairs = REGISTRY["q26_jaccard_neardup"].fn(spark, sf)
    labels = cluster.connected_components(pairs, src="d1", dst="d2")
    (docs,) = load(spark, sf, "documents")
    m = labels.join(
        docs.select(
            F.col("doc_id").alias("node"),
            F.size(F.split("text", " ")).cast("long").alias("L"),
        ),
        "node",
    )
    w = Window.partitionBy("label").orderBy(F.desc("L"), F.asc("node"))
    k = (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("label", F.col("node").cast("long").alias("keeper"))
    )
    return (
        m.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
        )
        .join(k, "label")
        .select("label", "keeper", "n_members", "n_dropped")
        .orderBy("label")
    )


# ------------------------------------------ Q173 Z-order layout statistics
def _z_oracle() -> str:
    from ..operators.layout import quantize16_sql, zvalue_sql

    x = quantize16_sql("o_custkey")
    y = quantize16_sql("CAST(floor(o_totalprice) AS BIGINT)")
    z = zvalue_sql(x, y)
    return f"""
        SELECT ({z} >> 22) AS zb,
               COUNT(*) AS n,
               MIN({x}) AS min_x, MAX({x}) AS max_x,
               MIN({y}) AS min_y, MAX({y}) AS max_y
        FROM orders
        GROUP BY 1 ORDER BY 1
    """


@query(
    "q173_zorder_layout",
    oracle=_z_oracle(),
    tags=("pipeline", "layout"),
)
def q173(spark: SparkSession, sf: str) -> DataFrame:
    """Z-ORDER data layout — per-bucket min-max statistics along the
    Morton curve over (o_custkey, o_totalprice). The lakehouse
    scan-pruning shape: interleaving the two 16-bit quantized keys
    (`layout.zvalue`, a pure shift/and/or codegen chain) makes every
    contiguous z range bound BOTH columns, so file/row-group min-max
    stats prune predicates on either column; a 1-D sort bounds only
    one (pinned quantitatively by test_zorder_buckets_bound_both_dims;
    measured at sf0.01: avg per-bucket y-range 2,039 on the z layout
    vs 65,520 on an x-sorted layout — 32x tighter — while x stays
    bounded, 1,494 vs 749, the expected curve trade). Output is
    exactly what a writer would persist as
    footer statistics: bucket id (top 10 interleaved bits = 1024 cells
    of the curve), row count, min/max of each quantized key.

    Plan: one codegen projection over the scan, ONE exchange on the
    bucket id with partial min/max/count map-side — at 100 TB the
    aggregate state is 1024 rows per partition, and the same z
    expression feeds `repartitionByRange` to produce the physical
    layout itself (zero extra passes)."""
    from ..operators import layout

    (orders,) = load(spark, sf, "orders")
    x = layout.quantize16(F.col("o_custkey"))
    y = layout.quantize16(F.floor(F.col("o_totalprice")))
    return (
        orders.select(
            F.shiftright(layout.zvalue(x, y), 22).alias("zb"),
            x.alias("x16"),
            y.alias("y16"),
        )
        .groupBy("zb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("x16").alias("min_x"),
            F.max("x16").alias("max_x"),
            F.min("y16").alias("min_y"),
            F.max("y16").alias("max_y"),
        )
        .orderBy("zb")
    )


# --------------------- Q176 PageRank over the part co-purchase graph
_PR_ITERS = 8
_PR_DAMP_NUM = 85          # d = 0.85 as an exact integer ratio
_PR_BASE = 150_000         # (1 - d) in micro-rank units
_PR_INIT = 1_000_000       # initial rank, micro-units


def _pagerank_oracle() -> str:
    """Unrolled-CTE DuckDB mirror of the Spark iteration (q172b's generated
    MATERIALIZED-chain policy): one CTE per PageRank step, identical
    integer arithmetic — (rnk * 85) // (100 * od) per edge, floor division
    on BIGINT, so no floating-point sum ever occurs on either engine."""
    head = f"""
        WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                   FROM lineitem a JOIN lineitem b
                     ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey <> b.l_partkey),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS od
                FROM e GROUP BY src),
        r0 AS (SELECT src AS node, CAST({_PR_INIT} AS BIGINT) AS rnk
               FROM deg)"""
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(f"""
        r{i} AS (SELECT e.dst AS node,
                        CAST({_PR_BASE} + SUM((r.rnk * {_PR_DAMP_NUM})
                                              // (100 * d.od))
                             AS BIGINT) AS rnk
                 FROM e JOIN r{i - 1} r ON e.src = r.node
                        JOIN deg d ON d.src = e.src
                 GROUP BY e.dst)""")
    return (
        head + "," + ",".join(steps) + f"""
        SELECT d.src AS part_id, d.od AS out_degree, r.rnk AS pr_rank
        FROM r{_PR_ITERS} r JOIN deg d ON d.src = r.node"""
    )


@query(
    "q176_copurchase_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "slow"),
    bench=True,
)
def q176(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed PAGERANK — the iterative-join graph op (Brin & Page
    1998, public) every corpus-curation stack runs on its link graph
    (crawl ranking, doc-importance weighting); here over the part
    CO-PURCHASE graph (parts sharing an order — the classic retail item
    graph, symmetric so every node has out- and in-edges and the fixed
    point is NOT reached in one step). Exactly engine-reproducible like
    q172b: ranks live in int64 micro-units, each edge contribution is
    floor((rank * 85) / (100 * outdeg)) via integer DIV — no
    floating-point sum exists on either engine — and the oracle unrolls
    all 8 steps as a generated CTE chain. Spark-first plan: pair
    generation needs NO self-join — ONE lineitem scan folds to
    collect_set(l_partkey) per order (the only corpus-sized exchange,
    on l_orderkey, map-side combined), and the per-order part
    sets explode into ordered pairs (fan-out bounded by order width
    squared, never corpus size). Cross-order duplicate pairs collapse
    inside pagerank's adjacency fold — no separate distinct pass — and
    the iteration is the Pregel shape documented in
    operators/cluster.py:pagerank: one O(nodes) exchange per step
    against a stationary materialized adjacency frame.
    Dangling-node redistribution is structurally unnecessary: co-purchase
    edges are symmetric, so out-degree >= 1 for every node by
    construction. Iteration lives in operators/cluster.py:pagerank
    (hand-computed-graph pytest drives it directly)."""
    (li,) = load(spark, sf, "lineitem")
    orders = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    e = (
        orders.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return cluster.pagerank(
        e, iters=_PR_ITERS, damp_num=_PR_DAMP_NUM, init=_PR_INIT
    ).select(
        F.col("node").alias("part_id"),
        "out_degree",
        F.col("rnk").alias("pr_rank"),
    )


# --------------- Q211 lakehouse z-order WRITE + read-back manifest
def _q211_oracle() -> str:
    from ..operators.layout import quantize16_sql, zvalue_sql

    x = quantize16_sql("o_custkey")
    y = quantize16_sql("CAST(floor(o_totalprice) AS BIGINT)")
    z = zvalue_sql(x, y)
    return f"""
        SELECT ({z} >> 24) AS zfile,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN({x}) AS min_x, MAX({x}) AS max_x,
               MIN({y}) AS min_y, MAX({y}) AS max_y,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_price_c
        FROM orders
        GROUP BY 1 ORDER BY 1
    """


@query(
    "q211_lakehouse_zorder_write",
    oracle=_q211_oracle(),
    tags=("pipeline", "layout", "write", "closed_form_oracle"),
    bench=True,  # DuckDB restates the manifest arithmetic, it does not write
)
def q211(spark: SparkSession, sf: str) -> DataFrame:
    """Lakehouse WRITE path — q173 computed the z-order
    footer statistics; this query actually WRITES the layout and
    proves the roundtrip: orders are directory-partitioned by the top
    8 interleaved z bits over (o_custkey, o_totalprice) — 256 curve
    cells, one file per cell, rows z-sorted within each file
    (`layout.write_zorder_partitioned`) — then the manifest a lakehouse
    catalog would record (per-file row count, min/max of BOTH quantized
    dimensions, exact cent-quantized price total) is recomputed FROM
    THE WRITTEN FILES and hash-checked against the same closed-form
    SQL over the original table. A hash match proves the write lost
    and duplicated nothing and that every file's stats bound both
    predicate columns — the data-skipping contract
    (tests/test_llm_ops.py pins the skip counts vs an x-sorted layout).

    Scale shape: one hash exchange on the cell id feeds the writer;
    the read-back manifest is a scan + 256-group aggregate over
    exactly the columns the footer already indexes. At 100 TB swap the
    deterministic cell for repartitionByRange(n_files, z) to balance
    file sizes (documented in the operator)."""
    from ..operators import layout
    from ..session import scratch_dir

    (orders,) = load(spark, sf, "orders")
    # pid-scoped + atexit-cleaned (session.scratch_dir): concurrent
    # checkers never overwrite each other's write mid-read; same
    # process reuses its dir (overwrite mode)
    out = scratch_dir("kstreamjs_zorder", sf)
    x = layout.quantize16(F.col("o_custkey"))
    y = layout.quantize16(F.floor(F.col("o_totalprice")))
    layout.write_zorder_partitioned(orders, out, x, y, file_bits=4)
    back = spark.read.parquet(out)
    bx = layout.quantize16(F.col("o_custkey"))
    by = layout.quantize16(F.floor(F.col("o_totalprice")))
    return (
        back.groupBy(F.col("zfile").cast("long").alias("zfile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(bx).alias("min_x"),
            F.max(bx).alias("max_x"),
            F.min(by).alias("min_y"),
            F.max(by).alias("max_y"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("sum_price_c"),
        )
        .orderBy("zfile")
    )


# ------- Q215 lakehouse small-file COMPACTION (OPTIMIZE) + manifest
@query(
    "q215_lakehouse_compaction",
    oracle=_q211_oracle(),
    tags=("pipeline", "layout", "write", "maintenance"),
)
def q215(spark: SparkSession, sf: str) -> DataFrame:
    """Lakehouse small-file COMPACTION — the OPTIMIZE
    maintenance shape that closes the write-path family: q211 writes
    the z-ordered layout, q211b APPENDS to it per micro-batch (one
    small file per batch per cell), q213 MERGEs at bucket granularity;
    this query simulates the post-ingest state (orders appended in 4
    key-range batches -> 4 files per z-cell), runs
    `layout.compact_partitions` (census from the directory listing,
    one staged write repartitioned by cell -> ONE file per compacted
    cell, per-partition atomic dir swap), and re-derives the manifest
    FROM THE COMPACTED FILES. Hash-matching q211's closed-form SQL
    proves compaction lost, duplicated, and corrupted nothing; the
    untouched-partition contract (cells under the file threshold are
    never rewritten) and the file-count reduction are pytest-pinned.

    Scale shape: the census is a metadata listing (a manifest read in
    a real table format), the rewrite scans ONLY the over-threshold
    partitions (path-pruned via basePath), and the swap is
    per-partition atomic — a 1000-executor cluster compacts cells in
    parallel and commits via manifest, the identical protocol plus
    the format."""
    from ..operators import layout
    from ..session import scratch_dir

    (orders,) = load(spark, sf, "orders")
    out = scratch_dir("kstreamjs_compact", sf)
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    x = layout.quantize16(F.col("o_custkey"))
    y = layout.quantize16(F.floor(F.col("o_totalprice")))
    # 4 key-range append batches: the small-file state continuous
    # ingest leaves behind (each append z-stages its own rows)
    for i in range(4):
        batch = orders.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == i)
        layout.zorder_stage(batch, x, y, file_bits=4).write.mode(
            "append"
        ).partitionBy("zfile").parquet(out)
    layout.compact_partitions(spark, out, "zfile", max_files=1)

    back = spark.read.parquet(out)
    bx = layout.quantize16(F.col("o_custkey"))
    by = layout.quantize16(F.floor(F.col("o_totalprice")))
    return (
        back.groupBy(F.col("zfile").cast("long").alias("zfile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(bx).alias("min_x"),
            F.max(bx).alias("max_x"),
            F.min(by).alias("min_y"),
            F.max(by).alias("max_y"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("sum_price_c"),
        )
        .orderBy("zfile")
    )


# -------- Q217 bucketed co-located join — shuffle-free fact-fact join
@query(
    "q217_bucketed_colocated_join",
    bench=True,  # the bucketed-write + co-located-join shape (the
                 # oracle joins plain parquet — a real comparable-work
                 # row: both sides pay the join; the engine also pays
                 # the bucketed write, which IS the mechanism measured)
    oracle="""
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_price_c
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("pipeline", "layout", "write", "join"),
)
def q217(spark: SparkSession, sf: str) -> DataFrame:
    """BUCKETED co-located join — the remaining physical-
    layout mechanism next to z-order (q173/q211) and compaction
    (q215): both join sides are written as Spark BUCKETED catalog
    tables (`layout.write_bucketed` — rows hash-partitioned into 8
    files by the join key at WRITE time, sorted within buckets, the
    bucket spec recorded in the catalog), and the fact-fact join then
    runs as a SortMergeJoin with ZERO exchanges feeding it — the plan
    pytest counts them. At 100 TB this is THE co-located-join story:
    the shuffle, not the join, is the bill for fact-fact joins; a
    bucketed layout pays the partitioning once at ingest and every
    downstream join/aggregation on that key reuses it for free. The
    merge hint keeps the demonstration honest at test scale (the
    small-SF customer side would otherwise broadcast, which never
    exercises co-location).

    Hash contract: the rollup equals the plain-parquet join SQL —
    bucketing is PHYSICAL layout only; a value change would mean rows
    were lost or re-keyed by the bucketed write. Table names are
    pid+sf-scoped (concurrent checkers never collide), re-created per
    invocation, dropped by a best-effort atexit."""
    import atexit
    import os
    import re

    from ..operators import layout

    (orders, customer) = load(spark, sf, "orders", "customer")
    tag = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf.rstrip("/")))
    to = f"q217_orders_{tag}_{os.getpid()}"
    tc = f"q217_customer_{tag}_{os.getpid()}"
    layout.write_bucketed(
        orders.select("o_custkey", "o_totalprice"), to, "o_custkey", 8
    )
    layout.write_bucketed(
        customer.select("c_custkey", "c_mktsegment"), tc, "c_custkey", 8
    )

    def _drop(session=spark, names=(to, tc)):
        try:
            for n in names:
                session.sql(f"DROP TABLE IF EXISTS {n}")
        except Exception:
            pass

    atexit.register(_drop)
    bo, bc = spark.table(to), spark.table(tc)
    return (
        bo.hint("merge")
        .join(bc, bo["o_custkey"] == bc["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("sum_price_c"),
        )
        .orderBy("c_mktsegment")
    )


# ------------------------------- Q218 NN-Descent k-NN graph construction
# k=20 is the paper's operating regime (k=5 leaves the descent too
# starved to propagate: measured graph recall 0.16 vs 0.99 at sf0.01).
_Q218_K = 20
_Q218_ITERS = 8


def _q218_chain(k: int = _Q218_K, iters: int = _Q218_ITERS) -> str:
    """The NN-Descent loop as a CTE chain (no WITH keyword, no final
    select) ending at g{iters} — shared by the q218 oracle and q218b's
    transitive-closure composition. Generated-CTE mirror of
    `similarity.nn_descent` symbol for symbol (the q179/q216c
    unrolled-training-loop policy): init strides, the reverse-sample
    hash rank, candidate self-join on the pivot, and the per-round
    top-k cut use the same _NND_K constant, the same mod-prime-first
    rank arithmetic (int64-safe on both engines), and the same
    score-desc/dst-asc tiebreaks. Every CTE is MATERIALIZED: DuckDB
    inlines multi-referenced CTEs, and round r references round r-1
    three times — the inlined form re-evaluates the whole prefix
    exponentially (and re-opens the parquet per inlined scan)."""
    from ..operators.similarity import _NND_K

    strides = ", ".join(str(r * _NND_K + 97) for r in range(1, k + 1))
    sql = f"""
        v AS MATERIALIZED (
                   SELECT vec_id AS node, embedding::DOUBLE[] AS vec
                   FROM embeddings),
        nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM v),
        init AS MATERIALIZED (SELECT DISTINCT a.node AS src,
                        (a.node + st.stride) % nn.n AS dst
                 FROM v a CROSS JOIN nn,
                      unnest([{strides}]) AS st(stride)
                 WHERE (a.node + st.stride) % nn.n <> a.node),
        g0 AS MATERIALIZED (SELECT i.src, i.dst,
                      ROUND(list_cosine_similarity(sv.vec, dv.vec), 6)
                          AS score
               FROM init i
               JOIN v sv ON sv.node = i.src
               JOIN v dv ON dv.node = i.dst)"""
    for r in range(1, iters + 1):
        p = r - 1
        sql += f""",
        adj{r} AS MATERIALIZED (SELECT src AS p, dst AS m FROM g{p}
                   UNION
                   SELECT src AS p, dst AS m FROM (
                     SELECT g.dst AS src, g.src AS dst,
                            ROW_NUMBER() OVER (
                              PARTITION BY g.dst
                              ORDER BY ((g.src % 1000003) * {_NND_K})
                                           % 4294967296, g.src) AS rr
                     FROM g{p} g) t
                   WHERE rr <= {k}),
        cand{r} AS MATERIALIZED (SELECT DISTINCT a.m AS src, b.m AS dst
                    FROM adj{r} a JOIN adj{r} b
                      ON a.p = b.p AND a.m < b.m),
        sc{r} AS MATERIALIZED (SELECT c.src, c.dst,
                         ROUND(list_cosine_similarity(sv.vec, dv.vec), 6)
                             AS score
                  FROM cand{r} c
                  JOIN v sv ON sv.node = c.src
                  JOIN v dv ON dv.node = c.dst),
        g{r} AS MATERIALIZED (SELECT src, dst, score FROM (
                   SELECT src, dst, score,
                          ROW_NUMBER() OVER (
                            PARTITION BY src
                            ORDER BY score DESC, dst) AS rn
                   FROM (SELECT DISTINCT * FROM (
                           SELECT * FROM g{p}
                           UNION ALL SELECT * FROM sc{r}
                           UNION ALL SELECT dst AS src, src AS dst, score
                           FROM sc{r})))
                 WHERE rn <= {k})"""
    return sql


def _q218_oracle(k: int = _Q218_K, iters: int = _Q218_ITERS) -> str:
    return f"""
        WITH {_q218_chain(k, iters)}
        SELECT src, dst, score,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY score DESC, dst) AS rn
        FROM g{iters}
        ORDER BY src, rn"""


@query(
    "q218_nn_descent_knn_graph",
    oracle=_q218_oracle(),
    tags=("similarity", "llm", "graph", "approx"),
    bench=True,  # the iterative graph-build family. Bench entries are
    # add-only under the driver contract, so q01/q05/q25 stay.
)
def q218(spark: SparkSession, sf: str) -> DataFrame:
    """NN-Descent k-NN GRAPH construction (the graph-ANN family; Dong
    et al., WWW 2011): builds the top-20
    cosine neighbor list of EVERY embedding in 8 descent rounds of
    neighbor-of-neighbor equi-joins (k=20 is the paper's operating
    regime — the k=5/3-round draft starved the descent, recall 0.16
    vs 0.99, the evidence sweep's documented knob) — the all-pairs
    complement the query-time ANN rows (q27b/q42/q159/q191/q194) do
    not cover, and the input shape for dedup graphs and diversity
    sampling.

    Every step is deterministic (init strides, reverse-sample hash
    rank, score/dst tiebreaks), so unlike the banded-LSH rows this
    TRAINING loop is fully SQL-expressible and HASH-matched by an
    unrolled-CTE oracle (operators/similarity.nn_descent for the
    Spark plan and scale story; graph recall vs the exact q58-style
    graph is measured in APPROX_EVIDENCE with a >=0.9 pytest gate —
    determinism makes the computation exact, not the GRAPH: it is
    still an approximation of the true k-NN graph)."""
    from ..operators import similarity

    (embeddings,) = load(spark, sf, "embeddings")
    return similarity.nn_descent(
        embeddings, k=_Q218_K, iters=_Q218_ITERS
    ).orderBy("src", "rn")


# ----------- Q218b kNN-graph dedup clusters — NN-Descent composed with CC
_Q218B_THETA = 0.42


def _q218b_oracle() -> str:
    """q218's NN-Descent chain composed with q56's recursive-CTE
    transitive closure (both reused verbatim — one source of truth for
    the descent AND for the closure semantics): threshold the graph,
    normalize to undirected pairs, close transitively, roll up per
    min-label cluster."""
    return f"""
        WITH RECURSIVE {_q218_chain(_Q218_K, _Q218_ITERS)},
        pairs AS (
          SELECT DISTINCT LEAST(src, dst) AS d1, GREATEST(src, dst) AS d2
          FROM g{_Q218_ITERS} WHERE score >= {_Q218B_THETA}
        ), {_cc_closure_sql()}, labels AS (
          SELECT a AS node, MIN(b) AS label FROM reach GROUP BY a
        )
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
               MAX(node) AS max_node
        FROM labels GROUP BY label ORDER BY label
    """


@query(
    "q218b_knn_graph_dedup_clusters",
    oracle=_q218b_oracle(),
    tags=("similarity", "dedup", "graph", "iterative", "llm", "slow"),
)
def q218b(spark: SparkSession, sf: str) -> DataFrame:
    """CORPUS-WIDE embedding dedup THROUGH the k-NN graph —
    the application q218 exists for: the NN-Descent graph replaces the
    all-pairs cosine join as the pair-generation stage, its edges are
    thresholded into near-dup candidates, and q56's connected-
    components operator resolves them into clusters (min-id label,
    per-cluster member rollup). Composition of two already-attested
    operators, so the oracle composes their two proven texts: the
    unrolled descent chain feeding the recursive-CTE closure — the
    whole pipeline hash-matches end to end.

    Scale shape: pair generation is q218's N*(2k)^2-per-round bill
    (never N^2 — the reason to build the graph instead of q26-style
    all-pairs joins on embeddings), the closure is q56's one-shuffle-
    per-round min-label propagation over O(edges) frames. The
    threshold sits at the corpus's own similarity tail (uniform
    synthetic vectors: cosine p99 ~0.41), so clusters are the
    handful of genuinely-similar outlier pairs — on a real near-dup-
    heavy corpus the same plan resolves millions of members."""
    from ..operators import similarity

    (embeddings,) = load(spark, sf, "embeddings")
    g = similarity.nn_descent(
        embeddings, k=_Q218_K, iters=_Q218_ITERS
    ).filter(F.col("score") >= _Q218B_THETA)
    pairs = g.select(
        F.least("src", "dst").alias("d1"),
        F.greatest("src", "dst").alias("d2"),
    ).distinct()
    comps = cluster.connected_components(pairs, src="d1", dst="d2")
    return (
        comps.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max("node").alias("max_node"),
        )
        .orderBy("label")
    )


# --------------- Q219 graph-ANN beam search over the NN-Descent graph
_Q219_NQ = 8       # query batch: vec_id < 8
_Q219_K = 10       # final top-k per query
_Q219_BEAM = 16    # beam width (tie-recall 1.0 at both SFs + clustered)
_Q219_HOPS = 4
_Q219_ENTRIES = 4


def _q219_oracle() -> str:
    """q218's descent chain composed with the unrolled beam-search walk
    (one source of truth for the graph; the walk CTEs mirror
    `similarity.graph_ann_topk` symbol for symbol: entry strides
    j*_NND_K+31, undirected adjacency, score-desc/node-asc beam cut)."""
    from ..operators.similarity import _NND_K

    gi = _Q218_ITERS
    strides = ", ".join(
        str(j * _NND_K + 31) for j in range(1, _Q219_ENTRIES + 1)
    )
    sql = f"""
        WITH {_q218_chain(_Q218_K, _Q218_ITERS)},
        und AS MATERIALIZED (SELECT src, dst FROM g{gi}
                 UNION
                 SELECT dst AS src, src AS dst FROM g{gi}),
        qs AS MATERIALIZED (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < {_Q219_NQ}),
        entries AS MATERIALIZED (
          SELECT DISTINCT q.qid, (q.qid + st.s) % nn.n AS node
          FROM qs q CROSS JOIN nn, unnest([{strides}]) AS st(s)),
        b0 AS MATERIALIZED (SELECT qid, node, score FROM (
            SELECT e.qid, e.node,
                   ROUND(list_cosine_similarity(q.qv, v.vec), 6) AS score,
                   ROW_NUMBER() OVER (PARTITION BY e.qid
                                      ORDER BY ROUND(
                                        list_cosine_similarity(q.qv, v.vec),
                                        6) DESC, e.node) AS rn
            FROM entries e JOIN v ON v.node = e.node
                           JOIN qs q ON q.qid = e.qid)
          WHERE rn <= {_Q219_BEAM})"""
    for r in range(1, _Q219_HOPS + 1):
        p = r - 1
        sql += f""",
        nb{r} AS MATERIALIZED (SELECT DISTINCT b.qid, u.dst AS node
                  FROM b{p} b JOIN und u ON u.src = b.node),
        b{r} AS MATERIALIZED (SELECT qid, node, score FROM (
            SELECT qid, node, score,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY score DESC, node) AS rn
            FROM (SELECT DISTINCT * FROM (
                    SELECT qid, node, score FROM b{p}
                    UNION ALL
                    SELECT c.qid, c.node,
                           ROUND(list_cosine_similarity(q.qv, v.vec), 6)
                               AS score
                    FROM nb{r} c JOIN v ON v.node = c.node
                                 JOIN qs q ON q.qid = c.qid)))
          WHERE rn <= {_Q219_BEAM})"""
    sql += f"""
        SELECT qid, node, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY score DESC, node) AS BIGINT)
                   AS rn
        FROM b{_Q219_HOPS}
        QUALIFY rn <= {_Q219_K}
        ORDER BY qid, rn"""
    return sql


@query(
    "q219_graph_ann_beam_search",
    oracle=_q219_oracle(),
    tags=("similarity", "llm", "graph", "ann", "approx", "slow"),
)
def q219(spark: SparkSession, sf: str) -> DataFrame:
    """Graph-ANN TOP-K SEARCH — the query-time half of the graph family
    q218 builds (HNSW layer-0 beam search, Malkov & Yashunin 2016):
    an 8-query batch walks the NN-Descent k-NN graph greedily (4
    deterministic entry points, beam 16, 4 hops through the undirected
    adjacency) and returns cosine top-10
    per query WITHOUT scanning the vector table — the per-query bill
    is O(entries + hops*beam*2k) scored candidates instead of N
    (q27's exact row pays the full scan; q27b/q42/q191 prune by
    hash/cell/code — this prunes by graph locality, the only family
    member whose candidate set ADAPTS to where the query lands).

    Deterministic end to end (entry strides, score-desc/node-asc
    beam cut), so — the q218 category — the whole walk is
    SQL-expressible and HASH-matched by an unrolled-CTE oracle
    (descent chain + hop CTEs). What stays approximate is the WALK
    vs the true top-k: tie-aware search recall (a hit = kept score
    >= the exact 10th score; id-set recall double-counts rounding
    ties in the clustered regime) is 1.0 at sf0.01, sf0.1, AND the
    16-center clustered corpus at the shipped knobs
    (APPROX_EVIDENCE q219, pytest gate >= 0.9; beam=12/hops=3
    measured 0.84 at sf0.1 — the sweep documents the knob).

    At 100 TB: graph and vectors stay partitioned by node; each hop
    is one equi-join on node plus one broadcast join against the
    bounded query batch. `similarity.graph_ann_topk` for the plan."""
    from ..operators import similarity

    (embeddings,) = load(spark, sf, "embeddings")
    g = similarity.nn_descent(embeddings, k=_Q218_K, iters=_Q218_ITERS)
    queries = embeddings.filter(F.col("vec_id") < _Q219_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    vv = embeddings.select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("vec")
    )
    return similarity.graph_ann_topk(
        g.drop("rn"),
        vv,
        queries,
        k=_Q219_K,
        beam=_Q219_BEAM,
        hops=_Q219_HOPS,
        n_entries=_Q219_ENTRIES,
    ).orderBy("qid", "rn")


# --------- Q222 domain-mixture reweighting (multiplicative weights)
_Q222_T = 10          # reweighting rounds
_Q222_SCALE = 10**9   # weight fixed-point scale (ppb)
_Q222_LSCALE = 10**6  # loss fixed-point scale (ppm)


def _q222_oracle() -> str:
    """Unrolled multiplicative-weights chain (the q179/q216c/q218
    training-loop oracle policy). Every order-dependent reduction is
    an INTEGER sum (ppm/ppb fixed point), so the chain is bitwise
    engine-independent: the only doubles are per-row divisions of
    identical integers."""
    sql = f"""
        WITH d AS (SELECT source,
                          string_split(text, ' ') AS ts
                   FROM documents),
        r AS (SELECT source,
                     CAST(FLOOR({_Q222_LSCALE}.0 *
                          len(list_distinct(ts)) / len(ts) + 0.5)
                          AS BIGINT) AS ttr_c
              FROM d),
        loss AS (SELECT source,
                        CAST(FLOOR(CAST(SUM(ttr_c) AS DOUBLE)
                             / COUNT(*) + 0.5) AS BIGINT) AS loss_ppm
                 FROM r GROUP BY source),
        w0 AS (SELECT source, loss_ppm,
                      CAST(FLOOR({_Q222_SCALE}.0
                           / COUNT(*) OVER () + 0.5) AS BIGINT) AS w
               FROM loss)"""
    for t in range(1, _Q222_T + 1):
        p = t - 1
        sql += f""",
        u{t} AS (SELECT source, loss_ppm,
                        w * (2 * {_Q222_LSCALE} + loss_ppm) AS uw
                 FROM w{p}),
        w{t} AS (SELECT source, loss_ppm,
                        CAST(FLOOR(CAST(uw AS DOUBLE)
                             / CAST(SUM(uw) OVER () AS DOUBLE)
                             * {_Q222_SCALE} + 0.5) AS BIGINT) AS w
                 FROM u{t})"""
    sql += f"""
        SELECT source, loss_ppm, w AS weight_ppb
        FROM w{_Q222_T}
        ORDER BY source"""
    return sql


@query(
    "q222_domain_mixture_mw",
    oracle=_q222_oracle(),
    tags=("pipeline", "sampling", "llm", "iterative"),
)
def q222(spark: SparkSession, sf: str) -> DataFrame:
    """DOMAIN-MIXTURE REWEIGHTING by multiplicative weights (the
    DoReMi shape, Xie et al. 2023: upweight the domains a proxy
    signal says are hardest; here the deterministic static proxy is
    per-domain mean type-token ratio, and the update is the
    polynomial Hedge variant w *= (1 + eta*loss), eta=1/2 — Freund &
    Schapire 1997 / the Arora-Hazan-Kale MW survey — chosen over
    exp() because it keeps the whole training loop in integer fixed
    point): 10 rounds over the 20-source mixture, emitting each
    domain's loss (ppm) and final sampling weight (ppb).

    Engine-exactness design (the reason this TRAINING loop is
    hash-matched, not rows-only): per-doc TTR quantizes to ppm
    BEFORE any aggregation, the per-domain mean and each round's
    normalizer are INTEGER sums (order-independent, unlike float
    sums), and the only doubles are divisions of identical integers
    — bitwise identical across engines by IEEE determinism. The
    common factor 2 in (2e6 + loss_ppm) cancels in normalization.

    Scale shape: ONE corpus pass (the TTR aggregate, shuffled by
    source); the iteration then runs on the O(D)-row domain frame —
    10 rounds x a 20-row window sum, driver never loops over data.
    At 100 TB: D stays in the hundreds, the corpus pass dominates,
    and the loop cost is invariant in N."""
    (documents,) = load(spark, sf, "documents")
    ts = F.split("text", " ")
    r = documents.select(
        "source",
        F.floor(
            F.lit(float(_Q222_LSCALE))
            * F.size(F.array_distinct(ts)) / F.size(ts)
            + F.lit(0.5)
        ).cast("long").alias("ttr_c"),
    )
    loss = r.groupBy("source").agg(
        F.floor(
            F.sum("ttr_c").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
        ).cast("long").alias("loss_ppm")
    )
    w_all = Window.partitionBy()
    cur = loss.withColumn(
        "w",
        F.floor(
            F.lit(float(_Q222_SCALE)) / F.count(F.lit(1)).over(w_all)
            + F.lit(0.5)
        ).cast("long"),
    )
    for _ in range(_Q222_T):
        cur = cur.withColumn(
            "uw", F.col("w") * (2 * _Q222_LSCALE + F.col("loss_ppm"))
        ).withColumn(
            "w",
            F.floor(
                F.col("uw").cast("double")
                / F.sum("uw").over(w_all).cast("double")
                * _Q222_SCALE
                + F.lit(0.5)
            ).cast("long"),
        ).drop("uw")
    return cur.select(
        "source", "loss_ppm", F.col("w").alias("weight_ppb")
    ).orderBy("source")


# ------ Q219c FILTERED graph-ANN search (predicate + vector, one walk)
_Q219C_LABEL = 3
_Q219C_BEAM = 48   # oversearch: beam ~ k / selectivity (10% labels)
_Q219C_HOPS = 4
_Q219C_ENTRIES = 8


def _q219c_oracle() -> str:
    """q218's descent chain + the unrolled FILTERED walk: the scored
    sets (entries + every hop's neighbors) accumulate, the label
    predicate cuts LAST — mirroring `graph_ann_topk(filter_col=...)`
    symbol for symbol."""
    from ..operators.similarity import _NND_K

    gi = _Q218_ITERS
    strides = ", ".join(
        str(j * _NND_K + 31) for j in range(1, _Q219C_ENTRIES + 1)
    )
    sql = f"""
        WITH {_q218_chain(_Q218_K, _Q218_ITERS)},
        und AS MATERIALIZED (SELECT src, dst FROM g{gi}
                 UNION
                 SELECT dst AS src, src AS dst FROM g{gi}),
        qs AS MATERIALIZED (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < {_Q219_NQ}),
        entries AS MATERIALIZED (
          SELECT DISTINCT q.qid, (q.qid + st.s) % nn.n AS node
          FROM qs q CROSS JOIN nn, unnest([{strides}]) AS st(s)),
        s0 AS MATERIALIZED (
            SELECT e.qid, e.node,
                   ROUND(list_cosine_similarity(q.qv, v.vec), 6) AS score
            FROM entries e JOIN v ON v.node = e.node
                           JOIN qs q ON q.qid = e.qid),
        b0 AS MATERIALIZED (SELECT qid, node, score FROM (
            SELECT qid, node, score,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY score DESC, node) AS rn
            FROM s0)
          WHERE rn <= {_Q219C_BEAM})"""
    for r in range(1, _Q219C_HOPS + 1):
        p = r - 1
        sql += f""",
        nb{r} AS MATERIALIZED (SELECT DISTINCT b.qid, u.dst AS node
                  FROM b{p} b JOIN und u ON u.src = b.node),
        wsc{r} AS MATERIALIZED (
            SELECT c.qid, c.node,
                   ROUND(list_cosine_similarity(q.qv, v.vec), 6) AS score
            FROM nb{r} c JOIN v ON v.node = c.node
                         JOIN qs q ON q.qid = c.qid),
        b{r} AS MATERIALIZED (SELECT qid, node, score FROM (
            SELECT qid, node, score,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY score DESC, node) AS rn
            FROM (SELECT DISTINCT * FROM (
                    SELECT * FROM b{p}
                    UNION ALL SELECT * FROM wsc{r})))
          WHERE rn <= {_Q219C_BEAM})"""
    accs = " UNION ALL ".join(
        ["SELECT * FROM s0"]
        + [f"SELECT * FROM wsc{r}" for r in range(1, _Q219C_HOPS + 1)]
    )
    sql += f"""
        , acc AS (SELECT DISTINCT qid, node, score FROM ({accs}))
        SELECT qid, node, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY score DESC, node) AS BIGINT)
                   AS rn
        FROM acc JOIN embeddings e ON e.vec_id = acc.node
        WHERE e.label = {_Q219C_LABEL}
        QUALIFY rn <= {_Q219_K}
        ORDER BY qid, rn"""
    return sql


@query(
    "q219c_graph_ann_filtered_search",
    oracle=_q219c_oracle(),
    tags=("similarity", "llm", "graph", "ann", "approx", "slow"),
)
def q219c(spark: SparkSession, sf: str) -> DataFrame:
    """FILTERED graph-ANN search: cosine top-10 among the
    vectors matching an attribute predicate (label == 3, ~10%
    selectivity) — the query every real vector store serves
    ("nearest neighbors WHERE ...") and the one naive strategies
    lose: pre-filtering the graph disconnects it at selective
    predicates, post-filtering a k-sized result starves it. The
    ACORN strategy (Patel et al., SIGMOD 2024): TRAVERSE unfiltered,
    accumulate every node the walk scores, apply the predicate LAST
    over that pool — with the beam widened to ~k/selectivity
    (beam 48 vs q219's 16; the pool is the walk bill, so recall
    tracks pool x selectivity vs k, the documented knob rule).

    Deterministic ⇒ HASH-matched by the unrolled chain + walk + acc
    oracle (the q219 category). Tie-aware filtered recall vs the
    exact label-restricted top-10: 1.0 at sf0.01, 0.95 at sf0.1 at
    the shipped knobs (q219's unfiltered beam=16 measures 0.71 at
    sf0.1 — the oversearch rule is load-bearing; APPROX_EVIDENCE
    q219c, pytest gate >= 0.9 on the smoke corpus)."""
    from ..operators import similarity

    (embeddings,) = load(spark, sf, "embeddings")
    g = similarity.nn_descent(embeddings, k=_Q218_K, iters=_Q218_ITERS)
    queries = embeddings.filter(F.col("vec_id") < _Q219_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    vv = embeddings.select(
        F.col("vec_id").alias("node"),
        F.col("embedding").alias("vec"),
        (F.col("label") == _Q219C_LABEL).alias("keep"),
    )
    return similarity.graph_ann_topk(
        g.drop("rn"),
        vv,
        queries,
        k=_Q219_K,
        beam=_Q219C_BEAM,
        hops=_Q219C_HOPS,
        n_entries=_Q219C_ENTRIES,
        filter_col="keep",
    ).orderBy("qid", "rn")


# ---------------- Q227 Hilbert-curve layout — the locality upgrade
def _q227_oracle() -> str:
    from ..operators.layout import hilbert_value_sql, quantize15_sql

    h = hilbert_value_sql(
        quantize15_sql("o_custkey"),
        quantize15_sql("CAST(FLOOR(o_totalprice) AS BIGINT)"),
    )
    return f"""
        WITH q AS (SELECT {quantize15_sql('o_custkey')} AS x15,
                          {quantize15_sql(
                              'CAST(FLOOR(o_totalprice) AS BIGINT)'
                          )} AS y15,
                          ({h} >> 20) AS hb
                   FROM orders)
        SELECT hb, CAST(COUNT(*) AS BIGINT) AS n,
               MIN(x15) AS min_x, MAX(x15) AS max_x,
               MIN(y15) AS min_y, MAX(y15) AS max_y
        FROM q GROUP BY hb ORDER BY hb
    """


@query(
    "q227_hilbert_layout",
    oracle=_q227_oracle(),
    tags=("pipeline", "layout"),
    bench=True,  # the Hilbert fold is the heaviest pure-codegen
    # expression family.
)
def q227(spark: SparkSession, sf: str) -> DataFrame:
    """HILBERT-curve data layout — the locality upgrade
    over q173's Z-order, stated precisely: at any fixed prefix depth
    both curves induce the SAME file blocks (every quadrant-recursive
    curve's top-2k bits name a 2^(15-k)-square — measured: identical
    mean per-bucket bounding boxes on this data), so the win is NOT
    tighter boxes. It is RANGE CONTIGUITY: consecutive Hilbert
    indexes are Manhattan-ADJACENT cells (true for every step, by
    construction), where the Z curve jumps at power-of-two
    boundaries — so an axis-aligned query box is covered by FEWER
    contiguous curve-index ranges (fewer scan ranges / object-store
    list calls), and a contiguous index range covers a spatially
    compact region. The pytest pins both quantitatively: zero
    adjacency violations for Hilbert vs hundreds for Z on the full
    32x32 block grid, and strictly fewer covering runs in aggregate
    over UNALIGNED query boxes — aligned power-of-two boxes are one
    whole quadrant under BOTH curves, misalignment is where Z
    fragments (the reason liquid-clustering layouts moved to
    Hilbert). Same output shape as q173: per-bucket (top 10 curve
    bits = 1024 cells) min-max footer statistics.

    The curve index is the canonical rotate-and-accumulate xy2d
    state machine — SEQUENTIAL per level, so it rides an
    `F.aggregate` fold with the (x, y, d) state packed into one long
    (`layout.hilbert_value`: constant-size fold body, runtime
    iterates; a naively unrolled CASE chain doubles per level). The
    identical packed fold is SQL-expressible (list_reduce over
    BIGINTs, the fingerprint_sql shape) — hash-matched end to end,
    and validated point-for-point against a reference xy2d in the
    pytest.

    Plan: one codegen projection (the fold) over the scan, ONE
    exchange on the bucket id with partial min/max/count map-side —
    identical scale shape to q173."""
    from ..operators import layout

    (orders,) = load(spark, sf, "orders")
    x = layout.quantize15(F.col("o_custkey"))
    y = layout.quantize15(F.floor(F.col("o_totalprice")))
    return (
        orders.select(
            F.shiftright(layout.hilbert_value(x, y), 20).alias("hb"),
            x.alias("x15"),
            y.alias("y15"),
        )
        .groupBy("hb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("x15").alias("min_x"),
            F.max("x15").alias("max_x"),
            F.min("y15").alias("min_y"),
            F.max("y15").alias("max_y"),
        )
        .orderBy("hb")
    )


# -------- Q228 near-dup-CLUSTER-safe train/eval split (leakage-proof)
_Q228_SEED = 3
_Q228_TRAIN_FRAC = 0.8


def _q228_oracle() -> str:
    """q218b's descent + closure feeding a cluster-keyed hash split —
    all three texts reused verbatim (descent chain, closure block,
    `hash_bucket_sql`), the one-source policy."""
    from ..operators.sampling import hash_bucket_sql

    thresh = int(_Q228_TRAIN_FRAC * 4294967296)
    return f"""
        WITH RECURSIVE {_q218_chain(_Q218_K, _Q218_ITERS)},
        pairs AS (
          SELECT DISTINCT LEAST(src, dst) AS d1, GREATEST(src, dst) AS d2
          FROM g{_Q218_ITERS} WHERE score >= {_Q218B_THETA}
        ), {_cc_closure_sql()}, labels AS (
          SELECT a AS node, MIN(b) AS label FROM reach GROUP BY a
        ), lab AS (
          SELECT e.vec_id AS node,
                 COALESCE(l.label, e.vec_id) AS label
          FROM embeddings e LEFT JOIN labels l ON l.node = e.vec_id
        ), s AS (
          SELECT node, label,
                 CASE WHEN {hash_bucket_sql('label', seed=_Q228_SEED)}
                      < {thresh}
                      THEN 'train' ELSE 'eval' END AS split
          FROM lab)
        SELECT split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT label) AS BIGINT) AS n_clusters
        FROM s GROUP BY split ORDER BY split
    """


@query(
    "q228_cluster_safe_split",
    oracle=_q228_oracle(),
    tags=("sampling", "dedup", "graph", "llm", "slow"),
)
def q228(spark: SparkSession, sf: str) -> DataFrame:
    """NEAR-DUP-CLUSTER-SAFE train/eval split — closing the
    loop q106 opened: q106 MEASURES near-dup leakage across a split,
    q79 prevents it only along metadata lines (the source column);
    this prevents it along CONTENT lines — the split key is the
    near-dup CLUSTER label (q218's graph thresholded into pairs,
    q56's connected components), so two near-duplicate documents can
    NEVER straddle the boundary no matter which sources they came
    from (the contamination mode a metadata split cannot see:
    cross-source mirrors). Singletons label themselves; the whole
    cluster rides one deterministic hash (`sampling.hash_bucket` on
    the label, the q52/q79 hash family) into train or eval.

    Composition of three attested operators, so the oracle composes
    their three proven texts verbatim (descent chain + closure block
    + hash-split predicate — the q218b one-source policy) and the
    whole pipeline hash-matches end to end.

    Scale shape: pair generation is q218's N*(2k)^2-per-round bill,
    the closure q56's one-shuffle-per-round propagation; the split
    itself is a scan-side predicate on the label — zero extra
    shuffles past the labeling."""
    from ..operators import similarity
    from ..operators.sampling import hash_bucket

    (embeddings,) = load(spark, sf, "embeddings")
    g = similarity.nn_descent(
        embeddings, k=_Q218_K, iters=_Q218_ITERS
    ).filter(F.col("score") >= _Q218B_THETA)
    pairs = g.select(
        F.least("src", "dst").alias("d1"),
        F.greatest("src", "dst").alias("d2"),
    ).distinct()
    comps = cluster.connected_components(pairs, src="d1", dst="d2")
    lab = (
        embeddings.select(F.col("vec_id").alias("node"))
        .join(comps, "node", "left")
        .select(
            "node", F.coalesce("label", F.col("node")).alias("label")
        )
    )
    thresh = int(_Q228_TRAIN_FRAC * 4294967296)
    return (
        lab.select(
            "label",
            F.when(
                hash_bucket("label", seed=_Q228_SEED) < F.lit(thresh),
                F.lit("train"),
            )
            .otherwise(F.lit("eval"))
            .alias("split"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("label").cast("long").alias("n_clusters"),
        )
        .orderBy("split")
    )
