"""Text-analysis operators over a token-separated text column: tokenization,
language ID (stopword n-gram heuristic), quality scoring, token counting,
and document fingerprinting (rolling hash).

All pure Catalyst expressions (higher-order array functions) — no Python in
the hot path, so these run inside whole-stage codegen and scale linearly
with input splits; no shuffle is needed for any per-document metric.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Tiny per-language stopword lists for the language-ID heuristic. The point
# is a deterministic, SQL-expressible scoring function (oracle-checkable),
# not linguistic accuracy — swap in fastText/CLD3 via mapInPandas for real
# pipelines.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in"),
    "es": ("el", "la", "de", "y", "que", "en"),
    "de": ("der", "die", "das", "und", "zu", "ein"),
    "fr": ("le", "la", "de", "et", "un", "une"),
}

FINGERPRINT_MOD = 1_000_000_007


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization as an array column."""
    return F.split(text, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


def stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    """Number of tokens (with multiplicity) in ``words``."""
    return F.size(F.filter(toks, lambda t: t.isin(list(words)))).cast("long")


def lang_scores(toks: Column) -> dict[str, Column]:
    return {lang: stopword_hits(toks, ws) for lang, ws in STOPWORDS.items()}


def lang_id(toks: Column) -> Column:
    """argmax language by stopword hits; ties broken by the fixed key order
    of STOPWORDS ('unknown' when no stopword appears at all)."""
    scores = lang_scores(toks)
    best = F.greatest(*scores.values())
    expr = F.lit("unknown")
    # build the when-chain in reverse so earlier langs win ties
    for lang in reversed(list(STOPWORDS)):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), lang).otherwise(
            expr
        )
    return expr


def quality_score(text: Column | str) -> Column:
    """Deterministic quality heuristic in [0,1]: length credit x
    (1 - stopword density). Real pipelines plug model-based scorers in via
    mapInPandas; the Spark plumbing is identical."""
    toks = tokens(text)
    n = F.size(toks).cast("double")
    all_stop = tuple(w for ws in STOPWORDS.values() for w in ws)
    stop_ratio = stopword_hits(toks, all_stop).cast("double") / n
    return F.round(F.least(F.lit(1.0), n / 100.0) * (1.0 - stop_ratio), 6)


def _portable_token_hash(t: Column) -> Column:
    """Engine-portable token hash (expressible identically in DuckDB SQL for
    the oracle): length*131 + 7*codepoint(first char) + codepoint(last
    char). NOT a quality hash — the fingerprint op is about the distributed
    plumbing; swap xxhash64 in for production use."""
    return (
        F.length(t).cast("long") * 131
        + F.ascii(F.substring(t, 1, 1)).cast("long") * 7
        + F.ascii(F.substring(t, -1, 1)).cast("long")
    )


def fingerprint(text: Column | str) -> Column:
    """Rolling polynomial hash over the token stream:
    fp = fold(tokens, acc -> (acc*31 + h(token)) mod 1e9+7).
    Sequential left fold — deterministic, order-sensitive (a true document
    fingerprint), O(tokens) per row, no shuffle."""
    hashed = F.transform(tokens(text), _portable_token_hash)
    return F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % FINGERPRINT_MOD,
    )


def fingerprint_sql(expr: str) -> str:
    """DuckDB spelling of :func:`fingerprint` (shared by the q36 oracle and
    every oracle that joins on content fingerprints): same token hash, same
    sequential left fold, same modulus."""
    return f"""list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split({expr}, ' '),
                     t -> CAST(length(t) * 131 + ascii(t) * 7 +
                               ascii(right(t, 1)) AS BIGINT))),
                 (acc, x) -> (acc * 31 + x) % {FINGERPRINT_MOD}
               )"""


def normalize_text(text: Column | str) -> Column:
    """Canonical text normalization for dedup/fingerprint pre-processing:
    lowercase, non-alphanumerics to spaces, whitespace collapsed, trimmed.
    Pure codegen expressions; the regexes use only character classes so the
    Java (Spark) and RE2 (DuckDB) engines agree byte-for-byte — the SQL
    mirror is :func:`normalize_text_sql`."""
    t = F.col(text) if isinstance(text, str) else text
    t = F.lower(t)
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def normalize_text_sql(expr: str) -> str:
    """DuckDB spelling of :func:`normalize_text` — note the explicit 'g'
    flag: DuckDB's regexp_replace substitutes only the FIRST match by
    default, Spark's substitutes all."""
    return (
        "TRIM(regexp_replace(regexp_replace("
        f"lower({expr}), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    )


def portable_string_hash(s: Column | str) -> Column:
    """Engine-portable hash of a short string key (for group-aware splits
    on e.g. a source/domain column): length*131 + 7*first-codepoint +
    last-codepoint — the string analogue of the LCG key hash, expressible
    identically in DuckDB (:func:`portable_string_hash_sql`). Collisions
    only merge groups (never split them), which preserves the leakage
    guarantee a grouped split exists for."""
    t = F.col(s) if isinstance(s, str) else s
    return _portable_token_hash(t)


def portable_string_hash_sql(expr: str) -> str:
    """DuckDB mirror of :func:`portable_string_hash`, edge-case aligned with
    Spark: Spark's ``ascii('')`` returns 0 where DuckDB's ``ord('')``
    returns -1 (verified; ``ascii('')`` is 0 there but ``ord`` is the
    codepoint function), so each ord is guarded with NULLIF/COALESCE —
    ``''`` hashes to 0 on both engines instead of -8 vs 0. A NULL key
    stays NULL on both sides (``length(NULL)`` nulls the whole sum;
    Spark's ``ascii(NULL)`` likewise)."""
    first = f"COALESCE(ord(NULLIF(substring({expr}, 1, 1), '')), 0)"
    last = f"COALESCE(ord(NULLIF(substring({expr}, -1, 1), '')), 0)"
    return f"(length({expr}) * 131 + {first} * 7 + {last})"


def compressibility(df, text_col: str = "text", id_col: str = "doc_id",
                    level: int = 6):
    """Per-document zlib compression ratio — the Gopher/C4-family
    quality signal SQL cannot express (a DEFLATE pass over the bytes):
    highly repetitive text compresses far below normal prose, while
    random or binary-ish content barely compresses at all, so the ratio
    separates both failure modes with one number.

    Arrow-batched mapInPandas (stdlib zlib, one Python roundtrip per
    batch — the documented non-SQL exception, never per-row Python in a
    separate task). Deterministic for a fixed zlib level within an
    engine; there is no SQL oracle restatement, so the driver's check
    for queries built on this is rows-only by design and the behavioral
    contract is pinned in pytest instead (repetition compresses below
    prose, prose below noise).

    Returns (id_col, n_bytes, n_compressed, comp_ratio) with
    comp_ratio = n_compressed / n_bytes rounded to 6 dp."""
    import zlib

    import pandas as pd

    def batches(it):
        for pdf in it:
            n, comp, ratio = [], [], []
            for t in pdf[text_col]:
                if t is None:
                    # NULL text is normal in real corpora this gate is
                    # pitched at — propagate null metrics, don't crash
                    # the task
                    n.append(None)
                    comp.append(None)
                    ratio.append(None)
                    continue
                b = t.encode("utf-8")
                c = len(zlib.compress(b, level))
                n.append(len(b))
                comp.append(c)
                ratio.append(round(c / len(b), 6) if b else None)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "n_bytes": pd.Series(n, dtype="Int64"),
                    "n_compressed": pd.Series(comp, dtype="Int64"),
                    "comp_ratio": pd.Series(ratio, dtype="float64"),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    from kstreamjs_spark.plans import widen_partitions

    # per-row zlib is the expensive stage; the fixture scan is one split
    # (guide §2.5) — widen before the Python boundary, per-row output so
    # partitioning cannot change results
    return widen_partitions(df.select(id_col, text_col)).mapInPandas(
        batches,
        f"{id_col} {id_type}, n_bytes long, n_compressed long, "
        "comp_ratio double",
    )


def unicode_normalize(text: Column | str, form: str = "NFC") -> Column:
    """Unicode normalization (UAX #15, public) as an Arrow-batched
    kernel — the step every multilingual corpus pipeline runs BEFORE
    tokenization/shingling/fingerprinting, because canonically
    equivalent strings ("e" + U+0301 vs precomposed U+00E9) otherwise
    hash, shingle, and dedup as different documents (CCNet and C4 both
    normalize first). ``form`` is NFC/NFD/NFKC/NFKD per stdlib
    ``unicodedata``; DuckDB's ``nfc_normalize`` (utf8proc) mirrors the
    NFC form, which is how q84b hash-matches it cross-engine.

    Arrow-batched pandas_udf (the documented non-SQL-expression
    exception, like ``compressibility``): normalization tables are not
    expressible in Catalyst, so this is one Python roundtrip per batch,
    scan-side, zero shuffle, NULL-preserving.
    """
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")

    # no type hints: postponed annotation evaluation (future.annotations)
    # turns them into strings pandas_udf cannot resolve; the returnType
    # argument carries the schema instead (the q48 idiom)
    @F.pandas_udf("string")
    def _norm(s):
        return s.map(
            lambda t: None if t is None else unicodedata.normalize(form, t)
        )

    return _norm(F.col(text) if isinstance(text, str) else text)


# --------------------------- WordPiece-style greedy subword tokenizer
# (the third tokenizer family next to BPE q179 and
# unigram-LM q212, and the only one whose APPLICATION is exactly
# SQL-restatable: greedy longest-match is a functional graph — the
# jump length at a position depends only on (word, position), never on
# the path taken — so the chain walk is a recursive CTE in DuckDB and
# a pure fold expression in Catalyst. No UDF, no DP, no state.)

WORDPIECE_MAX_PIECE = 4
WORDPIECE_K_MULTI = 64
WORDPIECE_UNK = "[UNK]"


def _sql_str(s: str) -> str:
    """SPARK SQL string literal (the vocab arrays are Spark-side only;
    DuckDB's vocabulary is computed in CTEs, never inlined). Spark's
    parser processes backslash escapes inside single-quoted literals,
    so both the backslash and the quote must be escaped — a vocab
    piece containing either would otherwise silently change meaning
    between the trained vocabulary and the inlined expression."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def wordpiece_vocab(
    documents,
    text_col: str = "text",
    k_multi: int = WORDPIECE_K_MULTI,
    max_piece: int = WORDPIECE_MAX_PIECE,
    word_counts=None,
) -> dict[int, list[str]]:
    """Train the greedy vocabulary from the corpus word-count table:
    ALL single characters (coverage guarantee — the q212 policy) plus
    the top ``k_multi`` substrings of length 2..``max_piece`` by
    (weighted count DESC, piece ASC). One corpus scan + one
    substring-count aggregate; the driver pulls only BOUNDED artifacts
    (the charset + a distributed top-K), never the substring table.
    Returns pieces grouped by length — the shape
    :func:`greedy_pieces` consumes and the oracle SQL mirrors.

    ``word_counts`` (optional, columns ``word``/``c``): a precomputed
    word-count frame — a caller that already aggregates word counts
    (q216's output table) passes it here so the corpus is scanned once
    for both halves instead of once per half (guide §3.3 duplicated
    subtrees). REQUIRED derivation (when this frame is
    supplied, ``documents``/``text_col`` and the length filter below
    are NOT consulted, so the caller must have built it exactly as the
    in-house branch and the oracle's wp_wc CTE do): split ``text_col``
    on a single space, keep words with ``length(word) >= 1``, count
    rows per word as bigint ``c``. Anything else (different
    tokenization, pre-filtering, weighting) silently diverges from the
    DuckDB oracle as a hash mismatch. The column contract is checked
    on entry. The ``pieces`` aggregate is checkpointed before the two
    bounded collects below for the same reason: the chars filter and
    the top-K each trigger a job, and without the cut both replay the
    corpus scan + substring aggregate from the source."""
    from ..plans import materialize_once

    if word_counts is not None:
        missing = {"word", "c"} - set(word_counts.columns)
        if missing:
            raise ValueError(
                f"word_counts frame is missing column(s) {sorted(missing)}; "
                "expected the (word, c) per-word count table described in "
                "the wordpiece_vocab docstring"
            )
    if word_counts is None:
        word_counts = (
            documents.select(
                F.explode(F.split(text_col, " ")).alias("word")
            )
            .filter(F.length("word") >= 1)
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
    pieces = materialize_once(
        word_counts.select(
            "c",
            F.explode(
                F.expr(
                    f"""flatten(transform(
                        sequence(1, length(word)),
                        i -> transform(
                            sequence(1, least({max_piece},
                                              length(word) - i + 1)),
                            k -> substring(word, i, k))))"""
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("n")),
        eager=False,
    )
    chars = sorted(
        r["piece"]
        for r in pieces.filter(F.length("piece") == 1).collect()
    )
    multi = [
        r["piece"]
        for r in pieces.filter(F.length("piece") > 1)
        .orderBy(F.col("n").desc(), "piece")
        .limit(k_multi)
        .collect()
    ]
    by_len: dict[int, list[str]] = {1: chars}
    for p in multi:
        by_len.setdefault(len(p), []).append(p)
    return by_len


def wordpiece_vocab_sql(
    k_multi: int = WORDPIECE_K_MULTI,
    max_piece: int = WORDPIECE_MAX_PIECE,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB CTE text computing the IDENTICAL vocabulary (same counts,
    same (n DESC, piece ASC) top-K, same all-chars coverage) — vocab AS
    (piece, l). Symbol-for-symbol the builder above."""
    return f"""
        wp_wc AS (
          SELECT w, COUNT(*) AS c FROM (
            SELECT unnest(string_split({text_col}, ' ')) AS w
            FROM {table})
          WHERE len(w) >= 1 GROUP BY w
        ),
        wp_pieces AS (
          SELECT substr(w, i, l) AS piece, SUM(c) AS n
          FROM wp_wc
          CROSS JOIN LATERAL unnest(generate_series(1, len(w))) AS gi(i)
          CROSS JOIN LATERAL unnest(
              generate_series(1, least({max_piece}, len(w) - i + 1))
          ) AS gl(l)
          GROUP BY 1
        ),
        wp_vocab AS (
          SELECT piece, len(piece) AS l
          FROM wp_pieces WHERE len(piece) = 1
          UNION ALL
          SELECT piece, len(piece) AS l FROM (
            SELECT piece FROM wp_pieces WHERE len(piece) > 1
            ORDER BY n DESC, piece LIMIT {k_multi})
        )"""


def greedy_pieces_sql(
    word_expr: str, vocab_by_len: dict[int, list[str]]
) -> str:
    """Greedy longest-match-first segmentation of the word given by
    ``word_expr`` (a SQL expression, typically a column name) under
    the trained vocabulary, as ONE Spark SQL expression evaluating to
    struct(n_pieces BIGINT, seg STRING) — seg space-separated with the
    WordPiece '##' continuation marker rendered on every non-initial
    piece (presentation only: this engine trains a single shared
    vocabulary; the position-split ##-vocab is a production extension,
    documented not implemented).

    Mechanics: jumps = per-position longest vocab match (bounded CASE
    over piece lengths, membership against BOUNDED literal vocab
    arrays — <=~100 strings, the q212 broadcast-artifact policy),
    let-bound once via a 1-element transform (Spark's portable let);
    then one fold over positions follows the jump chain — greedy
    longest-match is a functional graph (the jump at a position never
    depends on the path), which is exactly what makes this
    SQL-restatable as DuckDB's recursive CTE (`greedy_chain_sql`). An
    off-vocabulary single character (impossible over the training
    corpus by the all-chars coverage rule, routine at streaming
    ingest) emits '[UNK]' and advances 1 — total on any input. All of
    it inside whole-stage codegen; per-word cost O(len * max_piece)."""
    w = f"({word_expr})"
    lens = sorted((l for l in vocab_by_len if l > 1), reverse=True)
    branches = []
    for l in lens:
        arr = ", ".join(_sql_str(p) for p in vocab_by_len.get(l, []))
        if not arr:
            continue
        branches.append(
            f"WHEN __p + {l - 1} <= length({w}) AND "
            f"array_contains(array({arr}), substring({w}, __p, {l})) "
            f"THEN {l}"
        )
    jump = (
        "CASE " + " ".join(branches) + " ELSE 1 END" if branches else "1"
    )
    chars_arr = ", ".join(_sql_str(c) for c in vocab_by_len.get(1, []))
    in_chars = (
        f"array_contains(array({chars_arr}), substring({w}, acc.pos, 1))"
        if chars_arr
        else "false"
    )
    piece = (
        f"IF(element_at(__js, acc.pos) = 1 AND NOT {in_chars}, "
        f"{_sql_str(WORDPIECE_UNK)}, "
        f"substring({w}, acc.pos, element_at(__js, acc.pos)))"
    )
    agg = f"""aggregate(
          sequence(1, length({w})),
          named_struct('pos', 1, 'n', CAST(0 AS BIGINT), 'seg', ''),
          (acc, i) -> IF(i <> acc.pos, acc,
            named_struct(
              'pos', acc.pos + element_at(__js, acc.pos),
              'n', acc.n + CAST(1 AS BIGINT),
              'seg', concat(acc.seg, IF(acc.n = 0, '', ' ##'),
                            {piece}))),
          acc -> named_struct('n_pieces', acc.n, 'seg', acc.seg))"""
    js = f"transform(sequence(1, length({w})), __p -> {jump})"
    # Spark's sequence(1, 0) DESCENDS ([1, 0]) rather than returning
    # empty, so the empty word must short-circuit explicitly or the
    # fold would emit one spurious UNK piece.
    return (
        f"IF(length({w}) < 1, "
        f"named_struct('n_pieces', CAST(0 AS BIGINT), 'seg', ''), "
        f"element_at(transform(array({js}), __js -> {agg}), 1))"
    )


def greedy_pieces(
    word_expr: str, vocab_by_len: dict[int, list[str]]
) -> Column:
    """`greedy_pieces_sql` as a Column (struct(n_pieces, seg))."""
    return F.expr(greedy_pieces_sql(word_expr, vocab_by_len))


def greedy_chain_sql(
    words_cte: str,
    word_col: str = "w",
    max_piece: int = WORDPIECE_MAX_PIECE,
) -> str:
    """DuckDB CTE chain restating `greedy_pieces_sql` EXACTLY over the
    words in CTE ``words_cte`` (one row per distinct word): positions
    x candidate lengths -> per-position longest vocab match (the jump
    table), then a RECURSIVE chain walk — legal because greedy
    longest-match is a functional graph, no aggregate needed in the
    recursive term. Produces wp_seg(w, n_pieces, seg). Requires
    `wordpiece_vocab_sql`'s wp_vocab CTE in scope."""
    return f"""
        wp_pos AS (
          SELECT {word_col} AS w, gi.pos
          FROM {words_cte}
          CROSS JOIN LATERAL unnest(generate_series(1, len({word_col})))
              AS gi(pos)
        ),
        wp_jump AS (
          SELECT p.w, p.pos,
                 COALESCE(MAX(CASE WHEN p.pos + v.l - 1 <= len(p.w)
                                    AND substr(p.w, p.pos, v.l) = v.piece
                               THEN v.l END), 1) AS jump
          FROM wp_pos p LEFT JOIN wp_vocab v
            ON v.piece = substr(p.w, p.pos, v.l)
          GROUP BY p.w, p.pos
        ),
        wp_rec AS (
          SELECT {word_col} AS w, 1 AS pos,
                 CAST(0 AS BIGINT) AS n, '' AS seg
          FROM {words_cte}
          UNION ALL
          SELECT r.w, r.pos + j.jump, r.n + 1,
                 r.seg || CASE WHEN r.n = 0 THEN '' ELSE ' ##' END
                       || substr(r.w, r.pos, j.jump)
          FROM wp_rec r JOIN wp_jump j
            ON j.w = r.w AND j.pos = r.pos
          WHERE r.pos <= len(r.w)
        ),
        wp_seg AS (
          SELECT w, n AS n_pieces, seg
          FROM wp_rec WHERE pos = len(w) + 1
        )"""
