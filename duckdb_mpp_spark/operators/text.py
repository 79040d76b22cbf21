"""Text-analysis operators for large-scale training-data pipelines:
language ID (stopword-ratio heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting (min-hash over
character shingles).

Beyond the reference's surface (it has no text ops) — designed as
first-class engine operators per the north-star brief. Everything is
expression-level (whole-stage codegen, no UDFs, no shuffles except the final
aggregates), so each operator is a single scan at any scale.

Cross-engine determinism: token counts and ratios are integer arithmetic +
one IEEE double division; fingerprints are md5 hex strings (identical
lowercase hex in Spark and DuckDB) — results hash-match the DuckDB oracle
exactly.

KNOWN DIALECT BOUNDARY (review r6, empirically confirmed): ``lower()``
uses full Unicode case mapping in Spark (lower('İ') = 'i̇', two
codepoints) but simple mapping in DuckDB (= 'i'), so tokenization of
text containing İ/ß/ligatures diverges between the engines — affecting
tokens, shingles, fingerprints and every ratio derived from them. The
gates' fixtures are ASCII; a production deployment that needs one
convention should NFKC-normalize (or ASCII-fold) text upstream of both
engines rather than patch one engine's case tables.
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from duckdb_mpp_spark.queries import Query, register
from duckdb_mpp_spark.sources import load_table

# marker-word lists per language (checked in this order for ties)
STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "von", "nicht", "ein"],
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "en", "que", "los", "un"],
    "fr": ["le", "la", "de", "et", "les", "des", "une", "dans"],
}

PUNCT_CLASS = "[.,!?;:]"
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _tokens_sql(col_sql: str) -> str:
    """SQL text of :func:`tokens`, parsed JVM-side in ONE py4j round trip.
    The equivalent Column build (filter + lambda + coalesce + cast) cost
    ~28 ms of driver wall per call and the family is constructed ~19× per
    bench sweep (r13 construction-floor rework; see
    dedup._simhash_bit_sums for the measurement)."""
    return (
        f"coalesce(filter(split(lower(trim({col_sql})), ' '), x -> x != ''),"
        " CAST(array() AS array<string>))"
    )


def tokens(col: str) -> Column:
    """Whitespace tokens, lowercased, empties dropped (split on the literal
    space — the corpus is single-spaced; regex-free keeps both engines
    byte-identical). NULL text yields an EMPTY array, not NULL (review r4:
    under Spark's default ``legacy.sizeOfNull``, ``size(NULL)`` is -1,
    which poisoned sequence-packing's cumulative offsets and produced
    out-of-range repetition fractions for fetch-failure docs — every
    consumer counts a missing doc as zero tokens instead)."""
    return F.expr(_tokens_sql(f"`{col}`"))


def token_count(col: str) -> Column:
    return F.expr(f"size({_tokens_sql(f'`{col}`')})")


# --- SQL text builders (r13 construction-floor rework) ----------------------
# Every text expression is emitted as SQL text, so a consumer pays ONE py4j
# round trip per projection instead of one per F.xxx()/operator call
# (~0.5 ms each; the lambda-bound quality/language trees cost 0.15-0.45 s
# of driver wall per query construction at r13's measurement).


def _lang_ratio_sql(ws: str, lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"CAST(size(filter({ws}, x -> x IN ({lst}))) AS DOUBLE)"
        f" / CAST(greatest(size({ws}), 1) AS DOUBLE)"
    )


def _lang_decide_sql(rs: str) -> str:
    langs = sorted(STOPWORDS)
    out = "'und'"
    for lang in reversed(langs):
        r = f"{rs}.{lang}"
        conds = [f"{r} > 0"] + [
            f"{r} >= {rs}.{other}" for other in langs if other != lang
        ]
        out = f"CASE WHEN {' AND '.join(conds)} THEN '{lang}' ELSE {out} END"
    return out


def _lang_ratios_arr_sql(col_sql: str) -> str:
    langs = sorted(STOPWORDS)
    fields = ", ".join(f"{_lang_ratio_sql('ws', lang)} AS {lang}" for lang in langs)
    return f"transform(array({_tokens_sql(col_sql)}), ws -> struct({fields}))"


def _language_id_sql(col_sql: str) -> str:
    return (
        f"element_at(transform({_lang_ratios_arr_sql(col_sql)},"
        f" rs -> {_lang_decide_sql('rs')}), 1)"
    )


def _token_stats_sql(col_sql: str) -> str:
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return (
        f"element_at(transform(array({_tokens_sql(col_sql)}), ws -> struct("
        "size(ws) AS n, "
        "aggregate(ws, 0, (acc, x) -> acc + length(x)) AS sum_len, "
        f"size(filter(ws, x -> x IN ({en}))) AS stop_en)), 1)"
    )


def _punct_ratio_sql(t: str) -> str:
    # greatest(len, 1): a zero-length doc must score 0.0, not raise
    # DIVIDE_BY_ZERO under ANSI Spark where DuckDB yields NULL (review r4)
    return (
        f"CAST(length({t}) - length(regexp_replace({t}, '{PUNCT_CLASS}', ''))"
        f" AS DOUBLE) / CAST(greatest(length({t}), 1) AS DOUBLE)"
    )


def _upper_ratio_sql(t: str) -> str:
    return (
        f"CAST(length({t}) - length(regexp_replace({t}, '[A-Z]', ''))"
        f" AS DOUBLE) / CAST(greatest(length({t}), 1) AS DOUBLE)"
    )


def _score_from_stats_sql(st: str, t: str) -> str:
    # double literals carry the D suffix: a bare 0.4 parses as DECIMAL in
    # SQL and would change the arithmetic (the oracle pins double math)
    stop = f"CAST({st}.stop_en AS DOUBLE) / CAST(greatest({st}.n, 1) AS DOUBLE)"
    return (
        f"0.4D * least(CAST({st}.n AS DOUBLE) / 100.0D, 1.0D)"
        f" + 0.3D * least({stop} * 5.0D, 1.0D)"
        f" + 0.2D * (1.0D - least({_punct_ratio_sql(t)} * 10.0D, 1.0D))"
        f" + 0.1D * (1.0D - least({_upper_ratio_sql(t)} * 10.0D, 1.0D))"
    )


def language_id(col: str) -> Column:
    """argmax over per-language stopword ratios; deterministic preference
    order (alphabetical) on ties; 'und' when no marker word hits.

    Evaluation shape (review r6): the naive form inlined every ratio into
    every CASE branch — ~56 ``split()`` subtrees per row, an order of
    magnitude of redundant tokenization on the dominant per-row cost.
    Higher-order-function binding instead: wrap the token array in a
    1-element array and ``transform`` it twice — the lambda variable pins
    tokenization to ONE evaluation, the first transform computes the four
    ratios into a struct (one array scan each), and the CASE runs over the
    struct's scalar fields. Same value, same tie order."""
    return F.expr(_language_id_sql(f"`{col}`"))


def lang_quality_struct(text_col: str) -> Column:
    """(plang, quality_score) from ONE tokenization — the fused binding
    for pipelines that attach both (curation; review r9: composing
    ``language_id`` + ``quality_score_col`` as separate expressions
    re-tokenized every row twice, since each pins its OWN lambda-bound
    token array). One transform computes the per-language ratios AND the
    token stats into a single struct; the CASE and the score formula then
    read scalar fields. Stage the result in its own projection (the
    quality_features r8 note: CollapseProject keeps non-cheap multi-
    referenced expressions un-inlined)."""
    langs = sorted(STOPWORDS)
    rf = ", ".join(f"{_lang_ratio_sql('ws', lang)} AS {lang}" for lang in langs)
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    t = f"`{text_col}`"
    bound = (
        f"element_at(transform(array({_tokens_sql(t)}), ws -> struct("
        f"struct({rf}) AS r, size(ws) AS n, "
        "aggregate(ws, 0, (acc, x) -> acc + length(x)) AS sum_len, "
        f"size(filter(ws, x -> x IN ({en}))) AS stop_en)), 1)"
    )
    return F.expr(
        f"struct({_lang_decide_sql(bound + '.r')} AS plang, "
        f"{_score_from_stats_sql(bound, t)} AS quality_score)"
    )


def _token_stats(text_col: str) -> Column:
    """(n, sum_len, stop_en) token-derived scalars from ONE tokenization —
    the 1-element-array ``transform`` binding pins the token array to a
    lambda variable so it evaluates once (language_id's r6 trick; review
    r8 applied it to the quality family, which evaluated the interpreted
    ``split``/``filter`` higher-order trees up to six times per row
    across its output columns)."""
    return F.expr(_token_stats_sql(f"`{text_col}`"))


def quality_score_col(text_col: str = "text") -> Column:
    """The composite quality score as ONE per-row expression — exported so
    pipelines (operators/curation.py) can attach it in their existing
    projection instead of joining quality_features back onto the corpus
    (review r4: that join was a second corpus scan + corpus-wide shuffle).
    Tokenizes once via :func:`_token_stats`."""
    return F.expr(
        _score_from_stats_sql(_token_stats_sql(f"`{text_col}`"), f"`{text_col}`")
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / case features + composite score.

    Tokenization shape (review r8): all token-derived outputs read ONE
    bound stats struct computed in its own projection — the optimizer's
    CollapseProject keeps non-cheap expressions un-inlined, so the
    interpreted higher-order trees evaluate once per row instead of once
    per output column (the language_id r6 finding, applied across
    columns)."""
    t = F.col(text_col)
    staged = df.select(
        "doc_id", t.alias("_t"), _token_stats(text_col).alias("_st")
    )
    st = F.col("_st")
    n = st["n"]
    return staged.select(
        "doc_id",
        F.length("_t").cast("int").alias("n_chars_calc"),
        n.alias("n_tokens"),
        (
            st["sum_len"].cast("double")
            / F.greatest(n, F.lit(1)).cast("double")
        ).alias("avg_token_len"),
        F.expr(_punct_ratio_sql("_t")).alias("punct_ratio"),
        F.expr(_upper_ratio_sql("_t")).alias("upper_ratio"),
        (
            st["stop_en"].cast("double")
            / F.greatest(n, F.lit(1)).cast("double")
        ).alias("stopword_ratio"),
        F.expr(_score_from_stats_sql("_st", "_t")).alias("quality_score"),
    )


def char_fingerprint(col: Column | str, k: int = 5) -> Column:
    """Document fingerprint: min md5 over character k-gram shingles — the
    expression form of a rolling-hash fingerprint (no explode, no shuffle;
    one expression per row).

    ``aggregate`` fold, not ``transform`` + ``array_min`` (review r6): the
    transform form materialized one 32-char md5 hex string PER CHARACTER
    of the document in a single per-row array (~32× text bytes — hundreds
    of MB for one web-crawl-sized doc); the fold keeps O(1) per-row state
    (the running min), leaving only the 8-byte index sequence as per-row
    array cost. ``least`` skips NULLs, so the NULL seed returns the true
    min (and NULL text stays NULL, as before)."""
    if k < 1:
        # substr(i, 0) is '' at every position, so k <= 0 collapses EVERY
        # document's fingerprint to md5('') — the whole corpus becomes one
        # duplicate group and a keeper-based consumer drops everything but
        # one doc (review r9). Loud beats silent mass data loss.
        raise ValueError(f"char_fingerprint k must be >= 1, got {k}")
    c = F.col(col) if isinstance(col, str) else col
    n = F.greatest(F.length(c) - (k - 1), F.lit(1))
    return F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(None).cast("string"),
        lambda acc, i: F.least(acc, F.md5(c.substr(i, F.lit(k)))),
    )


def char_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Frame-level twin of :func:`char_fingerprint`: ``(id, fingerprint)``
    with NULL-text rows carrying a NULL fingerprint — value-identical to
    selecting the expression form (A/B-checked row-for-row at sf0.1).

    Explode + map-side min instead of the per-row ``aggregate`` fold
    (r13): higher-order functions run interpreted, one closure call per
    character — the fold measured 4.97 s at sf0.1 against 0.77 s for this
    shape (explode/md5/partial-min are all codegen). The explode never
    reaches the shuffle: partial aggregation folds each doc's positions
    to ONE row map-side, so shuffle bytes are O(#docs) exactly like the
    fold, and the corpus scan is spread across cores first (the md5 work
    is the dominant per-row cost)."""
    if k < 1:
        raise ValueError(f"char_fingerprints k must be >= 1, got {k}")
    from duckdb_mpp_spark.operators.dedup import _spread

    spread = _spread(df, id_col)
    pos = spread.select(
        id_col,
        text_col,
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length(text_col) - (k - 1), F.lit(1)))
        ).alias("i"),
    )
    per = pos.select(
        id_col, F.md5(F.expr(f"substring(`{text_col}`, i, {k})")).alias("h")
    )
    fpm = per.groupBy(id_col).agg(F.min("h").alias("fingerprint"))
    # NULL-text docs emit no positions (sequence(NULL) explodes to
    # nothing) — restore them with a NULL fingerprint via the left join
    return spread.select(id_col).join(fpm, id_col, "left")


def bpe_token_estimate(col: Column | str) -> Column:
    """NULL text counts as 0 tokens, matching the tokens()/token_count()
    NULL→zero contract (review r9: regexp_count(NULL) is NULL, which
    re-introduced exactly the NULL-propagation into downstream arithmetic
    — packing offsets, cost estimates — that the r4 tokens() fix closed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.regexp_count(c, F.lit(BPE_PATTERN)), F.lit(0))


# ---------------------------------------------------------------------------
# gate queries + DuckDB oracles
# ---------------------------------------------------------------------------

def _duck_tokens(expr: str = "text") -> str:
    # COALESCE to [] mirrors tokens()'s NULL→empty-array contract (review
    # r4: without it every oracle built on this reported NULL token counts
    # where Spark reports 0 for NULL-text docs)
    return (
        f"COALESCE(list_filter(string_split(lower(trim({expr})), ' '), "
        f"x -> x <> ''), [])"
    )


def _duck_stop_hits(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(ws, x -> x IN ({lst})))"


def _register_gopher():
    """Gopher-style rule filter (Rae et al. 2021 §A1.1 heuristics, the
    standard pretraining quality gate): word-count bounds, mean-word-length
    bounds, symbol-to-word ratio (# and ellipsis), alphabetic-word
    fraction, and a minimum stopword-hit count. Every statistic is an
    INTEGER (counts; ratio rules are cross-multiplied), so the verdict
    booleans are bit-identical across engines — no float thresholds.
    One map-side pass over the corpus; no shuffle at all until the
    ORDER BY, so it runs at scan speed on any corpus size."""

    def spark_fn(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        toks = tokens("text")
        n_words = F.size(toks)
        n_chars = F.length(F.regexp_replace(F.trim(F.col("text")), " ", ""))
        n_hash = F.length("text") - F.length(F.regexp_replace(F.col("text"), "#", ""))
        n_ellipsis = (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))) / 3
        ).cast("int")
        # \A..\z, not ^..$: Java's $ matches BEFORE a trailing newline, so
        # a token like 'word\n' would count as alpha in Spark while the
        # oracle's RE2 regexp_full_match rejects it (review r6; the
        # whitespace tokenizer splits on ' ' only, so tokens CAN carry \n)
        n_alpha = F.size(F.filter(toks, lambda x: x.rlike(r"\A[a-z]+\z")))
        stop_hits = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS["en"])))
        keep = (
            (n_words >= 50) & (n_words <= 100000)
            & (3 * n_words <= n_chars) & (n_chars <= 10 * n_words)
            & (10 * (n_hash + n_ellipsis) <= n_words)
            & (5 * n_alpha >= 4 * n_words)
            & (stop_hits >= 2)
        )
        out = docs.select(
            "doc_id",
            n_words.alias("n_words"),
            n_chars.alias("n_chars"),
            n_hash.alias("n_hash"),
            n_ellipsis.alias("n_ellipsis"),
            n_alpha.alias("n_alpha_words"),
            stop_hits.alias("stop_hits"),
            keep.alias("keep"),
        )
        # ordered_result (r13): the range sort's bound-sampling job ran
        # this map-only projection twice; single-task sort under the
        # sort_shape regime, parallel orderBy past it
        from duckdb_mpp_spark.queries import ordered_result

        return ordered_result(out, docs, "doc_id")

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    oracle = f"""
        WITH t AS (
          SELECT doc_id, {_duck_tokens()} AS ws, text FROM documents
        ), s AS (
          SELECT doc_id,
                 CAST(len(ws) AS INT) AS n_words,
                 CAST(length(replace(trim(text), ' ', '')) AS INT) AS n_chars,
                 CAST(length(text) - length(replace(text, '#', '')) AS INT) AS n_hash,
                 CAST((length(text) - length(replace(text, '...', ''))) / 3 AS INT) AS n_ellipsis,
                 CAST(len(list_filter(ws, x -> regexp_full_match(x, '[a-z]+'))) AS INT) AS n_alpha_words,
                 CAST(len(list_filter(ws, x -> x IN ({stop_list}))) AS INT) AS stop_hits
          FROM t
        )
        SELECT doc_id, n_words, n_chars, n_hash, n_ellipsis, n_alpha_words, stop_hits,
               (n_words >= 50 AND n_words <= 100000
                AND 3 * n_words <= n_chars AND n_chars <= 10 * n_words
                AND 10 * (n_hash + n_ellipsis) <= n_words
                AND 5 * n_alpha_words >= 4 * n_words
                AND stop_hits >= 2) AS keep
        FROM s
        ORDER BY doc_id
    """
    register("text_gopher_rules", Query(spark=spark_fn, oracle=oracle))


def _register_token_stats():
    def spark_fn(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        # ordered_result (r13): see gopher_rules — no sampling double-pass
        from duckdb_mpp_spark.queries import ordered_result

        return ordered_result(
            docs.select(
                "doc_id",
                token_count("text").alias("n_tokens"),
                bpe_token_estimate("text").cast("bigint").alias("bpe_tokens"),
                F.length("text").cast("int").alias("len_chars"),
            ),
            docs,
            "doc_id",
        )

    oracle = f"""
        SELECT doc_id,
               CAST(len({_duck_tokens()}) AS INT) AS n_tokens,
               CAST(COALESCE(len(regexp_extract_all(text, '{BPE_PATTERN}')), 0) AS BIGINT) AS bpe_tokens,
               CAST(length(text) AS INT) AS len_chars
        FROM documents ORDER BY doc_id
        """
    register("text_token_stats", Query(spark=spark_fn, oracle=oracle))


def duck_quality_score_expr() -> str:
    """The composite-score SQL EXPRESSION over columns ``text`` and ``ws``
    (the tokenized text) — the single source of truth for the DuckDB twin
    of :func:`quality_score_col` (review r4: this float expression tree
    previously lived in three hand-copied places; the gates depend on it
    being bit-identical across engines, so one copy only)."""
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""0.4 * least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0)
           + 0.3 * least(CAST(len(list_filter(ws, x -> x IN ({en}))) AS DOUBLE)
                         / greatest(len(ws), 1) * 5.0, 1.0)
           + 0.2 * (1.0 - least(CAST(length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')) AS DOUBLE) / greatest(length(text), 1) * 10.0, 1.0))
           + 0.1 * (1.0 - least(CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) * 10.0, 1.0))"""


def duck_quality_cte(name: str = "quality") -> str:
    """DuckDB CTE text ``<name> AS (SELECT doc_id, quality_score FROM …)``
    mirroring :func:`quality_features`'s composite score — reused by every
    oracle that ranks documents by quality (same float ops in the same
    order, so the doubles are bit-identical across engines)."""
    return f"""{name} AS (
      SELECT doc_id, {duck_quality_score_expr()} AS quality_score
      FROM (SELECT doc_id, text, {_duck_tokens()} AS ws FROM documents)
    )"""


def _register_quality():
    def spark_fn(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        # ordered_result (r13): see gopher_rules — no sampling double-pass
        from duckdb_mpp_spark.queries import ordered_result

        return ordered_result(quality_features(docs), docs, "doc_id")

    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    oracle = f"""
        WITH toks AS (
          SELECT doc_id, text, {_duck_tokens()} AS ws FROM documents
        )
        SELECT doc_id,
               CAST(length(text) AS INT) AS n_chars_calc,
               CAST(len(ws) AS INT) AS n_tokens,
               CAST(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0) AS DOUBLE)
                 / greatest(len(ws), 1) AS avg_token_len,
               CAST(length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1) AS punct_ratio,
               CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1) AS upper_ratio,
               CAST(len(list_filter(ws, x -> x IN ({en}))) AS DOUBLE)
                 / greatest(len(ws), 1) AS stopword_ratio,
               {duck_quality_score_expr()} AS quality_score
        FROM toks ORDER BY doc_id
        """
    register("text_quality_score", Query(spark=spark_fn, oracle=oracle))


def _register_langid():
    def spark_fn(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        per_doc = docs.select("doc_id", language_id("text").alias("predicted_lang"))
        # ordered_small (r13): the language histogram is result-sized
        from duckdb_mpp_spark.queries import ordered_small

        return ordered_small(
            per_doc.groupBy("predicted_lang").agg(
                F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id")
            ),
            "predicted_lang",
            exchange=True,
        )

    ratio_exprs = ",\n               ".join(
        f"CAST({_duck_stop_hits(lang)} AS DOUBLE) / greatest(len(ws), 1) AS r_{lang}"
        for lang in sorted(STOPWORDS)
    )
    langs = sorted(STOPWORDS)
    case = "CASE "
    for lang in langs:
        others = " AND ".join(f"r_{lang} >= r_{o}" for o in langs if o != lang)
        case += f"WHEN r_{lang} > 0 AND {others} THEN '{lang}' "
    case += "ELSE 'und' END"
    oracle = f"""
        WITH toks AS (SELECT doc_id, {_duck_tokens()} AS ws FROM documents),
        ratios AS (
          SELECT doc_id,
               {ratio_exprs}
          FROM toks
        )
        SELECT {case} AS predicted_lang, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
        FROM ratios GROUP BY 1 ORDER BY 1
        """
    register("text_language_id", Query(spark=spark_fn, oracle=oracle))


def _register_fingerprint():
    def spark_fn(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        # NULL-text docs get per-row singleton fingerprints (review r9,
        # the exact_dedup r4 convention): char_fingerprint(NULL) is NULL
        # and an equi-join never matches NULL, so fetch-failure docs
        # silently VANISHED from the report — neither kept nor flagged;
        # a keeper-based keep-list lost them entirely. Mirrored in the
        # oracle so the singleton rows hash-match.
        # frame-level explode shape (r13): 4.97 → 0.77 s at sf0.1 — see
        # char_fingerprints; same values, same NULL-singleton convention
        fp = char_fingerprints(docs).select(
            "doc_id",
            F.coalesce(
                "fingerprint",
                F.concat(F.lit("__null__"), F.col("doc_id").cast("string")),
            ).alias("fingerprint"),
        )
        groups = fp.groupBy("fingerprint").agg(
            F.count("*").alias("group_size"), F.min("doc_id").alias("keeper")
        )
        # ordered_result (r13): see gopher_rules — no sampling double-pass
        from duckdb_mpp_spark.queries import ordered_result

        return ordered_result(
            fp.join(groups, "fingerprint").select(
                "doc_id", "fingerprint", "group_size", "keeper"
            ),
            docs,
            "doc_id",
        )

    oracle = """
        WITH fp AS (
          SELECT doc_id,
                 COALESCE(
                   list_aggregate(
                     list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                                    i -> md5(substring(text, i, 5))), 'min'),
                   '__null__' || CAST(doc_id AS VARCHAR)) AS fingerprint
          FROM documents
        ),
        groups AS (
          SELECT fingerprint, COUNT(*) AS group_size, MIN(doc_id) AS keeper
          FROM fp GROUP BY 1
        )
        SELECT doc_id, fp.fingerprint, group_size, keeper
        FROM fp JOIN groups ON fp.fingerprint = groups.fingerprint
        ORDER BY doc_id
        """
    register("text_fingerprint", Query(spark=spark_fn, oracle=oracle))


_register_token_stats()
_register_quality()
_register_langid()
_register_fingerprint()
_register_gopher()


# ---------------------------------------------------------------------------
# vocabulary coverage (tokenizer-prep: minimal vocab for a target token mass)
# ---------------------------------------------------------------------------

# coverage targets as exact rationals (num, den) — boundary comparisons and
# the ceil-division below stay in 64-bit integer arithmetic end to end, so
# both engines agree bit-for-bit even when a target lands exactly on a
# class boundary (a double `cum/total >= target` comparison would make the
# answer depend on rounding direction at that boundary).
VOCAB_TARGETS = ((1, 2), (9, 10), (99, 100))


def vocab_coverage(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Minimal vocabulary sizes covering 50/90/99% of corpus token mass —
    the sizing question every tokenizer/BPE build starts with.

    Scale shape (100 TB): the ONLY corpus-sized work is one token count
    groupBy (map-side combined). Everything after operates on the
    COUNT-OF-COUNTS table — one row per distinct frequency value, tiny at
    any corpus size (heavy-tailed counts repeat; even a 10^8-type vocab
    collapses to ~10^4 frequency classes) — so the global ordered cumsum
    the problem inherently needs runs as a one-task window over that tiny
    frame, never over the vocab itself: tokens within one frequency class
    are interchangeable for coverage SIZE, so the boundary class's
    partial need is a closed-form ceil-division, not a per-token scan.

    Output: (target, vocab_size, covered_share) — the smallest k such
    that the k most frequent tokens carry ≥ target of total mass, and the
    exact share those k carry. Empty corpus → zero rows."""
    from pyspark.sql import Window

    tok = docs.select(F.explode(tokens(text_col)).alias("tok"))
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # Materialize the count-of-counts frame (tiny by construction — one row
    # per distinct frequency value) before fanning out: THREE downstream
    # branches consume it (cum window, total aggregate, target grid), and
    # without the barrier each branch re-executes the corpus-sized token
    # groupBy above (ADVICE r9 — the executed plan tokenized the corpus 3×;
    # only one exchange was reused). One eager checkpoint of ~10⁴ rows buys
    # two saved corpus passes at any scale.
    cls = (
        counts.groupBy("c")
        .agg(F.count(F.lit(1)).alias("n_toks"))
        .localCheckpoint(eager=True)
    )
    w = (
        Window.orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        cls.coalesce(1)  # count-of-counts: tiny by construction (see above)
        .withColumn("mass", F.col("c") * F.col("n_toks"))
        .withColumn("cum_mass", F.sum(F.col("c") * F.col("n_toks")).over(w))
        .withColumn("cum_toks", F.sum("n_toks").over(w))
    )
    tot = cls.agg(F.sum(F.col("c") * F.col("n_toks")).alias("total"))
    tgts = tot.select(
        "total",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).cast("bigint").alias("num"),
                        F.lit(d).cast("bigint").alias("den"),
                    )
                    for n, d in VOCAB_TARGETS
                ]
            )
        ).alias("t"),
    ).select("total", F.col("t.num").alias("num"), F.col("t.den").alias("den"))
    # boundary class = first cum row satisfying the target (3-row broadcast
    # theta-join against the tiny class frame; cum_mass strictly increases,
    # so min_by is unambiguous)
    grid = cum.join(
        F.broadcast(tgts),
        F.col("cum_mass") * F.col("den") >= F.col("num") * F.col("total"),
    )
    first = grid.groupBy("num", "den", "total").agg(
        F.min_by(
            F.struct("c", "n_toks", "mass", "cum_mass", "cum_toks"), F.col("cum_mass")
        ).alias("b")
    )
    # integer ceil-division for the boundary class's partial need: the
    # boundary is the FIRST satisfying class, so need > 0 and k >= 1
    return (
        first.select(
            "num",
            "den",
            "total",
            F.col("b.c").alias("c"),
            F.col("b.n_toks").alias("n_toks"),
            (F.col("b.cum_mass") - F.col("b.mass")).alias("before_mass"),
            (F.col("b.cum_toks") - F.col("b.n_toks")).alias("before_toks"),
        )
        .withColumn(
            "k",
            F.expr(
                "(num * total - den * before_mass + den * c - 1) div (den * c)"
            ),
        )
        .select(
            F.round(F.col("num").cast("double") / F.col("den"), 6).alias("target"),
            (F.col("before_toks") + F.col("k")).cast("bigint").alias("vocab_size"),
            F.round(
                (F.col("before_mass") + F.col("k") * F.col("c")).cast("double")
                / F.col("total"),
                6,
            ).alias("covered_share"),
        )
    )


_VOCAB_ORACLE_TEMPLATE = """
    WITH toks AS (SELECT unnest({toks}) AS tok FROM documents),
    counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
    cls AS (SELECT c, COUNT(*) AS n_toks FROM counts GROUP BY 1),
    cum AS (
      SELECT c, n_toks, c * n_toks AS mass,
             SUM(c * n_toks) OVER (ORDER BY c DESC) AS cum_mass,
             SUM(n_toks) OVER (ORDER BY c DESC) AS cum_toks
      FROM cls
    ),
    tot AS (SELECT SUM(c * n_toks) AS total FROM cls),
    tgt AS (SELECT * FROM (VALUES {targets}) t(num, den)),
    bound AS (
      SELECT t.num, t.den, o.total, c.c, c.n_toks,
             c.cum_mass - c.mass AS before_mass,
             c.cum_toks - c.n_toks AS before_toks,
             ROW_NUMBER() OVER (PARTITION BY t.num, t.den ORDER BY c.cum_mass) AS rn
      FROM tgt t, tot o, cum c
      WHERE c.cum_mass * t.den >= t.num * o.total
    ),
    sel AS (
      SELECT *, (num * total - den * before_mass + den * c - 1) // (den * c) AS k
      FROM bound WHERE rn = 1
    )
    SELECT round(CAST(num AS DOUBLE) / den, 6) AS target,
           CAST(before_toks + k AS BIGINT) AS vocab_size,
           round(CAST(before_mass + k * c AS DOUBLE) / total, 6) AS covered_share
    FROM sel
    ORDER BY target
"""


def _register_vocab_coverage():
    targets = ", ".join(f"({n}, {d})" for n, d in VOCAB_TARGETS)
    oracle = _VOCAB_ORACLE_TEMPLATE.format(toks=_duck_tokens(), targets=targets)

    def fn(spark, sf_dir):
        from duckdb_mpp_spark.queries import ordered_small

        docs = load_table(spark, sf_dir, "documents")
        return ordered_small(vocab_coverage(docs), "target")

    register("text_vocab_coverage", Query(spark=fn, oracle=oracle))


_register_vocab_coverage()


# ---------------------------------------------------------------------------
# conjunctive keyword search (inverted-index probe without the index)
# ---------------------------------------------------------------------------

SEARCH_TERMS = ("table", "merge", "window")
SEARCH_TOP_K = 20


def keyword_search(
    docs: DataFrame,
    terms: tuple[str, ...] = SEARCH_TERMS,
    text_col: str = "text",
    top_k: int = SEARCH_TOP_K,
) -> DataFrame:
    """Top-k docs containing ALL of ``terms`` (conjunctive match), ranked
    by total query-term occurrences with doc id as the deterministic
    tiebreak — the retrieval probe a corpus browser / eval-set builder
    runs constantly.

    Scale shape (100 TB): the term list is a literal IN filter applied
    directly under the token explode — non-matching tokens never leave
    the map task, so the only shuffle carries O(matching tokens) rows
    (query terms are rare relative to the corpus by construction), and
    the per-doc aggregate map-side combines. The conjunction is a
    HAVING over count_distinct(term), not a self-join per term — k terms
    cost one pass, not k. A persisted inverted index would replace the
    scan, not the shape: filter → group → having → top-k is the same
    plan over posting lists."""
    if not terms:
        raise ValueError("keyword_search needs at least one term")
    tl = sorted({t.lower() for t in terms})
    tok = docs.select(
        F.col("doc_id"), F.explode(tokens(text_col)).alias("tok")
    ).where(F.col("tok").isin(list(tl)))
    hits = (
        tok.groupBy("doc_id")
        .agg(
            F.count_distinct("tok").alias("n_terms_hit"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_terms_hit") == len(tl))
    )
    return (
        hits.select("doc_id", "n_occurrences")
        # NULLS LAST on the nullable id tiebreak (r6 convention): a NULL-id
        # doc at the top-k boundary must fall the same side in both dialects
        .orderBy(F.col("n_occurrences").desc(), F.col("doc_id").asc_nulls_last())
        .limit(top_k)
    )


_SEARCH_ORACLE_TEMPLATE = """
    WITH tok AS (
      SELECT doc_id, unnest({toks}) AS tok FROM documents
    ),
    hits AS (
      SELECT doc_id, COUNT(DISTINCT tok) AS n_terms_hit,
             COUNT(*) AS n_occurrences
      FROM tok WHERE tok IN ({terms})
      GROUP BY doc_id
      HAVING COUNT(DISTINCT tok) = {n}
    )
    SELECT doc_id, n_occurrences
    FROM hits
    ORDER BY n_occurrences DESC, doc_id
    LIMIT {k}
"""


def _register_keyword_search():
    tl = sorted(set(SEARCH_TERMS))
    oracle = _SEARCH_ORACLE_TEMPLATE.format(
        toks=_duck_tokens(),
        terms=", ".join(f"'{t}'" for t in tl),
        n=len(tl),
        k=SEARCH_TOP_K,
    )

    def fn(spark, sf_dir):
        return keyword_search(load_table(spark, sf_dir, "documents"))

    register("text_keyword_search", Query(spark=fn, oracle=oracle))


_register_keyword_search()
