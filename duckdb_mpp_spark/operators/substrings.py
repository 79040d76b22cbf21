"""Exact-substring dedup signals and IDF keyword extraction.

Two corpus operators a training-data pipeline runs after fuzzy dedup:

- ``duplicated_span_stats``: per-document statistics over long word
  n-gram spans that also occur in OTHER documents — the signal behind
  exact-substring deduplication ("Deduplicating Training Data Makes
  Language Models Better", Lee et al. 2022, which removes 50-token
  duplicated substrings). We keep the span width configurable
  (default 8 words) and report, per doc, how much of it is covered by
  cross-document duplicate spans, which is the decision input both for
  doc-level dropping and span-level cutting.
- ``tfidf_keywords``: top-k characteristic terms per document by
  tf·idf. IDF is computed in scaled *integer* arithmetic
  (``(1e6 · N) div df``) so scores are engine-exact — no float logs,
  no cross-engine rounding drift — while preserving the idf ordering
  (x ↦ N/df is monotone in idf).

Scale shape (100 TB): every step is groupBy/join on the gram or token
key — partial map-side aggregation, key-partitioned shuffles, no
broadcast of corpus-sized state, no driver collect. The gram join
(``per ⋈_sh docs_per_gram``) is a sort-merge on the gram key: a gram
hot enough to skew it is exactly the duplicated content the operator
exists to find, and its per-key row count is #docs containing it, never
#docs². Document counts enter through a 1-row broadcasted aggregate,
not a driver-side ``.count()``.

No reference parity: the reference engine (see SURVEY §2) has no corpus
operators; these extend the surface per the north-star brief, in the
style of ``operators/corpus.py``.
"""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duckdb_mpp_spark.operators.dedup import _spread, shingle_hashes
from duckdb_mpp_spark.operators.text import _duck_tokens, tokens
from duckdb_mpp_spark.queries import Query, register
from duckdb_mpp_spark.sources import load_table
from duckdb_mpp_spark.table import regime

SPAN_WORDS = 8        # duplicated-span width (words)
KEYWORDS_PER_DOC = 3  # top-k keywords
MIN_KEYWORD_LEN = 4   # skip short/function words
IDF_SCALE = 1_000_000


def duplicated_span_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = SPAN_WORDS
) -> DataFrame:
    """Per-doc duplicated-span stats: total span positions, positions whose
    k-word gram occurs in ≥2 distinct documents, and the duplicated
    fraction.

    Shape (r8, replacing the r7 self-join): the complement identity
    ``n_dup_spans = n_spans − (spans of grams unique to this doc)`` lets
    the heavy gram stream be consumed EXACTLY ONCE by a single gram-keyed
    aggregate — ``groupBy(sh).agg(count, min(doc), max(doc))`` — with no
    join back against it. A gram is unique to one doc iff
    ``min(doc) == max(doc)`` (NULL ids handled explicitly below), and
    every aggregate is map-side combinable, so a boilerplate gram shared
    by 10⁸ docs arrives at its reducer as ≤ #map-tasks partial rows —
    skew-immune by construction, strictly better than both the r6 window
    (one hot key = one WindowExec task) and the r7 groupBy+join (hot key
    rows stream through the probe side). ``n_spans`` needs no gram data
    at all: the shingle generator emits exactly ``greatest(|tokens|−k+1,
    1)`` spans per non-empty doc, so the totals side is one narrow
    column-pruned scan with a tiny per-doc fold. Two key-partitioned
    shuffles on the gram stream path (sh, then doc — the second over
    unique-gram rows only, pre-aggregated) plus one broadcast-sized
    doc-keyed join. Grams are 64-bit hashes of the token window
    (:func:`shingle_hashes` — ``xxhash64`` over the k token columns, no
    gram string ever materialized; the r6 jaccard measurement put
    concat_ws string assembly at ~45% of the shingle stage), exact-match
    semantics preserved up to 2^-64-scale collisions (the same trade
    minhash makes)."""
    g = shingle_hashes(df, id_col, text_col, k=k)
    gram = g.groupBy("sh").agg(
        F.count(F.lit(1)).alias("tot"),
        F.count(id_col).alias("n_nonnull"),
        F.min(id_col).alias("_owner"),
        F.max(id_col).alias("mx"),
    )
    # unique-to-one-doc grams: all occurrences in one non-NULL doc, or all
    # in the NULL-id doc (SQL GROUP BY treats NULL ids as ONE document —
    # min/max skip NULLs, so the all-NULL case needs its own arm; a gram
    # mixing NULL and real docs is cross-document, matching the oracle's
    # per-row n_docs count)
    uniq = (
        gram.where(
            (
                (F.col("n_nonnull") == F.col("tot"))
                & (F.col("_owner") == F.col("mx"))
            )
            | (F.col("n_nonnull") == 0)
        )
        .groupBy("_owner")
        .agg(F.sum("tot").alias("n_uniq"))
    )
    # token COUNT is case-independent: skip tokens()'s lower() here (the
    # gram side still lowercases — gram equality is defined over
    # lowercased words). Value-identical, one less pass over corpus bytes.
    n_tok = F.size(
        F.filter(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), " "),
            lambda x: x != F.lit(""),
        )
    )
    totals = (
        df.select(
            F.col(id_col),
            F.when(
                n_tok > 0, F.greatest(n_tok - (k - 1), F.lit(1))
            ).cast("long").alias("n_spans"),
        )
        .where(F.col("n_spans").isNotNull())
        # duplicate ids in the input fold into one output row, matching
        # the old groupBy(id)-shaped rollup
        .groupBy(id_col)
        .agg(F.sum("n_spans").alias("n_spans"))
    )
    # uniq is ≤ one row per doc. AQE broadcasts it at runtime anyway
    # (measured), but the static hint saves one adaptive stage round-trip.
    # The hint is SIZE-SWITCHED, not unconditional (review r5/r6): uniq is
    # O(#docs) — past the span_owner_broadcast regime's bound we leave the
    # doc-keyed shuffle join to AQE's own runtime decision.
    if regime("span_owner_broadcast", df) == "broadcast":
        uniq = F.broadcast(uniq)
    joined = totals.join(
        uniq,
        F.expr(f"{id_col} <=> _owner"),
        "left",
    )
    n_dup = F.col("n_spans") - F.coalesce(F.col("n_uniq"), F.lit(0))
    return joined.select(
        id_col,
        "n_spans",
        n_dup.alias("n_dup_spans"),
        F.round(
            n_dup.cast("double") / F.col("n_spans").cast("double"), 6
        ).alias("dup_frac"),
    )


def cut_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_WORDS,
) -> DataFrame:
    """Exact-substring span CUTTING — the removal half of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"), where
    :func:`duplicated_span_stats` is the scoring half: every token covered
    by a k-word gram that also occurs in ANOTHER document is removed, and
    the document's text is rebuilt from the surviving tokens. Returns one
    row per distinct ``id_col``: ``(doc_id, n_tokens, n_kept, n_removed,
    text_cleaned)`` — ``text_cleaned`` is '' when every token was cut (or
    the doc had no tokens), never NULL.

    Semantics match the stats operator exactly: a gram is *duplicated*
    iff its occurrences span ≥2 documents (all-in-one-doc repeats are NOT
    cut — boilerplate repeated inside a single doc is that doc's own
    content); zero-token docs emit no grams; docs shorter than ``k``
    emit their single whole-doc gram, so two short identical docs cut
    each other to ''. Grams are 64-bit ``xxhash64`` over the token tuple
    (:func:`duckdb_mpp_spark.operators.dedup.shingle_hashes` shape) —
    exact to 2^-64-scale collisions, the trade every dedup gate makes.

    Scale shape (100 TB): the dup-gram set comes from the SAME
    skew-immune gram aggregate as the stats operator (map-side combine;
    a boilerplate gram in 10^8 docs reaches its reducer as ≤ #map-tasks
    partial rows). Covered positions are a LEFT SEMI join of the
    positional gram stream against that set (1 row per dup gram on the
    build side — never a corpus-sized broadcast) followed by a k-wide
    ``sequence`` explode: O(k × dup-gram occurrences), the output's own
    size. The rebuild groups by doc — per-task state is bounded by one
    document's tokens, and the reassembly
    (``array_sort(collect_list(struct(p, tok))).tok`` + ``array_join``)
    stays in codegen: struct-field extraction over the array is a
    built-in, NOT a per-token interpreted lambda (the transform() trap
    measured at ~27× in dedup.shingles' docstring).

    The tokenized frame feeds FOUR branches (gram stats, covered probe,
    token stream, totals); the ``cut_spans_frame`` regime materializes it
    by a localCheckpoint, as a session-scratch parquet frame read per
    branch, or not at all (recomputed per branch — a ~1.3× corpus temp
    write is the wrong trade against scratch budgets at 100 TB, where
    the four branches are parallel columnar scans)."""
    t = df.select(F.col(id_col), tokens(text_col).alias("t"))
    frame = regime("cut_spans_frame", df)
    if frame == "ckpt":
        t = t.localCheckpoint(eager=True)
    elif frame == "disk":
        # one write, four reads — a FRESH scratch dir per invocation
        # (atexit-reclaimed): every run rewrites from the parquet inputs,
        # nothing persists across invocations
        import os as _os

        from duckdb_mpp_spark.tmputil import session_tmpdir

        path = _os.path.join(session_tmpdir("cut_spans_tok_"), "t")
        t.write.parquet(path)
        t = df.sparkSession.read.parquet(path)
    nonempty = t.where(F.size("t") > 0)
    idx = nonempty.select(
        id_col,
        "t",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("t") - (k - 1), F.lit(1)))
        ).alias("i"),
    )
    h = F.xxhash64(*[F.try_element_at("t", F.col("i") + j) for j in range(k)])
    grams = idx.select(id_col, "i", h.alias("sh"))
    # duplicated = NOT unique-to-one-document — the same NULL-id-aware
    # complement as duplicated_span_stats (an all-NULL-id gram is one
    # document's; a gram mixing NULL and real ids is cross-document)
    gram_stats = grams.groupBy("sh").agg(
        F.count(F.lit(1)).alias("tot"),
        F.count(id_col).alias("n_nonnull"),
        F.min(id_col).alias("_owner"),
        F.max(id_col).alias("mx"),
    )
    dup = gram_stats.where(
        ~(
            (
                (F.col("n_nonnull") == F.col("tot"))
                & (F.col("_owner") == F.col("mx"))
            )
            | (F.col("n_nonnull") == 0)
        )
    ).select("sh")
    # positions covered by any duplicated gram: occurrence at i covers
    # tokens i..i+k-1 (positions past a short doc's end match no token
    # and fall out of the anti-join)
    covered = (
        grams.join(dup, "sh", "left_semi")
        .select(
            id_col,
            F.explode(F.sequence(F.col("i"), F.col("i") + (k - 1))).alias("p"),
        )
        .distinct()
    )
    toks = nonempty.select(
        id_col, F.posexplode("t").alias("p0", "tok")
    ).select(id_col, (F.col("p0") + 1).alias("p"), "tok")
    kept = toks.join(covered, [id_col, "p"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.expr("array_join(array_sort(collect_list(struct(p, tok))).tok, ' ')")
        .alias("text_cleaned"),
    )
    # one output row per distinct id, zero-token docs included; duplicate
    # input ids fold (their token streams share the position space, same
    # convention as the stats operator's groupBy rollup)
    totals = t.groupBy(id_col).agg(F.sum(F.size("t")).cast("long").alias("n_tokens"))
    # null-safe join (same convention as the stats operator's uniq join):
    # the NULL-id document group must find its rebuilt row
    rebuilt = rebuilt.withColumnRenamed(id_col, "_rid")
    return totals.join(
        rebuilt, F.expr(f"{id_col} <=> _rid"), "left"
    ).select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("text_cleaned"), F.lit("")).alias("text_cleaned"),
    )


def tfidf_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = KEYWORDS_PER_DOC,
) -> DataFrame:
    """Top-k terms per doc by tf·idf_scaled, idf_scaled = (1e6·N) div df
    (exact bigint). Deterministic tiebreak (score desc, token asc).

    df (document frequency) is a groupBy + join sharing the tf exchange —
    same skew/single-evaluation rationale as ``duplicated_span_stats``.

    Exchange budget (r10): the doc corpus is repartitioned on the doc id
    ONCE up front — id-partitioning satisfies the (id, tok) clustering of
    the tf aggregate AND the final top-k window, so the exploded token
    stream never re-shuffles. The cross-doc side (doc_freq: one row per
    VOCABULARY term) is size-switched (the ``tfidf_vocab`` regime): in its
    broadcast arm it is broadcast back to the id-partitioned tf
    (vocabulary of a broadcast-sized corpus is MBs), leaving TWO data
    exchanges total (the id repartition + doc_freq's own tok aggregate)
    where the old shape had four ((id,tok) agg, tok agg, the tf join side
    re-hashed on tok, and the window's id exchange), value-identical.
    Past its bound the tok-keyed join returns: a 100 TB
    vocabulary (~10⁸ terms with long tails) must not be forced into a
    broadcast, and the hash join on tok degrades gracefully."""
    small = regime("tfidf_vocab", df) == "broadcast"
    df0 = df  # pre-repartition frame: n_total counts the SCAN, not a shuffle
    if small:
        # repartition the RAW docs, then tokenize (r14, guide §2.5 input
        # skew): the r10 shape repartitioned the (id, tokens) projection,
        # which placed the tokenize+explode BELOW the exchange — on a
        # single-file corpus that is ONE scan partition, so the regex
        # pass ran single-task with every core idle. Shuffling text
        # instead of token arrays moves slightly FEWER bytes, and the
        # exchange still satisfies the tf aggregate's and the top-k
        # window's clustering. Width = cores (the window_topk/_spread
        # precedent): the tokenize/explode map stage is CPU-bound, and
        # the volume-sized shuffle default (4) would cap it at 4 tasks.
        n_width = max(
            int(df.sparkSession.sparkContext.defaultParallelism),
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
        )
        df = df.repartition(n_width, F.col(id_col))
    base = df.select(F.col(id_col), tokens(text_col).alias("t"))
    toks = base.select(
        F.col(id_col), F.explode("t").alias("tok")
    ).where(F.length("tok") >= MIN_KEYWORD_LEN)
    # df via groupBy + join on tf, not a window on the token key (review
    # r7): a stop-word-class token appears in ~every doc, and the window
    # would buffer all its (doc, tok) rows in ONE task. doc_freq counts
    # count(nullif(tf, -1)) — value-identical to count(*) (tf ≥ 1, never
    # -1 or NULL) but NOT provably non-null to the optimizer, so the tf
    # column survives column pruning in this branch, both join branches'
    # tf-aggregate subtrees stay canonically equal, and Catalyst plans a
    # ReusedExchange: tokenize + map side run once (same rationale as
    # duplicated_span_stats above; a plain count(*) — or count(tf), which
    # the optimizer rewrites to count(1) — pruned tf from one branch and
    # the whole tokenize/explode silently ran per branch).
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    doc_freq = tf.groupBy("tok").agg(
        F.count(F.nullif("tf", F.lit(-1))).alias("df")
    )
    tf = tf.join(F.broadcast(doc_freq) if small else doc_freq, "tok")
    n_total = df0.agg(F.count("*").alias("n_total"))  # 1 row — broadcast join
    # tf is widened to DECIMAL(38,0) before the product (review r4): under
    # Spark's default non-ANSI arithmetic, tf·idf_scaled wraps silently
    # past 2^63 (df=1 on a 10^10-doc corpus gives idf_scaled=10^16; a term
    # repeated ≥923 times then ranks LAST instead of first). Decimal keeps
    # the score exact to 38 digits on both engines; the inner
    # (IDF_SCALE·N) div df stays bigint — safe to N ≈ 9·10^12 docs.
    scored = tf.join(F.broadcast(n_total)).withColumn(
        "score",
        F.expr(f"CAST(tf AS DECIMAL(38,0)) * (({IDF_SCALE} * n_total) div df)"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(id_col, "rank", "tok", "tf", "score")
    )


# ---------------------------------------------------------------------------
# gate queries + DuckDB oracles
# ---------------------------------------------------------------------------

# Tokenization comes from text._duck_tokens() — the one shared definition
# (review r7: two hand-inlined copies here would silently diverge from the
# next tokenizer fix). ``WHERE len(ws) > 0`` mirrors shingles()'s
# zero-token-doc contract: empty/whitespace/NULL docs emit NO spans — the
# oracle's greatest(…, 1) floor previously minted one empty-string span
# per empty doc that the Spark side (correctly) never produces.
_DUCK_SPANS = f"""
  WITH words AS (
    SELECT doc_id, {_duck_tokens()} AS ws
    FROM documents
  ),
  spans AS (
    SELECT doc_id, array_to_string(ws[i:i+{SPAN_WORDS - 1}], ' ') AS sh
    FROM words, LATERAL (
      SELECT unnest(range(1, greatest(len(ws) - {SPAN_WORDS - 1}, 1) + 1)) AS i
    ) t
    WHERE len(ws) > 0
  ),
  per AS (SELECT doc_id, sh, COUNT(*) AS occ FROM spans GROUP BY 1, 2),
  dpg AS (SELECT sh, COUNT(*) AS n_docs FROM per GROUP BY 1)
"""

_SPAN_ORACLE = _DUCK_SPANS + """
  SELECT p.doc_id,
         CAST(SUM(p.occ) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN d.n_docs >= 2 THEN p.occ ELSE 0 END) AS BIGINT) AS n_dup_spans,
         round(CAST(SUM(CASE WHEN d.n_docs >= 2 THEN p.occ ELSE 0 END) AS DOUBLE)
               / CAST(SUM(p.occ) AS DOUBLE), 6) AS dup_frac
  FROM per p JOIN dpg d USING (sh)
  GROUP BY 1
  ORDER BY doc_id
"""

# Oracle for cut_duplicated_spans — the gram STRING formulation of the
# operator's gram-hash algebra (2^-64-collision-equivalent, the standard
# dedup-gate trade). Null-safe doc joins (IS NOT DISTINCT FROM) mirror the
# Spark side's <=> convention. NOT yet registered as a driver gate: the
# r12 rotation is frozen (VERDICT r11 #2) — register in r13 alongside a
# `queries()` entry; until then tests/test_cut_spans.py runs this SQL
# directly against crafted parquet and the sf0.001 corpus.
_CUT_SPANS_ORACLE = f"""
  WITH words AS (
    SELECT doc_id, {{tokens}} AS ws FROM documents
  ),
  pg AS (
    SELECT doc_id, CAST(i AS INT) AS i,
           array_to_string(ws[i:i+{SPAN_WORDS - 1}], ' ') AS sh
    FROM words, LATERAL (
      SELECT unnest(range(1, greatest(len(ws) - {SPAN_WORDS - 1}, 1) + 1)) AS i
    ) t
    WHERE len(ws) > 0
  ),
  per AS (SELECT doc_id, sh FROM pg GROUP BY 1, 2),
  dpg AS (SELECT sh, COUNT(*) AS n_docs FROM per GROUP BY 1),
  covered AS (
    SELECT DISTINCT g.doc_id, CAST(u.p AS INT) AS p
    FROM pg g JOIN dpg d USING (sh),
         LATERAL (SELECT unnest(range(g.i, g.i + {SPAN_WORDS})) AS p) u
    WHERE d.n_docs >= 2
  ),
  toks AS (
    SELECT doc_id, CAST(p AS INT) AS p, ws[p] AS tok
    FROM words, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS p) t
    WHERE len(ws) > 0
  ),
  kept AS (
    SELECT t.doc_id, t.p, t.tok
    FROM toks t LEFT JOIN covered c
      ON t.doc_id IS NOT DISTINCT FROM c.doc_id AND t.p = c.p
    WHERE c.p IS NULL
  ),
  -- duplicate input ids pre-fold to ONE totals row per id (ADVICE r12):
  -- joining `words` directly multiplied COUNT(k.p)/string_agg by the
  -- number of same-id rows and split output per len(ws) group, diverging
  -- from the Spark operator's folded contract (one row per distinct id,
  -- summed n_tokens, shared position space)
  totals AS (
    SELECT doc_id, CAST(SUM(len(ws)) AS BIGINT) AS n_tokens
    FROM words GROUP BY doc_id
  )
  SELECT t.doc_id,
         t.n_tokens,
         CAST(COUNT(k.p) AS BIGINT) AS n_kept,
         CAST(t.n_tokens - COUNT(k.p) AS BIGINT) AS n_removed,
         -- tok tiebreak: duplicate-id rows can put two tokens at one p;
         -- Spark's array_sort(struct(p, tok)) breaks the tie on tok
         COALESCE(string_agg(k.tok, ' ' ORDER BY k.p, k.tok), '') AS text_cleaned
  FROM totals t LEFT JOIN kept k ON t.doc_id IS NOT DISTINCT FROM k.doc_id
  GROUP BY t.doc_id, t.n_tokens
  ORDER BY t.doc_id
"""


def cut_spans_oracle_sql() -> str:
    """The DuckDB oracle with the shared tokenizer spliced in (one
    definition — review r7 convention; see _duck_tokens)."""
    return _CUT_SPANS_ORACLE.format(tokens=_duck_tokens())


_KEYWORD_ORACLE = f"""
  WITH toks AS (
    SELECT doc_id, tok
    FROM (
      SELECT doc_id,
             unnest({_duck_tokens()}) AS tok
      FROM documents
    )
    WHERE length(tok) >= {MIN_KEYWORD_LEN}
  ),
  tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
  doc_freq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
  n AS (SELECT COUNT(*) AS n_total FROM documents),
  scored AS (
    SELECT t.doc_id, t.tok, t.tf,
           CAST(t.tf AS DECIMAL(38,0)) * (({IDF_SCALE} * n.n_total) // d.df) AS score
    FROM tf t JOIN doc_freq d USING (tok) CROSS JOIN n
  ),
  ranked AS (
    SELECT doc_id, tok, tf, score,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rank
    FROM scored
  )
  SELECT doc_id, CAST(rank AS INT) AS rank, tok,
         CAST(tf AS BIGINT) AS tf, CAST(score AS BIGINT) AS score
  FROM ranked WHERE rank <= {KEYWORDS_PER_DOC}
  ORDER BY doc_id, rank
"""


def _register() -> None:
    def spans_fn(spark, sf_dir):
        # ordered_result, NOT orderBy (r13 optimization): a range sort runs
        # a separate bound-sampling job over the un-materialized stats
        # subtree; the per-doc stats frame is source-tracked, so the
        # single-task sort applies in the sort_shape regime and the
        # parallel orderBy remains the at-scale plan. exchange=True keeps
        # the final broadcast-join stage parallel.
        from duckdb_mpp_spark.queries import ordered_result

        # NO _spread here (r14 A/B): the complement-identity shape has
        # only ~0.3 s of serial map CPU at sf0.1, and the id-keyed
        # repartition's extra exchange measured +27% (0.81 → 1.03 s);
        # since _spread is a no-op at scale the cost is never repaid.
        # (Contrast cut_spans_fn below, where four branches re-read the
        # single-partition checkpoint and _spread wins.)
        docs = load_table(spark, sf_dir, "documents")
        return ordered_result(
            duplicated_span_stats(docs), docs, "doc_id", exchange=True
        )

    register("dedup_substring_spans", Query(spark=spans_fn, oracle=_SPAN_ORACLE))

    def keywords_fn(spark, sf_dir):
        # barrier form required (r10): the top-k window and its rank
        # filter ride the operator's id partitioning — no shuffle boundary
        # above the corpus-sized window, so coalesce(1) would serialize it
        from duckdb_mpp_spark.queries import ordered_result

        docs = load_table(spark, sf_dir, "documents")
        return ordered_result(
            tfidf_keywords(docs), docs, "doc_id", "rank", exchange=True
        )

    register("text_tfidf_keywords", Query(spark=keywords_fn, oracle=_KEYWORD_ORACLE))

    # r13 registration (VERDICT r12 #1) — the span-REMOVAL half of Lee et
    # al. 2022, oracle-proven since r12 (tests/test_cut_spans.py, incl.
    # sf0.001 full-corpus equality + NULL-id and duplicate-id corpora).
    def cut_spans_fn(spark, sf_dir):
        # same ordered_result rationale as spans_fn above (r13): the output
        # is one row per doc (text_cleaned tracks corpus bytes), so the
        # sort switches on source size; exchange=True keeps the rebuild
        # join stage parallel.
        from duckdb_mpp_spark.queries import ordered_result

        # _spread (r14): same single-scan-partition serialization as
        # spans_fn above — the tokenized checkpoint inherited the scan's
        # ONE partition, so all four branches (gram stats, covered probe,
        # token stream, totals) ran single-task. Profiled 1.35 s with
        # every map stage at 1 task; id-keyed repartition, no-op at scale.
        docs0 = load_table(spark, sf_dir, "documents")
        docs = _spread(docs0, "doc_id")
        return ordered_result(
            cut_duplicated_spans(docs), docs0, "doc_id", exchange=True
        )

    register("dedup_cut_spans", Query(spark=cut_spans_fn, oracle=cut_spans_oracle_sql()))


_register()
