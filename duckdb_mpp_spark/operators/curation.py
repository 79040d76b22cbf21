"""End-to-end corpus curation — the flagship training-data pipeline query,
composing the individual operators into one DataFrame program:

    language filter (n-gram/stopword heuristic)
      → quality filter (length/punct/stopword composite score)
      → exact dedup (md5 groupBy, keep min doc_id)
      → near-dup clustering (MinHash LSH → connected components,
        keep cluster canonical)
      → per-source corpus stats (docs kept, token totals, mean quality)

Every stage is the same code the standalone gate queries use — this query
proves they compose. The DuckDB oracle replays the identical pipeline as
one WITH RECURSIVE chain, so the final stats hash-match exactly (quality
means go through 2⁻²⁰ quantization; token totals are integer sums).

Scale: stages 1-3 are single-scan expressions + one groupBy; stage 4 is the
LSH band join + O(diameter) CC rounds; stage 5 a final small agg. Nothing
materializes the corpus more than the band join requires.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_mpp_spark.operators.dedup import (
    K_MINHASH,
    ROWS_PER_BAND,
    SHINGLE_WORDS,
    _spread,
    connected_components,
    lsh_candidate_pairs,
    minhash_bands,
)
from duckdb_mpp_spark.operators.text import (
    STOPWORDS,
    _duck_stop_hits,
    _duck_tokens,
    duck_quality_score_expr,
    lang_quality_struct,
    quality_score_col,
    token_count,
)
from duckdb_mpp_spark.queries import Query, register
from duckdb_mpp_spark.sources import load_table

QUALITY_MIN = 0.5
Q_SCALE = 1 << 20  # quality-mean quantization

# Deterministic hash split — a document's split is a pure function of its
# id: the first 4 hex digits of md5(id) as a 16-bit uniform draw, stable
# across runs, engines, cluster layouts, and re-partitioning. ONE
# definition per engine side (VERDICT r12 #2: the expression was inlined
# six times across train_test_split / decontaminate_train / split_leakage
# and their oracles — a fraction change touching five of six sites would
# silently decontaminate against a different split than it trains on, the
# exact bug class decontaminate_train exists to prevent).
SPLIT_TRAIN_MAX = int(0.8 * 65536)  # h16 <  → 'train'
SPLIT_VALID_MAX = int(0.9 * 65536)  # h16 <  → 'valid'; else 'test'


def split_tag(id_col: str = "doc_id"):
    """Spark column: the split tag ('train'/'valid'/'test') for ``id_col``."""
    h16 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
    ).cast("int")
    return (
        F.when(h16 < SPLIT_TRAIN_MAX, "train")
        .when(h16 < SPLIT_VALID_MAX, "valid")
        .otherwise("test")
    )


def duck_split_tag(id_expr: str = "doc_id") -> str:
    """DuckDB SQL expression for the same split tag (oracle side)."""
    h = f"CAST(('0x' || substring(md5(CAST({id_expr} AS VARCHAR)), 1, 4)) AS INT)"
    return (
        f"CASE WHEN {h} < {SPLIT_TRAIN_MAX} THEN 'train' "
        f"WHEN {h} < {SPLIT_VALID_MAX} THEN 'valid' ELSE 'test' END"
    )


def _duck_split_cte() -> str:
    """The shared ``sp`` CTE both split-aware oracles build on."""
    return f"""sp AS (
          SELECT doc_id, {duck_split_tag('doc_id')} AS split FROM documents
        )"""


def curate(spark, sf_dir: str):
    # scan-rooted → the parallelism guard is free here and every downstream
    # stage (scoring, dedup, LSH) inherits the spread partitioning
    docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # score attached in the SAME projection as language-ID (review r4: the
    # old quality_features join re-scanned and shuffled the whole corpus to
    # attach a pure per-row expression), and both derive from ONE fused
    # tokenization (review r9: the separate language_id/quality_score_col
    # expressions each pinned their own token binding — two interpreted
    # split/filter trees per row on the flagship pipeline's dominant
    # per-row path). Staged projection so the struct evaluates once.
    staged = docs.select(
        "doc_id", "text", "source", lang_quality_struct("text").alias("_lq")
    )
    scored = staged.select(
        "doc_id", "text", "source",
        F.col("_lq.plang").alias("plang"),
        F.col("_lq.quality_score").alias("quality_score"),
    )
    kept0 = scored.where((F.col("plang") == "en") & (F.col("quality_score") >= QUALITY_MIN))
    # source tiebreak (review r9): duplicate doc_ids with identical text
    # but different source tie on doc_id alone, and row_number's
    # partition-internal order is arbitrary — each engine (and each run)
    # could keep a different row, diverging the per-source stats. After
    # (doc_id, source) the only remaining multiplicity is fully identical
    # rows, where any choice is value-identical. Skew note (same trade
    # exact_dedup documents): a giant identical-text group serializes its
    # rows into one window task; unlike exact_dedup the payload here is
    # the full kept row (the survivors feed LSH next), so the mitigation
    # is upstream — the quality filter already prunes the boilerplate
    # class that produces such groups.
    w = Window.partitionBy(F.md5("text")).orderBy(
        F.col("doc_id").asc(), F.col("source").asc_nulls_last()
    )
    kept1 = (
        kept0.withColumn("rn", F.row_number().over(w)).where("rn = 1").drop("rn", "plang")
    )
    # eager checkpoint (review r9, the r8 multi-consumer rule): kept1
    # feeds THREE consumers — the minhash/band build, connected
    # components' node init, and the final canonical join — so without
    # materialization the scan → score → dedup-window pipeline re-runs
    # per consumer (and lazy would race AQE's concurrent stage
    # submission). One materialization of the kept corpus is the
    # pipeline-boundary a real deployment would write to a table anyway.
    kept1 = kept1.localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(minhash_bands(kept1))
    labels = connected_components(pairs, kept1)
    canon = kept1.join(
        labels.where(F.col("node") == F.col("label")).select(F.col("node").alias("doc_id")),
        "doc_id",
    )
    out = (
        canon.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count("text").cast("bigint")).alias("total_tokens"),
            (
                F.sum(F.floor(F.col("quality_score") * Q_SCALE).cast("bigint")).cast("double")
                / Q_SCALE
                / F.count("*")
            ).alias("mean_quality_q"),
        )
    )
    # ordered_small (r13): per-source summary is result-sized; the helper
    # pins asc_nulls_last (r6 convention, review r9)
    from duckdb_mpp_spark.queries import ordered_small

    return ordered_small(out, "source", exchange=True)


def _lang_case() -> str:
    """The oracle's language-ID CASE — same tie-break algorithm as
    ``language_id`` (alphabetically earlier language wins ties)."""
    langs = sorted(STOPWORDS)
    case = "CASE "
    for lang in langs:
        others = " AND ".join(f"r_{lang} >= r_{o}" for o in langs if o != lang)
        case += f"WHEN r_{lang} > 0 AND {others} THEN '{lang}' "
    return case + "ELSE 'und' END"


def _oracle() -> str:
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    ratio_exprs = ",\n             ".join(
        f"CAST({_duck_stop_hits(lang)} AS DOUBLE) / greatest(len(ws), 1) AS r_{lang}"
        for lang in sorted(STOPWORDS)
    )
    score = duck_quality_score_expr()  # single source of truth (review r4)
    return f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, text, source, {_duck_tokens()} AS ws FROM documents
    ),
    ratios AS (
      SELECT doc_id, text, source, ws,
             {ratio_exprs}
      FROM toks
    ),
    scored AS (
      SELECT doc_id, text, source, ws,
             {_lang_case()} AS plang,
             {score} AS q
      FROM ratios
    ),
    kept0 AS (
      SELECT * FROM scored WHERE plang = 'en' AND q >= {QUALITY_MIN}
    ),
    kept1 AS (
      SELECT doc_id, text, source, ws, q FROM (
        SELECT k.*, ROW_NUMBER() OVER (
          -- source tiebreak mirrors the Spark window (review r9); DuckDB's
          -- default asc NULL placement (LAST) matches asc_nulls_last
          PARTITION BY md5(text) ORDER BY doc_id, source
        ) AS rn
        FROM kept0 k
      ) t WHERE rn = 1
    ),
    shingles AS (
      -- zero-token guard mirrors dedup._DUCK_SHINGLES and Spark shingles()
      -- (review r4; today masked by kept0 requiring an 'en' stopword hit,
      -- but the invariant must not live that far from the CTE)
      SELECT doc_id, array_to_string(ws[i:i+{SHINGLE_WORDS - 1}], ' ') AS sh
      FROM kept1, LATERAL (
        SELECT unnest(range(1, greatest(len(ws) - {SHINGLE_WORDS - 1}, 1) + 1)) AS i
      ) t
      WHERE len(ws) > 0
    ),
    hsh AS (
      SELECT doc_id,
             ('0x' || substring(md5(sh), 1, 14))::BIGINT AS h1,
             ('0x' || substring(md5(sh), 15, 14))::BIGINT AS h2
      FROM shingles
    ),
    mh AS (
      SELECT doc_id, s.i AS seed, min(h1 + s.i * h2) AS mh
      FROM hsh, (SELECT unnest(range({K_MINHASH})) AS i) s
      GROUP BY doc_id, s.i
    ),
    bands AS (
      SELECT doc_id, CAST(seed // {ROWS_PER_BAND} AS INT) AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS band_key
      FROM mh GROUP BY doc_id, 2
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach AS (
      SELECT doc_id AS node, doc_id AS lab FROM kept1
      UNION
      SELECT e.dst AS node, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    cluster AS (SELECT node, MIN(lab) AS cl FROM reach GROUP BY node),
    canon AS (
      SELECT k.* FROM kept1 k JOIN cluster c ON c.node = k.doc_id AND c.cl = k.doc_id
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(ws)) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(floor(q * {Q_SCALE}) AS BIGINT)) AS DOUBLE) / {Q_SCALE} / COUNT(*) AS mean_quality_q
    FROM canon
    GROUP BY source
    ORDER BY source
    """


register("pipeline_corpus_curation", Query(spark=curate, oracle=_oracle()))


def train_test_split(spark, sf_dir: str):
    """Deterministic hash-based corpus split (the reproducible alternative
    to random sampling for train/eval partitioning): a document's split is
    a pure function of its id — stable across runs, engines, cluster
    layouts, and re-partitioning, which row-order-dependent `sample()` is
    not. Fraction control = threshold on the first 4 hex digits of
    md5(id) (16-bit uniform) — :func:`split_tag`, the one shared
    definition (VERDICT r12 #2)."""
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id",
        "source",
        split_tag().alias("split"),
        token_count("text").cast("bigint").alias("n_tokens"),
    )
    # ordered_small (r13): per-(split, source) summary is result-sized;
    # the helper pins asc_nulls_last (r6 convention, review r9)
    from duckdb_mpp_spark.queries import ordered_small

    return ordered_small(
        tagged.groupBy("split", "source").agg(
            F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
        ),
        "split",
        "source",
        exchange=True,
    )


register(
    "pipeline_train_test_split",
    Query(
        spark=train_test_split,
        oracle=f"""
        WITH tagged AS (
          SELECT doc_id, source,
                 {duck_split_tag('doc_id')} AS split,
                 CAST(len({_duck_tokens()}) AS BIGINT) AS n_tokens
          FROM documents
        )
        SELECT split, source, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM tagged GROUP BY split, source
        ORDER BY split, source
        """,
    ),
)


BUDGET_NUM, BUDGET_DEN = 3, 10  # gate budget: 30% of corpus tokens


def budget_select(
    docs, budget_num: int = BUDGET_NUM, budget_den: int = BUDGET_DEN,
    id_col: str = "doc_id", text_col: str = "text",
):
    """Token-budget corpus selection — "assemble the best B tokens":
    greedily keep documents in quality order until the token budget
    ``B = (budget_num · total_tokens) div budget_den`` is filled (a doc
    is selected iff the running token sum INCLUDING it stays ≤ B).
    Returns one row per input row: ``(doc_id, n_tokens, quality_q,
    selected)``. The selection order is total and deterministic:
    quality (2^-20-quantized, the cross-engine-exact curate convention)
    DESC, then ``md5(doc_id)`` ASC, then ``doc_id`` ASC — the md5
    tiebreak is what makes the algorithm scale (below).

    Scale shape — an exact global greedy WITHOUT a global sort:

    1. **Quality histogram**: ``groupBy(quality_q)`` token sums — ≤ 2^20
       metadata rows regardless of corpus size, map-side combinable.
    2. **Metadata cumsum** over the histogram (one ordered window over
       ≤ 2^20 tiny rows — metadata, never corpus) classifies every
       quality bucket: fully inside the budget, fully outside, or THE
       boundary bucket (at most one), with its remaining budget.
    3. **Boundary-only exact prefix sum**: only the boundary bucket's
       docs need intra-bucket ordering, and their order key is
       ``md5(doc_id)`` — uniform by construction — so the prefix sum
       uses the 256-way two-phase split (partition by the first two hex
       chars, per-group window cumsum + ≤256 broadcast offsets), the
       ``global_shuffle_positions`` pattern. A pathological corpus where
       EVERY doc shares one quality value makes the whole corpus the
       boundary bucket — and still spreads over the 256 uniform groups,
       which is exactly the case a naive
       ``Window.orderBy(quality desc)`` turns into one task.

    No corpus-sized broadcast, no collect, no full-corpus ordered
    window; the three output branches union without a join-back, so
    duplicate input ids pass through row-for-row."""
    base = docs.select(
        F.col(id_col),
        token_count(text_col).cast("long").alias("n_tokens"),
        F.floor(quality_score_col(text_col) * Q_SCALE).cast("long")
        .alias("quality_q"),
    )
    # eager checkpoint (the r8/r9 multi-consumer rule, same as curate's
    # kept1): base feeds the histogram, the total, and all three output
    # branches — without materialization the corpus scan + tokenize +
    # quality expression re-runs per consumer (and lazy checkpoints race
    # AQE's concurrent stage submission). base is the NARROW projection
    # (id, n_tokens, quality_q) — O(#docs) scalars, the frame a real
    # deployment would write to a table between scoring and selection.
    base = base.localCheckpoint(eager=True)
    # selectExpr/expr strings incl. the OVER clauses (r13 construction-
    # floor rework, see text._tokens_sql): the Window-API build of this
    # body cost ~0.6 s of driver wall per query construction; the SQL
    # text parses JVM-side in one trip per projection. Same trees.
    hist = base.groupBy("quality_q").agg(F.expr("sum(n_tokens) AS _btoks"))
    total = base.agg(
        F.expr("CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS _total")
    )
    cum = (
        hist.selectExpr(
            "quality_q",
            "_btoks",
            "coalesce(sum(_btoks) OVER (ORDER BY quality_q DESC NULLS LAST"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            " AS _before",
        )
        .join(F.broadcast(total))
        .selectExpr(
            "quality_q",
            f"CAST(({budget_num} * _total) div {budget_den} AS BIGINT) AS _b",
            "_btoks",
            "_before",
        )
        .selectExpr(
            "quality_q",
            "_before + _btoks <= _b AS _full",
            "_before < _b AND _before + _btoks > _b AS _bound",
            "_b - _before AS _rem",
        )
    )
    # bucket verdicts back onto docs: null-safe on the quality key (NULL
    # quality = NULL-text docs form a real bucket)
    cum = cum.withColumnRenamed("quality_q", "_q")
    tagged = base.join(cum, F.expr("quality_q <=> _q"), "left").drop("_q")
    outside = tagged.where("NOT _full AND NOT _bound").selectExpr(
        id_col, "n_tokens", "quality_q", "false AS selected"
    )
    inside = tagged.where("_full").selectExpr(
        id_col, "n_tokens", "quality_q", "true AS selected"
    )
    # boundary bucket: exact two-phase prefix sum in (md5(id), id) order.
    # NULL ids: md5(NULL) is NULL, and a NULL _pfx would fall out of the
    # inner equi-join below, silently dropping the row (ADVICE r12) — so
    # the prefix coalesces to 'zz', which sorts AFTER every hex pair,
    # exactly where ORDER BY md5 ASC NULLS LAST places the row in the
    # oracle's global order.
    m = f"md5(CAST({id_col} AS STRING))"
    b = tagged.where("_bound").selectExpr(
        id_col, "n_tokens", "quality_q", "_rem",
        f"{m} AS _m",
        f"coalesce(substring({m}, 1, 2), 'zz') AS _pfx",
    )
    # n_tokens is the FINAL tiebreak (review r13): two NULL-id rows tie on
    # both _m and id, and an unordered tie hands the partial sums to rows
    # nondeterministically — with the tiebreak, rows still tied are
    # identical in every output column, so any order yields the same
    # multiset. Unique-id corpora never reach it (md5 distinct), so the
    # gate's recorded greens stay valid (value-identical in that regime).
    loc = b.selectExpr(
        "*",
        "sum(n_tokens) OVER (PARTITION BY _pfx ORDER BY"
        f" _m ASC NULLS LAST, {id_col} ASC NULLS LAST,"
        " n_tokens ASC NULLS LAST"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cin",
    )
    offs = b.groupBy("_pfx").agg(F.expr("sum(n_tokens) AS _s"))
    cumo = offs.selectExpr(
        "_pfx",
        "coalesce(sum(_s) OVER (ORDER BY _pfx ASC NULLS LAST"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _off",
    )
    boundary = loc.join(F.broadcast(cumo), "_pfx").selectExpr(
        id_col, "n_tokens", "quality_q",
        "_cin + _off <= _rem AS selected",
    )
    return inside.unionByName(boundary).unionByName(outside)


def _build_budget_select_gate():
    def fn(spark, sf_dir):
        # ordered_result (r13): same rationale as the decontaminate gate —
        # per-doc result, no range-bound sampling job at bench scale
        from duckdb_mpp_spark.queries import ordered_result

        docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
        return ordered_result(
            budget_select(docs), docs, "doc_id", exchange=True
        )

    oracle = f"""
    WITH toks AS (
      SELECT doc_id, text, {_duck_tokens()} AS ws FROM documents
    ),
    scored AS (
      SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
             CAST(floor(({duck_quality_score_expr()}) * {Q_SCALE}) AS BIGINT)
               AS quality_q
      FROM toks
    ),
    tot AS (SELECT COALESCE(SUM(n_tokens), 0) AS t FROM scored),
    sel AS (
      SELECT s.doc_id, s.n_tokens, s.quality_q,
             SUM(s.n_tokens) OVER (
               ORDER BY s.quality_q DESC,
                        md5(CAST(s.doc_id AS VARCHAR)) ASC, s.doc_id ASC,
                        s.n_tokens ASC
               ROWS UNBOUNDED PRECEDING) AS cum,
             (SELECT ({BUDGET_NUM} * t) // {BUDGET_DEN} FROM tot) AS b
      FROM scored s
    )
    SELECT doc_id, n_tokens, quality_q, (cum <= b) AS selected
    FROM sel ORDER BY doc_id
    """
    return fn, oracle


budget_select_gate_fn, budget_select_oracle_sql = _build_budget_select_gate()

# r13 registration (VERDICT r12 #1; deferred from r12 while the rotation
# was frozen). Oracle-proven since r12: tests/test_budget_select.py (7
# tests incl. the all-one-quality worst case and sf0.001 equality) +
# tests/test_advice_r13.py's NULL-id boundary-bucket regression.
register(
    "pipeline_budget_select",
    Query(spark=budget_select_gate_fn, oracle=budget_select_oracle_sql),
)


def decontaminate_train(
    docs, id_col: str = "doc_id", text_col: str = "text"
):
    """Split-leakage REPAIR — where :func:`split_leakage` audits, this
    acts: a TRAIN document with an LSH near-duplicate in valid or test is
    flagged dropped, the step every serious pipeline runs between
    splitting and training (a test doc's near-dup left in train inflates
    every benchmark on the split). Returns one row per document:
    ``(doc_id, split, dropped)`` — ``dropped`` is true only for
    contaminated TRAIN docs; eval docs are never dropped (the eval set
    is the contract, the train set is what yields).

    Composition of verified parts: the deterministic md5 hash split
    (:func:`train_test_split`'s tag expression) + the banded LSH
    candidate generation the dedup family uses (``minhash_bands`` →
    ``lsh_candidate_pairs`` — md5 draw family, so the DuckDB oracle
    reproduces candidates bit-for-bit). Scale shape: pairs are banded
    (sparse by construction, never all-pairs); the split tags join the
    pair table on the id key twice; the contaminated set is a sliver of
    train by construction, and the final flag join is id-keyed. No
    corpus-sized broadcast, no collect.

    Train–train near-dups are NOT flagged here: duplicates inside train
    are a dedup concern (dedup_* operators), not an eval-integrity one."""
    splits = docs.select(F.col(id_col), split_tag(id_col).alias("split"))
    # checkpoint shape (r13 A/B): reuse 2.51 s vs ckpt 1.79 s at sf0.1 on
    # this subtree — see dedup.pairs_fn for the mechanism
    pairs = lsh_candidate_pairs(minhash_bands(docs, id_col, text_col), id_col)
    sa = splits.select(F.col(id_col).alias("doc_a"), F.col("split").alias("sa"))
    sb = splits.select(F.col(id_col).alias("doc_b"), F.col("split").alias("sb"))
    joined = pairs.join(sa, "doc_a").join(sb, "doc_b")
    # ONE pass over the pair join (r13 optimization): the old
    # two-filters-UNION shape consumed `joined` twice, so the whole banded
    # minhash subtree executed once per branch (profiled as two full
    # 32-task minhash stages per run at sf0.1). The two conditions are
    # mutually exclusive (one needs sa='train' & sb≠'train', the other the
    # reverse), so a when-chain over a single projection emits exactly the
    # same multiset of contaminated train ids; `distinct` is unchanged.
    bad = (
        joined.selectExpr(
            "CASE WHEN sa = 'train' AND sb != 'train' THEN doc_a"
            " WHEN sb = 'train' AND sa != 'train' THEN doc_b END AS _bad"
        )
        .where("_bad IS NOT NULL")
        .distinct()
    )
    return splits.join(
        bad, F.expr(f"{id_col} <=> _bad"), "left"
    ).selectExpr(
        id_col,
        "split",
        "_bad IS NOT NULL AND split = 'train' AS dropped",
    )


def _build_decontaminate_gate():
    from duckdb_mpp_spark.operators.dedup import _DUCK_BANDS

    def fn(spark, sf_dir):
        # ordered_result (r13): per-doc result frame — single-task sort
        # in the sort_shape regime instead of a range sort whose
        # bound-sampling job re-runs the final join subtree
        from duckdb_mpp_spark.queries import ordered_result

        docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
        return ordered_result(
            decontaminate_train(docs), docs, "doc_id", exchange=True
        )

    oracle = (
        _DUCK_BANDS
        + f""",
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        {_duck_split_cte()},
        bad AS (
          SELECT p.doc_a AS doc_id
          FROM pairs p
          JOIN sp x ON x.doc_id = p.doc_a
          JOIN sp y ON y.doc_id = p.doc_b
          WHERE x.split = 'train' AND y.split <> 'train'
          UNION
          SELECT p.doc_b
          FROM pairs p
          JOIN sp x ON x.doc_id = p.doc_a
          JOIN sp y ON y.doc_id = p.doc_b
          WHERE y.split = 'train' AND x.split <> 'train'
        )
        SELECT s.doc_id, s.split,
               (b.doc_id IS NOT NULL AND s.split = 'train') AS dropped
        FROM sp s LEFT JOIN bad b USING (doc_id)
        ORDER BY s.doc_id
        """
    )
    return fn, oracle


decontaminate_gate_fn, decontaminate_oracle_sql = _build_decontaminate_gate()

# r13 registration (VERDICT r12 #1; deferred from r12 while the rotation
# was frozen). Oracle-proven since r12: tests/test_decontaminate.py (5
# tests incl. sf0.001 equality with real drops).
register(
    "pipeline_decontaminate_train",
    Query(spark=decontaminate_gate_fn, oracle=decontaminate_oracle_sql),
)


def split_leakage(spark, sf_dir: str):
    """Train/test split LEAKAGE AUDIT: count LSH near-dup candidate pairs
    per (split, split) combination — off-diagonal rows are evaluation
    contamination (a test doc with a near-duplicate in train inflates every
    benchmark run on the split). The QA step any serious pipeline runs
    after splitting and before training; composes the deterministic
    hash-split (:func:`train_test_split`) with the banded candidate
    generation the dedup family already verifies.

    Scale shape: pairs are banded LSH candidates (sparse by construction,
    never all-pairs); the per-doc split table is two cheap id-keyed joins
    (AQE broadcasts the small side at bench scale, shuffles on id at
    100 TB — both sides partition on the id the pipeline already uses);
    the result is at most |splits|² rows."""
    from duckdb_mpp_spark.queries import ordered_small

    docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # checkpoint shape (r13 A/B) — see decontaminate_train above
    pairs = lsh_candidate_pairs(minhash_bands(docs))
    splits = docs.select("doc_id", split_tag().alias("split"))
    sa = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    sb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    out = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    return ordered_small(out, "split_lo", "split_hi")


def _register_split_leakage():
    from duckdb_mpp_spark.operators.dedup import _DUCK_BANDS

    oracle = (
        _DUCK_BANDS
        + f""",
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        {_duck_split_cte()}
        SELECT least(x.split, y.split) AS split_lo,
               greatest(x.split, y.split) AS split_hi,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs p
        JOIN sp x ON x.doc_id = p.doc_a
        JOIN sp y ON y.doc_id = p.doc_b
        GROUP BY 1, 2
        ORDER BY 1, 2
        """
    )
    register("pipeline_split_leakage", Query(spark=split_leakage, oracle=oracle))


_register_split_leakage()
