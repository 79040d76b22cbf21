"""Corpus-curation operators a large-scale training-data pipeline needs
beyond dedup/ANN: repetition-based quality signals, benchmark-contamination
detection, PII redaction, sequence packing, and weighted domain sampling.

Beyond the reference's surface (it has no corpus ops) — first-class engine
operators per the north-star brief, like ``operators/text.py``. Everything is
expression-level or plain groupBy/window (whole-stage codegen, no Python on
any hot path); every shuffle is one the algorithm inherently requires.

Cross-engine determinism (so DuckDB oracles hash-match exactly):
- ratios are single IEEE double divisions of integer counts, ``round(_, 6)``;
- pseudo-randomness is md5-derived uniforms (first 14 hex digits as a 56-bit
  int over 2^56) — identical lowercase hex in both engines, same idiom as
  the minhash family (``dedup.py``);
- regexes are the RE2 ∩ java.util.regex common subset (char classes +
  bounded quantifiers, no backrefs/lookaround).

Scale notes (100 TB):
- repetition/PII/sampling are single-scan map work;
- contamination broadcast-joins the (small) benchmark shingle set, then
  pays ONE shuffle of 8-byte hashed gram keys (map-side (doc, gram)
  dedupe collapses within-doc repeats first) — the price of per-id
  DISTINCT semantics that stay exact even under duplicate doc_ids
  (review r8; linear in corpus, same magnitude as any dedup gram pass);
- sequence packing windows within hash-assigned workers, so parallelism is
  the worker count (set ~cluster cores), never a global sort.
"""

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from duckdb_mpp_spark.operators.dedup import SHINGLE_WORDS, shingles
from duckdb_mpp_spark.operators.text import _duck_tokens, token_count, tokens
from duckdb_mpp_spark.queries import Query, register
from duckdb_mpp_spark.sources import load_table

TWO_POW_56 = float(1 << 56)


def _md5_uniform(col: Column) -> Column:
    """Deterministic uniform in [0, 1): first 56 bits of md5 over 2^56 —
    engine-portable (Spark ``conv`` ≡ DuckDB ``('0x'||…)::BIGINT``)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("bigint")
        / F.lit(TWO_POW_56)
    )


# ---------------------------------------------------------------------------
# repetition quality (Gopher-style signals)
# ---------------------------------------------------------------------------

def repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc repetition signals used by Gopher/C4-style quality filters:
    duplicate-token fraction and the most-frequent-bigram fraction.

    Token stats are pure expressions (``array_distinct``); only the bigram
    mode needs a shuffle — and exactly ONE (r10): repartitioning the token
    arrays on the doc id up front makes id-partitioning satisfy the
    clustering requirement of BOTH aggregations (same id ⇒ same partition ⇒
    all (id, bigram) pairs co-located) AND the final stats-join, so the
    exploded bigram STRINGS never reach the network. The previous shape
    exchanged the (id, bigram) partial-aggregate stream — ~corpus bytes,
    since bigrams are mostly distinct within a doc and map-side combine
    buys little — then exchanged again for the per-doc mode and again for
    the join (measured 0.89 → 0.47 s at sf0.1, value-identical). At 100 TB
    the one exchange carries token-array bytes ≈ text bytes, strictly less
    than the old first exchange alone; per-doc skew is inherent to a
    per-doc mode either way (never a per-doc collect or a corpus window)."""
    t = tokens(text_col)
    base = df.select(F.col(id_col), t.alias("t")).repartition(F.col(id_col))
    stats = base.select(
        id_col,
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
    )
    # bigram assembly via explode(sequence) + concat_ws stays in whole-stage
    # codegen; a transform(...) higher-order lambda evaluates interpreted
    # (same measured trade as operators/dedup.shingles).
    bgc = (
        base.where(F.size("t") > 1)
        .select(
            id_col,
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
        )
        .select(
            id_col,
            F.concat_ws(
                " ",
                F.element_at("t", F.col("i")),
                F.element_at("t", F.col("i") + 1),
            ).alias("bg"),
        )
        .groupBy(id_col, "bg")
        .agg(F.count("*").alias("c"))
    )
    top = bgc.groupBy(id_col).agg(
        F.max("c").alias("topc"), F.sum("c").alias("nbg")
    )
    return (
        stats.join(top, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.round(
                # empty doc: 0.0, not 1.0 — '100% duplicate tokens' would
                # misroute fetch-failed docs in any Gopher-style
                # repetition filter (review r6; oracle mirrored)
                F.when(
                    F.col("n_tokens") > 0,
                    F.lit(1.0)
                    - F.col("n_distinct") / F.col("n_tokens").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_token_frac"),
            F.round(
                F.coalesce(
                    F.col("topc") / F.col("nbg").cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("top_bigram_frac"),
        )
    )


# oracle tokenization single-sourced from text._duck_tokens (review r6:
# five hand-copied variants of this expression would silently diverge on
# the next tokenization fix)
_REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_duck_tokens()} AS t
  FROM documents
),
stats AS (
  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct, t FROM t
),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
  FROM stats, LATERAL (SELECT unnest(range(1, len(t))) AS i) g
  WHERE len(t) > 1
),
bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS topc, sum(c) AS nbg FROM bgc GROUP BY 1)
SELECT s.doc_id,
       CAST(s.n_tokens AS INT) AS n_tokens,
       round(CASE WHEN s.n_tokens > 0
                  THEN 1.0 - s.n_distinct / CAST(s.n_tokens AS DOUBLE)
                  ELSE 0.0 END, 6)
         AS dup_token_frac,
       round(coalesce(topc / CAST(nbg AS DOUBLE), 0.0), 6) AS top_bigram_frac
FROM stats s LEFT JOIN top USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# benchmark contamination (n-gram overlap against an eval set)
# ---------------------------------------------------------------------------

def contamination_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Docs sharing word-shingles with a benchmark/eval corpus — the
    decontamination check every training pipeline runs before a data
    release. ``benchmark`` is (any id, text); its distinct shingle set is
    broadcast, so the corpus is filtered in one map-side-joined scan.

    Semantics (exact, review r8): per-id DISTINCT shingle counts — under
    duplicate doc_ids (a malformed-but-real crawl input) the hit and
    total counts both merge per id, so contamination_frac ≤ 1 always and
    matches the oracle for every input.

    Scale shape (r9, ADVICE r8): the r8 exactness fix shuffled the whole
    corpus's (doc, sh) stream to get per-id DISTINCT totals — correct but
    linear-in-corpus network for a check whose OUTPUT is only the
    contaminated docs. This shape restores hit-bounded shuffles:

    1. hits — the corpus gram stream is filtered map-side by the
       broadcast benchmark set (inner join), so only CONTAMINATED grams
       ever reach an exchange; one count_distinct per doc gives exact
       per-id hit counts.
    2. totals — a SECOND corpus scan restricted (broadcast semi-join on
       the tiny hit-doc set) to contaminated docs BEFORE shingling; its
       count_distinct shuffles only those docs' grams.

    Trade: one extra map pass over the corpus (scan + tokenize — scales
    with cores, no network) in exchange for zero corpus-sized shuffles
    (scales with cluster bisection bandwidth). At 100 TB the second scan
    is embarrassingly parallel while the saved shuffle is the bottleneck
    resource; contaminated docs are a sliver of a curated corpus by
    construction. The r9 interleaved A/B (sf0.1, through the registry;
    numbers in SCALING.md) read hit-bounded 0.66 s min vs 0.85-0.92 s for
    both corpus-shuffle shapes (the r8 two-level aggregate and the
    one-exchange multi-distinct alternative), so the scale-right shape is
    also the fastest at bench scale."""
    # 64-bit gram keys: smaller broadcast table, bigint join keys, and
    # the count_distinct shuffle moves 8 bytes per surviving gram
    # instead of the raw ~40-byte string (collision odds 2^-64-scale)
    bench_grams = shingles(benchmark, id_col, text_col).select(
        F.xxhash64("sh").alias("sh")
    )
    dsh = shingles(docs, id_col, text_col).select(
        F.col(id_col), F.xxhash64("sh").alias("sh")
    )
    # un-deduplicated benchmark grams broadcast directly: duplicate
    # broadcast keys only duplicate matched gram rows, which
    # count_distinct collapses anyway — skipping the distinct removes
    # its exchange (and the eval set is MBs at any corpus scale)
    hits = (
        dsh.join(F.broadcast(bench_grams), "sh")
        .groupBy(id_col)
        .agg(F.count_distinct("sh").alias("n_contaminated"))
    )
    # NOT checkpointed (r10 A/B): hits has two consumers (the hit_ids
    # broadcast build and the final join), but both read the SAME final
    # aggregate exchange, which Spark's ReusedExchange shares — the corpus
    # hits-scan executes once. An eager localCheckpoint here measured
    # ~+0.4 s at sf0.1: it broke the exchange reuse AND erased the agg's
    # hash partitioning, forcing an extra exchange under the final
    # co-partitioned join (contrast vocab_coverage, whose three branches
    # could NOT share one exchange and where the checkpoint wins).
    # the hit-doc id hint is SIZE-SWITCHED (review r9): "contaminated docs
    # are a sliver" is an assumption about the input, not an invariant —
    # a forced corpus-sized broadcast would hit Spark's broadcast limit
    # where a shuffle semi-join degrades gracefully
    from duckdb_mpp_spark.table import regime

    hit_ids = hits.select(id_col)
    if regime("contamination_hit_ids", docs) == "broadcast":
        hit_ids = F.broadcast(hit_ids)
    docs_c = docs.join(hit_ids, id_col, "left_semi")
    tot = (
        shingles(docs_c, id_col, text_col)
        .select(F.col(id_col), F.xxhash64("sh").alias("sh"))
        .groupBy(id_col)
        .agg(F.count_distinct("sh").alias("n_shingles"))
    )
    # no broadcast hint: both sides are per-doc aggregates whose final
    # exchanges hash the same id — the join rides that co-partitioning
    per = tot.join(hits, id_col)
    return per.where(F.col("n_contaminated") > 0).select(
        id_col,
        "n_shingles",
        "n_contaminated",
        F.round(
            F.col("n_contaminated") / F.col("n_shingles").cast("double"), 6
        ).alias("contamination_frac"),
    )


_CONTAMINATION_ORACLE = f"""
WITH dwords AS (
  SELECT doc_id, {_duck_tokens()} AS ws
  FROM documents
),
dsh AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i:i+{SHINGLE_WORDS - 1}], ' ') AS sh
  FROM dwords, LATERAL (
    SELECT unnest(range(1, greatest(len(ws) - {SHINGLE_WORDS - 1}, 1) + 1)) AS i) t
),
bwords AS (
  SELECT p_partkey AS doc_id,
         {_duck_tokens("p_name")} AS ws
  FROM part
),
bench AS (
  SELECT DISTINCT array_to_string(ws[i:i+{SHINGLE_WORDS - 1}], ' ') AS sh
  FROM bwords, LATERAL (
    SELECT unnest(range(1, greatest(len(ws) - {SHINGLE_WORDS - 1}, 1) + 1)) AS i) t
),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM dsh GROUP BY 1),
hits AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM dsh JOIN bench USING (sh) GROUP BY 1
)
SELECT t.doc_id, CAST(t.n_shingles AS INT) AS n_shingles,
       CAST(h.n_contaminated AS INT) AS n_contaminated,
       round(h.n_contaminated / CAST(t.n_shingles AS DOUBLE), 6)
         AS contamination_frac
FROM tot t JOIN hits h USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PHONE_RE = "[+]1-555-[0-9]{4}"


def pii_redact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Regex PII scrub: count + redact emails and NANP-style phone numbers.
    Single scan, pure expressions. The regexes stay inside the RE2/Java
    common subset so engines agree byte-for-byte; redacted text is returned
    as an md5 so the gate row stays narrow."""
    t = F.col(text_col)
    # NULL text counts 0 findings (review r9, the tokens()/bpe NULL→zero
    # convention): size(regexp_extract_all(NULL)) is -1/NULL depending on
    # the legacy sizeOfNull setting while the oracle's len() is NULL —
    # a fetch-failure doc must report zero PII, not a sentinel
    def _count(pattern):
        return F.greatest(
            F.coalesce(
                F.size(F.regexp_extract_all(t, F.lit(pattern), F.lit(0))),
                F.lit(0),
            ),
            F.lit(0),
        )

    n_emails = _count(EMAIL_RE)
    n_phones = _count(PHONE_RE)
    redacted = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return df.select(
        F.col(id_col),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


def _with_synthetic_pii(docs: DataFrame) -> DataFrame:
    """The synthetic corpus contains no PII — inject a deterministic email +
    phone per doc so the redaction path is exercised on known positives
    (the oracle recomputes the same augmented text)."""
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )


_PII_ORACLE = """
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
)
SELECT doc_id,
       CAST(COALESCE(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')), 0) AS INT) AS n_emails,
       CAST(COALESCE(len(regexp_extract_all(text, '[+]1-555-[0-9]{4}')), 0) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[+]1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
FROM aug
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# sequence packing (context-window binning)
# ---------------------------------------------------------------------------

N_PACK_WORKERS = 8
CONTEXT_TOKENS = 2048


def sequence_packing(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_workers: int = N_PACK_WORKERS,
    context: int = CONTEXT_TOKENS,
) -> DataFrame:
    """Greedy sequence packing: assign each doc to a context-window bin of
    ~``context`` tokens, the preprocessing step that turns a corpus into
    fixed-length training sequences.

    Docs are hash-partitioned to ``n_workers`` independent streams (md5 —
    deterministic and engine-portable); within a worker, a running token sum
    in doc-id order gives each doc's starting offset, and the bin is
    ``offset DIV context``. Each worker's window is independent — at 100 TB
    set ``n_workers`` ≈ cluster cores and no global sort ever happens (the
    per-worker window is the only shuffle)."""
    # loud preconditions (review r8, the chunk_documents r7 convention):
    # context<=0 hits DIVIDE_BY_ZERO mid-job under ANSI Spark, n_workers<=0
    # a modulo error — fail at call time with the actual contract instead
    if context <= 0:
        raise ValueError(f"context must be positive, got {context}")
    if n_workers <= 0:
        raise ValueError(f"n_workers must be positive, got {n_workers}")
    tc = df.select(
        F.col(id_col),
        token_count(text_col).alias("n_tok"),
        (
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 14), 16, 10)
            .cast("bigint")
            % n_workers
        ).cast("int").alias("worker"),
    )
    # NULLS LAST: a NULL id must take the same cumulative-sum position in
    # both dialects (review r8 — Spark asc defaults NULLS FIRST, DuckDB
    # 1.0 NULLS LAST, shifting every later doc's offset)
    w = (
        Window.partitionBy("worker")
        .orderBy(F.col(id_col).asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = tc.withColumn("cum", F.sum("n_tok").over(w))
    return (
        offs.select(
            "worker",
            F.expr(f"CAST((cum - n_tok) DIV {context} AS INT)").alias("seq_id"),
            "n_tok",
        )
        .groupBy("worker", "seq_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )


_PACKING_ORACLE = f"""
WITH tc AS (
  SELECT doc_id,
         len({_duck_tokens()}) AS n_tok,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
              % {N_PACK_WORKERS} AS INT) AS worker
  FROM documents
),
offs AS (
  SELECT worker, n_tok,
         sum(n_tok) OVER (PARTITION BY worker ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM tc
)
SELECT worker, CAST((cum - n_tok) // {CONTEXT_TOKENS} AS INT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM offs
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# weighted domain sampling
# ---------------------------------------------------------------------------

DOMAIN_WEIGHTS = {"en": 1.0, "fr": 0.5, "de": 0.5, "es": 0.25, "zh": 0.1}
DEFAULT_WEIGHT = 0.05


def weighted_domain_sample(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    domain_col: str = "lang",
) -> DataFrame:
    """Deterministic per-domain downsampling — the mixture-reweighting step
    of corpus assembly. Keep a row iff its md5-derived uniform is below the
    domain's weight: reproducible across runs/engines/retries (no ``rand()``),
    single scan, no shuffle.

    Weights must be real numbers: a NaN weight raises at call time
    (hostile sweep r12 — Spark orders NaN ABOVE every numeric value, so
    ``u < NaN`` is TRUE for every row and a NaN weight, e.g. an upstream
    0/0, silently kept the ENTIRE domain instead of nothing). Zero and
    negative weights keep nothing, weights >= 1 keep everything — those
    follow from ``u ∈ [0, 1)`` and need no special arms."""
    weights = DOMAIN_WEIGHTS if weights is None else weights
    for dom, wt in weights.items():
        # reject NaN (Spark orders it ABOVE every numeric → keeps the
        # whole domain) and non-numerics like None (lit(None) makes the
        # keep filter NULL → silently drops the whole domain) — both are
        # upstream-bug values, both fail loudly (review r12)
        if not isinstance(wt, (int, float)) or wt != wt:
            raise ValueError(
                f"weight for domain {dom!r} is {wt!r}; weights must be "
                "real numbers (NaN would keep the whole domain, None "
                "would silently drop it)"
            )
    w = F.lit(DEFAULT_WEIGHT)
    for k, v in sorted(weights.items()):
        w = F.when(F.col(domain_col) == k, F.lit(v)).otherwise(w)
    u = _md5_uniform(F.concat(F.lit("s"), F.col(id_col).cast("string")))
    return df.withColumn("__w", w).where(u < F.col("__w")).drop("__w")


STRATUM_K = 100


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    k: int = STRATUM_K,
) -> DataFrame:
    """Exactly-k-per-stratum sample: rank rows within each stratum by an
    md5-derived shuffle key (deterministic, engine-portable — no ``rand()``)
    and keep the first k. Unlike ``weighted_domain_sample`` (keep-probability
    per row → binomial counts) this guarantees exact per-stratum counts, the
    contract eval-set construction needs.

    One shuffle (the window partition). The ``row_number() <= k`` filter
    compiles to ``WindowGroupLimit`` (asserted for the top-k family in
    ``tests/test_plan_shapes.py``), so each partition keeps a k-row heap
    instead of fully sorting the stratum — the property that keeps a hot
    stratum from becoming a full sort at 100 TB."""
    rnd = F.md5(F.col(id_col).cast("string"))
    # NULLS LAST on both window keys (review r8): a NULL id yields a NULL
    # shuffle key, and Spark's asc default (NULLS FIRST) would ALWAYS
    # sample it while DuckDB's (NULLS LAST) would drop it — the r6
    # cross-dialect NULL-ordering class, applied to window keys too
    w = Window.partitionBy(strata_col).orderBy(
        rnd.asc_nulls_last(), F.col(id_col).asc_nulls_last()
    )
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(strata_col, "rank", id_col)
    )


_STRATIFIED_ORACLE = f"""
SELECT lang, CAST(rank AS INT) AS rank, doc_id
FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rank
  FROM documents
)
WHERE rank <= {STRATUM_K}
ORDER BY lang, rank
"""


_SAMPLE_ORACLE = f"""
WITH w AS (
  SELECT doc_id, lang,
         CASE lang
           WHEN 'de' THEN 0.5 WHEN 'en' THEN 1.0 WHEN 'es' THEN 0.25
           WHEN 'fr' THEN 0.5 WHEN 'zh' THEN 0.1 ELSE {DEFAULT_WEIGHT} END AS w,
         ('0x' || substring(md5('s' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
           / CAST({1 << 56} AS DOUBLE) AS u
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc
FROM w WHERE u < w
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# gate registration
# ---------------------------------------------------------------------------

def _register() -> None:
    def repetition_fn(spark, sf_dir):
        # exchange=True: the result join rides the operator's single
        # id-partitioning — no shuffle boundary above the corpus-sized
        # stage, so the barrier form is required (see ordered_small)
        from duckdb_mpp_spark.queries import ordered_result

        docs = load_table(spark, sf_dir, "documents")
        return ordered_result(
            repetition_stats(docs), docs, "doc_id", exchange=True
        )

    register(
        "text_repetition_stats",
        Query(spark=repetition_fn, oracle=_REPETITION_ORACLE),
    )

    def contamination_fn(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        bench = load_table(spark, sf_dir, "part").select(
            F.col("p_partkey").alias("doc_id"), F.col("p_name").alias("text")
        )
        # result is at most one row per contaminated doc — size-switched
        # final order (single-task sort under the budget, orderBy past it)
        from duckdb_mpp_spark.queries import ordered_result

        return ordered_result(contamination_overlap(docs, bench), docs, "doc_id")

    register(
        "text_contamination_overlap",
        Query(spark=contamination_fn, oracle=_CONTAMINATION_ORACLE),
    )

    def pii_fn(spark, sf_dir):
        # ordered_result (r13): the range sort's bound-sampling job ran the
        # regex redaction projection twice; map-only, so the default
        # coalesce form is safe under the source-size switch
        from duckdb_mpp_spark.queries import ordered_result

        docs = _with_synthetic_pii(load_table(spark, sf_dir, "documents"))
        return ordered_result(pii_redact(docs), docs, "doc_id")

    register("text_pii_redaction", Query(spark=pii_fn, oracle=_PII_ORACLE))

    def packing_fn(spark, sf_dir):
        # ordered_result exchange=True (r13): the packing windows produce
        # the result with no shuffle boundary above them — barrier form
        # required (see ordered_small); drops the range-sampling pass
        from duckdb_mpp_spark.queries import ordered_result

        docs = load_table(spark, sf_dir, "documents")
        return ordered_result(
            sequence_packing(docs), docs, "worker", "seq_id", exchange=True
        )

    register(
        "pipeline_sequence_packing",
        Query(spark=packing_fn, oracle=_PACKING_ORACLE),
    )

    def sample_fn(spark, sf_dir):
        kept = weighted_domain_sample(load_table(spark, sf_dir, "documents"))
        return kept.groupBy("lang").agg(
            F.count("*").alias("n_kept"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ).orderBy(F.col("lang").asc_nulls_last())  # DuckDB default (review r6)

    register(
        "sampling_weighted_domains",
        Query(spark=sample_fn, oracle=_SAMPLE_ORACLE),
    )

    def stratified_fn(spark, sf_dir):
        # ordered_result exchange=True (r13): result rides the rank
        # window's partitioning (no boundary above the corpus stage);
        # ordered_* pins asc_nulls_last, the r6 convention kept here
        from duckdb_mpp_spark.queries import ordered_result

        docs = load_table(spark, sf_dir, "documents")
        return ordered_result(
            stratified_sample_exact(docs), docs, "lang", "rank", exchange=True
        )

    register(
        "sampling_stratified_exact",
        Query(spark=stratified_fn, oracle=_STRATIFIED_ORACLE),
    )


_register()


# ---------------------------------------------------------------------------
# deterministic global shuffle (training order)
# ---------------------------------------------------------------------------

# Training-order shuffle: a seeded md5 over the key is a deterministic
# pseudorandom permutation — reproducible across engines/retries, unlike
# rand(). The oracle states it as ROW_NUMBER over the global hash order.
_GLOBAL_SHUFFLE_SQL = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY md5(concat('epoch-42:', doc_id)), doc_id
       ) AS BIGINT) - 1 AS pos
FROM documents
ORDER BY pos
"""


def global_shuffle_positions(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic global training-order position for every doc.

    Spark plans ``ROW_NUMBER() OVER (ORDER BY …)`` (empty PARTITION BY) as
    Exchange SinglePartition + Window — the ENTIRE corpus through one task,
    a scale-killer at 100 TB (r6; the old SQL-text gate had exactly that
    plan). Two-phase rank instead, the zipWithIndex shape in DataFrame ops:
    md5 is uniform and its hex prefix ranges are contiguous in the total
    (key, id) order, so PARTITION the window by the first two hex chars
    (256 groups) — per-group ROW_NUMBER runs parallel — and add each
    group's global offset (a cumulative count over ≤256 metadata rows,
    broadcast back). Every doc's position is identical to the global rank;
    only the plan changes: one corpus exchange on the prefix instead of one
    exchange onto a single task.

    The ``sort_shape`` regime picks by input volume: small inputs keep the
    one-exchange single-task window, where the two-phase's extra stages
    are pure scheduling constant; big inputs take the parallel shape —
    the same regime as the gate's ordered_result, so the two agree. Both
    paths are value-identical (tests/test_corpus.py pins it). The two-phase
    source is evaluated twice (rank + counts) rather than checkpointed:
    the second pass is a column-pruned scan + map-side count, measured
    cheaper than materializing the hashed corpus (0.40 s vs 0.51 s)."""
    from duckdb_mpp_spark.table import regime

    single_task = regime("sort_shape", docs) == "single_task"
    # concat_ws, not concat (review r7): the oracle's DuckDB concat() SKIPS
    # NULL arguments, so a NULL id hashes the bare salt there while Spark's
    # null-propagating concat made the whole key NULL (sorted FIRST, tied
    # with every other NULL-id row — nondeterministic position drift for
    # all later rows). concat_ws skips NULLs identically: a NULL-id doc
    # gets the deterministic md5('epoch-42:') position on both engines.
    key = F.md5(
        F.concat_ws("", F.lit("epoch-42:"), F.col(id_col).cast("string"))
    )
    if single_task:
        # coalesce(1) BELOW the window (r9): CoalesceExec(1) reports
        # SinglePartition, which satisfies the empty-PARTITION-BY window's
        # AllTuples requirement, so Catalyst plans NO exchange at all —
        # scan, sort, window and the gate's final order run as ONE task in
        # ONE job (the gate's whole 31× ratio was AQE stage scheduling
        # over a 6 ms oracle). Single-task by construction is exactly what
        # this branch already chose; the size switch above bounds it.
        return docs.coalesce(1).select(
            F.col(id_col).alias("doc_id"),
            (
                F.row_number().over(Window.orderBy(key, F.col(id_col))) - 1
            ).cast("bigint").alias("pos"),
        )
    t = docs.select(F.col(id_col).alias("doc_id"), key.alias("k")).withColumn(
        "pfx", F.substring("k", 1, 2)
    )
    local = t.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("pfx").orderBy("k", "doc_id")),
    )
    offs = t.groupBy("pfx").agg(F.count(F.lit(1)).alias("c"))
    cum = offs.select(
        "pfx",
        (
            F.sum("c").over(
                Window.orderBy("pfx").rowsBetween(Window.unboundedPreceding, -1)
            )
        ).alias("off"),
    )
    return local.join(F.broadcast(cum), "pfx").select(
        "doc_id",
        (F.col("rn") + F.coalesce(F.col("off"), F.lit(0)) - 1)
        .cast("bigint")
        .alias("pos"),
    )


def _register_shuffle():
    def shuffle_fn(spark, sf_dir):
        # ordered like the oracle's ORDER BY pos — the two-phase path
        # returns join order, not pos order (review r6). The sort strategy
        # follows the same size regime as the shuffle itself (r8): in the
        # single-task arm the frame already lives in one task, so
        # ordered_small skips orderBy's range-sampling job (the gate's
        # whole 31× ratio was scheduling constant); past it the result is
        # O(#docs) and keeps the parallel range sort — never coalesce(1)
        # on a corpus-sized frame.
        from duckdb_mpp_spark.queries import ordered_result

        docs = load_table(spark, sf_dir, "documents")
        return ordered_result(global_shuffle_positions(docs), docs, "pos")

    register(
        "pipeline_global_shuffle",
        Query(spark=shuffle_fn, oracle=_GLOBAL_SHUFFLE_SQL),
    )


_register_shuffle()


# ---------------------------------------------------------------------------
# token-window chunking (RAG / pretraining context windows)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Overlapping token-window chunks — the retrieval/pretraining chunking
    primitive: chunk i covers tokens [i*stride, i*stride + size), for every
    i with i*stride < n_tokens (so every token is covered and consecutive
    chunks overlap by size - stride tokens).

    Spark-first shape: one ``sequence`` + ``explode`` per doc (rows =
    Σ ceil(n_i/stride), proportional to corpus tokens — the output's own
    size, not a blow-up), chunk text via ``slice`` + ``array_join`` on the
    already-split token array. Entirely map-side: no shuffle until a
    downstream consumer groups or writes, so at 100 TB it chunks at scan
    speed and inherits the scan's partitioning."""
    if stride <= 0 or stride > size:
        # stride > size silently drops tokens [size, stride) of every
        # window from ALL chunks — breaking the every-token-covered
        # contract above — and stride <= 0 never advances (review r7;
        # the gate only exercises the defaults, so validate loudly)
        raise ValueError(
            f"chunk_documents requires 0 < stride <= size, got "
            f"stride={stride}, size={size}"
        )
    toks = df.select(F.col(id_col), tokens(text_col).alias("ws"))
    n = F.size("ws")
    # empty/NULL-text docs emit ZERO chunks (contract: every i with
    # i*stride < n_tokens) — the old greatest(.., 0) floor emitted one
    # phantom empty chunk per dead doc, all sharing xxhash64('') as their
    # chunk_hash (review r6; oracle mirrored)
    chunked = toks.where(n > 0).select(
        id_col,
        "ws",
        F.explode(
            F.sequence(F.lit(0), F.greatest((n - 1) / stride, F.lit(0)).cast("int"))
        ).alias("chunk_id"),
    )
    piece = F.slice("ws", F.col("chunk_id") * stride + 1, size)
    return chunked.select(
        id_col,
        "chunk_id",
        F.size(piece).alias("n_tokens"),
        F.try_element_at(piece, F.lit(1)).alias("first_token"),
        F.try_element_at(piece, F.lit(-1)).alias("last_token"),
        F.xxhash64(F.array_join(piece, " ")).alias("chunk_hash"),
    )


_CHUNK_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             {_duck_tokens()} AS ws
      FROM documents
    ), c AS (
      SELECT doc_id, ws, CAST(i AS INT) AS chunk_id,
             list_slice(ws, i * {CHUNK_STRIDE} + 1,
                        i * {CHUNK_STRIDE} + {CHUNK_TOKENS}) AS piece
      FROM t, LATERAL (
        SELECT unnest(range(0, CAST(greatest(ceil(len(ws) / {CHUNK_STRIDE}.0), 1) AS BIGINT))) AS i
      )
      WHERE len(ws) > 0  -- empty docs emit zero chunks (review r6)
    )
    SELECT doc_id, chunk_id,
           CAST(len(piece) AS INT) AS n_tokens,
           piece[1] AS first_token,
           piece[-1] AS last_token
    FROM c
    ORDER BY doc_id, chunk_id
"""


def _register_chunking():
    def chunk_fn(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        # chunk_hash is engine-local (xxhash64 seed differs from DuckDB's),
        # so the gate compares the exact chunk geometry + boundary tokens;
        # the hash column is exercised by tests/test_corpus.py instead.
        # ordered_result exchange=True (r13): chunk rows are emitted by
        # the per-doc explode stage directly — barrier form, no sampling
        from duckdb_mpp_spark.queries import ordered_result

        return ordered_result(
            chunk_documents(docs).select(
                "doc_id", "chunk_id", "n_tokens", "first_token", "last_token"
            ),
            docs,
            "doc_id",
            "chunk_id",
            exchange=True,
        )

    register("pipeline_chunk_documents", Query(spark=chunk_fn, oracle=_CHUNK_ORACLE))


_register_chunking()


# ---------------------------------------------------------------------------
# temperature-flattened mixture sampling (sqrt-cap per domain)
# ---------------------------------------------------------------------------

SQRT_CAP_SCALE = 8


def sqrt_flatten_sample(
    df: DataFrame,
    domain_col: str = "lang",
    id_col: str = "doc_id",
    scale: int = SQRT_CAP_SCALE,
) -> DataFrame:
    """Temperature-flattened mixture sampling: cap each domain at
    ``scale·√n_d`` documents — the square-root (T=2) flattening used to keep
    head domains/languages from drowning the tail in multilingual and
    multi-source pretraining mixes. Unlike a cross-domain softmax this cap
    is computed PER DOMAIN from its own count only (sqrt is IEEE correctly
    rounded, floor is exact), so the selection is bit-deterministic across
    engines — no cross-domain float sums to drift.

    Selection is exact: md5-ranked within domain (deterministic, retryable
    — no rand()), keep rank ≤ cap. ONE keyed window shuffle: the domain
    count rides the same partition as the rank window (r6 — the old
    count-aggregate + broadcast join was an extra stage AND silently
    dropped NULL-domain rows via the join's null-unsafe equality, while
    weighted_domain_sample keeps them; window PARTITION BY treats NULL as
    its own group in both engines, so unidentified-language docs now get
    capped like any other domain). Scale note: a per-row cap defeats
    Spark's WindowGroupLimit (constant-k heaps), so a hot domain pays a
    full per-domain sort; the 100 TB variant pre-filters on the md5
    uniform to ~2·cap/n before ranking (probabilistically complete, then
    exact-rank the survivors) — same two-phase trade as any exact top-k
    at scale."""
    rnd = F.md5(F.concat(F.lit("t"), F.col(id_col).cast("string")))
    part = Window.partitionBy(domain_col)
    # NULLS LAST on window keys: cross-dialect default divergence for a
    # NULL id's NULL shuffle key (review r8, same class as stratified)
    w = part.orderBy(rnd.asc_nulls_last(), F.col(id_col).asc_nulls_last())
    n = F.count(F.lit(1)).over(part)
    cap = F.least(n, F.floor(F.sqrt(n) * scale).cast("long"))
    return (
        df.withColumn("rank", F.row_number().over(w))
        .withColumn("__cap", cap)
        .where(F.col("rank") <= F.col("__cap"))
        .select(id_col, domain_col, "rank")
    )


_SQRT_SAMPLE_ORACLE = f"""
    WITH ranked AS (
      SELECT d.doc_id, d.lang,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY d.lang
               ORDER BY md5('t' || CAST(d.doc_id AS VARCHAR)), d.doc_id
             ) AS INT) AS rank,
             COUNT(*) OVER (PARTITION BY d.lang) AS n
      FROM documents d
    )
    SELECT doc_id, lang, rank
    FROM ranked
    WHERE rank <= LEAST(n, CAST(floor(sqrt(n) * {SQRT_CAP_SCALE}) AS BIGINT))
    ORDER BY lang, rank
"""


def _register_sqrt_sample():
    def fn(spark, sf_dir):
        # ordered_result exchange=True (r13): same shape as stratified_fn
        from duckdb_mpp_spark.queries import ordered_result

        docs = load_table(spark, sf_dir, "documents")
        return ordered_result(
            sqrt_flatten_sample(docs), docs, "lang", "rank", exchange=True
        )

    register("sampling_sqrt_temperature", Query(spark=fn, oracle=_SQRT_SAMPLE_ORACLE))


_register_sqrt_sample()


# ---------------------------------------------------------------------------
# n-gram novelty scoring (contribution of each doc to corpus diversity)
# ---------------------------------------------------------------------------

def novelty_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc n-gram novelty: the fraction of a doc's DISTINCT word
    k-grams whose global FIRST occurrence (smallest doc id) is this doc —
    a dedup-adjacent curation signal: boilerplate-heavy or near-duplicate
    docs score near 0, genuinely new material scores near 1, and the
    score is monotone under corpus growth (adding docs can only lower
    novelty of later ids, never earlier ones). Ids order "first": any
    stable total order works; ingestion ids are the natural one.

    Scale shape (100 TB): grams are 64-bit token-window hashes
    (:func:`~duckdb_mpp_spark.operators.dedup.shingle_hashes` — injective
    modulo 2^-64, no gram strings materialized; the oracle compares
    resulting COUNTS, never encodings). The per-doc distinct rides the id
    partitioning `_spread` establishes (no extra exchange); the only
    corpus-sized shuffle is the one groupBy(gram) a first-occurrence
    assignment inherently needs, and it map-side combines (a hot
    boilerplate gram collapses to one (gram, min_id) row per map
    partition before the exchange — skew-immune the same way
    substring spans' aggregate is). Everything after is per-doc sized.

    Output: (doc_id, n_grams, n_novel, novelty); gram-less docs (empty /
    whitespace / NULL text) are RETAINED with n_grams = 0 and novelty
    NULL — retention parity with the text-gate family (review r9)."""
    from duckdb_mpp_spark.operators.dedup import _spread, shingle_hashes

    d = _spread(docs, id_col)
    # (id, gram) distinct rides the id partitioning (grouping ⊇ partitioning)
    dsh = shingle_hashes(d, id_col, text_col).distinct()
    sizes = dsh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        dsh.groupBy("sh")
        .agg(F.min(id_col).alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        docs.select(id_col)
        .join(sizes, id_col, "left")
        .join(novel, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.when(
                F.col("n_grams").isNotNull(),
                F.round(
                    F.coalesce("n_novel", F.lit(0)).cast("double")
                    / F.col("n_grams").cast("double"),
                    6,
                ),
            ).alias("novelty"),
        )
    )


_NOVELTY_ORACLE = """
    WITH words AS (SELECT doc_id, {toks} AS ws FROM documents),
    shingles AS (
      SELECT doc_id, array_to_string(ws[i:i+{km1}], ' ') AS sh
      FROM words, LATERAL (SELECT unnest(range(1, greatest(len(ws) - {km1}, 1) + 1)) AS i) t
      WHERE len(ws) > 0
    ),
    dsh AS (SELECT DISTINCT doc_id, sh FROM shingles),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM dsh GROUP BY 1),
    novel AS (
      SELECT first_doc AS doc_id, COUNT(*) AS n_novel
      FROM (SELECT sh, MIN(doc_id) AS first_doc FROM dsh GROUP BY 1)
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(v.n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN s.n_grams IS NOT NULL THEN
             round(CAST(COALESCE(v.n_novel, 0) AS DOUBLE) / s.n_grams, 6)
           END AS novelty
    FROM documents d
    LEFT JOIN sizes s USING (doc_id)
    LEFT JOIN novel v USING (doc_id)
    ORDER BY doc_id
"""


def _register_novelty():
    _ = _NOVELTY_ORACLE.format(toks=_duck_tokens(), km1=SHINGLE_WORDS - 1)

    def fn(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        from duckdb_mpp_spark.queries import ordered_result

        return ordered_result(novelty_scores(docs), docs, "doc_id")

    register("text_novelty_scores", Query(spark=fn, oracle=_))


_register_novelty()
