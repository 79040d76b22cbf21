"""Deduplication operators: exact (hash-groupBy), MinHash + LSH banding,
SimHash, and n-gram Jaccard verification — the standard large-corpus dedup
stack, built Spark-first:

- shingling / minhashing are pure expressions (whole-stage codegen);
- the only shuffles are the groupBy on (doc, seed) for signature mins and
  the band-bucket self-join — exactly the shuffles the algorithm requires;
- the LSH band join is an equi-join on (band, band_key), so Catalyst
  shuffle-hash/sort-merge partitions candidates by bucket: no all-pairs
  comparison ever materializes. At 100 TB the band join's fan-out is
  bounded by bucket sizes, the textbook LSH property.

Cross-engine determinism: the hash family is double hashing over ONE md5
per shingle — ``h1``/``h2`` are the first/second 14 hex digits of
``md5(shingle)`` as 56-bit ints, and minhash *i* minimizes ``h1 + i*h2``
(Kirsch–Mitzenmacher construction). Integer arithmetic is identical in
Spark and DuckDB, so signatures, candidate pairs, and Jaccard scores
hash-match the oracle exactly (Spark's ``hash()`` is Murmur3 and would NOT
match DuckDB; md5 is the portable choice, SURVEY §2.A5 hash-identity note).
One md5 instead of K per shingle makes the map side ~K× cheaper — at 100 TB
the shingle hash scan dominates dedup cost, so this is the difference
between 1× and 12× corpus-hash throughput. No overflow: ``h1 + 11*h2 <
12·2^56 < 2^63``.

Defaults: 3-word shingles, k=12 minhashes, 4 bands × 3 rows.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_mpp_spark.operators.text import tokens
from duckdb_mpp_spark.queries import Query, ordered_small, register
from duckdb_mpp_spark.sources import load_table

K_MINHASH = 12
ROWS_PER_BAND = 3
N_BANDS = K_MINHASH // ROWS_PER_BAND
SHINGLE_WORDS = 3


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on the content hash: one row per input with its
    duplicate-group size and whether it is the kept representative (min id).

    Group stats are COUNT/MIN over a window on the hash — ONE shuffle of
    (hash, id) and one corpus scan; the groupBy + self-join formulation
    exchanges the 2-column (hash, id) stream twice (no shared aggregate
    exchange exists to reuse — unlike substrings.py, the probe side here
    is the raw stream). Skew trade, stated honestly: a huge duplicate
    group (boilerplate/empty docs) is one window partition processed by
    ONE task — WindowExec's buffer spills to disk, so it degrades to a
    linear single-task straggler bounded by the largest group, while the
    join shape would stay parallel via AQE skew-split at the cost of a
    second corpus-stream exchange. For a 2-column stream the window wins
    until group sizes reach task-straggler scale; NULL-text rows are
    already singletons (below), which removes the one unboundedly-hot
    group a real crawl is guaranteed to have."""
    from pyspark.sql import Window

    w = Window.partitionBy("h")
    # NULL text must not form one giant duplicate group (review r4:
    # md5(NULL) is NULL and window partitioning treats NULL as a single
    # partition, so 1000 fetch-failure docs would elect one keeper and
    # flag 999 as removable duplicates) — give each NULL-text doc a
    # per-row hash so it is its own singleton group.
    h = F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("__null__"), F.col(id_col).cast("string")),
    )
    return (
        df.select(h.alias("h"), F.col(id_col))
        .withColumn("group_size", F.count("*").over(w))
        .withColumn("keeper", F.min(id_col).over(w))
        .select(
            id_col,
            "group_size",
            (F.col(id_col) == F.col("keeper")).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------

def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Guarantee map-side parallelism for CPU-heavy expression stages.

    A small corpus file arrives as one scan partition, which would serialize
    the shingle/hash map work onto a single core; repartition on the id only
    when the scan under-parallelizes (#partitions < cores). At 100 TB the
    input already has thousands of partitions and this is a no-op — no extra
    shuffle on the big path.

    Call this ONLY on scan-rooted inputs: under AQE, reading
    ``df.rdd.getNumPartitions()`` on a plan that contains shuffles executes
    those shuffle stages just to finalize partitioning — on a plain file
    scan it is free. Frames that already passed through a shuffle are at
    ``spark.sql.shuffle.partitions`` and don't need spreading."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # queryExecution().toRdd() — the JVM-internal-row RDD, NOT df.rdd:
    # the Python-facing .rdd wraps the plan in an InternalRow→Row
    # conversion (javaToPython) whose construction alone cost ~65 ms of
    # driver wall per call (measured r13, 8 calls per bench sweep);
    # toRdd() finalizes the same physical partitioning in ~2 ms. Same
    # caveat as before: scan-rooted inputs only.
    if df._jdf.queryExecution().toRdd().getNumPartitions() < target:
        return df.repartition(target, F.col(id_col))
    return df


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SHINGLE_WORDS,
) -> DataFrame:
    """Word k-gram shingles, exploded to (id, shingle).

    Shape matters: exploding an index sequence and assembling each gram with
    ``concat_ws(element_at...)`` keeps the whole stage in codegen. The
    obvious ``transform(sequence, i -> array_join(slice(ws, i, k)))`` builds
    the gram array through nested higher-order lambdas, which evaluate
    interpreted — measured 0.56 s vs 0.34 s per corpus pass at sf0.1 and
    ~4× slower on first (codegen-warmup) execution. ``concat_ws`` skips the
    NULLs that ``try_element_at`` yields past the end of short docs, matching
    ``array_join``'s shorter-slice output exactly (value parity verified;
    plain ``element_at`` would THROW on docs shorter than the shingle)."""
    t = df.select(F.col(id_col), tokens(text_col).alias("t"))
    idx = t.where(F.size("t") > 0).select(
        # Zero-token docs (empty/whitespace/NULL text) emit NO shingles
        # (review r4): the old path gave every such doc the identical
        # empty-string gram, i.e. one identical minhash signature — a
        # degenerate LSH bucket generating O(empties²) candidate pairs and
        # certifying unrelated empty docs as jaccard-1.0 duplicates.
        # Signature-less docs simply never become near-dup candidates,
        # consistent with simhash32 (explode of an empty token array).
        id_col,
        "t",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("t") - (k - 1), F.lit(1)))
        ).alias("i"),
    )
    parts = ", ".join(f"try_element_at(t, i + {j})" for j in range(k))
    return idx.selectExpr(id_col, f"concat_ws(' ', {parts}) AS sh")


def _draws_md5(gram_str):
    """(h1, h2) double-hashing draw from an md5 over the gram STRING —
    the oracle-portable family (DuckDB reproduces md5 bit-for-bit). 56-bit
    values so ``h1 + i*h2`` cannot overflow int64 under ANSI arithmetic.

    ONE definition consumed by :func:`minhash_wide` AND the fused
    :func:`minhash_wide_with_grams` (ADVICE r9): the small/large-regime
    value-identity of the jaccard gates depends on the two regimes drawing
    bit-identical (h1, h2) — a shared helper makes a silent divergence
    impossible rather than merely tested-against."""
    hx = F.md5(gram_str)
    return (
        F.conv(F.substring(hx, 1, 14), 16, 10).cast("bigint"),
        F.conv(F.substring(hx, 15, 14), 16, 10).cast("bigint"),
    )


def _draws_fast(sh64):
    """(h1, h2) draw from the production xxhash64 family over the 64-bit
    token-window hash (:func:`shingle_hashes` output — no gram string, no
    md5). Truncated to 56 bits to match the md5 family's overflow-safe
    range. Shared by :func:`minhash_wide_fast` and the fused variant —
    same single-definition argument as :func:`_draws_md5`."""
    return (
        F.shiftrightunsigned(sh64, 8),
        F.shiftrightunsigned(F.xxhash64(sh64), 8),
    )


def _minhash_aggs(h: DataFrame, id_col: str, *extra):
    """The K parallel ``min(h1 + i*h2)`` aggregates in ONE groupBy — the
    hash evaluation happens map-side and the shuffle carries only per-doc
    partial minima. Shared by all three signature variants so the
    signature semantics cannot drift between them."""
    # F.expr strings: one py4j round trip per aggregate instead of the
    # ~8 of a chained Column build (r13 construction-floor rework — see
    # _simhash_bit_sums' note; same expression tree either way)
    mins = [F.expr(f"min(h1 + {s} * h2) AS mh{s}") for s in range(K_MINHASH)]
    return h.groupBy(id_col).agg(*mins, *extra)


def minhash_wide(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc K-wide minhash signature: (id, mh0..mh{K-1}).

    All K minhashes are computed as parallel ``min`` aggregates in ONE
    groupBy — the k-way hash evaluation happens map-side and the shuffle
    carries only per-doc partial minima (K small values per doc), not
    K× the shingle stream. At 100 TB this is the difference between
    shuffling ~K·corpus and shuffling ~K·#docs."""
    sh = shingles(df, id_col, text_col)
    h1, h2 = _draws_md5(F.col("sh"))
    h = sh.select(F.col(id_col), h1.alias("h1"), h2.alias("h2"))
    return _minhash_aggs(h, id_col)


def minhash_wide_with_grams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    fast: bool = False,
) -> DataFrame:
    """(id, mh0..mh{K-1}, g) — ONE corpus pass computing BOTH the
    md5-family minhash signature and the doc's distinct gram SET (64-bit
    ``xxhash64`` of the gram string — injective modulo 2^-64 collisions,
    the same gram-identity argument as :func:`shingle_hashes`; the oracle
    compares resulting Jaccard SCORES, never gram encodings).

    Small-regime fusion for the jaccard gates (r9): the candidate-filtered
    verify (:func:`jaccard_verify_from_docs`) exists so a 100 TB run never
    gram-sets the whole corpus — but it pays a SECOND shingle pass plus
    the semi-join/collect subtree to restrict that pass to candidates.
    When the whole corpus is broadcast-sized anyway (the gate's
    ``lsh_pairs`` regime), collecting every doc's gram set inside the
    signature aggregation is strictly less work: the shingle/hash stream
    is evaluated once, the groupBy rides the id partitioning the gate
    already created, and per-row ``collect_set`` memory is the same order
    as the doc's own text column. Callers above the switch keep the
    candidate-filtered path — this function must NOT be fed an unbounded
    corpus (its output is ~1.3× corpus bytes wide).

    ``fast=True`` draws (h1, h2) from the production xxhash64 family
    (:func:`minhash_wide_fast`) instead of md5 — same fusion, no gram
    string hashing beyond the one xxhash64 the gram set itself needs."""
    if fast:
        # token-window hashes straight from shingle_hashes: h1/h2 derive
        # from the same 64-bit gram hash the gram set stores — zero extra
        # hashing per gram beyond the one xxhash64("sh") for h2.
        s0 = shingle_hashes(df, id_col, text_col)
        h1, h2 = _draws_fast(F.col("sh"))
        h = s0.select(
            F.col(id_col),
            h1.alias("h1"),
            h2.alias("h2"),
            F.col("sh").alias("gh"),
        )
    else:
        sh = shingles(df, id_col, text_col)
        h1, h2 = _draws_md5(F.col("sh"))
        h = sh.select(
            F.col(id_col),
            h1.alias("h1"),
            h2.alias("h2"),
            F.xxhash64("sh").alias("gh"),
        )
    return _minhash_aggs(h, id_col, F.collect_set("gh").alias("g"))


def minhash_bands(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """LSH band signatures: (id, band, band_key). band_key is the
    concatenation of ``ROWS_PER_BAND`` consecutive minhashes (see
    :func:`minhash_wide` for the one-shuffle signature computation; the
    banding explode itself lives in :func:`_bands_from_wide` so the batch
    gate, the estimate gate, and the streaming path share ONE band-key
    encoding)."""
    return _bands_from_wide(minhash_wide(df, id_col, text_col), id_col)


def minhash_wide_fast(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Production-hash minhash signature: same (K_MINHASH, double-hashing)
    family as :func:`minhash_wide`, with ``h1``/``h2`` drawn from
    ``xxhash64`` over the token window (:func:`shingle_hashes` — no gram
    string, no md5) instead of one md5 per gram string.

    Why two variants (VERDICT r7 #2): md5 exists ONLY so the DuckDB
    oracle can reproduce signatures bit-for-bit; a deployment has no
    oracle and should not pay cryptographic hashing on every gram of a
    100 TB corpus — md5 is ~10× slower per byte than xxhash64 and needs
    the ~40-byte gram string materialized first. At sf0.1 the wall delta
    is inside session noise (scheduling dominates at that scale — the
    twin gates time within ~5% of each other in every checked-in
    BENCH_r* run), but the saving is pure per-byte map work, so it grows
    linearly with corpus size while the scheduling floor does not.

    Banding over this family selects a (deterministically) different
    candidate subset than the md5 family — candidate recall is a property
    of the hash draw, not of correctness. What is hash-family-INVARIANT:
    token-identical docs have identical signatures in every family, so
    jaccard-1.0 recall is exactly 1 by construction — the fast gate's
    oracle certifies precisely that invariant (see
    ``dedup_ngram_jaccard_fast``), while near-dup semantics stay covered
    by the md5 twin gate, which shares every line of this pipeline except
    the two hash columns. Values are truncated to 56 bits
    (``shiftrightunsigned(…, 8)``), matching the md5 variant's range so
    ``h1 + i·h2`` cannot overflow int64 under ANSI arithmetic."""
    s = shingle_hashes(df, id_col, text_col)
    h1, h2 = _draws_fast(F.col("sh"))
    h = s.select(F.col(id_col), h1.alias("h1"), h2.alias("h2"))
    return _minhash_aggs(h, id_col)


def minhash_bands_fast(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """LSH band signatures over the production hash family (see
    :func:`minhash_wide_fast`); banding encoding shared with the md5
    variant via :func:`_bands_from_wide`."""
    return _bands_from_wide(minhash_wide_fast(df, id_col, text_col), id_col)


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str = "doc_id", *, materialize: bool = True
) -> DataFrame:
    """Distinct candidate pairs sharing at least one band bucket.

    ``materialize=True`` (default): the band table is materialized
    (``localCheckpoint``) before the self-join — signatures are tiny
    (N_BANDS short rows per doc — ~10⁻³ of corpus bytes) while their
    lineage is the full shingle→hash pipeline, so without materialization
    both join sides would recompute the corpus scan, and ITERATIVE
    consumers (connected components re-reads pairs per round) would
    recompute it once per action. Same move a 100 TB run wants: write
    signatures once, join twice. EAGER since r8 (here and at every
    multi-consumer checkpoint in this module): ``eager=False`` defers
    materialization to first use, and AQE submits independent query
    stages CONCURRENTLY (``withThreadLocalCaptured`` jobs), so the
    consumers raced to compute the not-yet-checkpointed RDD — observed
    live as five parallel 32-task evaluations of the same corpus
    pipeline in one triangle-count run (15 jobs / ~1.5 s in affected
    sessions vs 7 jobs / ~0.3 s; session-bimodal, which also explains a
    slice of the cross-session bench variance attributed to box noise).
    Eager materialization runs the pipeline exactly once, synchronously,
    before any consumer stage exists — measured equal in the fast mode
    and immune to the slow one.

    ``materialize=False`` (r8): for single-action consumers (the jaccard
    gate collects once), an explicit ``repartition(band, band_key)``
    makes BOTH self-join sides the same canonical exchange subtree, so
    Catalyst plans one Exchange + ReusedExchange — the corpus pipeline
    still runs exactly once per action, with no checkpoint job and no
    RDD-scan stats blackout (a localCheckpoint reports unknown sizes, so
    AQE stops broadcasting downstream joins; measured r8: the
    checkpoint-free gate flow is −0.25 s at sf0.1, 13 jobs → 10). The
    pre-partitioning also satisfies the join's distribution requirement,
    so the join itself adds no exchange, and AQE's skew-join split still
    applies to a pathological hot band bucket."""
    if materialize:
        bands = bands.localCheckpoint(eager=True)
        a = bands.select(
            F.col(id_col).alias("doc_a"), F.col("band"), F.col("band_key")
        )
        b = bands.select(
            F.col(id_col).alias("doc_b"), F.col("band"), F.col("band_key")
        )
    else:
        bands = bands.repartition("band", "band_key")
        a = bands.alias("a").select(
            F.col(id_col).alias("doc_a"), F.col("band"), F.col("band_key")
        )
        b = bands.alias("b").select(
            F.col(id_col).alias("doc_b"), F.col("band"), F.col("band_key")
        )
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify_from_docs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    candidate_repartition: bool = True,
) -> DataFrame:
    """Jaccard verify with the candidate filter pushed BELOW the shingle
    computation (new r4): restrict ``docs`` to pair members first, then
    shingle only those. (The pre-r4 shape semi-joined the shingle STREAM,
    which still tokenized and shingled the entire corpus before dropping
    non-candidates — Catalyst will not push a semi-join under the
    Generate node; that generic-stream variant was removed in r8 after
    its last caller migrated here.) After LSH, candidates are a small fraction of
    the corpus (banding exists precisely to make them sparse), so at
    100 TB this turns the verify stage's second corpus pass into a pass
    over candidate docs only. Shingle keys are 64-bit hashes (same
    shuffle-bytes trade as the gate query).

    r9 gram-SET shape (replacing the r8 two-routing-join + window shape,
    VERDICT r8 #1 — stage count, not compute, was the gate's residual):
    each candidate doc's distinct gram set is collected into ONE array
    row (``collect_set`` — per-row memory is the same order as the
    doc's own text column, which the pipeline already holds), and the
    intersection is computed per PAIR as a single ``array_intersect``
    expression — no gram-level shuffle, no window sort, no final groupBy:
    the two exchanges and the window the old shape spent on routing grams
    to pairs become one join stage against the gram-set table. ``pairs``
    is consumed twice (candidate explode + the final probe) through its
    one distinct exchange; the gram-set table is consumed twice (doc_a /
    doc_b sides) through ONE broadcast (size-switched hint bounded by the
    broadcast PAYLOAD — the ``jaccard_gram_sets`` regime; past it
    AQE's runtime decision — broadcast when the CANDIDATE set is small,
    shuffle join otherwise — takes over; the shuffle fallback moves
    array rows, ~half the bytes of the old (id, sh) gram stream).
    Zero-intersection candidate pairs now surface with jaccard 0.0
    instead of being dropped by the inner gram join — callers threshold
    anyway, and a candidate pair IS a 0-similarity fact, not an absence.

    ``candidate_repartition`` (r8 plan audit, size-aware since r9): the
    explicit repartition places the doc-keyed exchange on candidate TEXTS
    (below the shingle explode), keeps the corpus scan+spread subtree
    canonical with the minhash branch's (one corpus exchange for the
    whole gate), and the collect_set groupBy rides it (partitioning ⊆
    grouping keys). Callers that KNOW ``docs`` is already id-partitioned
    (the gates, whose _spread repartitioned a small scan) pass False —
    the r9 interleaved A/B on this shape measured that consistently
    faster at sf0.1 (min 1.34 s vs 1.45 s over 6 reps) even though it
    plans one more AQE stage; for unpartitioned inputs True stays the
    default so the exchange lands on texts, not grams."""
    cands = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias(id_col)
    )
    docs_c = docs.join(cands, id_col, "left_semi")
    if candidate_repartition:
        docs_c = docs_c.repartition(id_col)
    gsets = (
        shingle_hashes(docs_c, id_col, text_col)
        .groupBy(id_col)
        .agg(F.collect_set("sh").alias("g"))
    )
    from duckdb_mpp_spark.table import regime

    # The broadcast payload is the candidate docs' FULL gram sets, NOT one
    # row per doc — so its regime bounds the payload rather than sharing
    # span_owner_broadcast's per-doc-row bound (review r9: a 3 GiB
    # duplicate-heavy corpus would force a multi-GiB broadcast AQE cannot
    # veto)
    return jaccard_score_pairs(
        gsets, pairs, id_col,
        broadcast_sets=regime("jaccard_gram_sets", docs) == "broadcast",
    )


def jaccard_score_pairs(
    gsets: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    broadcast_sets: bool,
) -> DataFrame:
    """Score candidate ``pairs`` against a per-doc gram-SET table
    ``(id, g: array<bigint>)``: jaccard = |A∩B| / (|A|+|B|−|A∩B|) as one
    ``array_intersect`` expression per pair — no gram-level shuffle, no
    window, no groupBy (see :func:`jaccard_verify_from_docs` for why this
    beats routing grams to pairs). The gram-set table is consumed twice
    (doc_a / doc_b sides) through ONE broadcast when ``broadcast_sets``
    (callers bound the PAYLOAD — see the size regimes at both call
    sites); otherwise AQE's runtime broadcast-vs-shuffle decision applies.
    Zero-intersection candidate pairs surface with jaccard 0.0 — a
    candidate pair IS a 0-similarity fact, not an absence."""
    g = F.broadcast(gsets) if broadcast_sets else gsets
    ga = g.select(F.col(id_col).alias("doc_a"), F.col("g").alias("g_a"))
    gb = g.select(F.col(id_col).alias("doc_b"), F.col("g").alias("g_b"))
    i = F.size(F.array_intersect("g_a", "g_b"))
    na, nb = F.size("g_a"), F.size("g_b")
    return (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                i.cast("double") / (na + nb - i).cast("double"), 6
            ).alias("jaccard"),
        )
    )



def shingle_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SHINGLE_WORDS,
) -> DataFrame:
    """(id, sh) where ``sh`` is a 64-bit hash of the word k-gram — the
    verify-path variant of :func:`shingles` that never materializes the
    gram STRING. ``xxhash64(tok_i, …, tok_{i+k-1})`` hashes the token
    tuple directly; whitespace tokens contain no spaces, so the tuple ↔
    ``concat_ws(' ')`` gram bijection holds, and both skip the NULLs
    ``try_element_at`` yields past short docs — set cardinalities match
    the string formulation to 2^-64 collisions (the DuckDB oracle compares
    resulting Jaccard SCORES, never gram encodings). Measured r6: the
    verify shingle stage was the single hottest stage of the jaccard gate
    (5.8 s of 13 s total CPU at sf0.1), mostly concat_ws string assembly."""
    t = df.select(F.col(id_col), tokens(text_col).alias("t"))
    idx = t.where(F.size("t") > 0).select(
        id_col,
        "t",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("t") - (k - 1), F.lit(1)))
        ).alias("i"),
    )
    h = F.xxhash64(*[F.try_element_at("t", F.col("i") + j) for j in range(k)])
    return idx.select(id_col, h.alias("sh"))


# ---------------------------------------------------------------------------
# incremental dedup (new batch vs persisted index)
# ---------------------------------------------------------------------------

def incremental_dedup(
    index_bands: DataFrame,
    batch_bands: DataFrame,
    id_col: str = "doc_id",
    *,
    materialize_batch: bool = True,
    prefilter: bool = True,
    broadcast_ref: bool = False,
) -> DataFrame:
    """Dedupe a NEW batch against an already-indexed corpus — the daily-crawl
    step of a training-data pipeline. Both inputs are band-signature tables
    as produced by :func:`minhash_bands` (the index side persisted from prior
    runs; ~10⁻³ of corpus bytes, so at 100 TB of corpus the index join input
    is ~100 GB of signatures, never the corpus itself).

    Returns one row per batch doc: ``(doc_id, verdict, dup_of)`` where
    verdict ∈ {'dup_index', 'dup_batch', 'new'} — matched an indexed doc,
    matched an earlier (smaller-id) doc within the batch, or genuinely new.
    ``dup_of`` is the smallest matching doc id (index match wins), NULL for
    new docs.

    Scale shape (r6 one-join rework): the index bands and the batch's own
    earlier-doc bands are unioned into ONE tagged reference stream, and the
    batch LEFT-joins it once on (band, band_key) — the left-outer keeps
    every batch doc (a doc whose bands hit nothing still yields a 'new'
    row), so the per-doc verdict falls out of a single conditional
    aggregation. The previous shape — two inner joins + two groupBys + a
    distinct + two left joins — computed the same thing in 7 shuffling
    operators; this is 1 join + 1 groupBy (measured 12 → 4 jobs, −25%
    wall at sf0.1, value-identical). Join cost is still bounded by band
    bucket co-occupancy exactly like :func:`lsh_candidate_pairs`.

    The left-outer's right side holds the WHOLE index, which a plain join
    would shuffle every daily run (only the right side of a left join can
    broadcast, and a real index never fits — review r6). The semi-join
    prefilter below keeps the claim honest: the batch's distinct band keys
    are a tiny set AQE broadcasts, so the index is filtered to
    co-occupying rows map-side — the index bytes that reach a shuffle are
    O(matches), not O(index). Store the index in a
    :func:`create_band_index` table and read it with
    :func:`probe_band_index`, and even the index BYTES READ are
    bucket-pruned to the batch's co-occupied band keys — no full index
    scan remains anywhere in the daily path. The index is NEVER
    re-hashed: new docs' bands append into the table (``insert``, one
    snapshot commit), keeping each daily run O(batch + matches).

    ``broadcast_ref=True`` is the small-regime fusion (r10, the jaccard
    recipe applied here): hint the unioned reference stream — index bands
    plus batch-earlier bands, i.e. SIGNATURES, ~10⁻³ of corpus bytes —
    onto the broadcast side of the left join, so the batch is never
    shuffled for the join at all and the only exchange left in the daily
    path is the per-doc verdict aggregation (map-side combined; moves one
    row per batch doc). Value-identical to the shuffle plan by
    construction — a join hint changes strategy, never semantics. Callers
    bound the PAYLOAD (the gate uses the ``incremental_index`` regime;
    signatures are ~10⁻³ of the source bytes). At 100 TB the index never fits
    a broadcast and the default shuffle plan with the bucket-pruned read
    + semi-join prefilter is the shape that scales."""
    if materialize_batch:
        # feeds both the join's left side and the reference union; skip via
        # materialize_batch=False when the caller already checkpointed (a
        # filter over a materialized frame re-reads cached blocks — a
        # second barrier buys nothing, r6)
        batch_bands = batch_bands.localCheckpoint(eager=True)
    nb = batch_bands.select(F.col(id_col).alias("new_id"), "band", "band_key")
    if prefilter:
        # map-side index prefilter: drops exactly the index rows the left
        # join below would drop anyway (no co-occupying batch band),
        # value-identical. Pass ``prefilter=False`` when the index side is
        # already a bucket-pruned table read — the read itself then bounds
        # index bytes at bucket granularity and the extra broadcast-build
        # stage buys nothing (r7 A/B).
        index_hits = index_bands.join(
            nb.select("band", "band_key").distinct(),
            ["band", "band_key"],
            "left_semi",
        )
    else:
        index_hits = index_bands
    ref = index_hits.select(
        F.col(id_col).alias("ref_id"),
        "band",
        "band_key",
        F.lit(True).alias("is_idx"),
    ).unionByName(
        nb.select(
            F.col("new_id").alias("ref_id"),
            "band",
            "band_key",
            F.lit(False).alias("is_idx"),
        )
    )
    if broadcast_ref:
        ref = F.broadcast(ref)
    # equi-keys (band, band_key) + residual (index rows always match;
    # batch rows only when strictly earlier) — stays a hashed equi-join
    j = nb.join(
        ref,
        (nb["band"] == ref["band"])
        & (nb["band_key"] == ref["band_key"])
        & (ref["is_idx"] | (ref["ref_id"] < nb["new_id"])),
        "left",
    )
    return (
        j.groupBy("new_id")
        .agg(
            F.min(F.when(F.col("is_idx"), F.col("ref_id"))).alias("dup_index"),
            F.min(F.when(~F.col("is_idx"), F.col("ref_id"))).alias("dup_batch"),
        )
        .select(
            F.col("new_id").alias(id_col),
            F.when(F.col("dup_index").isNotNull(), F.lit("dup_index"))
            .when(F.col("dup_batch").isNotNull(), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce("dup_index", "dup_batch").alias("dup_of"),
        )
    )


# ---------------------------------------------------------------------------
# persisted band index: a DistributedTable routed on the band key
# ---------------------------------------------------------------------------

def create_band_index(mpp, name: str, buckets: int):
    """Create the persisted band index ``name`` in ``mpp``'s warehouse: a
    DistributedTable ``(doc_id BIGINT, band INT, band_key TEXT)``
    hash-routed on ``band_key`` — the index carried inside the one storage
    primitive, as the reference carries shard-local indexes in shard DDL
    (``create_distributed_table.cpp:107``). Rows sharing a band key share
    a bucket, so a batch's co-occupying index rows sit in the buckets
    ``route(batch_bands)`` names; appends are snapshot commits, so a
    reader planned from a file list keeps its view across them, and the
    catalog fixes the schema and the bucket count."""
    return mpp.create_distributed_table(
        name, "doc_id BIGINT, band INT, band_key TEXT", "band_key", buckets
    )


def probe_band_index(tbl, batch_bands: DataFrame | None = None) -> DataFrame:
    """The rows of band-index table ``tbl`` a batch can match: only the
    buckets ``batch_bands``' band keys route to — one distinct-bucket
    collect, O(#buckets) driver metadata, as ``dml.upsert`` finds its
    affected buckets — or the whole table when ``batch_bands`` is None.
    The plan lists only those buckets' snapshot files, so a tiny daily
    batch reads almost nothing of the index and a batch touching every
    bucket degrades to a full (still parallel, still columnar) read."""
    from duckdb_mpp_spark.table import BUCKET_COL

    ids = None
    if batch_bands is not None:
        ids = [
            r[0]
            for r in tbl.route(batch_bands).select(BUCKET_COL).distinct().collect()
        ]
    return tbl.read_buckets(tbl.snapshot_files(), ids)


# session-lifetime persisted index per sf_dir for the dedup_incremental
# gate — the gate measures the DAILY RUN (index persisted from prior runs),
# so the index build happens once per (process, sf_dir), like _gate_tmpdir
# warehouses in queries/mpp_layer.py. Content is deterministic from sf_dir
# (minhash of the non-batch docs), so reuse can never change results.
_BAND_INDEX_TABLES: dict = {}

# fixture-scale bucket count: 16 keeps each bucket a real file (~1k keys)
# instead of confetti — A/B r7: 16 vs 64 buckets was −6% gate wall (fewer
# listing/scan-planning units) with identical pruning semantics. At 100 TB
# of corpus the signatures are ~100 GB; size the count to ~tens of MB of
# signatures per bucket.
_GATE_INDEX_BUCKETS = 16


def _persisted_band_index(spark, sf_dir: str):
    """The gate's band index table for ``sf_dir``, built on first use. It
    stores ONE row per band key — the smallest doc id holding it. For the
    verdict that is lossless (``dup_of`` is the min over matching index
    docs = the min over matched keys' per-key mins, also across append
    generations) and it bounds the daily join's fan-out at O(batch bands):
    a hot band key held by a million indexed docs joins as ONE row."""
    tbl = _BAND_INDEX_TABLES.get(sf_dir)
    if tbl is None:
        from duckdb_mpp_spark.mpp import MppSession
        from duckdb_mpp_spark.tmputil import session_tmpdir

        mpp = MppSession(spark, session_tmpdir("band_index_"))
        tbl = create_band_index(mpp, "band_index", _GATE_INDEX_BUCKETS)
        idx_docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id").where(
            F.col("doc_id") % 7 != F.lit(0)
        )
        tbl.insert(
            minhash_bands(idx_docs)
            .groupBy("band", "band_key")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        _BAND_INDEX_TABLES[sf_dir] = tbl
    return tbl


# ---------------------------------------------------------------------------
# simhash (32-bit, md5-hex-digit arithmetic — portable to the oracle)
# ---------------------------------------------------------------------------

def simhash32(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash over whitespace tokens (with multiplicity).

    bit_j(token) = bit (j mod 4) of hex digit (j div 4) of md5(token);
    fingerprint bit j is set when sum over tokens of (2*bit - 1) > 0.

    Shape (VERDICT r01 fix): stays row-per-token — the 32 bit contributions
    are 32 column expressions over one materialized md5 per token, summed by
    32 parallel aggregates in ONE groupBy (map-side combine, per-doc partials
    of 32 longs). The previous formulation exploded every token ×32 before
    aggregating — pure compute/materialization tax at corpus scale.
    """
    sums = _simhash_bit_sums(df, id_col, text_col, bits=32)
    # One parsed SQL string instead of 32 chained when/otherwise Column
    # builds: the py4j round trips of per-bit Column construction were
    # ~0.5 s of driver wall per query (measured r13; the job itself is
    # ~0.3 s). CASE WHEN chain is the same expression tree the Column
    # API built.
    fp = " + ".join(
        f"CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
        for j in range(32)
    )
    return sums.selectExpr(id_col, f"CAST(0 AS BIGINT) + {fp} AS simhash")


def _simhash_bit_sums(
    df: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """Per-doc signed bit-contribution sums ``s0..s{bits-1}`` — ``bits``
    parallel aggregates over ONE materialized md5 per token, in one groupBy
    (map-side combine; see simhash32's shape note). md5 has 32 hex digits =
    128 usable bits, so any ``bits <= 128`` reads real hash entropy."""
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    # r13 per-task rework (guide §1.2 step 2): one integer word per 8 hex
    # digits via conv(…,16,10), bits extracted by shift+mask — replaces
    # 32 instr+substring+floor expressions per token (each allocating a
    # 1-char string) with 2 convs + 64 int ops. Bit definition unchanged:
    # digit d is the d-th hex char (most significant nibble first), so
    # bit j = (word(j div 32) >> (4·(7 − (j mod 32) div 4) + j mod 4)) & 1
    # — exactly bit (j mod 4) of hex digit (j div 4 + 1). A/B sf0.1:
    # value-identical on every simhash gate, ~−25% on the compute stage.
    n_words = (bits + 31) // 32
    # SQL strings, not chained Column builds: every F.xxx()/operator call
    # is a py4j round trip, and bits×~7 of them cost ~0.7–1.2 s of driver
    # wall per query construction (measured r13) — comparable to the
    # whole compute job. selectExpr/expr parse in the JVM in one trip.
    hexed = toks.selectExpr(
        id_col,
        *[
            f"CAST(conv(substring(md5(tok), {1 + 8 * w}, 8), 16, 10)"
            f" AS BIGINT) AS w{w}"
            for w in range(n_words)
        ],
    )

    def contrib(j: int) -> str:
        jj = j % 32
        shift = 4 * (7 - jj // 4) + (jj % 4)
        return f"CAST(shiftright(w{j // 32}, {shift}) & 1 AS INT) * 2 - 1"

    return hexed.groupBy(id_col).agg(
        *[F.expr(f"sum({contrib(j)}) AS s{j}") for j in range(bits)]
    )


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash, stored as TWO non-negative 32-bit halves:
    ``sim_hi`` = bits 32..63 (md5 hex digits 9..16), ``sim_lo`` = bits
    0..31 (digits 1..8); the conceptual fingerprint is
    ``sim_hi * 2^32 + sim_lo``.

    Why halves instead of one bigint: bit 63 would make a single BIGINT
    fingerprint negative, and every banding block extraction would then
    need sign-aware shifts that differ between Spark and DuckDB. Two
    non-negative halves keep all div/mod block arithmetic portable and
    bit-identical in both dialects — and hamming distance is just the sum
    of two ``bit_count(xor)`` terms.

    This is the production-scale fingerprint ADVICE r4 asked for: with
    32-bit fingerprints and 5 blocks, per-block keys have only 2^6..2^7
    values, so the banded self-join is ~all-pairs/100 — quadratic in n for
    ANY corpus. At 64 bits the same 5-block construction yields 2^12..2^13
    keys per block, pushing the quadratic term down by ~2^6."""
    sums = _simhash_bit_sums(df, id_col, text_col, bits=64)
    # single parsed SQL string per half (see simhash32's construction note)
    def pack(js: range, base: int) -> str:
        body = " + ".join(
            f"CASE WHEN s{j} > 0 THEN CAST({1 << (j - base)} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
            for j in js
        )
        return f"CAST(0 AS BIGINT) + {body}"

    return sums.selectExpr(
        id_col,
        f"{pack(range(32, 64), 32)} AS sim_hi",
        f"{pack(range(0, 32), 0)} AS sim_lo",
    )


def _simhash_blocks(n_blocks: int, bits: int = 32) -> list[tuple[int, int]]:
    """(divisor, modulus) pairs extracting ``n_blocks`` contiguous bit
    blocks covering all ``bits`` — block b is ``(fp div divisor) % modulus``
    in both SQL dialects (fp is non-negative, so div/mod are portable)."""
    out = []
    for b in range(n_blocks):
        start = bits * b // n_blocks
        end = bits * (b + 1) // n_blocks
        out.append((1 << start, 1 << (end - start)))
    return out


# oracle-mirrored constants for the default max_hamming=4 (5 blocks)
_SIMHASH_N_BLOCKS = 5
_SIMHASH_DIVS = ", ".join(str(d) for d, _ in _simhash_blocks(_SIMHASH_N_BLOCKS))
_SIMHASH_MODS = ", ".join(str(m) for _, m in _simhash_blocks(_SIMHASH_N_BLOCKS))


def simhash_neighbor_pairs(
    sim: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 4,
    *,
    materialize: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded on
    ``max_hamming + 1`` disjoint bit blocks (pigeonhole: a pair within
    ``max_hamming`` flipped bits must agree on at least one block, so the
    blocked equi-join has GUARANTEED recall — the r4 review showed the old
    single top-16-bit prefix band silently dropped ~half of all hamming-1
    pairs whose differing bit fell inside the prefix).

    Scale notes: candidates = pairs sharing any (block index, block value)
    key — never an all-pairs cross. With 32-bit fingerprints and 5 blocks
    the per-block key space is 2^6..2^7, so worst-case fan-out on a
    low-entropy corpus is real; the production scale-up is a wider
    fingerprint (64/128-bit) with the same block construction, not a
    different algorithm. A pair can agree on several blocks, so pairs are
    made distinct before the hamming filter.

    Fingerprints are materialized before the self-join (same reasoning as
    ``lsh_candidate_pairs``: one 8-byte row per doc vs recomputing the
    token-bit pipeline for both join sides). ``materialize=False`` (r13,
    the lsh_candidate_pairs recipe): for single-action consumers (the
    gates sort/collect once) an explicit ``repartition(blk, bval)`` makes
    both self-join sides the same canonical exchange subtree, so Catalyst
    plans one Exchange + ReusedExchange — the token-bit pipeline runs
    exactly once per action with no checkpoint job and no RDD-scan stats
    blackout, and the join's distribution requirement is already
    satisfied (AQE's skew split still applies to a hot block value)."""
    blocks = _simhash_blocks(max_hamming + 1)
    block_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.expr(f"(simhash div {d}) % {m}").alias("bval"),
            )
            for i, (d, m) in enumerate(blocks)
        ]
    )
    if materialize:
        sim = sim.localCheckpoint(eager=True)
    banded = sim.select(
        F.col(id_col), F.col("simhash"), F.explode(block_structs).alias("x")
    ).select(id_col, "simhash", "x.blk", "x.bval")
    if not materialize:
        banded = banded.repartition("blk", "bval")
    a = banded.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"), "blk", "bval"
    )
    b = banded.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"), "blk", "bval"
    )
    return (
        a.join(b, ["blk", "bval"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            F.expr("CAST(bit_count(CAST(sim_a AS BIGINT) ^ CAST(sim_b AS BIGINT)) AS INT)"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def _simhash64_block_sql(start: int, end: int, div_op: str) -> str:
    """SQL for block bits ``[start, end)`` of the two-halves 64-bit
    fingerprint — piecewise over ``sim_lo``/``sim_hi`` so every div/mod
    operand stays non-negative (dialect-portable; ``div_op`` is ``div``
    for Spark, ``//`` for DuckDB). Single source of truth for BOTH
    dialects of the ``dedup_simhash64_pairs`` gate."""
    if end <= 32:
        return f"(sim_lo {div_op} {1 << start}) % {1 << (end - start)}"
    if start >= 32:
        return f"(sim_hi {div_op} {1 << (start - 32)}) % {1 << (end - 32)}"
    lo_width = 32 - start
    return (
        f"(sim_lo {div_op} {1 << start})"
        f" + (sim_hi % {1 << (end - 32)}) * {1 << lo_width}"
    )


def _simhash64_bounds(n_blocks: int) -> list[tuple[int, int]]:
    return [(64 * b // n_blocks, 64 * (b + 1) // n_blocks) for b in range(n_blocks)]


def simhash64_neighbor_pairs(
    sim: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 4,
    *,
    materialize: bool = True,
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash hamming distance, banded on
    ``max_hamming + 1`` disjoint bit blocks (pigeonhole-complete recall,
    same construction as the 32-bit variant). With the default 5 blocks
    each block carries 12-13 bits, so per-block keys are selective enough
    that candidate fan-out stays ~linear on real corpora — the quadratic
    32-bit bound (ADVICE r4) does not apply until n approaches 2^12 docs
    PER DISTINCT BLOCK VALUE. Hamming distance is the sum of the two
    halves' ``bit_count(xor)`` terms; fingerprints (two 8-byte columns per
    doc) are materialized before the self-join. ``materialize=False``:
    the single-action ReusedExchange shape — see
    :func:`simhash_neighbor_pairs`."""
    bounds = _simhash64_bounds(max_hamming + 1)
    block_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.expr(_simhash64_block_sql(s, e, "div")).alias("bval"),
            )
            for i, (s, e) in enumerate(bounds)
        ]
    )
    if materialize:
        sim = sim.localCheckpoint(eager=True)
    banded = sim.select(
        F.col(id_col), "sim_hi", "sim_lo", F.explode(block_structs).alias("x")
    ).select(id_col, "sim_hi", "sim_lo", "x.blk", "x.bval")
    if not materialize:
        banded = banded.repartition("blk", "bval")
    a = banded.select(
        F.col(id_col).alias("doc_a"),
        F.col("sim_hi").alias("hi_a"),
        F.col("sim_lo").alias("lo_a"),
        "blk",
        "bval",
    )
    b = banded.select(
        F.col(id_col).alias("doc_b"),
        F.col("sim_hi").alias("hi_b"),
        F.col("sim_lo").alias("lo_b"),
        "blk",
        "bval",
    )
    return (
        a.join(b, ["blk", "bval"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            F.expr(
                "CAST(bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) AS INT)"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# gate queries + oracles
# ---------------------------------------------------------------------------

_DUCK_TOKENS = "COALESCE(list_filter(string_split(lower(trim(text)), ' '), x -> x <> ''), [])"

_DUCK_SHINGLES = f"""
  words AS (SELECT doc_id, {_DUCK_TOKENS} AS ws FROM documents),
  shingles AS (
    -- zero-token docs emit no shingles (mirrors shingles(); review r4)
    SELECT doc_id, array_to_string(ws[i:i+{SHINGLE_WORDS - 1}], ' ') AS sh
    FROM words, LATERAL (SELECT unnest(range(1, greatest(len(ws) - {SHINGLE_WORDS - 1}, 1) + 1)) AS i) t
    WHERE len(ws) > 0
  )"""

_DUCK_BANDS = f"""
  WITH {_DUCK_SHINGLES},
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
  )"""


def incremental_index_oracle_sqls(
    index_table: str = "idx_bands", index_relation: str | None = None
) -> tuple[str | None, str]:
    """(build_sql, probe_sql) for the apples-to-apples incremental-dedup
    benchmark column (VERDICT r9 #1): the registry oracle recomputes the
    whole index inside the timed query while the Spark gate reads a
    PREBUILT index — so its bench rows showed the index payoff, not an
    engine ratio. ``probe_sql`` is the daily run only — minhash the
    batch, probe the persisted index, aggregate verdicts — exactly the
    work the Spark gate times.

    Two index sources:
    - ``index_relation`` given (the honest engine-vs-engine mode): a
      DuckDB relation expression over an ALREADY-PERSISTED index — e.g.
      ``read_parquet([...])`` over the snapshot file list of the very
      band-index table the Spark gate reads, so BOTH engines probe the
      same parquet artifact and neither gets an in-memory-table or
      recompute (dis)advantage. ``build_sql`` is None.
    - default: ``build_sql`` persists DuckDB's own band index for the
      non-batch corpus once (untimed, min-doc-per-key like the gate's
      table — value-identity with the Spark index is the gate's r7
      parity argument); used where no Spark index exists.

    Used by scripts/bench_sf1.py; the registry oracle stays
    self-contained (the driver runs one statement)."""
    def _bands_where(pred: str) -> str:
        return _DUCK_BANDS.replace(
            "FROM documents", f"FROM documents WHERE {pred}", 1
        )

    if index_relation is not None:
        build = None
        index_table = f"({index_relation})"
    else:
        build = (
            f"CREATE OR REPLACE TABLE {index_table} AS "
            + _bands_where("doc_id % 7 <> 0")
            + " SELECT band, band_key, MIN(doc_id) AS doc_id FROM bands GROUP BY 1, 2"
        )
    probe = (
        _bands_where("doc_id % 7 = 0")
        + f""",
        nb AS (SELECT * FROM bands),
        vs_index AS (
          SELECT n.doc_id, MIN(i.doc_id) AS dup_index
          FROM nb n JOIN {index_table} i
            ON n.band = i.band AND n.band_key = i.band_key
          GROUP BY 1
        ),
        vs_batch AS (
          SELECT a.doc_id, MIN(b.doc_id) AS dup_batch
          FROM nb a JOIN nb b
            ON a.band = b.band AND a.band_key = b.band_key AND b.doc_id < a.doc_id
          GROUP BY 1
        )
        SELECT d.doc_id,
               CASE WHEN c.dup_index IS NOT NULL THEN 'dup_index'
                    WHEN t.dup_batch IS NOT NULL THEN 'dup_batch'
                    ELSE 'new' END AS verdict,
               COALESCE(c.dup_index, t.dup_batch) AS dup_of
        FROM (SELECT DISTINCT doc_id FROM nb) d
        LEFT JOIN vs_index c USING (doc_id)
        LEFT JOIN vs_batch t USING (doc_id)
        ORDER BY d.doc_id
        """
    )
    return build, probe


def _register():
    def exact_fn(spark, sf_dir):
        # size-switched single-task plan (r9): in the sort_shape regime's
        # single-task arm, coalesce(1) BELOW the window makes CoalesceExec report
        # SinglePartition, which satisfies the (h)-window's clustering
        # requirement — NO exchange, no AQE stage-jobs: scan, window and
        # the final doc_id sort run as one task in one job, exactly the
        # one-thread plan DuckDB picks for a 2-column stream this size.
        # Past the budget the parallel window + range orderBy return
        # unchanged — at 100 TB this gate is the exchange-then-window
        # shape it always was.
        from duckdb_mpp_spark.table import regime

        docs = load_table(spark, sf_dir, "documents")
        if regime("sort_shape", docs) == "single_task":
            return ordered_small(exact_dedup(docs.coalesce(1)), "doc_id")
        return exact_dedup(docs).orderBy(F.asc_nulls_last("doc_id"))

    register(
        "dedup_exact",
        Query(
            spark=exact_fn,
            oracle="""
            SELECT d.doc_id, g.group_size, d.doc_id = g.keeper AS kept
            FROM documents d
            JOIN (SELECT COALESCE(md5(text), '__null__' || CAST(doc_id AS VARCHAR)) AS h,
                         COUNT(*) AS group_size, MIN(doc_id) AS keeper
                  FROM documents GROUP BY 1) g
              ON COALESCE(md5(d.text), '__null__' || CAST(d.doc_id AS VARCHAR)) = g.h
            ORDER BY d.doc_id
            """,
        ),
    )

    def bands_fn(spark, sf_dir):
        # ordered_result exchange=True (r13): per-(doc, band) rows track
        # the corpus; no range-sampling pass under the source-size switch
        from duckdb_mpp_spark.queries import ordered_result

        docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
        return ordered_result(
            minhash_bands(docs), docs, "doc_id", "band", exchange=True
        )

    register(
        "dedup_minhash_signatures",
        Query(
            spark=bands_fn,
            oracle=_DUCK_BANDS + "\nSELECT doc_id, band, band_key FROM bands ORDER BY doc_id, band",
        ),
    )

    def pairs_fn(spark, sf_dir):
        bands = minhash_bands(_spread(load_table(spark, sf_dir, "documents"), "doc_id"))
        # checkpoint shape (r13 A/B): reuse 1.32 s vs ckpt 0.97 s at sf0.1
        # — the ReusedExchange form pays two SMJ sorts of the exploded
        # band stream, dearer than one eager materialization of the tiny
        # signature rows; ordered_small (r13) drops the range sort's
        # bound-sampling job — the candidate pair list is result-sized
        return ordered_small(
            lsh_candidate_pairs(bands),
            "doc_a",
            "doc_b",
            exchange=True,
        )

    register(
        "dedup_minhash_lsh_pairs",
        Query(
            spark=pairs_fn,
            oracle=_DUCK_BANDS
            + """
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
            ORDER BY doc_a, doc_b
            """,
        ),
    )

    def _scored_pairs(spark, sf_dir, *, fast):
        """LSH candidates scored by exact gram-set jaccard — size-switched
        between the r9 FUSED small-regime plan and the candidate-filtered
        scale plan (both value-identical; the oracle checks the scores):

        fused (the lsh_pairs regime's small arm): ONE
        corpus pass computes signatures AND gram sets in the same groupBy
        (minhash_wide_with_grams), eagerly checkpointed so the banding
        self-join and the gram-set broadcast both read materialized rows —
        the verify branch's second shingle pass, its candidate semi-join,
        and its collect_set groupBy all disappear from the plan.

        exchange_reuse: the r8 checkpoint-free exchange-reuse flow — signatures and
        candidate-only gram sets each ride the one canonical corpus
        exchange; gram sets are computed for PAIR MEMBERS only, never the
        whole corpus (collect_set over an unbounded corpus is exactly what
        the fusion must not do at 100 TB). When _spread repartitioned
        (docs is not docs0), the verify branch skips its candidate-text
        repartition: the id partitioning it would create already exists."""
        from duckdb_mpp_spark.table import regime

        docs0 = load_table(spark, sf_dir, "documents")
        docs = _spread(docs0, "doc_id")
        if regime("lsh_pairs", docs0) == "fused":
            wide = minhash_wide_with_grams(docs, fast=fast).localCheckpoint(
                eager=True
            )
            pairs = lsh_candidate_pairs(_bands_from_wide(wide), materialize=False)
            return docs, jaccard_score_pairs(
                wide.select("doc_id", "g"), pairs, broadcast_sets=True
            )
        bands = minhash_bands_fast(docs) if fast else minhash_bands(docs)
        pairs = lsh_candidate_pairs(bands, materialize=False)
        return docs, jaccard_verify_from_docs(
            docs, pairs, candidate_repartition=docs is docs0
        )

    def jaccard_fn(spark, sf_dir):
        # gram keys are 64-bit hashes — ~5× fewer shuffle bytes than raw
        # gram strings, set semantics preserved to 2^-64 collisions (oracle
        # parity is on the resulting Jaccard scores, which are identical).
        # exchange=True (r14, guide §2.4/§1.1): without the barrier,
        # coalesce(1) reached back through the broadcast joins to the
        # pairs-distinct exchange, so candidate dedup + both gram-set
        # probes + every array_intersect ran as ONE task — profiled 0.45 s
        # of single-threaded CPU in the final stage at sf0.1. The
        # repartition(1) barrier keeps the scoring stage parallel and
        # collapses only the thresholded result rows.
        _, scored = _scored_pairs(spark, sf_dir, fast=False)
        return ordered_small(
            scored.where(F.col("jaccard") >= 0.5), "doc_a", "doc_b",
            exchange=True,
        )

    register(
        "dedup_ngram_jaccard",
        Query(
            spark=jaccard_fn,
            oracle=_DUCK_BANDS
            + """,
            pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
            ),
            dsh AS (SELECT DISTINCT doc_id, sh FROM shingles),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY 1),
            inter AS (
              SELECT p.doc_a, p.doc_b, COUNT(*) AS i
              FROM pairs p
              JOIN dsh a ON a.doc_id = p.doc_a
              JOIN dsh b ON b.doc_id = p.doc_b AND a.sh = b.sh
              GROUP BY 1, 2
            )
            SELECT i.doc_a, i.doc_b,
                   round(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= 0.5
            ORDER BY doc_a, doc_b
            """,
        ),
    )

    def jaccard_fast_fn(spark, sf_dir):
        # The PRODUCTION-hash pipeline (minhash_bands_fast: xxhash64 over
        # token windows, no md5, no gram strings — VERDICT r7 #2), run end
        # to end, certified on its hash-family-INVARIANT property: two
        # token-identical documents have identical signatures under EVERY
        # hash family, so they are always banded together, always verified
        # at jaccard 1.0, and always found — recall on that subset is
        # exactly 1 by construction, not by luck. The gate emits the count
        # of token-identical pairs the fast pipeline actually FOUND; the
        # oracle counts ALL token-identical pairs directly from the texts.
        # Equality certifies the full fast path (signatures → banding →
        # candidate join → exact verify → threshold) with an exact,
        # deterministic, hash-independent number. Near-dup (0.5 ≤ j < 1)
        # recall IS hash-draw-dependent and deliberately uncertified here
        # — it is covered by the md5 twin gate (`dedup_ngram_jaccard`),
        # which shares every pipeline line except the two hash columns.
        docs, scored = _scored_pairs(spark, sf_dir, fast=True)
        # Certificate shape is SIZE-SWITCHED (r14, the jaccard_certificate
        # regime):
        #
        # pair_members: the token-array frame feeds TWO joins (wa / wb sides)
        # with no exchange to reuse, so the old direct-join certificate
        # tokenized the FULL corpus once per side — two extra corpus
        # passes a 100 TB run must not pay. The pair list is result-sized
        # post-threshold: checkpoint it, restrict docs to pair MEMBERS
        # (the jaccard_verify_from_docs pattern), tokenize only those,
        # checkpoint the candidate-sized token frame once for both sides.
        # Value-identical: the certificate joins are inner on
        # doc_a/doc_b, so rows outside the pair list never contributed.
        #
        # direct: the token-array joins read the corpus directly (the two
        # synchronous checkpoint jobs cost more than two parallel tokenize
        # passes over a broadcast-sized corpus; broadcast hints on the
        # checkpointed frames did not recover it).
        from duckdb_mpp_spark.table import regime

        corpus = load_table(spark, sf_dir, "documents")
        if regime("jaccard_certificate", corpus) == "direct":
            found = scored.where(F.col("jaccard") >= 0.5)
            toks = docs.select("doc_id", tokens("text").alias("ws")).where(
                F.size("ws") > 0
            )
        else:
            found = scored.where(F.col("jaccard") >= 0.5).localCheckpoint(
                eager=True
            )
            cand = found.select(
                F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
            ).distinct()
            toks = (
                docs.join(cand, "doc_id", "left_semi")
                .select("doc_id", tokens("text").alias("ws"))
                .where(F.size("ws") > 0)
                .localCheckpoint(eager=True)
            )
        ident_found = (
            found.join(
                toks.select(
                    F.col("doc_id").alias("doc_a"), F.col("ws").alias("wa")
                ),
                "doc_a",
            )
            .join(
                toks.select(
                    F.col("doc_id").alias("doc_b"), F.col("ws").alias("wb")
                ),
                "doc_b",
            )
            .where(F.col("wa") == F.col("wb"))
        )
        return ident_found.agg(
            F.count(F.lit(1)).cast("long").alias("n_token_identical_pairs")
        )

    register(
        "dedup_ngram_jaccard_fast",
        Query(
            spark=jaccard_fast_fn,
            oracle=f"""
            WITH toks AS (
              SELECT doc_id, {_DUCK_TOKENS} AS ws FROM documents
            ),
            nz AS (SELECT doc_id, ws FROM toks WHERE len(ws) > 0)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_token_identical_pairs
            FROM nz a JOIN nz b ON a.ws = b.ws AND a.doc_id < b.doc_id
            """,
        ),
    )

    def incremental_fn(spark, sf_dir):
        # Deterministic batch split stands in for "today's crawl" (docs with
        # id % 7 == 0); the rest of the corpus is the ALREADY-INDEXED side.
        # The index is genuinely persisted — a band-index DistributedTable
        # written ONCE per (session, sf_dir) by _persisted_band_index and
        # only READ here, exactly like production where yesterday's index
        # is carried over, never re-hashed. Each run therefore pays: one
        # minhash pass over the BATCH (1/7 of the corpus — the only
        # re-hashing a daily run fundamentally needs), one bucket-pruned
        # index read, one join + one aggregation. The first invocation in a
        # session additionally builds the index (a full corpus pass + one
        # table insert); repeat invocations — and production daily runs —
        # do not.
        from duckdb_mpp_spark.table import regime

        docs = load_table(spark, sf_dir, "documents")
        # filter BEFORE spreading (r10): _spread repartitions on doc_id, and
        # applied to the raw table it shuffled all 7/7 of the corpus bytes
        # to then discard 6/7 at the batch filter — the filter is on the
        # partitioning column's value, so pushing it below the exchange is
        # value-neutral and makes the one pre-shuffle O(batch), the only
        # re-hashing a daily run fundamentally needs.
        batch_bands = minhash_bands(
            _spread(docs.where(F.col("doc_id") % 7 == F.lit(0)), "doc_id")
        ).localCheckpoint(eager=True)
        # small-regime fusion (r10): in the incremental_index regime's
        # broadcast arm the whole index's SIGNATURES are broadcast-sized,
        # so (a) the bucket-prune collect job buys nothing a full columnar
        # read doesn't already have, and (b) the left join broadcasts the
        # reference stream. Past it the r7 shape stands: bucket-pruned read
        # + shuffle join, the only plan when the index doesn't fit.
        small = regime("incremental_index", docs) == "broadcast"
        idx = probe_band_index(
            _persisted_band_index(spark, sf_dir), None if small else batch_bands
        )
        return ordered_small(
            incremental_dedup(
                idx,
                batch_bands,
                materialize_batch=False,
                prefilter=False,
                broadcast_ref=small,
            ),
            "doc_id",
        )

    register(
        "dedup_incremental",
        Query(
            spark=incremental_fn,
            oracle=_DUCK_BANDS
            + """,
            nb AS (SELECT * FROM bands WHERE doc_id % 7 = 0),
            ib AS (SELECT * FROM bands WHERE doc_id % 7 <> 0),
            vs_index AS (
              SELECT n.doc_id, MIN(i.doc_id) AS dup_index
              FROM nb n JOIN ib i ON n.band = i.band AND n.band_key = i.band_key
              GROUP BY 1
            ),
            vs_batch AS (
              SELECT a.doc_id, MIN(b.doc_id) AS dup_batch
              FROM nb a JOIN nb b
                ON a.band = b.band AND a.band_key = b.band_key AND b.doc_id < a.doc_id
              GROUP BY 1
            )
            SELECT d.doc_id,
                   CASE WHEN c.dup_index IS NOT NULL THEN 'dup_index'
                        WHEN t.dup_batch IS NOT NULL THEN 'dup_batch'
                        ELSE 'new' END AS verdict,
                   COALESCE(c.dup_index, t.dup_batch) AS dup_of
            FROM (SELECT DISTINCT doc_id FROM nb) d
            LEFT JOIN vs_index c USING (doc_id)
            LEFT JOIN vs_batch t USING (doc_id)
            ORDER BY d.doc_id
            """,
        ),
    )

    def simhash_fn(spark, sf_dir):
        # ordered_result (r13): per-doc fingerprint frame — no range-bound
        # sampling job at bench scale, parallel orderBy past the switch
        from duckdb_mpp_spark.queries import ordered_result

        docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
        return ordered_result(simhash32(docs), docs, "doc_id", exchange=True)

    register(
        "dedup_simhash",
        Query(
            spark=simhash_fn,
            oracle=f"""
            WITH toks AS (
              SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
            ),
            bits AS (
              SELECT doc_id, t.tok, j.j,
                     CAST(floor((strpos('0123456789abcdef',
                                        substring(md5(t.tok), CAST(j.j // 4 AS INT) + 1, 1)) - 1)
                                / ([1, 2, 4, 8][(j.j % 4) + 1])) AS INT) % 2 AS bit
              FROM toks t, (SELECT unnest(range(32)) AS j) j
            ),
            sums AS (
              SELECT doc_id, j, SUM(bit * 2 - 1) AS s FROM bits GROUP BY 1, 2
            )
            SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0 THEN CAST(round(pow(2, j), 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
            FROM sums GROUP BY doc_id ORDER BY doc_id
            """,
        ),
    )

    def simhash_pairs_fn(spark, sf_dir):
        # checkpoint shape (r13 A/B): reuse 2.42 s vs ckpt 1.51 s at
        # sf0.1 — materializing the 8-byte fingerprints once beats the
        # ReusedExchange form's two SMJ sorts of the 5×-exploded block
        # stream; ordered_small keeps the no-sampling single-task sort
        sim = simhash32(_spread(load_table(spark, sf_dir, "documents"), "doc_id"))
        return ordered_small(
            simhash_neighbor_pairs(sim),
            "doc_a",
            "doc_b",
            exchange=True,
        )

    register(
        "dedup_simhash_pairs",
        Query(
            spark=simhash_pairs_fn,
            oracle=f"""
            WITH toks AS (
              SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
            ),
            bits AS (
              SELECT doc_id, t.tok, j.j,
                     CAST(floor((strpos('0123456789abcdef',
                                        substring(md5(t.tok), CAST(j.j // 4 AS INT) + 1, 1)) - 1)
                                / ([1, 2, 4, 8][(j.j % 4) + 1])) AS INT) % 2 AS bit
              FROM toks t, (SELECT unnest(range(32)) AS j) j
            ),
            sums AS (SELECT doc_id, j, SUM(bit * 2 - 1) AS s FROM bits GROUP BY 1, 2),
            sim AS (
              SELECT doc_id,
                     CAST(SUM(CASE WHEN s > 0 THEN CAST(round(pow(2, j), 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
              FROM sums GROUP BY doc_id
            )
            , banded AS (
              SELECT doc_id, simhash, blk.i AS blk,
                     CAST(simhash // ([{_SIMHASH_DIVS}][blk.i + 1]) AS BIGINT)
                       % ([{_SIMHASH_MODS}][blk.i + 1]) AS bval
              FROM sim, (SELECT unnest(range({_SIMHASH_N_BLOCKS})) AS i) blk
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM banded a JOIN banded b
              ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
            ORDER BY doc_a, doc_b
            """,
        ),
    )

    def simhash64_pairs_fn(spark, sf_dir):
        # checkpoint shape — same r13 A/B verdict as simhash_pairs_fn
        # (reuse 3.30 s vs ckpt 2.89 s at sf0.1)
        sim = simhash64(_spread(load_table(spark, sf_dir, "documents"), "doc_id"))
        return ordered_small(
            simhash64_neighbor_pairs(sim),
            "doc_a",
            "doc_b",
            exchange=True,
        )

    _b64_cases = " ".join(
        f"WHEN {i} THEN {_simhash64_block_sql(s, e, '//')}"
        for i, (s, e) in enumerate(_simhash64_bounds(_SIMHASH_N_BLOCKS))
    )
    register(
        "dedup_simhash64_pairs",
        Query(
            spark=simhash64_pairs_fn,
            oracle=f"""
            WITH toks AS (
              SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
            ),
            bits AS (
              SELECT doc_id, t.tok, j.j,
                     CAST(floor((strpos('0123456789abcdef',
                                        substring(md5(t.tok), CAST(j.j // 4 AS INT) + 1, 1)) - 1)
                                / ([1, 2, 4, 8][(j.j % 4) + 1])) AS INT) % 2 AS bit
              FROM toks t, (SELECT unnest(range(64)) AS j) j
            ),
            sums AS (SELECT doc_id, j, SUM(bit * 2 - 1) AS s FROM bits GROUP BY 1, 2),
            sim AS (
              SELECT doc_id,
                     CAST(SUM(CASE WHEN s > 0 AND j >= 32
                              THEN CAST(round(pow(2, j - 32), 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS sim_hi,
                     CAST(SUM(CASE WHEN s > 0 AND j < 32
                              THEN CAST(round(pow(2, j), 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS sim_lo
              FROM sums GROUP BY doc_id
            ),
            banded AS (
              SELECT doc_id, sim_hi, sim_lo, blk.i AS blk,
                     CASE blk.i {_b64_cases} END AS bval
              FROM sim, (SELECT unnest(range({_SIMHASH_N_BLOCKS})) AS i) blk
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.sim_hi, b.sim_hi))
                        + bit_count(xor(a.sim_lo, b.sim_lo)) AS INT) AS hamming
            FROM banded a JOIN banded b
              ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sim_hi, b.sim_hi))
                  + bit_count(xor(a.sim_lo, b.sim_lo)) <= 4
            ORDER BY doc_a, doc_b
            """,
        ),
    )


_register()


# ---------------------------------------------------------------------------
# connected components → cluster assignment (pairs → dedup decisions)
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame, nodes: DataFrame, id_col: str = "doc_id", max_iter: int = 50
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction [Kiveris et al., "Connected Components in MapReduce and
    Beyond"] — O(log² n) rounds on ANY graph shape.

    r13 replacement of min-label propagation: propagation converges in
    O(diameter) rounds, and the sf0.1 near-dup graph empirically has a
    diameter-~31 chain of borderline pairs (32 measured rounds, ~10.6 s —
    the old docstring's "unions of tiny cliques → 2-3 rounds" does not
    survive contact with a real corpus, and a 100 TB corpus only grows
    longer chains). The alternating contraction converges in 6 rounds on
    the same graph (measured label-identical, 10.6 → ~5-7 s), and its
    round bound is corpus-independent — the property a 100 TB run needs.

    Each round: **large-star** connects every strictly-larger neighbor of
    u to m(u) = min(u ∪ N(u)); **small-star** connects every ≤-neighbor
    and u itself to the min of that closed ≤-neighborhood. Both phases
    are one groupBy + one equi-join over the (symmetrized) edge list —
    map-side combinable, AQE-skew-splittable, never a cartesian; a hot
    hub's star edges key-partition like any other rows. At the fixpoint
    the edge list is a star forest rooted at each component's min id.
    Checkpoints are LAZY (exempt from the r8 eager sweep): each round's
    convergence agg is the single strictly-sequential consumer, so round
    N materializes race-free and round N+1 reuses the blocks.

    Convergence detection: the (edge count, Σ xxhash64(u, v)) signature
    of the round's edge set — type-agnostic (ids need not be numeric) and
    equal across rounds iff the edge set is unchanged, up to the same
    2^-64 hash-collision trade every dedup gate makes; an unchanged edge
    set IS the star-forest fixpoint (both phases are deterministic
    functions of it).

    Returns (node, label) with label = min node id of the component —
    identical to the propagation result (cross-checked at sf0.1/sf0.01:
    zero label mismatches; the oracle and the long-chain/hostile fixtures
    pin it in tests).
    """
    # NULL endpoints and self-loops contribute nothing to connectivity
    # (candidate-pair producers already emit clean distinct pairs; the
    # phase predicates v > u / v <= u would drop NULL rows anyway, which
    # is exactly what propagation's equality joins did).
    E = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).where(
        F.col("doc_a").isNotNull()
        & F.col("doc_b").isNotNull()
        & (F.col("doc_a") != F.col("doc_b"))
    )
    # materialize the edge list once: its lineage is the whole LSH
    # pipeline, and round 1 consumes it twice (half-edge union)
    E = E.localCheckpoint(eager=False)
    prev_sig = None
    for _ in range(max_iter):
        # ---- large-star: strictly larger neighbors → min of closed nbhd
        half = E.select("u", "v").union(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = half.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        E = (
            half.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # ---- small-star: ≤-neighbors and u itself → min of that nbhd
        half = E.select("u", "v").union(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        le = half.where(F.col("v") <= F.col("u"))
        msl = le.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        j = le.join(msl, "u")
        E = (
            j.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(j.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # DECIMAL(38,0) sum: a bigint sum of 64-bit hashes overflows (an
        # ANSI-mode error, a silent wrap otherwise); 38 digits hold the
        # sum of 10^19-scale terms up to ~10^19 edges
        sig = tuple(
            E.agg(
                F.count("*"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            ).collect()[0]
        )
        if sig == prev_sig:
            # star forest: every non-root points straight at its component
            # min; singletons (and NULL-id nodes) fall through to self
            lab = E.select(F.col("u").alias("_ln"), F.col("v").alias("_ll"))
            return (
                nodes.select(F.col(id_col).alias("node"))
                .join(lab, F.expr("node <=> _ln"), "left")
                .select(
                    "node", F.coalesce("_ll", F.col("node")).alias("label")
                )
            )
        prev_sig = sig
    # Exhausting max_iter without reaching the fixpoint means components
    # are SPLIT (wrong cluster ids are dedup corruption — review r4); with
    # the O(log² n) contraction, 50 rounds covers any graph a filesystem
    # can hold, so this is a can't-happen guard that still fails loudly.
    raise RuntimeError(
        f"connected_components did not converge within max_iter={max_iter} "
        "rounds — raise max_iter (the alternating contraction needs "
        "O(log^2 n) rounds, so this indicates a logic regression, not a "
        "hostile input)"
    )


def cluster_assign(spark, sf_dir: str) -> DataFrame:
    """Full dedup decision pipeline: LSH candidate pairs → connected
    components → (doc_id, cluster_id, cluster_size, is_canonical)."""
    docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = lsh_candidate_pairs(minhash_bands(docs))
    labels = connected_components(pairs, docs)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    out = (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("label")).alias("is_canonical"),
        )
    )
    # ordered_result exchange=True (r13): one row per doc, no sampling pass
    from duckdb_mpp_spark.queries import ordered_result

    return ordered_result(out, docs, "doc_id", exchange=True)


register(
    "dedup_cluster_assign",
    Query(
        spark=cluster_assign,
        oracle=_DUCK_BANDS.replace("WITH", "WITH RECURSIVE", 1)
        + """,
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
          SELECT doc_id AS node, doc_id AS lab FROM documents
          UNION
          SELECT e.dst AS node, r.lab
          FROM reach r JOIN edges e ON e.src = r.node
        ),
        cluster AS (SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node),
        sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cluster GROUP BY 1)
        SELECT c.node AS doc_id, c.cluster_id, s.cluster_size,
               c.node = c.cluster_id AS is_canonical
        FROM cluster c JOIN sizes s USING (cluster_id)
        ORDER BY doc_id
        """,
    ),
)


def cluster_keep_best(spark, sf_dir: str) -> DataFrame:
    """Canonical selection: within each near-dup cluster keep the HIGHEST-
    QUALITY document, not the smallest id — the step that turns dedup
    analysis into a curated corpus (pairs → components → pick one winner
    per component by the Gopher-style composite quality score, ties to the
    lower doc_id). One extra window over the (tiny) labels table beyond
    ``cluster_assign``; quality is a pure per-row expression joined in, so
    the pipeline adds no corpus-sized shuffle."""
    from pyspark.sql import Window

    from duckdb_mpp_spark.operators.text import quality_features

    docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = lsh_candidate_pairs(minhash_bands(docs))
    labels = connected_components(pairs, docs)
    q = quality_features(docs).select("doc_id", "quality_score")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    out = (
        labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
        .join(q, "doc_id")
        .withColumn("rank_in_cluster", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            F.round("quality_score", 6).alias("quality_score"),
            (F.col("rank_in_cluster") == 1).alias("kept"),
        )
    )
    # ordered_result exchange=True (r13): one row per doc, no sampling pass
    from duckdb_mpp_spark.queries import ordered_result

    return ordered_result(out, docs, "doc_id", exchange=True)


def _register_keep_best():
    from duckdb_mpp_spark.operators.text import duck_quality_cte

    oracle = (
        _DUCK_BANDS.replace("WITH", "WITH RECURSIVE", 1)
        + f""",
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
          SELECT doc_id AS node, doc_id AS lab FROM documents
          UNION
          SELECT e.dst AS node, r.lab
          FROM reach r JOIN edges e ON e.src = r.node
        ),
        cluster AS (SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node),
        {duck_quality_cte()}
        SELECT c.node AS doc_id, c.cluster_id,
               round(q.quality_score, 6) AS quality_score,
               ROW_NUMBER() OVER (
                 PARTITION BY c.cluster_id
                 ORDER BY q.quality_score DESC, c.node ASC
               ) = 1 AS kept
        FROM cluster c JOIN q ON q.doc_id = c.node
        ORDER BY doc_id
        """
    )
    # the quality CTE is named `q` for brevity in the join above
    oracle = oracle.replace("quality AS (", "q AS (", 1)
    register("dedup_cluster_keep_best", Query(spark=cluster_keep_best, oracle=oracle))


_register_keep_best()


# ---------------------------------------------------------------------------
# minhash similarity estimation (signature agreement)
# ---------------------------------------------------------------------------

def minhash_similarity_estimate(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-candidate-pair Jaccard ESTIMATE from minhash signature agreement
    — the MinHash theorem in operator form: P[mh_s(a) = mh_s(b)] = J(a,b),
    so the fraction of agreeing seeds estimates the exact Jaccard without
    touching the shingle sets again. This is what production dedup actually
    thresholds on when the exact verify pass is too expensive: signatures
    are ~10⁻³ of corpus bytes, so the estimate costs |pairs|·K tiny rows
    instead of a shingle-stream join.

    One signature computation feeds both the LSH pair generation and the
    two estimate join legs (localCheckpoint — the corpus is shingled ONCE).
    Returns (doc_a, doc_b, n_agree, est_jaccard) with est = n_agree/K,
    exact in both engines (integer count, one exact binary division)."""
    mh = minhash_wide(docs, id_col, text_col).localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(_bands_from_wide(mh, id_col))
    stack_expr = "stack({}, {}) AS (seed, mh)".format(
        K_MINHASH, ", ".join(f"{s}, mh{s}" for s in range(K_MINHASH))
    )
    long = mh.selectExpr(id_col, stack_expr)
    a = long.select(
        F.col(id_col).alias("doc_a"), "seed", F.col("mh").alias("mh_a")
    )
    b = long.select(
        F.col(id_col).alias("doc_b"), "seed", F.col("mh").alias("mh_b")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "seed"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0)
            ).cast("int").alias("n_agree")
        )
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            F.round(F.col("n_agree") / F.lit(float(K_MINHASH)), 6).alias(
                "est_jaccard"
            ),
        )
    )


def _bands_from_wide(mh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Band signatures from an already-computed wide minhash table (shares
    one signature evaluation between banding and other consumers)."""
    structs = ", ".join(
        "struct({b} AS band, concat_ws(',', {cols}) AS band_key)".format(
            b=b,
            cols=", ".join(
                f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return mh.selectExpr(
        id_col, f"explode(array({structs})) AS x"
    ).selectExpr(id_col, "x.band AS band", "x.band_key AS band_key")


def _register_minhash_estimate():
    def fn(spark, sf_dir):
        docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
        # ordered_small (r13): estimated-pair list is result-sized
        return ordered_small(
            minhash_similarity_estimate(docs), "doc_a", "doc_b", exchange=True
        )

    register(
        "dedup_minhash_estimate",
        Query(
            spark=fn,
            oracle=_DUCK_BANDS
            + f""",
            pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
            )
            SELECT p.doc_a, p.doc_b,
                   CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS INT)
                     AS n_agree,
                   round(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                         / {float(K_MINHASH)}, 6) AS est_jaccard
            FROM pairs p
            JOIN mh a ON a.doc_id = p.doc_a
            JOIN mh b ON b.doc_id = p.doc_b AND b.seed = a.seed
            GROUP BY 1, 2
            ORDER BY 1, 2
            """,
        ),
    )


_register_minhash_estimate()
