"""Similarity search over embedding columns (``array<float>``).

- ``cosine(a, b)``: pure Catalyst expression — float products widened to
  double and summed in array order (``zip_with`` + ``aggregate``), so the
  result is bit-deterministic and engine-portable to within 1 ulp of the
  reduction order.
- Brute-force top-k: broadcast the (small) query set against the corpus —
  the correctness baseline; one pass over the corpus, no shuffle of the
  corpus side. This is the right plan at any corpus size as long as the
  query set is broadcastable.
- IVF-style search: restrict the scan to the query's coarse cell (here the
  ``label`` column plays the centroid-assignment role; a real deployment
  would k-means the corpus and store the centroid id exactly like this) —
  the candidate set shrinks by the number of cells, the classic
  recall/latency trade.
- Near-dup pairs: same-cell self-join above a cosine threshold — the
  embedding-space analog of LSH dedup.

Scores are rounded to 4 decimals in the output (both engines compute the
unrounded value to ~1e-15; ranking uses the unrounded score with a unique id
tiebreak).

INPUT CONTRACT (review r8; tightened by the r9 hostile-fixture sweep):
every embedding is a fixed-``DIM`` array of non-NULL floats. NULL ids,
NULL embeddings, AND NULL-ELEMENT embeddings are excluded at every gate
entry (``load_embeddings`` + the ``_emb_oracle`` shadow CTE — the
element case is the one the whole-row guards missed: Spark's
``aggregate`` fold NULL-propagates the whole score while DuckDB's
``SUM`` skips the component and silently ranks a 63-of-64-dim cosine).
RAGGED dimensions remain out of contract: Spark's ``zip_with`` and the
oracles' ``generate_series(1, DIM)`` would both score a truncated
prefix — drop or pad upstream; a per-row ``size()`` branch on every
kernel's hot path is not worth a malformation the encoder pipeline
owns.
"""

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from duckdb_mpp_spark.queries import Query, register
from duckdb_mpp_spark.sources import load_table

DIM = 64


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL (not NaN) for zero-norm inputs (review r4): 0/0 cosine is NaN,
    and Spark sorts NaN ABOVE every double, so a single all-zeros embedding
    (failed encoder output, padding row) would rank #1 in every query's
    top-k and pass every score threshold. NULL sorts last under DESC in
    both engines and fails ``>`` filters — a dead vector simply never
    becomes a neighbor."""
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d)


def _maybe_broadcast(df: DataFrame) -> DataFrame:
    """Size-switched broadcast hint (review r9, the ``ann_query_broadcast``
    regime): the ANN query sets are corpus-PROPORTIONAL slices, so an
    unconditional ``F.broadcast`` would force 1-2% of a 100 TB embeddings
    table into a broadcast relation AQE cannot veto."""
    from duckdb_mpp_spark.table import regime

    return F.broadcast(df) if regime("ann_query_broadcast", df) == "broadcast" else df


def _assert_unique_ids(df: DataFrame, col: str, what: str) -> None:
    """Duplicate ids are NOT mergeable for vector operators (review r9 —
    unlike contamination's per-id DISTINCT semantics): every path keys
    rows by id, so a duplicated id either conflates two vectors' scores
    (the top-k oracles SUM dot products across duplicate rows into one
    garbage score while the Spark window interleaves both rows' ranks) or
    fans one row's argmin result onto every duplicate (kmeans _assign) —
    silent wrong results either way, invisible to unique-id fixtures.
    Validated loudly at operator entry: one count/count_distinct aggregate
    over the id column; callers that pre-validate at ingest pass
    ``assume_unique_ids=True`` to skip the pass."""
    r = df.agg(
        F.count(col).alias("n"), F.count_distinct(col).alias("d")
    ).collect()[0]
    if r["n"] != r["d"]:
        raise ValueError(
            f"{what}: {r['n'] - r['d']} duplicate value(s) in id column "
            f"{col!r} ({r['n']} non-null rows, {r['d']} distinct) — "
            "duplicate ids conflate distinct vectors' scores; deduplicate "
            "or re-key upstream"
        )


# Partition head-room factor over the B(B+1)/2 natural GEMM groups:
# hashing g keys into g bins leaves ~1/e empty and stacks groups 2-3 deep,
# so some head-room protects tail latency — but each partition is a
# scheduled task, so head-room is overhead too. r6 in-session A/B
# (min-of-3, sf0.1, B=8): 1× = 1.04 s, 2× = 1.08 s, 4× = 1.28 s — the r5
# 4× choice was the uncalled-out +0.5 s regression VERDICT r5 #3 flagged.
# 2× chosen: statistically tied with 1× here, and at larger B (bigger
# corpora) the collision-stacking risk 1× carries grows while 2×'s cost
# stays one extra empty-task sweep.
_GROUP_HEADROOM = 2


def blocked_pair_scores(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
    min_score: float | None = None,
) -> DataFrame:
    """All-pairs cosine scores via blocked matrix products (the exact-path
    kernel behind near-dup detection).

    Distributed-GEMM layout: vectors are hashed into ``n_blocks`` blocks;
    each unordered block pair (i <= j) becomes one Arrow batch processed by
    a vectorized pandas kernel. A row is replicated to the ~n_blocks block
    pairs it participates in (the standard sqrt-replication of 2D matmul
    partitioning), so shuffle volume is n_blocks × corpus — at 100 TB you
    size n_blocks so one block pair (~2·n/n_blocks vectors) fits an
    executor's memory, and parallelism is n_blocks·(n_blocks+1)/2 tasks.
    (Exact all-pairs is inherently O(n²) compute at any layout — the scale
    escape hatch is the IVF/LSH candidate restriction, below.)

    Numerics match the Catalyst/oracle definition bit-for-bit: products are
    computed in float32, widened to double, then accumulated sequentially in
    index order (the k-loop), identically to ``CAST(x*y AS DOUBLE)`` summed
    left-to-right.

    ``min_score``: threshold applied INSIDE the kernel, per chunk — a
    thresholding caller (near-dup detection) must pass it, or the kernel
    buffers the full O(len_a × len_b) pair list before the outer filter
    runs: at the 125k-vector block sizing above that is ~10¹⁰ rows of
    pandas frames per task even though the score accumulator itself is
    chunk-bounded (review r6). ``None`` keeps the all-pairs contract.

    Returns (va, vb, cos_raw) with va < vb, unrounded.
    """
    import numpy as np  # deferred: keep module import light
    import pandas as pd

    if n_blocks < 1:
        # pmod(hash, 0) is NULL under the non-ANSI session, so every row's
        # block (and the exploded pair ranges) would be NULL and the kernel
        # would silently return an EMPTY frame — and the docstring invites
        # sizing n_blocks from corpus bytes, where an integer formula can
        # truncate to 0 (review r9). Loud beats an empty dedup pass.
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    B = n_blocks
    # NULL embeddings never pair (np.stack would crash the kernel on a
    # None; the oracle's NULL products fail any threshold the same way —
    # review r6). NULL ids never pair either (review r8: the kernel's
    # id < id comparisons raise TypeError on None, killing the job, while
    # the oracle's ``a.vec_id < b.vec_id`` silently drops the row — one
    # bad id in a 100 TB corpus must not fail the whole pass). Ragged
    # lengths remain a loud data error via np.stack.
    base = emb.where(
        F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.hash(id_col), F.lit(B)).alias("blk"),
    )
    a_side = base.select(
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("bj"),
        F.lit(0).alias("side"),
        "vid",
        "vec",
    )
    b_side = base.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit(1).alias("side"),
        "vid",
        "vec",
    )
    rep = a_side.unionByName(b_side)

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        # Each unordered cross-block pair meets in exactly one group — the
        # one keyed (min block, max block), with the min-block vector on the
        # A side — so pair order is normalized to (min id, max id) here.
        # Same-block groups (bi == bj) hold the full n×n grid; the strict
        # id inequality keeps one copy and drops the diagonal.
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        same_block = not pdf.empty and pdf["bi"].iat[0] == pdf["bj"].iat[0]
        if a.empty or b.empty:
            return pd.DataFrame({"va": [], "vb": [], "cos_raw": []})
        ids_a = a["vid"].to_numpy()
        ids_b = b["vid"].to_numpy()
        ma = np.stack(a["vec"].to_numpy()).astype(np.float32)
        mb = np.stack(b["vec"].to_numpy()).astype(np.float32)
        dim = ma.shape[1]
        nb = np.zeros(len(ids_b), dtype=np.float64)
        for k in range(dim):
            nb += (mb[:, k] * mb[:, k]).astype(np.float64)
        # Row-chunk the A side so the score matrix is never the full
        # len_a × len_b grid (review r4: a 125k-vector block would allocate
        # a 125 GB accumulator). The chunk bounds peak memory at
        # ~CHUNK_ELEMS doubles regardless of block sizing; n_blocks then
        # only has to make the VECTORS of a block pair fit, as the
        # docstring says.
        CHUNK_ELEMS = 16_000_000  # ~128 MB accumulator
        chunk = max(1, CHUNK_ELEMS // max(len(ids_b), 1))
        frames = []
        for lo in range(0, len(ids_a), chunk):
            ca = ma[lo : lo + chunk]
            cids = ids_a[lo : lo + chunk]
            acc = np.zeros((len(cids), len(ids_b)), dtype=np.float64)
            na = np.zeros(len(cids), dtype=np.float64)
            for k in range(dim):  # sequential accumulation = SQL SUM order
                acc += (ca[:, k][:, None] * mb[None, :, k]).astype(np.float64)
                na += (ca[:, k] * ca[:, k]).astype(np.float64)
            denom = np.outer(np.sqrt(na), np.sqrt(nb))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / denom
            if same_block:
                keep = cids[:, None] < ids_b[None, :]
            else:
                keep = cids[:, None] != ids_b[None, :]
            # zero-norm vectors never pair (review r4: their 0/0 NaN score
            # compares ABOVE any threshold under Spark's NaN ordering)
            keep &= denom > 0
            if min_score is not None:
                # per-chunk thresholding — the pair buffer stays
                # O(survivors), never the full chunk×len_b grid (review r6)
                keep &= cos >= min_score
            ia, ib = np.nonzero(keep)
            frames.append(
                pd.DataFrame(
                    {
                        "va": np.minimum(cids[ia], ids_b[ib]),
                        "vb": np.maximum(cids[ia], ids_b[ib]),
                        "cos_raw": cos[ia, ib],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    # Pin the exchange so the CPU-heavy pandas kernel's parallelism tracks
    # the B(B+1)/2 natural groups, not spark.sql.shuffle.partitions (with a
    # small shuffle-partition setting the 36 groups would collapse onto few
    # tasks and run the GEMM near-serially). Head-room factor: see
    # _GROUP_HEADROOM's A/B note at the top of the module (4× was the r5
    # regression; 2× pinned r6). Hash partitioning on the exact grouping
    # keys satisfies the aggregate's required distribution — no second
    # exchange.
    n_groups = B * (B + 1) // 2
    return (
        rep.repartition(_GROUP_HEADROOM * n_groups, "bi", "bj")
        .groupBy("bi", "bj")
        .applyInPandas(_score, schema="va long, vb long, cos_raw double")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    assume_unique_ids: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors. ``queries``: (qid, qv); ``corpus``:
    (cid, cv). Queries broadcast under the size switch; corpus scanned
    once. Duplicate ids rejected loudly (see _assert_unique_ids)."""
    if not assume_unique_ids:
        _assert_unique_ids(queries, "qid", "brute_force_topk queries")
        _assert_unique_ids(corpus, "cid", "brute_force_topk corpus")
    pairs = _maybe_broadcast(queries).crossJoin(corpus).where(F.col("qid") != F.col("cid"))
    scored = pairs.select(
        "qid", "cid", cosine(F.col("qv"), F.col("cv")).alias("cos_raw")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "cid", "rank", F.round("cos_raw", 4).alias("score"))
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = floor(x_i / scale + 0.5)`` — the standard memory/bandwidth lever
    for 100 TB embedding stores (float32 → int8 is a 4× cut in shuffle and
    scan bytes; ANN over the quantized vectors then runs on exact integer
    dot products).

    Engine portability is by construction: float→double widening is exact,
    IEEE-754 double division is bit-identical across engines, and ``floor``
    avoids round()'s half-up/half-even ambiguity — so quantized codes (and
    every integer dot product over them) match DuckDB bit-for-bit. Returns
    (id, q: array<long>, scale, nrm) with the integer L2 norm precomputed
    once per vector (pairwise scoring then never re-reduces a self-dot)."""
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(xd, F.abs))
    scale = F.greatest(amax, F.lit(1e-30)) / F.lit(127.0)
    q = F.transform(xd, lambda x: F.floor(x / scale + F.lit(0.5)))
    qq = F.aggregate(
        F.transform(q, lambda v: v * v), F.lit(0).cast("long"), lambda a, v: a + v
    )
    return df.select(
        F.col(id_col),
        q.alias("q"),
        scale.alias("scale"),
        F.sqrt(qq.cast("double")).alias("nrm"),
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_topk(
    qz: DataFrame, k: int = 10, *, assume_unique_ids: bool = False
) -> DataFrame:
    """Brute-force top-k cosine over quantized vectors. ``qz`` is
    ``quantize_embeddings`` output plus a boolean ``is_query`` column.
    Same size-switched-broadcast-queries × one-corpus-pass shape as the
    float path; the per-pair kernel is an integer dot product
    (SIMD-friendly, no float reduction-order concerns)."""
    if not assume_unique_ids:
        _assert_unique_ids(qz, "vec_id", "quantized_topk")
    queries = qz.where("is_query").select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qq"), F.col("nrm").alias("qn")
    )
    corpus = qz.select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq"), F.col("nrm").alias("cn")
    )
    pairs = _maybe_broadcast(queries).crossJoin(corpus).where(F.col("qid") != F.col("cid"))
    scored = pairs.select(
        "qid",
        "cid",
        F.when(
            F.col("qn") * F.col("cn") > 0,
            int_dot(F.col("qq"), F.col("cq")).cast("double")
            / (F.col("qn") * F.col("cn")),
        ).alias("cos_raw"),  # NULL for zero-norm (see cosine(); review r4)
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "cid", "rank", F.round("cos_raw", 4).alias("score"))
    )


# Valid-embedding convention (hostile-fixture sweep r9): a row whose id is
# NULL, whose embedding is NULL, or whose embedding contains ANY NULL
# ELEMENT is excluded from every vector operator in BOTH dialects. The
# element case is the one the whole-row guards missed: a partially-corrupt
# vector (e.g. a NaN that arrow serializes as a null list element) made
# DuckDB's SUM skip the component — silently scoring a 63-of-64-dim dot
# product into the rankings — while Spark's aggregate NULL-propagated the
# whole score and dropped the row. Neither silent behavior is acceptable;
# exclusion is the one convention both engines can state exactly.


def load_embeddings(spark, sf_dir: str) -> DataFrame:
    """The embeddings fixture with the valid-row convention applied —
    every gate reads through this, so the exclusion is uniform."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.where(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & ~F.exists("embedding", lambda x: x.isNull())
    )


_EMB_OK_CTE = """WITH embeddings AS (
  SELECT * FROM main.embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
)"""


def _emb_oracle(sql: str) -> str:
    """Prefix an embeddings-gate oracle with the valid-row shadow CTE: the
    CTE is NAMED ``embeddings`` (main-qualified inner reference breaks the
    cycle), so every later reference in the oracle — including aliased
    self-joins — reads the filtered rows with zero body edits."""
    s = sql.strip()
    if s[:4].upper() == "WITH":
        return _EMB_OK_CTE + "," + s[4:]
    return _EMB_OK_CTE + "\n" + s


# DuckDB oracle building blocks: dot products via generate_series with the
# same float-multiply-then-widen arithmetic.
_DUCK_NORMS = f"""
  norms AS (
    SELECT vec_id, sqrt(SUM(CAST(embedding[t.i] * embedding[t.i] AS DOUBLE))) AS nrm
    FROM embeddings, generate_series(1, {DIM}) t(i)
    GROUP BY vec_id
  )"""


def _register():
    def topk_fn(spark, sf_dir):
        from duckdb_mpp_spark.operators.dedup import _spread

        # _spread (r13): parallelize the brute-force kernel off the
        # single-partition scan — 1.35 → 1.09 s, value-identical
        emb = _spread(load_embeddings(spark, sf_dir), "vec_id")
        queries = emb.where("vec_id < 5").select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
        # ordered_small (r13): top-k lists are result-sized; the range
        # sort's bound-sampling job re-ran the scoring subtree
        from duckdb_mpp_spark.queries import ordered_small

        return ordered_small(
            brute_force_topk(queries, corpus, k=10), "qid", "rank", exchange=True
        )

    register(
        "ann_topk_bruteforce",
        Query(
            spark=topk_fn,
            oracle=_emb_oracle(f"""
            WITH {_DUCK_NORMS},
            dots AS (
              SELECT q.vec_id AS qid, c.vec_id AS cid,
                     SUM(CAST(q.embedding[t.i] * c.embedding[t.i] AS DOUBLE)) AS dp
              FROM embeddings q, embeddings c, generate_series(1, {DIM}) t(i)
              WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
              GROUP BY 1, 2
            ),
            scored AS (
              SELECT qid, cid, CASE WHEN nq.nrm * nc.nrm > 0 THEN dp / (nq.nrm * nc.nrm) END AS cos_raw
              FROM dots JOIN norms nq ON nq.vec_id = qid
                        JOIN norms nc ON nc.vec_id = cid
            ),
            ranked AS (
              SELECT qid, cid,
                     CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid) AS INT) AS rank,
                     round(cos_raw, 4) AS score
              FROM scored
            )
            SELECT qid, cid, rank, score FROM ranked WHERE rank <= 10
            ORDER BY qid, rank
            """),
        ),
    )

    def ivf_fn(spark, sf_dir):
        from duckdb_mpp_spark.operators.dedup import _spread

        # _spread (r13): 0.74 → 0.60 s, value-identical (see topk_fn)
        emb = _spread(load_embeddings(spark, sf_dir), "vec_id")
        queries = emb.where("vec_id % 50 = 0").select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("cell"),
        )
        corpus = emb.select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cv"),
            F.col("label").alias("cell"),
        )
        pairs = _maybe_broadcast(queries).join(corpus, "cell").where(F.col("qid") != F.col("cid"))
        scored = pairs.select("qid", "cid", cosine(F.col("qv"), F.col("cv")).alias("cos_raw"))
        w = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), F.col("cid"))
        # ordered_small (r13): see ann_topk_bruteforce
        from duckdb_mpp_spark.queries import ordered_small

        return ordered_small(
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("qid", "cid", "rank", F.round("cos_raw", 4).alias("score")),
            "qid",
            "rank",
            exchange=True,
        )

    register(
        "ann_ivf_by_label",
        Query(
            spark=ivf_fn,
            oracle=_emb_oracle(f"""
            WITH {_DUCK_NORMS},
            q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 50 = 0),
            dots AS (
              SELECT q.vec_id AS qid, c.vec_id AS cid,
                     SUM(CAST(q.embedding[t.i] * c.embedding[t.i] AS DOUBLE)) AS dp
              FROM q, embeddings c, generate_series(1, {DIM}) t(i)
              WHERE c.label = q.label AND c.vec_id <> q.vec_id
              GROUP BY 1, 2
            ),
            scored AS (
              SELECT qid, cid, CASE WHEN nq.nrm * nc.nrm > 0 THEN dp / (nq.nrm * nc.nrm) END AS cos_raw
              FROM dots JOIN norms nq ON nq.vec_id = qid
                        JOIN norms nc ON nc.vec_id = cid
            ),
            ranked AS (
              SELECT qid, cid,
                     CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid) AS INT) AS rank,
                     round(cos_raw, 4) AS score
              FROM scored
            )
            SELECT qid, cid, rank, score FROM ranked WHERE rank <= 5
            ORDER BY qid, rank
            """),
        ),
    )

    def lsh_bucketed_fn(spark, sf_dir):
        """Scale-path ANN: candidates restricted to a sign-prefix LSH bucket
        (random-hyperplane LSH with coordinate planes — the first 4
        components' sign bits). The search join is an equi-join on the
        bucket id, so at 100 TB each query probes ~corpus/16, and the join
        partitions by bucket with zero skew for zero-mean embeddings.
        Sign bits of floats are exact → deterministic, oracle-identical."""
        emb = load_embeddings(spark, sf_dir)
        bucket = sum(
            (F.when(F.element_at("embedding", j + 1) >= 0, 1 << j).otherwise(0))
            for j in range(4)
        )
        withb = emb.withColumn("bucket", bucket.cast("int"))
        queries = withb.where("vec_id % 50 = 0").select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"), "bucket"
        )
        corpus = withb.select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"), "bucket"
        )
        pairs = _maybe_broadcast(queries).join(corpus, "bucket").where(F.col("qid") != F.col("cid"))
        scored = pairs.select("qid", "cid", cosine(F.col("qv"), F.col("cv")).alias("cos_raw"))
        w = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), F.col("cid"))
        # ordered_small (r13): see ann_topk_bruteforce
        from duckdb_mpp_spark.queries import ordered_small

        return ordered_small(
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("qid", "cid", "rank", F.round("cos_raw", 4).alias("score")),
            "qid",
            "rank",
            exchange=True,
        )

    register(
        "ann_lsh_bucketed",
        Query(
            spark=lsh_bucketed_fn,
            oracle=_emb_oracle(f"""
            WITH {_DUCK_NORMS},
            b AS (
              SELECT vec_id, embedding,
                     (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
                      + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
                      + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
                      + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
              FROM embeddings
            ),
            q AS (SELECT * FROM b WHERE vec_id % 50 = 0),
            dots AS (
              SELECT q.vec_id AS qid, c.vec_id AS cid,
                     SUM(CAST(q.embedding[t.i] * c.embedding[t.i] AS DOUBLE)) AS dp
              FROM q, b c, generate_series(1, {DIM}) t(i)
              WHERE c.bucket = q.bucket AND c.vec_id <> q.vec_id
              GROUP BY 1, 2
            ),
            scored AS (
              SELECT qid, cid, CASE WHEN nq.nrm * nc.nrm > 0 THEN dp / (nq.nrm * nc.nrm) END AS cos_raw
              FROM dots JOIN norms nq ON nq.vec_id = qid
                        JOIN norms nc ON nc.vec_id = cid
            ),
            ranked AS (
              SELECT qid, cid,
                     CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid) AS INT) AS rank,
                     round(cos_raw, 4) AS score
              FROM scored
            )
            SELECT qid, cid, rank, score FROM ranked WHERE rank <= 5
            ORDER BY qid, rank
            """),
        ),
    )

    def neardup_fn(spark, sf_dir):
        from duckdb_mpp_spark.queries import ordered_small

        emb = load_embeddings(spark, sf_dir)
        # threshold INSIDE the kernel (>=) so the pair buffer is
        # O(survivors); the strict > filter below is unchanged semantics
        scored = blocked_pair_scores(emb, min_score=0.35)
        # ordered_small, NOT orderBy (r13 optimization): the sort's child
        # here is the un-materialized applyInPandas subtree, and a range
        # sort first runs a SEPARATE sampling job over that child to pick
        # partition bounds — profiled at sf0.1 as the GEMM kernel executing
        # TWICE (two 72-task ArrowEvalPython stages per run). The
        # thresholded pair list is result-sized; exchange=True keeps the
        # kernel stage parallel (coalesce(1) would propagate back to the
        # block-pair exchange and serialize the GEMM itself).
        return ordered_small(
            scored.where(F.col("cos_raw") > 0.35)
            .select("va", "vb", F.round("cos_raw", 4).alias("score")),
            "va",
            "vb",
            exchange=True,
        )

    register(
        "embedding_neardup_pairs",
        Query(
            spark=neardup_fn,
            oracle=_emb_oracle(f"""
            WITH {_DUCK_NORMS},
            dots AS (
              SELECT a.vec_id AS va, b.vec_id AS vb,
                     SUM(CAST(a.embedding[t.i] * b.embedding[t.i] AS DOUBLE)) AS dp
              FROM embeddings a, embeddings b, generate_series(1, {DIM}) t(i)
              WHERE a.vec_id < b.vec_id
              GROUP BY 1, 2
            )
            -- zero-norm guard like every sibling oracle: DuckDB 1.0's
            -- 0/0 is NULL (fails the threshold) but 1.1+ defaults to IEEE
            -- NaN, and NaN > 0.35 is TRUE there (review r6)
            SELECT va, vb,
                   round(CASE WHEN na.nrm * nb.nrm > 0
                              THEN dp / (na.nrm * nb.nrm) END, 4) AS score
            FROM dots JOIN norms na ON na.vec_id = va
                      JOIN norms nb ON nb.vec_id = vb
            WHERE CASE WHEN na.nrm * nb.nrm > 0
                       THEN dp / (na.nrm * nb.nrm) END > 0.35
            ORDER BY va, vb
            """),
        ),
    )

    def quantized_fn(spark, sf_dir):
        from duckdb_mpp_spark.operators.dedup import _spread

        # _spread (r13): the embeddings file is one scan partition at
        # bench scale, so the broadcast-NLJ dot-product kernel ran on a
        # single core — 1.80 → 0.75 s, value-identical (repartition only);
        # no-op at scale where the scan already has >= cores partitions
        emb = _spread(load_embeddings(spark, sf_dir), "vec_id")
        qz = quantize_embeddings(emb).withColumn(
            "is_query", F.col("vec_id") % 97 == F.lit(0)
        )
        # ordered_small (r13): see ann_topk_bruteforce
        from duckdb_mpp_spark.queries import ordered_small

        return ordered_small(quantized_topk(qz, k=10), "qid", "rank", exchange=True)

    register(
        "ann_quantized_topk",
        Query(
            spark=quantized_fn,
            oracle=_emb_oracle(f"""
            WITH sc AS (
              SELECT vec_id, embedding,
                     greatest(list_max(list_transform(embedding,
                              y -> abs(CAST(y AS DOUBLE)))), 1e-30) / 127.0 AS scale
              FROM embeddings
            ),
            qz AS (
              SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) AS q
              FROM sc
            ),
            qnorms AS (
              SELECT vec_id, sqrt(CAST(SUM(q[t.i] * q[t.i]) AS DOUBLE)) AS nrm
              FROM qz, generate_series(1, {DIM}) t(i) GROUP BY vec_id
            ),
            dots AS (
              SELECT a.vec_id AS qid, b.vec_id AS cid, SUM(a.q[t.i] * b.q[t.i]) AS dp
              FROM qz a, qz b, generate_series(1, {DIM}) t(i)
              WHERE a.vec_id % 97 = 0 AND b.vec_id <> a.vec_id
              GROUP BY 1, 2
            ),
            scored AS (
              SELECT qid, cid, CASE WHEN nq.nrm * nc.nrm > 0 THEN CAST(dp AS DOUBLE) / (nq.nrm * nc.nrm) END AS cos_raw
              FROM dots JOIN qnorms nq ON nq.vec_id = qid
                        JOIN qnorms nc ON nc.vec_id = cid
            ),
            ranked AS (
              SELECT qid, cid,
                     CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid) AS INT) AS rank,
                     round(cos_raw, 4) AS score
              FROM scored
            )
            SELECT qid, cid, rank, score FROM ranked WHERE rank <= 10
            ORDER BY qid, rank
            """),
        ),
    )


_register()


# ---------------------------------------------------------------------------
# k-means coarse quantizer (real IVF training, iterative DataFrame ops)
# ---------------------------------------------------------------------------

def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    inertia_log: list | None = None,
    *,
    assume_unique_ids: bool = False,
) -> DataFrame:
    """Lloyd's k-means over the embedding column, pure DataFrame ops.

    Per iteration: broadcast the k centroids, assign each vector to its
    nearest (squared-L2 argmin via one exploded join + min-struct), then
    recompute means per cluster — one broadcast join + one groupBy shuffle
    per iteration, the canonical Spark iteration shape (same as the CC
    loop in dedup). Centroid components are rounded to 6 decimals after
    each update so results are run-to-run stable despite float partial-sum
    ordering. Init is deterministic: the k lowest vec_ids.

    At 100 TB: the corpus never moves — only k×dim centroids broadcast each
    round; assignment is embarrassingly parallel; the mean shuffle carries
    k×dim doubles per partition (map-side combined).
    """
    # NULL embeddings never participate (review r8): a NULL vector among
    # the k lowest ids became a NULL centroid whose NULL d2 won every
    # min-struct argmin (struct comparison sorts the NULL field first),
    # hijacking ALL assignments and crashing the inertia sum — one
    # fetch-failure row must not kill the clustering. Same filter as
    # blocked_pair_scores.
    emb = emb.where(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    )
    # duplicate vec_ids would silently corrupt the assignment (review r9:
    # _assign groupBy takes the argmin over the UNION of duplicate rows'
    # candidates, then the join fans that one winner onto every duplicate
    # with the other row's d2 — Lloyd's monotonicity no longer holds)
    if not assume_unique_ids:
        _assert_unique_ids(emb, "vec_id", "kmeans_fit")
    init = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(
            F.monotonically_increasing_id().alias("_i"),
            F.transform("embedding", lambda x: F.round(x.cast("double"), 6)).alias("centroid"),
        )
        .select(F.row_number().over(Window.orderBy("_i")).alias("cluster_id"), "centroid")
    )
    centroids = init.localCheckpoint(eager=True)
    for _ in range(iters):
        assigned = _assign(emb, centroids)
        if inertia_log is not None:
            # J(assign_t, centroids_t) — one scalar per iteration, used by
            # the gate's Lloyd-monotonicity invariant. The assignment is
            # checkpointed so the inertia read and the centroid update share
            # one evaluation instead of re-running the broadcast argmin.
            assigned = assigned.localCheckpoint(eager=True)
            inertia_log.append(
                assigned.agg(F.sum("d2")).collect()[0][0] or 0.0
            )
        new_means = (
            assigned.select("cluster_id", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cluster_id", "pos")
            .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c"))
            .groupBy("cluster_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("s"))
            .select("cluster_id", F.transform("s", lambda t: t["c"]).alias("new_centroid"))
        )
        # An empty cluster keeps its previous centroid (review r4: the
        # mean-update groupBy only emits clusters that received points, so
        # duplicate init vectors could silently shrink an 8-cell quantizer
        # to 7 cells — the caller's k is a contract, not a hint).
        centroids = (
            centroids.join(new_means, "cluster_id", "left")
            .select(
                "cluster_id",
                F.coalesce("new_centroid", "centroid").alias("centroid"),
            )
            .localCheckpoint(eager=True)
        )
    return centroids


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast centroids, squared-L2 via
    zip_with, argmin via min(struct(dist, cluster_id))."""
    d2 = F.aggregate(
        F.zip_with("embedding", "centroid", lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = emb.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "embedding", "cluster_id", d2.alias("d2")
    )
    best = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cluster_id")).alias("b"))
        .select("vec_id", F.col("b.cluster_id").alias("cluster_id"), F.col("b.d2").alias("d2"))
    )
    return best.join(emb, "vec_id")


def _register_kmeans():
    def ivf_kmeans_fn(spark, sf_dir):
        """Gate: iterative float means are not SQL-oracle-expressible
        bit-exactly, so the gate emits what IS exact — the corpus row count
        (oracle: COUNT(*)) plus Lloyd's-algorithm invariants as booleans,
        which the DuckDB oracle states as literal TRUE rows:

        - every vector assigned to exactly one cluster,
        - at most k clusters in use,
        - all per-assignment inertia non-negative,
        - inertia monotone non-increasing across iterations (Lloyd's
          guarantee, with a small epsilon absorbing the 6-decimal centroid
          rounding).

        The estimators themselves are unchanged; tests/test_kmeans.py keeps
        the tighter per-seed algebraic contracts. The handful of collect()s
        here are 1-row/k-row convergence scalars (documented engine
        convention), never data-sized."""
        emb = load_embeddings(spark, sf_dir)
        # the SAME NULL filter kmeans_fit applies internally (review r9):
        # the final assignment and the all_assigned denominator must see
        # the same row set, or one NULL-id fetch-failure row flips the
        # gate red (NULL equi-join keys never match) and an all-NULL
        # cluster's inertia=None crashes the sums below
        emb_ok = emb.where(
            F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
        )
        log: list = []
        centroids = kmeans_fit(emb_ok, k=8, iters=3, inertia_log=log)
        final = (
            _assign(emb_ok, centroids)
            .groupBy("cluster_id")
            .agg(F.count("*").alias("n"), F.sum("d2").alias("inertia"))
            .collect()
        )
        # n_vectors counts ALL rows (oracle: COUNT(*)); the assignment
        # invariant is over the VALID rows
        n_vectors = emb.count()
        n_valid = emb_ok.count()
        n_assigned = sum(r["n"] for r in final)
        final_inertia = sum(r["inertia"] for r in final)
        seq = log + [final_inertia]
        monotone = all(
            seq[i] * (1 + 1e-9) + 1e-2 >= seq[i + 1] for i in range(len(seq) - 1)
        )
        row = (
            n_vectors,
            n_assigned == n_valid,
            len(final) <= 8,
            all(r["inertia"] >= 0 for r in final) and all(v >= 0 for v in seq),
            monotone,
        )
        return spark.createDataFrame(
            [row],
            "n_vectors bigint, all_assigned boolean, k_ok boolean, "
            "inertia_nonneg boolean, inertia_monotone boolean",
        )

    register(
        "ann_ivf_kmeans",
        Query(
            spark=ivf_kmeans_fn,
            oracle=_emb_oracle("""
                SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
                       TRUE AS all_assigned,
                       TRUE AS k_ok,
                       TRUE AS inertia_nonneg,
                       TRUE AS inertia_monotone
                FROM embeddings
            """),
        ),
    )


_register_kmeans()


# ---------------------------------------------------------------------------
# per-class centroids (nearest-centroid training / cluster summaries)
# ---------------------------------------------------------------------------

CENTROID_QSCALE = 1 << 20  # binary quantization step: float*2^20 floors exactly


def class_centroids(emb: DataFrame) -> DataFrame:
    """Per-label mean vector (nearest-centroid classifier training, cluster
    summaries for curation dashboards). posexplode fans each vector out to
    (label, dim) contributions, but map-side partial aggregation caps the
    shuffle at #labels x #dims rows regardless of corpus size -- the exploded
    stream never crosses the wire. Sums are exact bigints over
    ``floor(x * 2^20)`` (binary scale: exact for floats, engine-portable);
    the mean is a single IEEE double division at the end."""
    e = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    vq = F.floor(F.col("x").cast("double") * F.lit(float(CENTROID_QSCALE))).cast(
        "bigint"
    )
    return (
        e.select("label", "dim", vq.alias("vq"))
        .groupBy("label", "dim")
        .agg(F.count("*").alias("n"), F.sum("vq").alias("s"))
        .select(
            "label",
            "dim",
            "n",
            F.round(
                F.col("s").cast("double")
                / (F.col("n").cast("double") * CENTROID_QSCALE),
                6,
            ).alias("centroid"),
        )
    )


def _register_centroids():
    def centroids_fn(spark, sf_dir):
        # explicit NULLS LAST: Spark asc defaults NULLS FIRST, DuckDB 1.0
        # NULLS LAST — a NULL label would flip row order vs the oracle
        # (the corpus.py r6 convention, applied here in r8)
        # ordered_small (r13): labels x dims rows — result-sized; the
        # helper pins asc_nulls_last, keeping the r6/r8 NULLS LAST rule
        from duckdb_mpp_spark.queries import ordered_small

        return ordered_small(
            class_centroids(load_embeddings(spark, sf_dir)),
            "label",
            "dim",
            exchange=True,
        )

    register(
        "embedding_class_centroids",
        Query(
            spark=centroids_fn,
            oracle=_emb_oracle(f"""
            WITH e AS (
              SELECT label, CAST(t.i - 1 AS INT) AS dim,
                     CAST(floor(CAST(embedding[t.i] AS DOUBLE) * {CENTROID_QSCALE})
                          AS BIGINT) AS vq
              -- embedding IS NOT NULL mirrors Spark's posexplode, which
              -- emits nothing for a NULL embedding; COUNT(*) over the
              -- series would count the phantom NULL dims (review r6)
              FROM embeddings, generate_series(1, {DIM}) t(i)
              WHERE embedding IS NOT NULL
            )
            SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
                   round(CAST(SUM(vq) AS DOUBLE)
                         / (COUNT(*) * CAST({CENTROID_QSCALE} AS DOUBLE)), 6)
                     AS centroid
            FROM e GROUP BY 1, 2
            ORDER BY label, dim
            """),
        ),
    )


_register_centroids()


def nearest_centroid_assign(emb: DataFrame) -> DataFrame:
    """Nearest-centroid classification: assign every vector to the class
    centroid minimizing exact squared L2 distance, and report the per-
    (true label, assigned label) confusion counts -- the evaluation loop of
    a nearest-centroid classifier over the `class_centroids` output.

    Scale + determinism shape:
    - centroids (labels x dims rows -- KBs at any corpus size) come from the
      map-side-combined aggregate and BROADCAST to the assignment join; the
      corpus is never shuffled for assignment.
    - each squared-difference term is rounded to 9 decimals and summed as
      DECIMAL(28,9) -- decimal addition is associative, so any partition
      order gives bit-identical distances, and the argmin (ties broken by
      smaller label) matches the DuckDB oracle exactly. A raw double sum
      would be reduction-order-dependent and flaky under repartitioning.
    """
    cent = class_centroids(emb).select(
        F.col("label").alias("c_label"), "dim", "centroid"
    )
    e = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    )
    term = F.round(
        (F.col("x").cast("double") - F.col("centroid"))
        * (F.col("x").cast("double") - F.col("centroid")),
        9,
    ).cast("decimal(28,9)")
    d2 = (
        e.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(term).alias("d2"))
    )
    # asc_nulls_last on BOTH the tiebreak and the final sort (review r9):
    # a NULL-label centroid exists whenever the corpus has NULL-label
    # vectors, and on an exact DECIMAL d2 tie Spark's default asc would
    # pick the NULL centroid FIRST while the oracle's DuckDB default
    # (NULLS LAST) picks the labeled one — different confusion COUNTS,
    # not just row order
    w = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("c_label").asc_nulls_last()
    )
    assigned = (
        d2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "label", F.col("c_label").alias("assigned"))
    )
    # ordered_small (r13): confusion-matrix rows are result-sized; the
    # helper pins asc_nulls_last (r6 convention, r8)
    from duckdb_mpp_spark.queries import ordered_small

    return ordered_small(
        assigned.groupBy("label", "assigned").agg(F.count("*").alias("n")),
        "label",
        "assigned",
        exchange=True,
    )


def _register_centroid_assign():
    def assign_fn(spark, sf_dir):
        from duckdb_mpp_spark.operators.dedup import _spread

        # _spread (r13): single-partition embeddings scan serialized the
        # per-dim decimal kernel — 4.76 → 2.10 s, value-identical
        return nearest_centroid_assign(
            _spread(load_embeddings(spark, sf_dir), "vec_id")
        )

    register(
        "ann_centroid_assign",
        Query(
            spark=assign_fn,
            oracle=_emb_oracle(f"""
            WITH e AS (
              SELECT vec_id, label, CAST(t.i - 1 AS INT) AS dim,
                     CAST(embedding[t.i] AS DOUBLE) AS x,
                     CAST(floor(CAST(embedding[t.i] AS DOUBLE) * {CENTROID_QSCALE})
                          AS BIGINT) AS vq
              FROM embeddings, generate_series(1, {DIM}) t(i)
              WHERE embedding IS NOT NULL  -- posexplode parity (review r6)
            ),
            cent AS (
              SELECT label AS c_label, dim,
                     round(CAST(SUM(vq) AS DOUBLE)
                           / (COUNT(*) * CAST({CENTROID_QSCALE} AS DOUBLE)), 6)
                       AS centroid
              FROM e GROUP BY 1, 2
            ),
            d2 AS (
              SELECT e.vec_id, e.label, c.c_label,
                     SUM(CAST(round((e.x - c.centroid) * (e.x - c.centroid), 9)
                              AS DECIMAL(28,9))) AS d2
              FROM e JOIN cent c USING (dim)
              GROUP BY 1, 2, 3
            ),
            assigned AS (
              SELECT vec_id, label, c_label AS assigned,
                     row_number() OVER (
                       PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC
                     ) AS rn
              FROM d2
            )
            SELECT label, assigned, COUNT(*) AS n
            FROM assigned WHERE rn = 1
            GROUP BY 1, 2
            ORDER BY label, assigned
            """),
        ),
    )


_register_centroid_assign()


# ---------------------------------------------------------------------------
# hard-negative mining (retrieval / contrastive training)
# ---------------------------------------------------------------------------

def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    assume_unique_ids: bool = False,
) -> DataFrame:
    """Top-k most-similar vectors with a DIFFERENT label per query — the
    hard-negative mining step of contrastive/retrieval training (the
    negatives that matter are the ones the current embedding space already
    confuses with the positives). ``queries``: (qid, qv, qlabel);
    ``corpus``: (cid, cv, clabel).

    Same scale shape as brute_force_topk: queries broadcast under the
    size switch, one corpus scan, per-query WindowGroupLimit heap. The
    label-mismatch predicate is applied BEFORE scoring, so excluded
    (same-label) pairs never pay the dot product. IVF/LSH bucketing
    composes exactly as for plain ANN when the corpus outgrows a single
    scan per query batch.

    NULL-label policy (review r9, documented contract): ``clabel !=
    qlabel`` is SQL three-valued, so a NULL-label QUERY mines zero
    negatives and a NULL-label CORPUS vector is never served as one —
    identical in both dialects (the oracle shares the predicate). That is
    the conservative choice for training data: an unlabeled vector's
    label-distinctness is UNKNOWN, and serving it as a "different-label"
    hard negative would poison the contrastive signal whenever the
    missing label actually matches the query's. Filter or impute labels
    upstream to opt unlabeled data in."""
    if not assume_unique_ids:
        _assert_unique_ids(queries, "qid", "hard_negative_topk queries")
        _assert_unique_ids(corpus, "cid", "hard_negative_topk corpus")
    pairs = (
        _maybe_broadcast(queries)
        .crossJoin(corpus)
        .where(F.col("clabel") != F.col("qlabel"))
    )
    scored = pairs.select(
        "qid", "cid", cosine(F.col("qv"), F.col("cv")).alias("cos_raw")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "cid", "rank", F.round("cos_raw", 4).alias("score"))
    )


def _register_hard_negatives():
    def fn(spark, sf_dir):
        emb = load_embeddings(spark, sf_dir)
        q = emb.where("vec_id < 5").select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("qlabel"),
        )
        c = emb.select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cv"),
            F.col("label").alias("clabel"),
        )
        # ordered_small (r13): see ann_topk_bruteforce
        from duckdb_mpp_spark.queries import ordered_small

        return ordered_small(
            hard_negative_topk(q, c, k=5), "qid", "rank", exchange=True
        )

    register(
        "ann_hard_negatives",
        Query(
            spark=fn,
            oracle=_emb_oracle(f"""
            WITH {_DUCK_NORMS},
            dots AS (
              SELECT q.vec_id AS qid, c.vec_id AS cid,
                     SUM(CAST(q.embedding[t.i] * c.embedding[t.i] AS DOUBLE)) AS dp
              FROM embeddings q, embeddings c, generate_series(1, {DIM}) t(i)
              WHERE q.vec_id < 5 AND c.label <> q.label
              GROUP BY 1, 2
            ),
            scored AS (
              SELECT qid, cid, CASE WHEN nq.nrm * nc.nrm > 0 THEN dp / (nq.nrm * nc.nrm) END AS cos_raw
              FROM dots JOIN norms nq ON nq.vec_id = qid
                        JOIN norms nc ON nc.vec_id = cid
            ),
            ranked AS (
              SELECT qid, cid,
                     CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid) AS INT) AS rank,
                     round(cos_raw, 4) AS score
              FROM scored
            )
            SELECT qid, cid, rank, score FROM ranked WHERE rank <= 5
            ORDER BY qid, rank
            """),
        ),
    )


_register_hard_negatives()


# ---------------------------------------------------------------------------
# ANN recall certificate (r13; registration deferred to r14)
# ---------------------------------------------------------------------------

def ann_recall_at_k(
    emb: DataFrame, k: int = 10, query_filter: str = "vec_id % 50 = 0"
) -> DataFrame:
    """Recall@k certificate for the IVF (label-cell) ANN path: per query,
    how many of the EXACT top-k cosine neighbors the cell-restricted
    search recovered — ``(qid, n_exact, n_hit, recall_pct)`` with
    ``recall_pct = (100 * n_hit) div n_exact`` in exact integer
    arithmetic. This is the evaluation step a deployment runs before
    trusting an ANN index: approximate search without a measured recall
    number is a silent-quality dial.

    Composes two verified shapes: :func:`brute_force_topk` (the exact
    side — query slice broadcast under the shared size switch, corpus
    scanned once) and the ``ann_ivf_by_label`` cell join (the approximate
    side). Scale: both sides are query-slice × corpus joins bounded the
    same way the existing ANN gates are; the recall join itself is
    (qid, cid)-keyed on two top-k-sized frames — output-sized, never
    corpus-sized. Ranking ties break on cid in both engines, so the
    exact/approx member sets — and therefore the integer recall — are
    engine-deterministic (the property every ANN gate's hash-equality
    already pins)."""
    queries = emb.where(query_filter).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("cell"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("label").alias("cell"),
    )
    exact = brute_force_topk(
        queries.select("qid", "qv"), corpus.select("cid", "cv"), k
    )
    pairs = _maybe_broadcast(queries).join(corpus, "cell").where(
        F.col("qid") != F.col("cid")
    )
    scored = pairs.select(
        "qid", "cid", cosine(F.col("qv"), F.col("cv")).alias("cos_raw")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), F.col("cid"))
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "cid")
    )
    n_exact = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (
        approx.join(exact.select("qid", "cid"), ["qid", "cid"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        n_exact.join(hits, "qid", "left")
        .select(
            "qid",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.expr(
                "CAST((100 * coalesce(n_hit, 0)) div n_exact AS BIGINT)"
            ).alias("recall_pct"),
        )
    )


def _build_ann_recall_gate():
    def fn(spark, sf_dir):
        # ordered_small (r13): per-query recall rows — result-sized
        from duckdb_mpp_spark.queries import ordered_small

        return ordered_small(
            ann_recall_at_k(load_embeddings(spark, sf_dir), k=10),
            "qid",
            exchange=True,
        )

    oracle = _emb_oracle(f"""
    WITH {_DUCK_NORMS},
    q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 50 = 0),
    dots AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid, c.label = q.label AS same_cell,
             SUM(CAST(q.embedding[t.i] * c.embedding[t.i] AS DOUBLE)) AS dp
      FROM q, embeddings c, generate_series(1, {DIM}) t(i)
      WHERE c.vec_id <> q.vec_id
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT qid, cid, same_cell,
             CASE WHEN nq.nrm * nc.nrm > 0 THEN dp / (nq.nrm * nc.nrm) END AS cos_raw
      FROM dots JOIN norms nq ON nq.vec_id = qid
                JOIN norms nc ON nc.vec_id = cid
    ),
    exact AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid) AS rank
        FROM scored
      ) WHERE rank <= 10
    ),
    approx AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid) AS rank
        FROM scored WHERE same_cell
      ) WHERE rank <= 10
    ),
    ne AS (SELECT qid, COUNT(*) AS n_exact FROM exact GROUP BY 1),
    nh AS (
      SELECT a.qid, COUNT(*) AS n_hit
      FROM approx a JOIN exact e ON e.qid = a.qid AND e.cid = a.cid
      GROUP BY 1
    )
    SELECT ne.qid,
           CAST(ne.n_exact AS BIGINT) AS n_exact,
           CAST(COALESCE(nh.n_hit, 0) AS BIGINT) AS n_hit,
           CAST((100 * COALESCE(nh.n_hit, 0)) // ne.n_exact AS BIGINT) AS recall_pct
    FROM ne LEFT JOIN nh ON nh.qid = ne.qid
    ORDER BY ne.qid
    """)
    # NOT registered as a driver gate in r13 (the rotation window is
    # exactly full — see lm.py's deferral note). r14:
    # `register("ann_recall_at_k", Query(spark=fn, oracle=oracle))`.
    # tests/test_ann_recall.py proves oracle equality meanwhile.
    return fn, oracle


ann_recall_gate_fn, ann_recall_oracle_sql = _build_ann_recall_gate()


# ---------------------------------------------------------------------------
# SemDeDup (r13; registration deferred to r14)
# ---------------------------------------------------------------------------

SEMDEDUP_THRESHOLD = 0.95
# Gate threshold, calibrated to the synthetic corpus: its engineered
# near-duplicate embeddings sit at cosine ~0.35-0.51 (the same structure
# embedding_neardup_pairs' 0.35 threshold targets), while real text
# embeddings cluster far tighter — hence the 0.95 production default
# above and the corpus-calibrated gate value here.
SEMDEDUP_GATE_THRESHOLD = 0.35


def semdedup(
    emb: DataFrame, threshold: float = SEMDEDUP_THRESHOLD
) -> DataFrame:
    """Semantic deduplication — SemDeDup ("SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication", Abbas et al.
    2023): embeddings are clustered, and within each cluster, vectors
    whose cosine similarity exceeds a high threshold are semantic
    duplicates of which one representative is kept. Returns one row per
    vector: ``(vec_id, cell, kept)``.

    Keep rule (deterministic, join-expressible): a vector is DROPPED iff
    some lower-id vector in the same cell sits within the threshold —
    the min-id member of every duplicate neighborhood survives. This is
    the greedy canonical-representative variant of the paper's
    keep-one-per-group (the paper keeps a random/low-centroid-distance
    member; min-id is the engine-deterministic choice, the same
    canonicalization the exact-dedup family uses). Cells are the
    embeddings' k-means ``label`` column — the same cell structure the
    IVF gates search, and exactly the paper's precomputed clustering.

    Scale shape (100 TB): candidate pairs are an equi-join on the cell
    id — never all-pairs; per-cell work is O(cell²) in the worst case,
    which is the SemDeDup design point (clusters are sized so
    within-cluster pairwise is tractable; the paper runs 50k clusters
    over 5B embeddings). The drop verdict is a LEFT SEMI join (one probe
    per vector), the output is corpus-sized, and nothing collects to the
    driver. Cosine determinism across engines is the property every ANN
    gate's hash-equality already pins; the threshold comparison uses the
    raw (unrounded) cosine on both sides."""
    a = emb.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("label").alias("cell"),
    )
    b = emb.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("label").alias("cell"),
    )
    dropped = (
        a.join(b, "cell")
        .where(F.col("va") > F.col("vb"))
        .where(cosine(F.col("ea"), F.col("eb")) >= threshold)
        .select(F.col("va").alias("vec_id"))
        .distinct()
    )
    return emb.select("vec_id", F.col("label").alias("cell")).join(
        dropped.withColumn("_d", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id", "cell", F.coalesce(~F.col("_d"), F.lit(True)).alias("kept")
    )


def _build_semdedup_gate():
    def fn(spark, sf_dir):
        # ordered_result (r13): one row per vector — tracks the embedding
        # source; no range-sampling pass under the switch
        from duckdb_mpp_spark.queries import ordered_result

        emb = load_embeddings(spark, sf_dir)
        return ordered_result(
            semdedup(emb, threshold=SEMDEDUP_GATE_THRESHOLD),
            emb,
            "vec_id",
            exchange=True,
        )

    oracle = _emb_oracle(f"""
    WITH {_DUCK_NORMS},
    pairs AS (
      SELECT a.vec_id AS va,
             SUM(CAST(a.embedding[t.i] * b.embedding[t.i] AS DOUBLE)) AS dp,
             a.vec_id AS _a, b.vec_id AS _b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id > b.vec_id,
        generate_series(1, {DIM}) t(i)
      GROUP BY a.vec_id, b.vec_id
    ),
    dropped AS (
      SELECT DISTINCT p.va AS vec_id
      FROM pairs p
      JOIN norms na ON na.vec_id = p._a
      JOIN norms nb ON nb.vec_id = p._b
      WHERE na.nrm * nb.nrm > 0
        AND p.dp / (na.nrm * nb.nrm) >= {SEMDEDUP_GATE_THRESHOLD}
    )
    SELECT e.vec_id, e.label AS cell,
           (d.vec_id IS NULL) AS kept
    FROM embeddings e LEFT JOIN dropped d USING (vec_id)
    ORDER BY e.vec_id
    """)
    # NOT registered as a driver gate in r13 (rotation window exactly
    # full — see lm.py's deferral note). r14:
    # `register("dedup_semantic_cells", Query(spark=fn, oracle=oracle))`.
    # tests/test_semdedup.py proves oracle equality meanwhile.
    return fn, oracle


semdedup_gate_fn, semdedup_oracle_sql = _build_semdedup_gate()
