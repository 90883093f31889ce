"""Similarity search over embedding columns (``array<float>``).

Two paths, both pure Spark SQL expressions (JVM-side higher-order
functions — no Python in the loop):

- brute-force cosine top-k / threshold pairs: the exactness baseline.
  Cross join pruned to a broadcast query side; dot products via
  ``aggregate(zip_with(...))`` in double precision.
- LSH (random-hyperplane) bucketed ANN: signature = sign bits of dot
  products against H fixed hyperplanes; candidates meet only within a
  bucket, then exact cosine re-rank. The hyperplanes are seeded-numpy
  literals baked into the plan (and into the oracle SQL), so results are
  reproducible across engines and across runs.

Determinism: cosine is rounded to 8 decimals BEFORE ranking, and ranking
ties break on candidate id — so top-k sets are stable across engines
despite floating summation-order differences (double error ~1e-15 vs the
5e-9 rounding boundary).

Scale posture (100 TB embeddings):
- brute force is O(Q×N) — right only for small query sets or as the
  verify/recall baseline.
- LSH bucket join is the scale path: one shuffle on bucket id; bucket
  width tunes candidate count. For IVF-style partitioning swap the bucket
  fn for nearest-centroid (same join shape).
- At serving scale, signatures are precomputed once and stored as a
  column — here they are inline expressions for self-containedness.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from sparkgraft.ops.materialize import materialize

#: fixed random hyperplanes (H x dim), seeded — identical literals go into
#: the Spark plan and the DuckDB oracle. 4 planes = 16 buckets: sized for
#: the near-random test embeddings (top-neighbor cosine ~0.4-0.5, where
#: sign-LSH collision probability is only (1-θ/π) per plane). Clustered
#: production embeddings take more planes; recall is recovered cheaply via
#: multi-probe (querying all 1-bit-flip neighbor buckets) either way.
N_PLANES = 4
DIM = 64
_PLANES = np.random.RandomState(42).standard_normal((N_PLANES, DIM)).round(6)


def planes_spark_literal() -> str:
    rows = ", ".join(
        "array(" + ", ".join(f"CAST({w} AS DOUBLE)" for w in row) + ")" for row in _PLANES.tolist()
    )
    return f"array({rows})"


def planes_duckdb_literal() -> str:
    rows = ", ".join("[" + ", ".join(f"{w}::DOUBLE" for w in row) + "]" for row in _PLANES.tolist())
    return f"[{rows}]"


def finite_vector_sql(vec: str) -> str:
    """Predicate: every element of ``vec`` is present and finite (no
    NULL/NaN/±inf elements).

    The similarity lanes' DECLARED DOMAIN (round-9 --nonfinite probe): a
    NaN inside one embedding flows through every dot product without
    erroring and then hits engine-divergent ranking rules — numpy drops
    non-finite scores where SQL total orders sort NaN greatest — and a
    NULL element is worse: DuckDB's ``list_sum`` SKIPS it (partial dot)
    where Spark's ``aggregate`` fold propagates it (NULL dot), so an
    incomplete vector silently scores differently per engine.
    "Similarity of a corrupt vector" has no meaningful answer; the lanes
    exclude such vectors up front, identically on both engines
    (`dq_constraint_report embeddings_finite` is the upstream gate that
    makes the exclusion observable instead of silent).  Empty vectors
    pass (no violating element); -0.0 and denormals pass (finite, and
    IEEE arithmetic on them is engine-identical)."""
    return (
        f"size(filter({vec}, x -> x IS NULL OR isnan(CAST(x AS DOUBLE))"
        f" OR abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE))) = 0"
    )


def finite_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Apply the declared finite-embedding domain (see
    :func:`finite_vector_sql`)."""
    return df.where(F.expr(finite_vector_sql(vec_col)))


def _dot_sql(a: str, b: str) -> str:
    """Double-precision dot product of two float-array expressions."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def cosine_sql(a: str, b: str, digits: int = 8) -> str:
    """Rounded cosine similarity of two float-array expressions."""
    return (
        f"round({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})), {digits})"
    )


def cosine(a: str, b: str) -> Column:
    return F.expr(cosine_sql(a, b))


def _norm(vec: str) -> Column:
    return F.expr(f"sqrt({_dot_sql(vec, vec)})")


def _paired_cosine(dot_expr: str, na: str, nb: str, digits: int = 8) -> Column:
    """cosine from a pairwise dot + per-side precomputed norms. Same
    arithmetic as ``cosine_sql`` (norms are deterministic scalars), but each
    norm is computed once per VECTOR instead of once per PAIR — 3x fewer
    flops on the N² stage."""
    return F.expr(f"round({dot_expr} / ({na} * {nb}), {digits})")


def brute_force_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    parallelism: int = 32,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    The query side is broadcast (small by construction); candidates are
    repartitioned so the nested-loop probe parallelizes (a single parquet
    file otherwise arrives as one partition), with per-vector norms
    precomputed on both sides.
    """
    q = emb.where(query_filter).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"), _norm(vec_col).alias("qn")
    )
    c = emb.repartition(parallelism).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"), _norm(vec_col).alias("cn")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("qid") != F.col("cid"))
        .withColumn("cosine", _paired_cosine(_dot_sql("qv", "cv"), "qn", "cn"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "cid", "cosine")
    )


#: adaptive blocking targets ~4k vectors per block: a float64 block-pair
#: matrix is then <= 4096^2 x 8 B = 128 MB per task — bounded TASK size with
#: quadratic task COUNT, which is the shape that distributes (fixed B made
#: per-task matrices grow (N/B)^2: at 60k vectors the 7.5k-square tasks
#: thrashed memory and bent the measured exponent to 2.85, past the
#: quadratic-flops contract)
_BLOCK_TARGET = 4096


def _block_pair_legs(emb, id_col, vec_col, n_blocks):
    """Shared block-matrix scaffolding for the exact O(N^2) operators
    (:func:`cosine_neardup_pairs`, :func:`knn_graph`): hash-block
    assignment, the tiny literal block-pair relation, and the two
    broadcast-join replication legs.  One definition so a blocking-scheme
    change (e.g. the overflow-safe hash noted below) cannot drift between
    the consumers.

    ``n_blocks=None`` sizes the grid from the corpus: ceil(N /
    _BLOCK_TARGET) blocks, floored at 8 (small corpora keep enough tasks
    to fill a machine) and capped at 256 (65k block pairs of scheduling
    is plenty ahead of any single-box corpus; a cluster-scale caller
    passes its own B).  The one count() is a columnar id scan — same
    scalar-stat plan-flip precedent as the ppjoin auto-select.  Blocking
    touches only the physical grouping; the emitted relation is
    identical for every B (the oracle proves it bit-exact).

    Returns (left, right) keyed by (ba, bb) with columns (id, v).
    """
    spark = emb.sparkSession
    if n_blocks is None:
        n = emb.select(id_col).count()
        n_blocks = min(256, max(8, -(-n // _BLOCK_TARGET)))
    vecs = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        # overflow-free under ANSI mode: hash() never overflows, unlike a
        # Knuth multiply (id * 2654435761 blows past BIGINT for id >= ~3.5e9,
        # exactly the hash-derived/snowflake id range).  Block assignment
        # needs no oracle reproducibility — only a balanced spread.
        F.expr(f"CAST(pmod(hash({id_col}), {n_blocks}) AS INT)").alias("blk"),
    )
    block_pairs = spark.createDataFrame(
        [(a, b) for a in range(n_blocks) for b in range(n_blocks) if a <= b],
        "ba int, bb int",
    )
    left = (
        vecs.alias("vl")
        .join(F.broadcast(block_pairs.alias("pl")), F.col("vl.blk") == F.col("pl.ba"))
        .select(
            F.col("pl.ba").alias("ba"),
            F.col("pl.bb").alias("bb"),
            F.col("vl.id").alias("id"),
            F.col("vl.v").alias("v"),
        )
    )
    right = (
        vecs.alias("vr")
        .join(F.broadcast(block_pairs.alias("pr")), F.col("vr.blk") == F.col("pr.bb"))
        .select(
            F.col("pr.ba").alias("ba"),
            F.col("pr.bb").alias("bb"),
            F.col("vr.id").alias("id"),
            F.col("vr.v").alias("v"),
        )
    )
    return left, right


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
) -> DataFrame:
    """All vector pairs with cosine >= threshold (embedding near-dup dedup).

    EXACT (matches the all-pairs oracle bit-for-bit) yet fully distributed
    — block-matrix pairing, the classic way to do exact O(N²) comparisons
    without ever holding the corpus in one place:

    1. every vector gets a block id = pmod(hash-ish of id, B);
    2. the B·(B+1)/2 unordered block pairs (ba <= bb) form a tiny literal
       relation, each block's rows replicated to the pairs it belongs to
       (join fan-out ~ (B+1)/2 per row — the only shuffle);
    3. per block pair, a cogrouped ``applyInPandas`` runs one float64 BLAS
       matmul of block A against block B; ``vec_a < vec_b`` masks the
       diagonal and de-dups symmetric hits.

    No driver collect, no full-table broadcast: a task's working set is two
    blocks, and the adaptive default grid (ceil(N / 4096) blocks) keeps it
    ~128 MB no matter the corpus (the flop count is inherent to the exact
    contract; the *distribution* is what must not bottleneck).
    numpy matmul beats Spark's interpreted higher-order-function dot by
    ~10x; float64 + round(8) keeps results identical to the SQL oracle
    (error ~1e-15 vs the 5e-9 rounding boundary)."""
    import numpy as np
    import pandas as pd

    left, right = _block_pair_legs(emb, id_col, vec_col, n_blocks)

    def _pairs(key, a_pdf, b_pdf):
        if not len(a_pdf) or not len(b_pdf):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        a_ids = a_pdf["id"].to_numpy()
        b_ids = b_pdf["id"].to_numpy()
        a_mat = np.stack(a_pdf["v"].to_numpy()).astype(np.float64)
        b_mat = np.stack(b_pdf["v"].to_numpy()).astype(np.float64)
        a_n = np.sqrt((a_mat * a_mat).sum(axis=1))
        b_n = np.sqrt((b_mat * b_mat).sum(axis=1))
        cos = np.round((a_mat @ b_mat.T) / np.outer(a_n, b_n), 8)
        hit = cos >= threshold
        if key[0] == key[1]:
            # diagonal block: both orientations present — keep a < b once
            hit &= a_ids[:, None] < b_ids[None, :]
            ii, jj = np.nonzero(hit)
            va, vb = a_ids[ii], b_ids[jj]
        else:
            # cross block: blocks are disjoint so each unordered pair meets
            # exactly once, in whichever orientation — normalize to min/max
            ii, jj = np.nonzero(hit)
            va = np.minimum(a_ids[ii], b_ids[jj])
            vb = np.maximum(a_ids[ii], b_ids[jj])
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cosine": cos[ii, jj]})

    return (
        left.groupBy("ba", "bb")
        .cogroup(right.groupBy("ba", "bb"))
        .applyInPandas(_pairs, "vec_a bigint, vec_b bigint, cosine double")
    )


def knn_graph(
    emb: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
) -> DataFrame:
    """Symmetrized exact kNN graph over the whole embedding table — the
    edge list SemDeDup-style clustering, label propagation, and
    graph-based curation consume. Output: one row per UNDIRECTED edge
    ``(vec_a < vec_b, cosine, mutual)`` where ``mutual`` marks edges in
    BOTH nodes' top-k (the usual pruning signal for spurious hub edges).

    Same block-matrix shape as :func:`cosine_neardup_pairs` — the flops
    are inherent to the exact contract, the distribution is what matters —
    with one extra trick: each block-pair task emits only its LOCAL top-k
    per node (both orientations), so the shuffle that follows carries
    ≤ B·k candidate rows per node instead of N. The global per-node top-k
    is then a bounded window on the high-cardinality node id. No driver
    collect, no full-table broadcast; the adaptive default grid keeps
    per-task matrices ~constant as the corpus grows (quadratic task
    count, bounded task size), and the scale path past exact flops is
    the IVF cells (:func:`ivf_topk`) when approximate recall is
    acceptable.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    left, right = _block_pair_legs(emb, id_col, vec_col, n_blocks)

    def _local_topk(key, a_pdf, b_pdf):
        if not len(a_pdf) or not len(b_pdf):
            return pd.DataFrame({"src": [], "dst": [], "cosine": []})
        # sort both legs by id: a stable argsort on NEGATED cosine then
        # breaks ties by column POSITION == ascending id — the same
        # deterministic (cosine desc, id asc) order the per-row lexsort
        # produced, but vectorized across all rows (the python
        # row-at-a-time loop dominated task time on big blocks)
        a_pdf = a_pdf.sort_values("id")
        b_pdf = b_pdf.sort_values("id")
        a_ids = a_pdf["id"].to_numpy()
        b_ids = b_pdf["id"].to_numpy()
        a_mat = np.stack(a_pdf["v"].to_numpy()).astype(np.float64)
        b_mat = np.stack(b_pdf["v"].to_numpy()).astype(np.float64)
        a_n = np.sqrt((a_mat * a_mat).sum(axis=1))
        b_n = np.sqrt((b_mat * b_mat).sum(axis=1))
        cos = np.round((a_mat @ b_mat.T) / np.outer(a_n, b_n), 8)
        self_mask = a_ids[:, None] == b_ids[None, :]
        frames = []

        def _emit(mat, row_ids, col_ids, mask):
            # per row: top-k cols by (cosine desc, col id asc), self excluded
            m = np.where(mask, -np.inf, mat)
            kk = min(k, m.shape[1])
            idx = np.argsort(-m, axis=1, kind="stable")[:, :kk]
            vals = np.take_along_axis(m, idx, axis=1)
            keep = np.isfinite(vals)
            frames.append(
                pd.DataFrame(
                    {
                        "src": np.broadcast_to(row_ids[:, None], idx.shape)[keep],
                        "dst": col_ids[idx][keep],
                        "cosine": vals[keep],
                    }
                )
            )

        _emit(cos, a_ids, b_ids, self_mask)
        if key[0] != key[1]:  # cross pair: b-nodes also see a as candidates
            _emit(cos.T, b_ids, a_ids, self_mask.T)
        return pd.concat(frames, ignore_index=True)

    cands = (
        left.groupBy("ba", "bb")
        .cogroup(right.groupBy("ba", "bb"))
        .applyInPandas(_local_topk, "src bigint, dst bigint, cosine double")
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst"))
    knn = (
        cands.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
    return (
        knn.select(
            F.least("src", "dst").alias("vec_a"),
            F.greatest("src", "dst").alias("vec_b"),
            "cosine",
        )
        .groupBy("vec_a", "vec_b")
        .agg(
            F.max("cosine").alias("cosine"),
            (F.count(F.lit(1)) == 2).alias("mutual"),
        )
    )


def bucket_sql(vec: str, planes_literal: str | None = None) -> str:
    """LSH bucket id: H sign bits of plane dot products, as a bit string."""
    planes = planes_literal or planes_spark_literal()
    return (
        f"array_join(transform({planes}, p -> "
        f"CASE WHEN {_dot_sql(vec, 'p')} > 0 THEN '1' ELSE '0' END), '')"
    )


#: fixed IVF "centroids" (K x dim, seeded). A production IVF trains these
#: with k-means on a sample at index-build time; the engine mechanics —
#: nearest-centroid bucketing + in-bucket re-rank — are identical, and
#: fixed seeded centroids keep the whole path reproducible cross-engine.
N_CENTROIDS = 8
_CENTROIDS = (np.random.RandomState(7).standard_normal((N_CENTROIDS, DIM)) * 0.1).round(6)


def centroids_spark_literal(cents: list[list[float]] | None = None) -> str:
    rows = ", ".join(
        "array(" + ", ".join(f"CAST({w} AS DOUBLE)" for w in row) + ")"
        for row in (cents if cents is not None else _CENTROIDS.tolist())
    )
    return f"array({rows})"


def centroids_duckdb_literal(cents: list[list[float]] | None = None) -> str:
    rows = ", ".join(
        "[" + ", ".join(f"{w}::DOUBLE" for w in row) + "]"
        for row in (cents if cents is not None else _CENTROIDS.tolist())
    )
    return f"[{rows}]"


def ivf_bucket_sql(vec: str, centroids: list[list[float]] | None = None) -> str:
    """IVF cell id: index (1-based) of the nearest centroid by squared L2.

    ``centroids``: trained cell centers (e.g. ``kmeans_fit`` micro-units
    divided back to doubles, served per corpus epoch by
    ``catalog.cached_index``); defaults to the fixed seeded literals that
    keep the demo lanes cross-engine reproducible."""
    cents = centroids_spark_literal(centroids)
    dist = (
        f"transform({cents}, c -> aggregate(zip_with({vec}, c,"
        " (x, w) -> (CAST(x AS DOUBLE) - w) * (CAST(x AS DOUBLE) - w)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    return f"array_position({dist}, array_min({dist}))"


def ivf_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: nearest-centroid cells partition the corpus; queries
    search only their own cell, then exact cosine re-ranks. Same join shape
    as LSH (one equi-join on cell id) — the scale path when centroids are
    trained on the actual distribution. nprobe>1 = also search the
    next-nearest cells (analogous to LSH multi-probe).

    ``centroids``: trained cell centers for the corpus epoch — at 100 TB
    pass ``catalog.cached_index``'s artifact (train once per ingest
    epoch, every query reads the cached literal) instead of the default
    seeded demo centroids."""
    sig = emb.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        _norm(vec_col).alias("cn"),
        F.expr(ivf_bucket_sql(vec_col, centroids)).alias("cell"),
    )
    q = emb.where(query_filter).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        _norm(vec_col).alias("qn"),
        F.expr(ivf_bucket_sql(vec_col, centroids)).alias("cell"),
    )
    scored = (
        F.broadcast(q)
        .join(sig, "cell")
        .where(F.col("qid") != F.col("cid"))
        .withColumn("cosine", _paired_cosine(_dot_sql("qv", "cv"), "qn", "cn"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "cid", "cosine")
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster the embedding space, then drop near-duplicates WITHIN clusters
    only — the O(N²/C) restriction that makes embedding dedup tractable at
    corpus scale, at the cost of missing cross-cluster dups (the paper's
    accepted trade-off).

    Here clusters are the deterministic IVF cells (fixed seeded centroids,
    cross-engine reproducible — at production scale swap in centroids
    trained on a sample). Within each cell, a vector is DROPPED when it
    has cosine >= threshold with any lower-id vector of the same cell
    (keep-lowest-id policy, deterministic). Output: one row per vector
    (id, cell, is_kept).

    Execution: ONE shuffle on cell, then a grouped ``applyInPandas`` runs
    a float64 BLAS matmul per cell (same numpy-over-Arrow shape as
    ``cosine_neardup_pairs``; round(8) keeps decisions identical to the
    SQL oracle). A task's working set is one cell, so executor memory
    bounds cell size — centroid count C is the knob (the paper scales
    C ~ sqrt(N)); re-split oversized cells by a secondary hash if the
    distribution is skewed. Beats the pairwise SQL self-join ~4x at
    sf0.1: per-pair interpreted higher-order-function dots lose badly to
    one matmul per cell.
    """
    import numpy as np
    import pandas as pd

    def _cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vid"].to_numpy()
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        cos = np.round((mat @ mat.T) / np.outer(norms, norms), 8)
        # dropped[i] iff some lower-id j in the cell has cos >= threshold
        dropped = ((cos >= threshold) & (ids[:, None] > ids[None, :])).any(axis=1)
        return pd.DataFrame(
            {"vec_id": ids, "cell": pdf["cell"], "is_kept": ~dropped}
        )

    return (
        emb.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("v"),
            F.expr(ivf_bucket_sql(vec_col)).alias("cell"),
        )
        .groupBy("cell")
        .applyInPandas(_cell, "vec_id bigint, cell bigint, is_kept boolean")
    )


def probe_buckets_sql(bucket: str, n_planes: int = N_PLANES) -> str:
    """Multi-probe bucket list: the bucket itself + every 1-bit flip.

    Flipping bit j of the '0'/'1' string: prefix + flipped char + suffix.
    """
    flips = ", ".join(
        f"concat(substring({bucket}, 1, {j}),"
        f" CASE WHEN substring({bucket}, {j + 1}, 1) = '1' THEN '0' ELSE '1' END,"
        f" substring({bucket}, {j + 2}))"
        for j in range(n_planes)
    )
    return f"array({bucket}, {flips})"


def lsh_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k with multi-probe: each query searches its own LSH bucket
    plus all 1-bit-flip neighbor buckets, then exact cosine re-ranks the
    candidates. One equi-join on bucket id — the scale path: candidate
    count ~ (probes/2^H) x N per query instead of N."""
    sig = emb.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        _norm(vec_col).alias("cn"),
        F.expr(bucket_sql(vec_col)).alias("bucket"),
    )
    q = (
        emb.where(query_filter)
        .select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            _norm(vec_col).alias("qn"),
            F.expr(bucket_sql(vec_col)).alias("__b0"),
        )
        .select(
            "qid",
            "qv",
            "qn",
            F.explode(F.expr(probe_buckets_sql("__b0"))).alias("bucket"),
        )
    )
    scored = (
        F.broadcast(q)
        .join(sig, "bucket")
        .where(F.col("qid") != F.col("cid"))
        .withColumn("cosine", _paired_cosine(_dot_sql("qv", "cv"), "qn", "cn"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "cid", "cosine")
    )


# ---------------------------------------------------------------------------
# Scalar-quantized (int8) similarity search
# ---------------------------------------------------------------------------

def quantized_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    parallelism: int = 32,
) -> DataFrame:
    """Cosine top-k over int8 scalar-quantized vectors — the production
    memory/bandwidth lever for ANN at corpus scale: 4x smaller vectors
    (int8 vs float32) means 4x less scan + shuffle + cache footprint, and
    the scoring inner loop is exact integer arithmetic.

    Quantization: one global symmetric scale s = max|x| / 127 (a single
    scalar aggregate over the corpus, broadcast), q = round(x / s) in
    [-127, 127]. Scoring: cosine of the QUANTIZED vectors — the scale
    cancels, so scores derive from integer dot products only, which makes
    the whole path bit-exact across engines (no float-sum ordering
    anywhere; the final sqrt/divide is one IEEE op per pair).

    Same plan shape as brute_force_topk (broadcast query side, partitioned
    candidates, per-vector self-dots precomputed); swap in the IVF/LSH
    bucketing for the sublinear candidate set at scale — quantization
    composes with either.
    """
    amax = emb.agg(
        F.max(F.expr(f"array_max(transform({vec_col}, x -> abs(CAST(x AS DOUBLE))))"))
        .alias("amax")
    )
    quant = (
        emb.crossJoin(F.broadcast(amax))
        .select(
            F.col(id_col),
            F.expr(
                f"transform({vec_col},"
                " x -> CAST(round(CAST(x AS DOUBLE) / (amax / 127.0)) AS BIGINT))"
            ).alias("qv"),
        )
    )
    self_dot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS BIGINT),"
        " (acc, v) -> acc + v)"
    )
    q = quant.where(query_filter).select(
        F.col(id_col).alias("qid"),
        F.col("qv").alias("qa"),
        F.expr(self_dot.format(a="qv", b="qv")).alias("qn"),
    )
    c = quant.repartition(parallelism).select(
        F.col(id_col).alias("cid"),
        F.col("qv").alias("ca"),
        F.expr(self_dot.format(a="qv", b="qv")).alias("cn"),
    )
    pair_dot = self_dot.format(a="qa", b="ca")
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("qid") != F.col("cid"))
        .withColumn(
            "qcosine",
            F.expr(
                f"round(CAST({pair_dot} AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))), 8)"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("qcosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "cid", "qcosine")
    )


# ---------------------------------------------------------------------------
# Deterministic quantized k-means (Lloyd's) for corpus clustering
# ---------------------------------------------------------------------------

KMEANS_QUANT = 1_000_000  # micro-unit quantization of embedding components


def kmeans_assign(
    emb: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """Lloyd's k-means over MICRO-UNIT-quantized embeddings — exact and
    engine-portable (the clustering backbone of SemDeDup-style curation,
    here with true mean centroids instead of the hash cells ivf_topk uses).

    Determinism contract: components quantize to BIGINT micro-units, so
    squared distances and per-cluster sums are exact integers (order-free);
    centroid updates use pmod-floor-division (identical in Spark, DuckDB,
    and Python's //). Ties in the argmin break to the smallest cluster id.
    Init: centroids = the vectors with id 0..k-1.

    Scale: the canonical Lloyd-on-MapReduce shape — per iteration one
    map-only assignment pass (centroids inlined as k dim-length literal
    arrays; at larger k they'd ride a broadcast join) + one partial-agg
    groupBy producing k rows of 64 sums. The k×dim driver collect per
    iteration is scalar-bounded model state, not data (same contract as the
    pagerank edge relation note). The quantized input is cached across
    iterations.

    Output: (vec_id, cluster, sq_dist) — sq_dist in squared micro-units.

    ``centroids``: fitted micro-unit centroids (``kmeans_fit``'s return,
    served per corpus epoch by ``catalog.cached_index``) — when given,
    the fitting loop and its seed precondition are skipped entirely and
    this is ONE map-only assignment pass.
    """
    q = _quantize_micro(emb, id_col, vec_col)
    if centroids is not None:
        _check_centroid_shape(centroids, k, dim, "kmeans_assign")
        return (
            _kmeans_assigned(q, centroids, id_col)
            .select(id_col, "cluster", "sq_dist")
            .orderBy(id_col)
        )
    # persisted for the fitting iterations' collects; the returned
    # assignment DataFrame is lazy and recomputes q from lineage after the
    # finally-unpersist — intentional (one map-only scan+quantize pass).
    q = q.persist()
    try:
        cents = _kmeans_fit_on_q(q, k, iters, id_col, dim)
        return (
            _kmeans_assigned(q, cents, id_col)
            .select(id_col, "cluster", "sq_dist")
            .orderBy(id_col)
        )
    finally:
        q.unpersist()


def _quantize_micro(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        F.col(id_col),
        F.expr(
            f"transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) * {KMEANS_QUANT}) AS BIGINT))"
        ).alias("qv"),
    )


def _check_centroid_shape(cents, k: int, dim: int, who: str) -> None:
    if len(cents) != k or any(len(c) != dim for c in cents):
        raise ValueError(
            f"{who}: centroid artifact shape mismatch — expected {k} x {dim} "
            f"micro-unit rows, got {len(cents)} x "
            f"{sorted({len(c) for c in cents})} (stale cache from different "
            f"params? cached_index keys artifacts by params for this reason)"
        )


def _kmeans_dist_exprs(cs: list[list[int]]) -> list[str]:
    out = []
    for c in cs:
        lit = ", ".join(f"CAST({v} AS BIGINT)" for v in c)
        out.append(
            f"aggregate(zip_with(qv, array({lit}), (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
    return out


def _kmeans_assigned(q: DataFrame, cs: list[list[int]], id_col: str) -> DataFrame:
    ds = _kmeans_dist_exprs(cs)
    darr = "array(" + ", ".join(ds) + ")"
    return q.select(
        id_col,
        "qv",
        F.expr(f"array_position({darr}, array_min({darr})) - 1").alias("cluster"),
        F.expr(f"array_min({darr})").alias("sq_dist"),
    )


def _kmeans_fit_on_q(
    q: DataFrame, k: int, iters: int, id_col: str, dim: int
) -> list[list[int]]:
    init = {
        r[id_col]: list(r["qv"])
        for r in q.where(F.col(id_col) < k).collect()
    }
    missing = [j for j in range(k) if j not in init]
    if missing:
        raise ValueError(
            f"kmeans_assign: seed vectors {missing} absent from the input "
            f"(declared precondition: ids 0..{k - 1} must exist and be "
            f"in-domain — a seed excluded by the finite-vector filter or "
            f"missing from the corpus has no defined centroid)"
        )
    cents = [init[j] for j in range(k)]
    for _ in range(iters - 1):
        a = _kmeans_assigned(q, cents, id_col)
        sums = (
            a.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("qv", i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        new_cents = list(cents)
        for r in sums:
            j, n = int(r["cluster"]), int(r["n"])
            new_cents[j] = [int(r[f"s{i}"]) // n for i in range(dim)]
        cents = new_cents
    return cents


def kmeans_fit(
    emb: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> list[list[int]]:
    """Fit-only half of :func:`kmeans_assign`: the same deterministic
    micro-unit Lloyd recipe, returning the k x dim integer centroid
    artifact instead of assignments.

    This is the trainer ``catalog.cached_index`` invokes once per corpus
    epoch; every later caller passes the cached artifact back into
    ``kmeans_assign(..., centroids=...)`` (or, divided to doubles, into
    ``ivf_topk(..., centroids=...)``) and pays zero fitting scans.  The
    integer micro-unit representation is what makes the artifact
    CACHEABLE AT ALL: JSON round-trips int lists exactly, so a cached
    assignment is bit-identical to a fresh one — pinned by the
    ``embed_index_cache_audit`` driver lane."""
    q = _quantize_micro(emb, id_col, vec_col).persist()
    try:
        return _kmeans_fit_on_q(q, k, iters, id_col, dim)
    finally:
        q.unpersist()


def arrow_vector_norms(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact integer L2 stats per vector via ``mapInArrow`` — the
    zero-copy Arrow batch path (completes the Python-on-Spark API matrix
    next to pandas_udf / applyInPandas / mapInPandas / cogroup / state /
    DataSource / UDTF).

    Components quantize to micro-unit int64 with HALF-AWAY rounding (the
    SQL round() rule, replicated in numpy) so sumsq is exact and
    engine-portable; l2_micro = floor(sqrt(sumsq)) — sumsq < 2^53 keeps
    the double sqrt exact-input and IEEE-deterministic.

    Scale: map-only, no shuffle; the ListArray is consumed as flat values
    + offsets (np.add.reduceat) — no per-row Python objects, no copy of
    the float buffer beyond the quantization cast.
    """
    import numpy as np
    import pyarrow as pa

    def fn(batches):
        for b in batches:
            ids = b.column(0)
            lst = b.column(1)
            # flatten ListArray: values + offsets (zero-copy views)
            flat = np.asarray(lst.values, dtype=np.float64)
            offs = np.asarray(lst.offsets)
            scaled = flat * 1_000_000.0
            q = np.where(
                scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
            ).astype(np.int64)
            sq = q * q
            # per-row sums over [offs[i], offs[i+1]) — cumsum difference
            # handles empty rows and sliced arrays uniformly
            csum = np.concatenate([[0], np.cumsum(sq, dtype=np.int64)])
            sums = (csum[offs[1:]] - csum[offs[:-1]]).astype(np.int64)
            l2 = np.floor(np.sqrt(sums.astype(np.float64))).astype(np.int64)
            yield pa.record_batch(
                [ids, pa.array(sums, type=pa.int64()), pa.array(l2, type=pa.int64())],
                names=[id_col, "sumsq_micro", "l2_micro"],
            )

    return emb.select(id_col, vec_col).mapInArrow(
        fn, f"{id_col} long, sumsq_micro long, l2_micro long"
    )


# ---------------------------------------------------------------------------
# Top principal component via exact-integer power iteration
# ---------------------------------------------------------------------------

PCA_C_SHIFT = 20  # covariance pre-scale: C' = C // 2^20 keeps matvecs in int64


def pca_pc1_projections(
    emb: DataFrame,
    iters: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """Projection of every embedding onto the TOP PRINCIPAL COMPONENT,
    computed by power iteration in EXACT integer fixed-point — the
    engine-portable PCA-lite a curation pipeline uses for embedding-drift
    audits and 1-D stratification.

    Determinism contract (mirrored operation-for-operation by the DuckDB
    oracle): micro-unit quantization; per-dim means by pmod-floor
    division; integer covariance C (exact, order-free); pre-scale
    C' = sign(C)*(|C| >> shift) (toward-zero, DuckDB's integer-// rule)
    so matvecs stay in int64; ``iters`` rounds (default 128 — the
    near-isotropic test embeddings have lambda2/lambda1 ~ 0.99, so the
    power method needs ~100 rounds; clustered production embeddings
    converge in ~10) of
    w = C'·v followed by infinity-norm renormalization with toward-zero
    division (v_i = sign(w_i)·(|w_i| // (max|w|//1e6 + 1))). Every step
    is integer, so the eigenvector — including its sign — is a pure
    function of the data.

    Scale shape: per-PARTITION covariance partials via mapInArrow
    (numpy X^T·X per Arrow batch — one flattened dim² row per batch, no
    row-level shuffle), summed in one tiny aggregation; the dim² driver
    collect is model state (kmeans/pagerank contract). The final
    projection is a map-only pass with the eigenvector inlined.
    """
    import numpy as np
    import pyarrow as pa

    n = emb.count()
    if n == 0:
        raise ValueError("empty embedding table")
    quant_sql = (
        f"transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) * {KMEANS_QUANT}) AS BIGINT))"
    )
    # persisted for the DRIVER-SIDE fitting actions only (the means
    # collect and the covariance mapInArrow collect, plus the power
    # iterations inside _pca_body).  The returned projection DataFrame is
    # lazy: by the time the caller executes it the finally-block has
    # already unpersisted q, so it recomputes from lineage — intentional,
    # since the recompute is a single map-only scan+quantize pass and a
    # persist must not outlive this function.  Same contract as
    # kmeans_assign / pq_topk.
    q = emb.select(F.col(id_col), F.expr(quant_sql).alias("qv")).persist()
    try:
        return _pca_body(q, n, iters, id_col, dim)
    finally:
        q.unpersist()


def _pca_body(q, n, iters, id_col, dim):
    import numpy as np
    import pyarrow as pa

    sums = q.agg(
        *[F.sum(F.element_at("qv", i + 1)).alias(f"s{i}") for i in range(dim)]
    ).collect()[0]
    means = [int(sums[f"s{i}"]) // n for i in range(dim)]
    mean_arr = np.array(means, dtype=np.int64)

    def cov_partials(batches):
        for b in batches:
            lst = b.column(0)
            offs = np.asarray(lst.offsets)
            rows = len(offs) - 1
            if rows == 0:
                continue
            # input is the ALREADY-quantized int64 list column; slice the
            # values buffer by the batch's offsets (robust to sliced arrays)
            flat = np.asarray(lst.values, dtype=np.int64)
            qv = flat[offs[0] : offs[-1]].reshape(rows, dim)
            c = qv - mean_arr
            p = (c.T @ c).reshape(-1)  # int64 exact for partition-sized batches
            yield pa.record_batch([pa.array([p.tolist()])], names=["p"])

    part = q.select("qv").mapInArrow(cov_partials, "p array<long>")
    cov_rows = (
        part.select(F.posexplode("p").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"))
        .collect()
    )
    C = np.zeros(dim * dim, dtype=object)
    for r in cov_rows:
        C[r["pos"]] = int(r["s"])
    C = C.reshape(dim, dim)
    # TOWARD-ZERO division on both engines: DuckDB's integer // truncates
    # (-7 // 2 = -3), so mirror with sign·(|x| >> shift), not Python's //
    Cp = np.array(
        [
            [
                -((-int(x)) >> PCA_C_SHIFT) if int(x) < 0 else int(x) >> PCA_C_SHIFT
                for x in row
            ]
            for row in C
        ],
        dtype=object,
    )

    v = [1_000_000] * dim
    for _ in range(iters):
        w = [sum(int(Cp[i][j]) * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in w)
        if m == 0:
            break
        d = m // 1_000_000 + 1
        v = [(-((-x) // d) if x < 0 else x // d) for x in w]

    v_lit = ", ".join(f"CAST({x} AS BIGINT)" for x in v)
    mean_lit = ", ".join(f"CAST({m} AS BIGINT)" for m in means)
    proj = (
        f"aggregate(zip_with(zip_with(qv, array({mean_lit}), (x, mu) -> x - mu),"
        f" array({v_lit}), (c, vv) -> c * vv), CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )
    return q.select(
        id_col, F.expr(proj).alias("pc1_proj")
    ).orderBy(id_col)


def _pq_sq_expr(arr_expr: str, c: list[int]) -> str:
    lit = ", ".join(f"CAST({v} AS BIGINT)" for v in c)
    return (
        f"aggregate(zip_with({arr_expr}, array({lit}),"
        " (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT),"
        " (acc, v) -> acc + v)"
    )


def _pq_fit_on_q(
    q: DataFrame,
    init_rows: dict,
    m: int,
    k_codes: int,
    iters: int,
    sub: int,
    id_col: str,
) -> list[list[list[int]]]:
    def _fit_subspace(s: int) -> list[list[int]]:
        start = s * sub + 1
        sv = q.select(id_col, F.expr(f"slice(qv, {start}, {sub})").alias("sv"))
        cs = [init_rows[j][s * sub : (s + 1) * sub] for j in range(k_codes)]
        for _ in range(iters - 1):
            darr = "array(" + ", ".join(_pq_sq_expr("sv", c) for c in cs) + ")"
            a = sv.select(
                id_col,
                "sv",
                F.expr(f"array_position({darr}, array_min({darr})) - 1").alias(
                    "cluster"
                ),
            )
            sums = (
                a.groupBy("cluster")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    *[
                        F.sum(F.element_at("sv", i + 1)).alias(f"s{i}")
                        for i in range(sub)
                    ],
                )
                .collect()
            )
            newc = list(cs)
            for r in sums:
                j, n_ = int(r["cluster"]), int(r["n"])
                newc[j] = [int(r[f"s{i}"]) // n_ for i in range(sub)]
            cs = newc
        return cs

    # the m subspace fits are fully independent Lloyd chains over the same
    # persisted q — submit them from a small thread pool so their per-round
    # driver collects overlap (guide §2.6); pool.map preserves subspace
    # order, so the codebook is byte-identical to the sequential build
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(m, 4)) as pool:
        return list(pool.map(_fit_subspace, range(m)))


def pq_fit(
    emb: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> list[list[list[int]]]:
    """Fit-only half of :func:`pq_topk`: the deterministic per-subspace
    Lloyd recipe, returning the m x k_codes x (dim/m) integer codebook.

    The ``catalog.cached_index`` trainer for PQ — train once per corpus
    epoch, then every query call passes the cached codebook into
    ``pq_topk(..., codebook=...)`` and skips the fitting scans (the ADC
    scoring pass is all that remains).  Integer micro-units make the JSON
    round-trip exact, so cached == fresh bit-identically."""
    sub = dim // m
    q = _quantize_micro(emb, id_col, vec_col).persist()
    try:
        init_rows = {
            r[id_col]: list(r["qv"])
            for r in q.where(F.col(id_col) < k_codes).collect()
        }
        missing = [j for j in range(k_codes) if j not in init_rows]
        if missing:
            raise ValueError(
                f"pq_fit: seed vectors {missing} absent from the input "
                f"(declared precondition: ids 0..{k_codes - 1} must exist "
                f"and be in-domain)"
            )
        return _pq_fit_on_q(q, init_rows, m, k_codes, iters, sub, id_col)
    finally:
        q.unpersist()


def pq_topk(
    emb: DataFrame,
    n_queries: int = 8,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    codebook: list[list[list[int]]] | None = None,
) -> DataFrame:
    """Product-quantization ANN (IVF-PQ's compression half), exact-integer
    and engine-portable: vectors quantize to micro-units, each of ``m``
    subspaces learns ``k_codes`` centroids with the same deterministic
    Lloyd recipe as :func:`kmeans_assign` (init = ids 0..k-1's subvectors,
    pmod-floor centroid updates, smallest-cluster tie-break), every vector
    compresses to ``m`` one-byte codes, and query distances come from an
    asymmetric-distance (ADC) lookup table — query-to-centroid squared
    distances precomputed per subspace, so scoring a candidate is ``m``
    table lookups + adds instead of a ``dim``-long dot product.

    Scale posture: the codebook (m x k x sub ints) and per-query LUTs
    (n_queries x m x k ints) are scalar-bounded MODEL STATE (same contract
    as the kmeans/pagerank notes) inlined as literals, so candidate
    scoring is a zero-join, zero-shuffle codegen'd map over the codes
    relation — at 100 TB the scan reads m bytes per vector instead of
    4*dim, an 8-byte-per-row shuffle-free sweep.  Top-k is two-level:
    per-(query, cid-block) partial top-k, then a final merge over the
    bounded q x blocks x k survivors — no low-cardinality global window
    over the full candidate set.

    Output: (qid, cid, approx_sq_dist, rank) — squared micro-unit ADC
    distances, rank 1..topk per query (self included: PQ distance to self
    is the quantization error, a useful audit in itself).

    ``codebook``: a fitted ``pq_fit`` artifact (per corpus epoch via
    ``catalog.cached_index``) — skips the fitting scans and their seed
    precondition; only the ``n_queries`` query anchors are read.
    """
    sub = dim // m
    q = _quantize_micro(emb, id_col, vec_col).persist()
    # persisted for the codebook-fitting collects below; the returned ADC
    # scoring DataFrame is lazy and recomputes q from lineage after the
    # finally-unpersist — intentional (one map-only scan+quantize pass).
    try:
        need = max(k_codes, n_queries) if codebook is None else n_queries
        init_rows = {
            r[id_col]: list(r["qv"])
            for r in q.where(F.col(id_col) < need).collect()
        }
        missing = [j for j in range(need) if j not in init_rows]
        if missing:
            raise ValueError(
                f"pq_topk: seed/query vectors {missing} absent from the input "
                f"(declared precondition: ids 0..{need - 1} must exist and be "
                f"in-domain — codebook seeds and query anchors excluded by "
                f"the finite-vector filter have no defined codes)"
            )

        if codebook is not None:
            if len(codebook) != m or any(len(cs) != k_codes for cs in codebook):
                raise ValueError(
                    f"pq_topk: codebook artifact shape mismatch — expected "
                    f"{m} subspaces x {k_codes} codes, got {len(codebook)} x "
                    f"{sorted({len(cs) for cs in codebook})} (stale cache "
                    f"from different params?)"
                )
            cents = [[list(map(int, c)) for c in cs] for cs in codebook]
        else:
            cents = _pq_fit_on_q(q, init_rows, m, k_codes, iters, sub, id_col)

        code_cols = []
        for s in range(m):
            start = s * sub + 1
            darr = (
                "array("
                + ", ".join(
                    _pq_sq_expr(f"slice(qv, {start}, {sub})", c) for c in cents[s]
                )
                + ")"
            )
            code_cols.append(
                F.expr(f"array_position({darr}, array_min({darr})) - 1").alias(f"c{s}")
            )
        codes = q.select(F.col(id_col).alias("cid"), *code_cols)

        structs = []
        for qid in range(n_queries):
            vec = init_rows[qid]
            d_terms = []
            for s in range(m):
                qs = vec[s * sub : (s + 1) * sub]
                lut = [
                    sum((qs[i] - c[i]) * (qs[i] - c[i]) for i in range(sub))
                    for c in cents[s]
                ]
                lit = ", ".join(f"CAST({v} AS BIGINT)" for v in lut)
                d_terms.append(f"element_at(array({lit}), CAST(c{s} AS INT) + 1)")
            structs.append(
                f"named_struct('qid', CAST({qid} AS BIGINT), 'd', {' + '.join(d_terms)})"
            )
        scored = codes.select(
            "cid", F.explode(F.expr("array(" + ", ".join(structs) + ")")).alias("qd")
        ).select(
            F.col("qd.qid").alias("qid"), "cid", F.col("qd.d").alias("approx_sq_dist")
        )

        from pyspark.sql import Window

        blocked = scored.withColumn("blk", F.expr("pmod(cid, 32)"))
        w1 = Window.partitionBy("qid", "blk").orderBy("approx_sq_dist", "cid")
        part = blocked.withColumn("rn", F.row_number().over(w1)).where(
            F.col("rn") <= topk
        )
        w2 = Window.partitionBy("qid").orderBy("approx_sq_dist", "cid")
        return (
            part.select("qid", "cid", "approx_sq_dist")
            .withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= topk)
            .orderBy("qid", "rank")
        )
    finally:
        q.unpersist()


def _rk_side(deg, key, alias):
    return deg.select(F.col("node").alias(key), F.col("d").alias(alias))


def triangle_counts(e):
    """Per-node triangle counts of an undirected edge list (columns
    vec_a < vec_b, unique pairs — :func:`knn_graph` output satisfies this
    by construction via its final groupBy).  Degree-ordered orientation: each triangle
    is enumerated exactly once as a wedge at its lowest-(degree, id)
    corner (lexicographic struct rank — total order at any id range);
    per-node wedge fan-out is bounded by oriented out-degree."""
    deg = (
        e.select(F.col("vec_a").alias("node"))
        .unionAll(e.select("vec_b"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # rank = lexicographic (degree, node) STRUCT — a packed integer
    # d*K + node silently collides for node ids >= K; struct comparison
    # is a strict total order at any id range (DuckDB twin: row compare)
    a_lt_b = F.struct(F.col("ra"), F.col("vec_a")) < F.struct(
        F.col("rb"), F.col("vec_b")
    )
    o = (
        e.join(_rk_side(deg, "vec_a", "ra"), "vec_a")
        .join(_rk_side(deg, "vec_b", "rb"), "vec_b")
        .select(
            F.when(a_lt_b, F.col("vec_a")).otherwise(F.col("vec_b")).alias("u"),
            F.when(a_lt_b, F.col("vec_b")).otherwise(F.col("vec_a")).alias("v"),
            F.when(a_lt_b, F.col("rb")).otherwise(F.col("ra")).alias("rvd"),
        )
    )
    o = materialize(o)  # referenced by both wedge legs + closure
    o1 = o.select(F.col("u"), F.col("v").alias("x"), F.col("rvd").alias("rxd"))
    o2 = o.select(F.col("u"), F.col("v").alias("y"), F.col("rvd").alias("ryd"))
    wedges = o1.join(o2, "u").where(
        F.struct(F.col("rxd"), F.col("x")) < F.struct(F.col("ryd"), F.col("y"))
    )
    closure = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closure, ["x", "y"])
    return (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("x")))
        .unionAll(tri.select(F.col("y")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


def lsh_triangle_counts(
    emb: DataFrame,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-node triangle counts over the LSH-pruned similarity graph —
    the sub-quadratic sibling of :func:`knn_graph` + :func:`triangle_counts`
    (whose edge materialization is O(N²) FLOPs by its EXACT contract).
    Graph semantics, declared: two vectors are adjacent iff they are
    byte-identical (exact near-dups by definition) or their distinct
    contents share an LSH bucket (the seeded hyperplanes of
    :func:`bucket_sql`) with cosine >= ``threshold`` — the similarity
    graph an at-scale curation pipeline actually builds (exact all-pairs
    is the audit tool, not the production path).

    Three ideas make it scale:

    1. **LSH candidate pruning**: scoring happens only inside buckets —
       one equi-join on bucket id replaces the all-block-pairs grid, so
       the flop count is sum(bucket²) over DISTINCT contents, not N².
       At corpus scale you bound bucket sizes by adding planes/bands;
       the bucket join shape is unchanged.
    2. **Content-class canonicalization** (the minhash-lane precedent):
       byte-identical vectors collapse into one class (id = min member
       id, multiplicity m) BEFORE any scoring, so a duplicate-heavy
       corpus — the realistic 100 TB regime — costs distinct-contents
       flops, not raw-row flops.
    3. **Closed-form expansion**: the node-level graph is the class
       graph with every class internally a clique, so per-node triangle
       counts come from per-CLASS arithmetic — for a node of class c:
       C(m_c−1, 2) within-class triangles, (m_c−1)·Σ_{d∈adj(c)} m_d
       straddling an in-class edge, Σ_{d∈adj(c)} C(m_d, 2) with both
       others in one neighbor class, and Σ m_d·m_e over class-level
       triangles {c,d,e} — all BIGINT, so the whole relation is
       trivially bit-stable.  The class-triangle term reuses the same
       degree-ordered orientation as :func:`triangle_counts` (each class
       triangle enumerated once as a wedge at its lowest-(degree, id)
       corner).

    One shuffle tags classes (window over the vector itself — engines
    group on native array equality, no cross-engine float rendering),
    one bucket equi-join scores candidates, two equi-joins enumerate
    class triangles, one join expands back to members.
    """
    from pyspark.sql import Window

    tagged = emb.select(F.col(id_col).alias("node"), F.col(vec_col).alias("v"))
    wcls = Window.partitionBy("v")
    tagged = tagged.withColumn("cls", F.min("node").over(wcls)).withColumn(
        "m", F.count(F.lit(1)).over(wcls)
    )
    members = tagged.select("node", "cls")
    reps = tagged.where(F.col("node") == F.col("cls")).select("cls", "v", "m")

    # norm once per CLASS, not per candidate pair: the in-bucket scoring
    # stage evaluates |bucket|² pairs, and cosine_sql would recompute both
    # self-dots there — _paired_cosine keeps the arithmetic (and the
    # rounded doubles) identical while cutting the interpreted-HOF dot
    # count on the quadratic stage by 3x (same hoist the brute-force topk
    # lanes already use)
    sig = reps.withColumn("bucket", F.expr(bucket_sql("v"))).withColumn(
        "nrm", _norm("v")
    )
    a = sig.select(
        "bucket",
        F.col("cls").alias("ca"),
        F.col("v").alias("va"),
        F.col("m").alias("ma"),
        F.col("nrm").alias("na"),
    )
    b = sig.select(
        "bucket",
        F.col("cls").alias("cb"),
        F.col("v").alias("vb"),
        F.col("m").alias("mb"),
        F.col("nrm").alias("nb"),
    )
    # each class has exactly one bucket, so an unordered class pair meets
    # at most once — no post-join dedup needed
    e = (
        a.join(b, "bucket")
        .where(F.col("ca") < F.col("cb"))
        .where(_paired_cosine(_dot_sql("va", "vb"), "na", "nb") >= F.lit(float(threshold)))
        .select("ca", "cb", "ma", "mb")
    )
    # referenced by degree, orientation, both wedge legs, the closure and
    # the S/Q rollup — checkpoint or the bucket-scoring DAG re-executes
    # per reference (same rationale as the exact lane's edge checkpoint)
    e = materialize(e)

    deg = (
        e.select(F.col("ca").alias("node"))
        .unionAll(e.select("cb"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    a_lt_b = F.struct(F.col("ra"), F.col("ca")) < F.struct(
        F.col("rb"), F.col("cb")
    )
    o = (
        e.join(_rk_side(deg, "ca", "ra"), "ca")
        .join(_rk_side(deg, "cb", "rb"), "cb")
        .select(
            F.when(a_lt_b, F.col("ca")).otherwise(F.col("cb")).alias("u"),
            F.when(a_lt_b, F.col("cb")).otherwise(F.col("ca")).alias("v"),
            F.when(a_lt_b, F.col("rb")).otherwise(F.col("ra")).alias("rvd"),
            F.when(a_lt_b, F.col("ma")).otherwise(F.col("mb")).alias("mu"),
            F.when(a_lt_b, F.col("mb")).otherwise(F.col("ma")).alias("mv"),
        )
    )
    o = materialize(o)
    o1 = o.select(
        "u",
        "mu",
        F.col("v").alias("x"),
        F.col("rvd").alias("rxd"),
        F.col("mv").alias("mx"),
    )
    o2 = o.select(
        "u",
        F.col("v").alias("y"),
        F.col("rvd").alias("ryd"),
        F.col("mv").alias("my"),
    )
    wedges = o1.join(o2, "u").where(
        F.struct(F.col("rxd"), F.col("x")) < F.struct(F.col("ryd"), F.col("y"))
    )
    closure = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closure, ["x", "y"])
    wsum = (
        tri.select(F.col("u").alias("cnode"), (F.col("mx") * F.col("my")).alias("w"))
        .unionAll(tri.select(F.col("x"), (F.col("mu") * F.col("my")).alias("w")))
        .unionAll(tri.select(F.col("y"), (F.col("mu") * F.col("mx")).alias("w")))
        .groupBy("cnode")
        .agg(F.sum("w").alias("w"))
    )
    # per-class neighbor sums over the symmetrized class edges:
    # s = sum of neighbor multiplicities, q = sum of C(m_d, 2)
    sq = (
        e.select(F.col("ca").alias("cnode"), F.col("mb").alias("nm"))
        .unionAll(e.select(F.col("cb"), F.col("ma")))
        .groupBy("cnode")
        .agg(
            F.sum("nm").alias("s"),
            F.sum(F.expr("(nm * (nm - 1)) div 2")).alias("q"),
        )
    )
    totals = (
        reps.select("cls", "m")
        .join(sq, F.col("cls") == sq["cnode"], "left")
        .drop("cnode")
        .join(wsum, F.col("cls") == wsum["cnode"], "left")
        .drop("cnode")
        .select(
            "cls",
            (
                F.expr("((m - 1) * (m - 2)) div 2")
                + (F.col("m") - 1) * F.coalesce(F.col("s"), F.lit(0))
                + F.coalesce(F.col("q"), F.lit(0))
                + F.coalesce(F.col("w"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_triangles"),
        )
    )
    return (
        members.join(totals, "cls")
        .where(F.col("n_triangles") > 0)
        .select("node", "n_triangles")
    )
