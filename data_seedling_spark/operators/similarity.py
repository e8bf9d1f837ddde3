"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The query set is broadcast, so the big side streams once with no
  shuffle; per-pair math is JVM ``zip_with``/``aggregate`` (no Python).
- ``hyperplane_lsh_topk``: random-hyperplane LSH (`Charikar 2002`) —
  sign-bit signatures bucket the corpus; candidates are ranked only
  within matching buckets. The scale path: shuffle is O(rows), and the
  bucket join replaces the all-pairs cross product.

Arithmetic notes: embeddings are cast to double *before* any math
(float math differs between engines), and dot/norm use a sequential
left-fold so the oracle can reproduce the exact double result.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _resolve_stride(df: DataFrame, stride: int | None) -> int:
    """``None`` → :func:`adaptive_stride` (√N — the scale-safe
    default since r8; a FIXED stride makes IVF/PQ/k-means index
    sizing quadratic in corpus size, measured 16–59× wall-clock at
    10× data in SCALE.md). Pass an explicit int to pin the index
    size — the small-SF regression twins do."""
    return adaptive_stride(df) if stride is None else stride


def arrow_assign_enabled() -> bool:
    """Library default for the Arrow/BLAS ANN kernels — **ON** (r9):
    a bare :func:`ivf_assign` / :func:`kmeans_lloyd` / PQ call routes
    through the matmul assigner (:func:`ivf_assign_arrow`, 68× at sf1
    in SCALE.md) and within-block pair scoring through the gram-matmul
    scorer (:func:`near_dup_pairs_arrow`) — the only paths that hold
    at 100 TB. Set ``DS_SPARK_IVF_ARROW=0`` to force the interpreted
    sequential folds everywhere (debugging / engine-parity runs).

    Hash-checked oracle queries do NOT consult this default: they pin
    ``arrow=False`` explicitly (via :func:`oracle_arrow`) because the
    DuckDB oracles reproduce the fold's exact IEEE summation order,
    while BLAS matmuls can differ by an ulp at the 1e-6 rounding
    boundary (agreement vs the fold ≥0.999 floor-tested for every
    kernel in tests/test_llm_ops.py)."""
    import os

    val = os.environ.get("DS_SPARK_IVF_ARROW")
    if val is None:
        return True
    return val.lower() not in ("0", "false", "no", "off")


def _use_arrow(arrow: bool | None) -> bool:
    """Resolve a per-call ``arrow`` override: explicit bool wins;
    ``None`` defers to the library default (:func:`arrow_assign_enabled`)."""
    return arrow_assign_enabled() if arrow is None else arrow


def oracle_arrow() -> bool | None:
    """Path pin for the hash-checked ANN oracle queries: ``False``
    (sequential fold — the DuckDB-reproducible plan) unless
    ``DS_SPARK_BENCH_ARROW`` is set truthy, bench.py's knob for timing
    the same catalog entries on the throughput kernels (returns
    ``None`` → library default → Arrow). Correctness runs never set
    the bench knob, so the driver always hash-checks the fold."""
    import os

    return None if os.environ.get("DS_SPARK_BENCH_ARROW") else False


def cosine(a, b):
    """dot/(‖a‖·‖b‖) over double array columns (sequential fold —
    deterministic and oracle-reproducible)."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def norm(a):
    """‖a‖ — precompute as a per-vector column before any pairwise
    join so each pair evaluates one dot product instead of three
    (bit-identical to computing the norms inline: same fold, hoisted)."""
    return F.sqrt(_dot(a, a))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-pairs excluded).

    Plan shape: broadcast(queries) ⋈ corpus (no shuffle on the corpus)
    → per-row JVM cosine → rank window partitioned by query id. The
    window shuffle carries only (query, candidate, score) triples.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).withColumn("_qn", norm(F.col("_qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    ).withColumn("_cn", norm(F.col("_cv")))
    score = _dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(score, 6).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hyperplane_signature(vec_col, planes: np.ndarray, round_digits: int | None = None):
    """Sign-bit LSH signature as a bigint: bit i = (v·plane_i > 0).

    The plane matrix enters the plan as ONE generated SQL literal
    (``array(named_struct('b', 2^i, 'p', array(...)))``) parsed in a
    single ``F.expr`` call — the same parser trick as
    :func:`_centroid_array_expr`. Building n_planes×dim doubles as
    individual ``F.lit`` Columns costs a py4j round-trip each (~2.5 s
    for a 40×64 matrix, ~4k Columns for an 8-table LSH layout); the
    parser ingests the identical constant in one call, and ``repr()``
    round-trips every double bit-exactly. The signature itself is a
    JVM fold: per-plane sequential-fold dot product (same IEEE op
    order as the old per-bit form), sign test, weighted bit sum.
    """

    def d(x: float) -> str:
        return f"{float(x)!r}D"

    planes_expr = F.expr(
        "array("
        + ",".join(
            f"named_struct('b',{1 << i}L,"
            f"'p',array({','.join(d(x) for x in planes[i])}))"
            for i in range(len(planes))
        )
        + ")"
    )
    def dot(s):
        d = F.aggregate(
            F.zip_with(vec_col, s["p"], lambda x, y: x * y),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        # round_digits puts the sign test on a decimal grid so an
        # engine whose dot fold differs by an ulp (SQL oracle) lands
        # the same bucket bit.
        return F.round(d, round_digits) if round_digits is not None else d

    return F.aggregate(
        planes_expr,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.when(dot(s) > 0, s["b"]).otherwise(F.lit(0).cast("long")),
    )


def make_planes(dim: int, n_planes: int = 12, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def hyperplane_lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate all-pairs top-k via multi-table hyperplane LSH.

    Classic (bands-of-hashes) LSH layout: ``n_tables`` independent
    signature tables of ``n_planes`` sign bits each; a pair is a
    candidate if it collides in ANY table, so miss probability decays
    exponentially in ``n_tables`` (1−(1−p^planes)^tables) while each
    table's buckets stay small. One table with many planes — the naive
    layout — over-partitions the space and recall collapses; the
    measured curve is asserted in ``test_llm_ops.py`` and documented in
    docs/SCALE.md.

    Plan shape: vectors fan out n_tables× (ids + signatures only),
    bucket-equi-join per table, pair dedupe across tables, then ONE
    exact scoring pass per surviving pair (vectors re-joined by id) —
    so approximation affects recall, never reported scores. Shuffle is
    O(rows × n_tables) plus the candidate pairs; the all-pairs product
    never materialises.
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    v = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )

    # All n_tables signatures in one Arrow-batched pass: a (tables ×
    # planes, dim) matmul per batch, sign bits packed per table. The
    # JVM-expression form (n_tables × n_planes fold expressions over
    # 64-double literal arrays) chokes Catalyst's analyzer — ~10s of
    # plan time for an 8×8 layout — so this is the rare case where the
    # vectorized UDF beats built-ins. Planes are rebuilt per worker
    # from the seed (deterministic, nothing shipped).
    @pandas_udf(T.ArrayType(T.LongType()))
    def _signatures(vecs: pd.Series) -> pd.Series:
        all_planes = np.concatenate(
            [make_planes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
        )  # (n_tables * n_planes, dim)
        mat = np.stack(vecs.map(lambda x: np.asarray(x, dtype=np.float64)))
        bits = (mat @ all_planes.T > 0).reshape(len(mat), n_tables, n_planes)
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        buckets = (bits * weights).sum(axis=2)  # (rows, n_tables)
        return pd.Series(list(buckets))

    tagged = v.select(
        F.col(id_col),
        F.posexplode(_signatures(F.col("_v"))).alias("_table", "_bucket"),
    )
    a, b = tagged.alias("a"), tagged.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a._table") == F.col("b._table"))
            & (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("query_id"),
            F.col(f"b.{id_col}").alias("neighbor_id"),
        )
        .distinct()
    )
    vq = v.select(F.col(id_col).alias("query_id"), F.col("_v").alias("_qv"))
    vn = v.select(F.col(id_col).alias("neighbor_id"), F.col("_v").alias("_nv"))
    pair_score = _dot(F.col("_qv"), F.col("_nv")) / (
        F.sqrt(_dot(F.col("_qv"), F.col("_qv"))) * F.sqrt(_dot(F.col("_nv"), F.col("_nv")))
    )
    scored = (
        candidates.join(vq, "query_id")
        .join(vn, "neighbor_id")
        .select("query_id", "neighbor_id", F.round(pair_score, 6).alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.4,
    centroid_stride: int | None = None,
    arrow: bool | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key.

    Blocking bounds the pair count (quadratic only inside a block).
    ``block_col=None`` — the default — blocks on IVF quantizer cells
    (delegates to :func:`embedding_near_dup_ivf`): cell count grows
    with the corpus, so mean block size stays ≈``centroid_stride``
    and the join is O(rows·stride) at any scale. Passing an explicit
    metadata column (e.g. ``"label"``) keeps the exact within-block
    shape for small oracle-checked runs, at the cost of
    data-dependent block cardinality — one dominant label makes the
    in-block join quadratic, so never ship a metadata block key
    against an unbounded corpus.
    """
    if block_col is None:
        return embedding_near_dup_ivf(
            df, id_col=id_col, vec_col=vec_col,
            threshold=threshold, centroid_stride=centroid_stride,
            arrow=arrow,
        )
    if _use_arrow(arrow):
        # the scale default: one BLAS gram matmul per block instead of
        # cell² interpreted folds (ulp caveat and agreement floor
        # documented on near_dup_pairs_arrow; oracle queries pin
        # arrow=False and keep the fold below)
        return near_dup_pairs_arrow(
            df, id_col=id_col, vec_col=vec_col,
            block_col=block_col, threshold=threshold,
        )
    v = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.col(block_col),
    ).withColumn("_n", norm(F.col("_v")))
    a, b = v.alias("a"), v.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.col(f"a.{block_col}") == F.col(f"b.{block_col}")
    )
    score = _dot(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.round(score, 6).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


def adaptive_stride(df: DataFrame) -> int:
    """``ceil(sqrt(N))`` centroid stride — the balanced IVF sizing.

    A FIXED stride makes cell count proportional to N, so the flat
    quantizer-assignment scan (every vector × every centroid) grows as
    N²/stride — measured 54× wall-clock at 10× data in the r7 sf1
    scale probe (SCALE.md). With stride = ceil(sqrt(N)) both the
    assignment scan (N × N/stride) and the in-cell pair stage
    (N × stride) grow as N^1.5: same query measured 3.7× faster at
    sf1 with equal-or-better recall. Deterministic and
    engine-portable: IEEE sqrt is correctly rounded, so the oracle
    reproduces the stride with
    ``CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)``.
    One count() job — metadata-cheap next to the scans it sizes.
    """
    import math

    return max(1, int(math.ceil(math.sqrt(float(df.count())))))


def embedding_near_dup_ivf(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    centroid_stride: int | None = None,
    arrow: bool | None = None,
) -> DataFrame:
    """Embedding near-dup pairs blocked on IVF quantizer cells — the
    corpus-scale path.

    A label/metadata block key has data-dependent cardinality (one
    dominant label ⇒ quadratic all-pairs); quantizer cells instead
    *scale with the corpus* (~rows/``centroid_stride`` cells), so mean
    block size stays ≈``centroid_stride`` regardless of corpus size and
    the pair join stays O(rows·stride). Same deterministic stride
    quantizer as ``ivf_topk`` — a k-means fit plugs in identically.
    Near-dup vectors are near in space, so cell blocking keeps recall
    high for the ≥threshold band (cell-boundary pairs are the miss
    mode, same knob as nprobe in IVF search).

    ``centroid_stride=None`` sizes the index adaptively via
    :func:`adaptive_stride` (the 100 TB default); a fixed stride stays
    available for the small-SF oracle twins.
    """
    centroid_stride = _resolve_stride(df, centroid_stride)
    centroids = df.where((F.col(id_col) % centroid_stride) == 0).select(
        (F.col(id_col) / centroid_stride).cast("long").alias("centroid_id"),
        F.col(vec_col),
    )
    assigned = ivf_assign(df, centroids, id_col, vec_col, arrow=arrow)
    blocked = df.join(assigned, on=id_col).select(
        F.col(id_col), F.col("centroid_id"), F.col(vec_col)
    )
    return embedding_near_dup_pairs(
        blocked, id_col=id_col, vec_col=vec_col,
        block_col="centroid_id", threshold=threshold, arrow=arrow,
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    centroid_stride: int | None = None,
    arrow: bool | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv 2303.09540): cluster the embedding space
    with a coarse quantizer, then inside each cluster drop every
    vector that has an EARLIER (lower-id) neighbor above the cosine
    threshold — the deterministic min-id representative rule, so the
    kept set is a pure function of the data and oracle-checkable.

    Plan shape = ``embedding_near_dup_ivf`` (cell-blocked pair join,
    O(rows·stride) candidates at any corpus size) + one distinct on
    pruned ids + one anti-join. Returns the surviving rows
    ``(id, cell)``. Semantics note: pruning removes every vector with
    *any* earlier in-cell neighbor ≥ threshold (one relational pass),
    not the sequential greedy that would resurrect a vector whose
    only earlier neighbor was itself pruned — at dedup thresholds
    near-dup sets are cliques and the two rules coincide.
    """
    centroid_stride = _resolve_stride(df, centroid_stride)
    pairs = embedding_near_dup_ivf(
        df, id_col=id_col, vec_col=vec_col,
        threshold=threshold, centroid_stride=centroid_stride, arrow=arrow,
    )
    pruned = pairs.select(F.col("vec_b").alias(id_col)).distinct()
    centroids = df.where((F.col(id_col) % centroid_stride) == 0).select(
        (F.col(id_col) / centroid_stride).cast("long").alias("centroid_id"),
        F.col(vec_col),
    )
    cells = ivf_assign(df, centroids, id_col, vec_col, arrow=arrow)
    return cells.join(pruned, id_col, "left_anti").select(id_col, "centroid_id")


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    the storage/bandwidth step of a corpus-scale vector index (4×
    smaller than float32, 8× smaller than the double working type).

    scale = max|x| / 127; q = floor(x/scale + 0.5) (explicit half-up
    spelled as floor so every engine reproduces it bit-for-bit — SQL
    ``round`` half-up vs banker's varies); reconstruction = q·scale.
    Emits per-vector audit stats rather than the codes themselves:
    (id, scale, max_abs_err, saturated) where max_abs_err is the
    worst reconstruction error (bounded by scale/2) and saturated
    counts |q| = 127 hits. Pure JVM array expressions — one scan, no
    shuffle, no Python.
    """
    vv = F.col("_v")
    amax = F.array_max(F.transform(vv, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.transform(
        vv, lambda x: F.floor(x / F.col("_scale") + F.lit(0.5)).cast("int")
    )
    err = F.array_max(
        F.zip_with(
            F.col("_q"), vv,
            lambda qi, x: F.abs(qi.cast("double") * F.col("_scale") - x),
        )
    )
    saturated = F.size(F.filter(F.col("_q"), lambda qi: F.abs(qi) == 127))
    return (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
        .withColumn("_scale", scale)
        .withColumn("_q", q)
        .select(
            F.col(id_col),
            F.round(F.col("_scale"), 9).alias("scale"),
            F.round(err, 9).alias("max_abs_err"),
            saturated.cast("long").alias("saturated"),
        )
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    arrow: bool | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    centroid (argmin squared L2; deterministic tie-break on centroid
    id). Centroids are broadcast; assignment is one scan, no shuffle.

    ``arrow`` routes through the BLAS-matmul assigner
    (:func:`ivf_assign_arrow`, 68× at sf1 per SCALE.md); ``None``
    defers to the library default (:func:`arrow_assign_enabled` —
    ON since r9). Hash-checked oracle queries pin ``arrow=False``
    (the engine-exact fold; see :func:`oracle_arrow`).

    Squared L2 uses the dot identity ‖v‖²+‖c‖²−2v·c so the oracle can
    reproduce the exact doubles via ``list_dot_product``.

    The argmin is ``min_by`` over the (distance, centroid) struct — a
    declarative aggregate with map-side partial combine, so the shuffle
    carries one row per vector instead of the rows×k scored pairs a
    rank-window formulation would sort. (distance, centroid) is unique
    per candidate, so min_by is deterministic; equivalent to
    ``ROW_NUMBER() OVER (ORDER BY dist, centroid) = 1``.
    """
    if _use_arrow(arrow):
        return ivf_assign_arrow(df, centroids, id_col, vec_col, centroid_id)
    sq_dist = (
        _dot(F.col("_v"), F.col("_v"))
        + _dot(F.col("_c"), F.col("_c"))
        - 2 * _dot(F.col("_v"), F.col("_c"))
    )
    v = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    c = centroids.select(
        F.col(centroid_id), F.col(vec_col).cast("array<double>").alias("_c")
    )
    scored = v.join(F.broadcast(c)).select(
        id_col, centroid_id, F.round(sq_dist, 6).alias("_d")
    )
    return scored.groupBy(id_col).agg(
        F.min_by(centroid_id, F.struct("_d", centroid_id)).alias(centroid_id)
    )


class MaterializedIvfIndex:
    """CDC-maintained IVF assignment index — the EMBEDDING-side sibling
    of ``operators.dedup.MaterializedLshIndex`` (VERDICT r12 #1's
    deployment shape applied to the ANN family): centroids are FROZEN
    at index build (the build-once / search-many lifecycle of
    ``ann_index_lifecycle``), each refresh assigns ONLY the increment's
    vectors to their nearest frozen centroid (broadcast centroids, one
    scan, no corpus rescan) and appends ``(id, centroid_id)`` rows
    through the shared row-mapped-index protocol
    (``matview.refresh_mapped_index``: exactly-once ``_source_hi``
    marker, O(increment) append, net-effect delete compaction).

    Because assignment against FIXED centroids is a pure per-vector
    function, the maintained index equals the one-shot assignment of
    the live corpus row-for-row — so a one-shot SQL oracle replays the
    whole incremental protocol exactly (the same proof as the LSH band
    index). Re-training centroids is an index REBUILD, not a refresh —
    the standard IVF operational split.
    """

    def __init__(
        self,
        spark,
        table,
        centroids: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        arrow: bool | None = None,
    ):
        self.spark = spark
        self.table = table
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col
        self.arrow = arrow

    def assign_rows(self, vecs: DataFrame) -> DataFrame:
        """One-shot ``(id, centroid_id)`` assignments for ``vecs`` —
        the per-vector pure function the index accumulates."""
        return ivf_assign(
            vecs, self.centroids, self.id_col, self.vec_col,
            arrow=self.arrow,
        )

    def refresh(self, source) -> tuple[int, int]:
        from .matview import refresh_mapped_index

        return refresh_mapped_index(
            self.table, source, self.id_col, [self.vec_col],
            self.assign_rows,
        )

    def read(self) -> DataFrame:
        from .matview import read_mapped_index

        return read_mapped_index(self.table, self.id_col).select(
            self.id_col, "centroid_id"
        )

    def new_vs_all_pairs(
        self,
        vectors: DataFrame,
        inc_ids: DataFrame,
        threshold: float = 0.4,
    ) -> DataFrame:
        """Near-dup pairs ``(vec_a, vec_b, score)`` with at least one
        side in ``inc_ids``, scored by cosine within shared index
        cells — identical to the one-shot cell-blocked join restricted
        to those pairs (assignments are count-independent, unlike the
        LSH bucket salt, so no count window is even needed). Plan: the
        index semi-joins to the increment, TOUCHED cells semi-join
        back (work ∝ the increment's cells), vectors attach only for
        the pooled ids, and the equi-join on ``centroid_id`` pairs
        increment rows against the cell pool."""
        idx = self.read()
        inc_rows = idx.join(inc_ids.select(self.id_col), self.id_col, "semi")
        touched = inc_rows.select("centroid_id").distinct()
        pool = (
            idx.join(touched, ["centroid_id"], "semi")
            .join(
                vectors.select(
                    F.col(self.id_col),
                    F.col(self.vec_col).cast("array<double>").alias("_v"),
                ),
                self.id_col,
            )
            .withColumn("_n", norm(F.col("_v")))
        )
        x = pool.join(
            inc_ids.select(self.id_col), self.id_col, "semi"
        ).alias("x")
        y = pool.alias("y")
        score = _dot(F.col("x._v"), F.col("y._v")) / (
            F.col("x._n") * F.col("y._n")
        )
        return (
            x.join(y, ["centroid_id"])
            .where(F.col(f"x.{self.id_col}") != F.col(f"y.{self.id_col}"))
            .select(
                F.least(
                    F.col(f"x.{self.id_col}"), F.col(f"y.{self.id_col}")
                ).alias("vec_a"),
                F.greatest(
                    F.col(f"x.{self.id_col}"), F.col(f"y.{self.id_col}")
                ).alias("vec_b"),
                F.round(score, 6).alias("score"),
            )
            .where(F.col("score") >= threshold)
            .distinct()
        )


def ivf_topk(
    df: DataFrame,
    query_ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    centroid_stride: int | None = None,
    nprobe: int = 1,
    centroids: DataFrame | None = None,
    arrow: bool | None = None,
) -> DataFrame:
    """IVF ANN search: quantize the corpus against a deterministic
    centroid set (every ``centroid_stride``-th vector — a k-means fit
    plugs in identically), then rank candidates only inside each
    query's ``nprobe`` nearest cells. Shuffle is O(rows × nprobe-ish);
    the cross product never materialises. ``nprobe`` is the standard
    recall/cost knob — cell-boundary misses (the nprobe=1 failure
    mode) disappear as probes widen, and each corpus vector lives in
    exactly one cell so no candidate pair duplicates.

    ``centroids`` injects a pre-built index frame
    ``(centroid_id, <vec_col>)`` — a k-means fit, or the index read
    back from a feature store (the build-once / search-many
    lifecycle); None builds the stride quantizer inline.
    ``centroid_stride=None`` → :func:`adaptive_stride` (√N sizing)."""
    if centroids is None:
        centroid_stride = _resolve_stride(df, centroid_stride)
        centroids = (
            df.where((F.col(id_col) % centroid_stride) == 0)
            .select(
                (F.col(id_col) / centroid_stride).cast("long").alias("centroid_id"),
                F.col(vec_col),
            )
        )
    assigned = ivf_assign(df, centroids, id_col, vec_col, arrow=arrow)
    v = df.join(assigned, on=id_col).select(
        F.col(id_col),
        F.col("centroid_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    # Rank each query's probe cells by quantizer distance (same rounded
    # dot-identity contract as ivf_assign; nprobe=1 degenerates to the
    # argmin assignment). The window partitions by query over |queries|
    # × k rows — driver-side small either way.
    q_raw = df.where(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    c = centroids.select(
        "centroid_id", F.col(vec_col).cast("array<double>").alias("_c")
    )
    probe_dist = (
        _dot(F.col("_qv"), F.col("_qv"))
        + _dot(F.col("_c"), F.col("_c"))
        - 2 * _dot(F.col("_qv"), F.col("_c"))
    )
    pw = W.partitionBy("query_id").orderBy(
        F.round(probe_dist, 6), "centroid_id"
    )
    q = (
        q_raw.join(F.broadcast(c))
        .withColumn("_pr", F.row_number().over(pw))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", F.col("centroid_id").alias("_qc"), "_qv")
    )
    v = v.withColumn("_n", norm(F.col("_v")))
    q = q.withColumn("_qn", norm(F.col("_qv")))
    cell_score = _dot(F.col("_qv"), F.col("_v")) / (F.col("_qn") * F.col("_n"))
    scored = (
        v.join(
            F.broadcast(q),
            (F.col("centroid_id") == F.col("_qc"))
            & (F.col(id_col) != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cell_score, 6).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def kmeans_lloyd(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_stride: int | None = None,
    iters: int = 2,
    arrow: bool | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column, returning
    the final (id, centroid_id) assignment.

    Init is deterministic (every ``init_stride``-th vector), each
    iteration is assign (broadcast centroids, one scan — `ivf_assign`)
    then update (element-wise mean via posexplode → per-(centroid,
    position) average → re-assemble). Centroid coordinates round to the
    1e-6 grid after each update so the engine-independent doubles the
    assignment compares are identical in the SQL oracle (the same
    contract `ivf_assign` uses for distances). Clusters that lose all
    members drop out (standard Lloyd's degeneracy; k can shrink).

    Scale: per iteration one broadcast join (k×dim doubles — fine to
    ~10⁵ centroids) + one shuffle of rows×dim (pos, val) pairs for the
    update. Centroids are collected to the driver between iterations
    (k×dim doubles — the same thing MLlib's KMeans keeps driver-side):
    that cuts the lineage each round, so iteration N's plan doesn't
    re-embed iterations 1..N-1, and the rebuilt centroid frame
    broadcasts from a local relation instead of a growing subtree.
    """
    init_stride = _resolve_stride(df, init_stride)
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).persist()
    cent_rows = _lloyd_cent_rows(vecs, id_col, vec_col, init_stride, iters, arrow)
    return _assign_literal_centroids(
        vecs, cent_rows, id_col, vec_col, arrow=arrow
    ).select(id_col, "centroid_id")


def _lloyd_cent_rows(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    init_stride: int,
    iters: int,
    arrow: bool | None = None,
) -> list:
    """The Lloyd iteration loop shared by :func:`kmeans_lloyd` and the
    trained-PQ codebook fit: stride init, ``iters`` × (literal-assign →
    element-mean update), centroids returned driver-side as
    ``[(centroid_id, [coords])]``."""
    init = vecs.where(F.col(id_col) % init_stride == 0).select(
        F.expr(f"`{id_col}` DIV {init_stride}").alias("centroid_id"),
        F.col(vec_col),
    )
    cent_rows = [(r["centroid_id"], list(r[vec_col])) for r in init.collect()]
    for _ in range(iters):
        assigned = _assign_literal_centroids(
            vecs, cent_rows, id_col, vec_col, arrow=arrow
        )
        updated = (
            assigned
            .select("centroid_id", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg("val"), 6).alias("val"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("_pv"))
            .select(
                "centroid_id",
                F.transform("_pv", lambda s: s["val"]).alias(vec_col),
            )
        ).collect()
        cent_rows = [(r["centroid_id"], list(r[vec_col])) for r in updated]
    return cent_rows


def _py_dot(a: list, b: list) -> float:
    """Sequential left-fold dot product — the same IEEE op order as the
    JVM ``_dot`` fold, so a driver-side precomputed ‖c‖² is
    bit-identical to computing it in the plan."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _centroid_array_expr(cent_rows):
    """One F.expr over a generated SQL literal: building k×dim doubles
    as individual F.lit/F.array Column objects costs a py4j round-trip
    each (~2.5 s for 40×64 at sf0.1); the SQL parser ingests the same
    constant array in one call. repr() doubles round-trip bit-exactly
    through the parser."""

    def d(x: float) -> str:
        return f"{float(x)!r}D"

    return F.expr(
        "array("
        + ",".join(
            f"named_struct('cc',{d(_py_dot(c, c))},'cid',{int(cid)}L,"
            f"'c',array({','.join(d(x) for x in c)}))"
            for cid, c in cent_rows
        )
        + ")"
    )


def _literal_argmin(cent_rows, vec_col: str):
    """array_min argmin over the literal centroid array; expects a
    precomputed ``_vv`` = ‖v‖² column in scope."""
    scored = F.transform(
        _centroid_array_expr(cent_rows),
        lambda s: F.struct(
            F.round(
                F.col("_vv") + s["cc"] - 2 * _dot(F.col(vec_col), s["c"]), 6
            ).alias("_d"),
            s["cid"].alias("centroid_id"),
        ),
    )
    return F.array_min(scored)["centroid_id"]


def _assign_literal_centroids(
    vecs: DataFrame, cent_rows, id_col: str, vec_col: str,
    arrow: bool | None = None,
) -> DataFrame:
    """Nearest-centroid assignment as a pure projection: the centroid
    set (already driver-side between Lloyd iterations) becomes a
    constant-folded literal array and the argmin is a per-row
    ``array_min`` over (distance, centroid) structs — zero joins and
    zero shuffles, versus ``ivf_assign``'s broadcast join + groupBy
    per iteration. Distances reproduce ``ivf_assign``'s contract
    exactly: the ‖v‖²+‖c‖²−2v·c dot identity, round to the 1e-6 grid,
    lexicographic (distance, centroid) tie-break. Only for bounded k
    (literal k×dim doubles in the plan; the broadcast-join path covers
    unbounded centroid frames).

    Under :func:`arrow_assign_enabled` the projection routes through
    :func:`_assign_literal_centroids_arrow` instead: with adaptive √N
    sizing k grows with the corpus, and a k×dim literal expression
    tree leaves whole-stage codegen (interpreted argmin over ~500×64
    struct literals measured 87 s at sf1 vs ~5 s for one BLAS matmul
    per Arrow batch). Same ulp caveat as :func:`ivf_assign_arrow`, so
    the literal fold stays the oracle-exact path."""
    if _use_arrow(arrow):
        return _assign_literal_centroids_arrow(vecs, cent_rows, vec_col)
    with_vv = vecs.withColumn("_vv", _dot(F.col(vec_col), F.col(vec_col)))
    return with_vv.withColumn(
        "centroid_id", _literal_argmin(cent_rows, vec_col)
    ).drop("_vv")


def _assign_literal_centroids_arrow(
    vecs: DataFrame, cent_rows, vec_col: str
) -> DataFrame:
    """Arrow/BLAS twin of :func:`_assign_literal_centroids`: one
    (batch × dim) @ (dim × k) matmul per Arrow batch, argmin on the
    same round-6 grid with ties to the smallest centroid id (ids
    sorted; ``np.argmin`` takes the first minimum). The centroid
    matrix ships once per executor in the UDF closure — k×dim doubles,
    the same payload the literal expression embeds in the plan —
    and the corpus streams through with no shuffle. Keeps every input
    column (the Lloyd update re-reads ``vec_col`` from the assigned
    frame), unlike :func:`ivf_assign_arrow`'s two-column projection."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    ids = np.array([int(cid) for cid, _ in cent_rows], dtype=np.int64)
    C = np.array([list(c) for _, c in cent_rows], dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    ids, C = ids[order], C[order]
    cc = (C * C).sum(axis=1)

    @pandas_udf(T.LongType())
    def _assign(vs: pd.Series) -> pd.Series:
        M = np.stack(vs.map(lambda x: np.asarray(x, dtype=np.float64)))
        d = (M * M).sum(axis=1)[:, None] + cc[None, :] - 2.0 * (M @ C.T)
        idx = np.argmin(np.round(d, 6), axis=1)
        return pd.Series(ids[idx])

    return vecs.withColumn(
        "centroid_id", _assign(F.col(vec_col).cast("array<double>"))
    )


def pq_codebooks_trained(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    init_stride: int | None = None,
    iters: int = 2,
    arrow: bool | None = None,
) -> DataFrame:
    """Trained PQ codebooks: per-subspace Lloyd's k-means (Jégou et
    al. 2011 §III trains one k-means per subquantizer; the stride
    sample :func:`pq_codebooks` uses is exactly its init). Returns
    ``(subspace, code_id, subvec)`` — the codebook frame the ADC
    search accepts unchanged, so swapping trained codebooks in is a
    drop-in.

    All m subspaces train JOINTLY: the corpus explodes once into
    (id, subspace, subvec) rows, each iteration is ONE
    literal-argmin projection (per-subspace centroid literals behind
    a CASE on subspace) plus ONE grouped mean update — 2 actions per
    iteration total, versus m sequential Lloyd fits (measured 5.2 s →
    ~1.5 s at sf0.1 for m=4). Math is identical per subspace, so the
    result matches the sequential fit bit-for-bit."""
    sub = dim // m
    init_stride = _resolve_stride(df, init_stride)
    spark = df.sparkSession
    slices = F.array(*[F.slice(F.col("_v"), j * sub + 1, sub) for j in range(m)])
    vecs = (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
        .select(F.col(id_col), F.posexplode(slices).alias("subspace", "sv"))
        .persist()
    )
    init = vecs.where(F.col(id_col) % init_stride == 0).select(
        "subspace", F.expr(f"`{id_col}` DIV {init_stride}").alias("cid"), "sv"
    )
    groups: dict[int, list] = {}
    for r in init.collect():
        groups.setdefault(r["subspace"], []).append((r["cid"], list(r["sv"])))
    for _ in range(iters):
        assigned = _assign_literal_grouped(
            vecs, groups, "subspace", "sv", arrow=arrow
        )
        updated = (
            assigned.select(
                "subspace", "centroid_id", F.posexplode("sv").alias("pos", "val")
            )
            .groupBy("subspace", "centroid_id", "pos")
            .agg(F.round(F.avg("val"), 6).alias("val"))
            .groupBy("subspace", "centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("_pv"))
            .select(
                "subspace",
                "centroid_id",
                F.transform("_pv", lambda x: x["val"]).alias("sv"),
            )
        ).collect()
        groups = {}
        for r in updated:
            groups.setdefault(r["subspace"], []).append(
                (r["centroid_id"], list(r["sv"]))
            )
    vecs.unpersist()
    rows = [
        (s, int(cid), [float(x) for x in cv])
        for s, cent in sorted(groups.items())
        for cid, cv in cent
    ]
    return spark.createDataFrame(
        rows, "subspace int, code_id long, subvec array<double>"
    )


def _assign_literal_grouped(
    vecs: DataFrame, groups: dict, group_col: str, vec_col: str,
    arrow: bool | None = None,
) -> DataFrame:
    """Literal-centroid argmin with a separate centroid set per group:
    CASE over ``group_col`` selects that group's literal array — still
    a pure projection (no join, no shuffle) covering every group in
    one pass. Under :func:`arrow_assign_enabled` routes through the
    Arrow twin (same rationale and ulp caveat as
    :func:`_assign_literal_centroids`: with √N sizing the CASE'd
    literal tree reaches m×k×sub doubles and leaves codegen)."""
    if _use_arrow(arrow):
        return _assign_literal_grouped_arrow(vecs, groups, group_col, vec_col)
    with_vv = vecs.withColumn("_vv", _dot(F.col(vec_col), F.col(vec_col)))
    expr = F.lit(None).cast("long")
    for g, cent_rows in sorted(groups.items()):
        expr = F.when(
            F.col(group_col) == g, _literal_argmin(cent_rows, vec_col)
        ).otherwise(expr)
    return with_vv.withColumn("centroid_id", expr).drop("_vv")


def _assign_literal_grouped_arrow(
    vecs: DataFrame, groups: dict, group_col: str, vec_col: str
) -> DataFrame:
    """Arrow/BLAS twin of :func:`_assign_literal_grouped`: per Arrow
    batch, rows are masked by group and each group's slice takes one
    (rows × sub) @ (sub × k) matmul — the per-group codebooks ship
    once per executor in the closure, exactly the payload the CASE
    expression would embed literally. Same round-6 grid and
    smallest-id tie rule; same ulp caveat (the literal path stays
    the oracle-exact one). Rows whose group has no codebook get NULL,
    matching the CASE's ``otherwise(NULL)``."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    mats = {}
    for g, cent_rows in groups.items():
        ids = np.array([int(cid) for cid, _ in cent_rows], dtype=np.int64)
        C = np.array([list(c) for _, c in cent_rows], dtype=np.float64)
        order = np.argsort(ids, kind="stable")
        ids, C = ids[order], C[order]
        mats[int(g)] = (ids, C, (C * C).sum(axis=1))

    @pandas_udf(T.LongType())
    def _assign(gs: pd.Series, vs: pd.Series) -> pd.Series:
        garr = gs.to_numpy()
        out = np.full(len(garr), -1, dtype=np.int64)
        seen_null = False
        for gv in np.unique(garr):
            mask = garr == gv
            if int(gv) not in mats:
                seen_null = True
                continue
            ids, C, cc = mats[int(gv)]
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vs[mask]]
            )
            d = (M * M).sum(axis=1)[:, None] + cc[None, :] - 2.0 * (M @ C.T)
            out[mask] = ids[np.argmin(np.round(d, 6), axis=1)]
        res = pd.Series(out)
        if seen_null:
            res = res.where(res >= 0)
        return res

    return vecs.withColumn(
        "centroid_id",
        _assign(F.col(group_col), F.col(vec_col).cast("array<double>")),
    )


def pq_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    centroid_stride: int | None = None,
) -> DataFrame:
    """Product-quantization codebooks (`Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"`): split the space into
    ``m`` subspaces of ``dim/m`` dims; each subspace's codebook is the
    sub-vectors of a deterministic stride sample (a per-subspace
    k-means fit plugs in identically — same substitution ``ivf_topk``
    makes). Returns ``(subspace, code_id, subvec)``: m × (rows/stride)
    rows — tiny, always broadcastable."""
    sub = dim // m
    centroid_stride = _resolve_stride(df, centroid_stride)
    sampled = df.where((F.col(id_col) % centroid_stride) == 0).select(
        F.expr(f"`{id_col}` DIV {centroid_stride}").alias("code_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    return sampled.select(
        "code_id",
        F.posexplode(
            F.array(*[F.slice(F.col("_v"), j * sub + 1, sub) for j in range(m)])
        ).alias("subspace", "subvec"),
    ).select("subspace", "code_id", "subvec")


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    arrow: bool | None = None,
) -> DataFrame:
    """PQ encoding: per subspace, assign each vector's sub-vector to
    its nearest codeword (argmin squared-L2 via the dot identity,
    rounded to the 1e-6 grid so the oracle reproduces the doubles;
    deterministic tie-break on code id — the ``ivf_assign`` contract).

    Plan shape: explode each vector into m sub-vectors, broadcast-join
    the codebooks, ``min_by`` partial-aggregate per (vector, subspace).
    The shuffle carries one (id, subspace, code) row per sub-vector —
    the 100 TB corpus compresses to m bytes-ish per vector, which is
    the entire point of PQ.

    Under :func:`arrow_assign_enabled` the scored join (rows × m ×
    codewords interpreted folds — the PQ family's remaining hot stage
    once training is Arrow-routed; ~50 s at sf1) collapses to one
    matmul-argmin per (Arrow batch, subspace) via
    :func:`_assign_literal_grouped_arrow`, the codebooks shipping in
    the closure instead of the broadcast. Same grid/tie contract; the
    join+min_by stays the oracle-exact path."""
    sub = dim // m
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).select(
        id_col,
        F.posexplode(
            F.array(*[F.slice(F.col("_v"), j * sub + 1, sub) for j in range(m)])
        ).alias("subspace", "_s"),
    )
    if _use_arrow(arrow):
        groups: dict[int, list] = {}
        for r in codebooks.select("subspace", "code_id", "subvec").collect():
            groups.setdefault(int(r["subspace"]), []).append(
                (r["code_id"], list(r["subvec"]))
            )
        return _assign_literal_grouped_arrow(
            vecs, groups, "subspace", "_s"
        ).select(id_col, "subspace", F.col("centroid_id").alias("code"))
    sq_dist = (
        _dot(F.col("_s"), F.col("_s"))
        + _dot(F.col("subvec"), F.col("subvec"))
        - 2 * _dot(F.col("_s"), F.col("subvec"))
    )
    scored = vecs.join(F.broadcast(codebooks), "subspace").select(
        id_col, "subspace", "code_id", F.round(sq_dist, 6).alias("_d")
    )
    return scored.groupBy(id_col, "subspace").agg(
        F.min_by("code_id", F.struct("_d", "code_id")).alias("code")
    )


def pq_adc_topk(
    df: DataFrame,
    query_ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m: int = 4,
    dim: int = 64,
    centroid_stride: int | None = None,
    arrow: bool | None = None,
) -> DataFrame:
    """PQ ANN search with asymmetric distance computation (ADC): the
    corpus is scanned as codes only; each query builds a (subspace ×
    codeword) → partial-distance lookup table from its *exact*
    sub-vectors, and a document's approximate distance is the sum of
    its m table entries.

    Plan shape: the LUT (|queries| × m × codebook) is broadcast; the
    encoded corpus streams through one equi-join on (subspace, code)
    and a (query, doc) partial-sum aggregate — shuffle is O(rows × m ×
    |queries|) fixed-width rows, vectors never move after encoding.
    Partial distances sum through decimal(28,6) so the total is
    addition-order-independent and the oracle hash-matches exactly.
    """
    sub = dim // m
    centroid_stride = _resolve_stride(df, centroid_stride)
    codebooks = pq_codebooks(df, id_col, vec_col, m, dim, centroid_stride)
    codes = pq_encode(df, codebooks, id_col, vec_col, m, dim, arrow=arrow)
    queries = df.where(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).select(
        "query_id",
        F.posexplode(
            F.array(*[F.slice(F.col("_qv"), j * sub + 1, sub) for j in range(m)])
        ).alias("subspace", "_qs"),
    )
    lut_dist = (
        _dot(F.col("_qs"), F.col("_qs"))
        + _dot(F.col("subvec"), F.col("subvec"))
        - 2 * _dot(F.col("_qs"), F.col("subvec"))
    )
    lut = queries.join(F.broadcast(codebooks), "subspace").select(
        "query_id", "subspace", "code_id", F.round(lut_dist, 6).alias("_d")
    )
    approx = (
        codes.join(
            F.broadcast(lut),
            (codes["subspace"] == lut["subspace"])
            & (codes["code"] == lut["code_id"])
            & (codes[id_col] != lut["query_id"]),
        )
        .groupBy("query_id", id_col)
        .agg(
            F.sum(F.col("_d").cast("decimal(28,6)")).cast("double").alias("approx_dist")
        )
    )
    w = W.partitionBy("query_id").orderBy("approx_dist", "neighbor_id")
    return (
        approx.select("query_id", F.col(id_col).alias("neighbor_id"), "approx_dist")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# PCA / whitening for embedding pipelines: distributed Gram-matrix
# aggregation (the MLlib RowMatrix pattern — per-batch X^T X partials,
# one d^2-sized reduce), driver-side eigendecomposition of the tiny
# d x d result, literal-matrix projection. Dimensionality reduction
# upstream of ANN is the standard recipe (OPQ/IVF pipelines rotate or
# project first); nothing here shuffles vectors except the one
# (i, j, partial) reduce whose cardinality is batches x d^2, not rows.
# ---------------------------------------------------------------------------


def gram_matrix_df(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """Upper-triangular Gram matrix G[i,j] = Σ_rows round(v_i·v_j, 6)
    as a DataFrame ``(i, j, g)``, engine-exact: every per-row product
    rounds to the 1e-6 grid BEFORE summation and partial sums of grid
    values are exactly representable in float64 (values ≤ ~2^53·1e-6),
    so batch partials → decimal reduce reproduces a sequential SQL sum
    bit-for-bit regardless of batch boundaries or cluster size — the
    same order-independence contract as ``queries.dec_sum``.

    Shape: mapInPandas emits d·(d+1)/2 partial rows per Arrow batch
    (numpy outer products, chunked to bound memory); the only shuffle
    reduces batches × d² fixed-width triples. 100 TB of vectors still
    reduces to a 64×64 matrix."""
    import numpy as np

    iu = np.triu_indices(dim)

    def partials(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if pdf.empty:  # empty partitions are routine at scale
                continue
            mats = np.stack(
                pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64))
            )
            acc = np.zeros((dim, dim))
            for start in range(0, len(mats), 512):
                chunk = mats[start : start + 512]
                acc += np.round(
                    chunk[:, :, None] * chunk[:, None, :], 6
                ).sum(axis=0)
            yield pd.DataFrame(
                {"i": iu[0] + 1, "j": iu[1] + 1, "p": acc[iu]}
            )

    parts = df.select(F.col(vec_col).cast("array<double>").alias(vec_col)).mapInPandas(
        partials, "i int, j int, p double"
    )
    return parts.groupBy("i", "j").agg(
        F.round(F.sum(F.col("p").cast("decimal(28,6)")).cast("double"), 6).alias("g")
    )


def pca_components(
    df: DataFrame, vec_col: str = "embedding", k: int = 8, dim: int = 64
):
    """Top-k principal directions of the (uncentered) second-moment
    matrix: the Gram reduce runs distributed, the d×d eigenproblem
    runs on the driver (same driver-state budget as k-means
    centroids). Deterministic: the Gram entries are decimal-exact, and
    each eigenvector's sign is fixed so its largest-|component| entry
    is positive. Returns ``(eigvals, components)`` with components
    shape (k, dim), orthonormal rows, eigvals descending."""
    import numpy as np

    rows = gram_matrix_df(df, vec_col, dim).collect()
    g = np.zeros((dim, dim))
    for r in rows:
        g[r["i"] - 1, r["j"] - 1] = r["g"]
        g[r["j"] - 1, r["i"] - 1] = r["g"]
    vals, vecs = np.linalg.eigh(g)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T
    for c in comps:
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1.0
    return vals[order], comps


def pca_project(
    df: DataFrame,
    components,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """Project vectors onto principal directions as a pure JVM
    projection: the (k, dim) component matrix enters the plan as ONE
    parsed SQL literal (the ``_centroid_array_expr`` trick) and each
    output coordinate is a sequential-fold dot product rounded to the
    1e-6 grid. No shuffle, no Python, no driver data."""

    def d(x: float) -> str:
        return f"{float(x)!r}D"

    comps_expr = F.expr(
        "array("
        + ",".join(
            f"array({','.join(d(x) for x in row)})" for row in components
        )
        + ")"
    )
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col),
        F.transform(
            comps_expr, lambda c: F.round(_dot(v, c), 6)
        ).alias(out_col),
    )


def two_stage_rerank_topk(
    df: DataFrame,
    query_ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    candidates: int = 10,
    m: int = 4,
    dim: int = 64,
    centroid_stride: int | None = None,
    arrow: bool | None = None,
) -> DataFrame:
    """Two-stage retrieval: PQ-ADC candidate generation (top
    ``candidates`` by approximate distance — the corpus moves as m
    codes per vector) followed by an exact-cosine rerank of only those
    candidates against the full vectors — the production ANN serving
    shape (Jégou et al. 2011 §V.A reranks ADC shortlists with exact
    distances; every IVF-PQ deployment does the same).

    Plan shape: stage 1 is :func:`pq_adc_topk`'s broadcast-LUT scan;
    stage 2 broadcasts the (|queries| × candidates) shortlist INTO the
    corpus scan to fetch full vectors — one more corpus pass, no
    corpus shuffle — then broadcasts the query vectors and ranks ≤
    ``candidates`` rows per query. Exact scores use the same rounded
    dot-identity contract as the brute-force baseline, so the rerank
    is oracle-checkable end-to-end."""
    shortlist = pq_adc_topk(
        df, query_ids, id_col, vec_col, candidates, m, dim, centroid_stride,
        arrow=arrow,
    ).select("query_id", "neighbor_id")
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    cand_vecs = vecs.join(
        F.broadcast(shortlist), vecs[id_col] == F.col("neighbor_id")
    ).select("query_id", "neighbor_id", F.col("_v").alias("_nv"))
    q_vecs = vecs.where(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("_qv")
    )
    exact = (
        F.round(
            _dot(F.col("_qv"), F.col("_nv"))
            / (norm(F.col("_qv")) * norm(F.col("_nv"))),
            6,
        )
    )
    scored = cand_vecs.join(F.broadcast(q_vecs), "query_id").select(
        "query_id", "neighbor_id", exact.alias("score")
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def ivfpq_residual_topk(
    df: DataFrame,
    query_ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m: int = 4,
    dim: int = 64,
    centroid_stride: int | None = None,
    arrow: bool | None = None,
) -> DataFrame:
    """IVF-PQ with residual encoding (Jégou et al. 2011 §IV — the
    composition every production ANN index ships): a coarse IVF
    quantizer partitions the space, PQ encodes the *residual*
    ``v − c(v)`` (residuals cluster near the origin, so the same
    codebook budget spends its resolution where the data actually is),
    and search ADC-scans only the query's cell with a LUT built from
    the query's own residual.

    Plan shape: assignment is the broadcast-centroid ``min_by`` scan;
    residuals are one ``zip_with`` projection (rounded to the 1e-6
    grid so the SQL oracle reproduces the doubles); codes move as m
    small ints per vector; the per-query LUT broadcasts; candidate
    restriction is the cell equi-join — the corpus never shuffles
    full vectors after the residual pass. Deterministic stride
    centroids/codebooks keep the whole composition oracle-checkable
    (swap in :func:`kmeans_lloyd` / :func:`pq_codebooks_trained`
    fits for recall)."""
    sub = dim // m
    centroid_stride = _resolve_stride(df, centroid_stride)
    centroids = df.where((F.col(id_col) % centroid_stride) == 0).select(
        (F.col(id_col) / centroid_stride).cast("long").alias("centroid_id"),
        F.col(vec_col),
    )
    assigned = ivf_assign(df, centroids, id_col, vec_col, arrow=arrow)
    c = centroids.select(
        "centroid_id", F.col(vec_col).cast("array<double>").alias("_c")
    )
    residuals = (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
        .join(assigned, on=id_col)
        .join(F.broadcast(c), on="centroid_id")
        .select(
            id_col,
            "centroid_id",
            F.zip_with(
                "_v", "_c", lambda a, b: F.round(a - b, 6)
            ).alias("_r"),
        )
        # three consumers (codebook sample, encode scan, query residuals)
        # — persist so the assign+subtract pass runs once, not per branch
        .persist()
    )
    codebooks = pq_codebooks(residuals, id_col, "_r", m, dim, centroid_stride)
    codes = pq_encode(residuals, codebooks, id_col, "_r", m, dim, arrow=arrow)
    q_res = residuals.where(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col("centroid_id").alias("_qcell"),
        F.col("_r").alias("_qr"),
    )
    q_sub = q_res.select(
        "query_id",
        "_qcell",
        F.posexplode(
            F.array(*[F.slice(F.col("_qr"), j * sub + 1, sub) for j in range(m)])
        ).alias("subspace", "_qs"),
    )
    lut_dist = (
        _dot(F.col("_qs"), F.col("_qs"))
        + _dot(F.col("subvec"), F.col("subvec"))
        - 2 * _dot(F.col("_qs"), F.col("subvec"))
    )
    lut = q_sub.join(F.broadcast(codebooks), "subspace").select(
        "query_id", "_qcell", "subspace", "code_id",
        F.round(lut_dist, 6).alias("_d"),
    )
    cand = codes.join(assigned, on=id_col)
    approx = (
        cand.join(
            F.broadcast(lut),
            (cand["subspace"] == lut["subspace"])
            & (cand["code"] == lut["code_id"])
            & (cand["centroid_id"] == lut["_qcell"])  # cell restriction
            & (cand[id_col] != lut["query_id"]),
        )
        .groupBy("query_id", id_col)
        .agg(
            F.sum(F.col("_d").cast("decimal(28,6)")).cast("double").alias("approx_dist")
        )
    )
    w = W.partitionBy("query_id").orderBy("approx_dist", "neighbor_id")
    return (
        approx.select("query_id", F.col(id_col).alias("neighbor_id"), "approx_dist")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def md5_planes(n_tables: int, n_planes: int, dim: int) -> np.ndarray:
    """Engine-independent pseudo-random hyperplanes: coordinate
    (t, p, j) is ``(int(md5(f"{t}_{p}_{j}")[:8], 16) % 2000001
    - 1000000) / 1e6`` — uniform in [-1, 1], reproducible from SQL
    (``('0x' || substr(md5(...), 1, 8))::BIGINT``) so an oracle can
    rebuild the exact plane matrix. Shape (n_tables, n_planes, dim)."""
    import hashlib

    out = np.empty((n_tables, n_planes, dim), dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            for j in range(dim):
                h = int(
                    hashlib.md5(f"{t}_{p}_{j}".encode()).hexdigest()[:8], 16
                )
                out[t, p, j] = (h % 2000001 - 1000000) / 1e6
    return out


def embedding_near_dup_lsh_md5(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-duplicate pairs blocked by multi-table hyperplane
    LSH with md5-derived planes — the fully oracle-checkable twin of
    the random-plane ANN path: plane matrix, sign bits (on the 1e-6
    grid), bucket candidates, and exact-cosine verification are all
    engine-independent. Plan: vectors fan out n_tables× as (id, sig)
    rows, per-table bucket self-join, pair dedupe, one exact scoring
    pass; no all-pairs stage."""
    planes = md5_planes(n_tables, n_planes, dim)
    v = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    sigs = v.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    hyperplane_signature(F.col("_v"), planes[t], round_digits=6)
                    for t in range(n_tables)
                ]
            )
        ).alias("tbl", "sig"),
    )
    cands = (
        sigs.alias("x")
        .join(sigs.alias("y"), ["tbl", "sig"])
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("vec_a"), F.col(f"y.{id_col}").alias("vec_b")
        )
        .distinct()
    )
    scored = (
        cands.join(v.select(F.col(id_col).alias("vec_a"), F.col("_v").alias("_va")), "vec_a")
        .join(v.select(F.col(id_col).alias("vec_b"), F.col("_v").alias("_vb")), "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot(F.col("_va"), F.col("_vb"))
                / (
                    F.sqrt(_dot(F.col("_va"), F.col("_va")))
                    * F.sqrt(_dot(F.col("_vb"), F.col("_vb")))
                ),
                6,
            ).alias("score"),
        )
    )
    return scored.where(F.col("score") >= threshold)


def mmr_rerank(
    df: DataFrame,
    query_ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_candidates: int = 20,
    k_select: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's exact top-``k_candidates`` cosine
    shortlist, greedily select ``k_select`` results maximizing
    ``λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)`` — relevance traded
    against redundancy, the standard diversification pass between ANN
    retrieval and serving (and the diverse-exemplar sampler in
    curation pipelines).

    Determinism: candidate and pairwise similarities are rounded to
    the 1e-6 grid at creation; each round's MMR score is one fixed
    double expression over those grid values rounded again to 1e-6,
    with argmax ties broken by candidate id — so the full greedy
    trajectory is reproducible and the DuckDB oracle (one unrolled CTE
    block per round, as for k-means/PQ/logreg) hash-matches.

    Scale: the quadratic stage is per-query over the SHORTLIST
    (k_candidates², not corpus²) — the pairwise-sim frame is
    |queries|·k²-rows; each greedy round is an anti-join + a grouped
    max + a per-query rank window over ≤k_candidates rows. Rounds are
    ``localCheckpoint``-separated so the iterative plan stays flat.
    """
    corpus = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    cands = (
        cosine_topk(
            df.where(F.col(id_col).isin(list(query_ids))),
            df,
            id_col=id_col,
            vec_col=vec_col,
            k=k_candidates,
        )
        .select("query_id", F.col("neighbor_id").alias("cand_id"), "score")
        .persist()
    )
    va = corpus.select(F.col(id_col).alias("cand_id"), F.col("_v").alias("_va"))
    vb = corpus.select(F.col(id_col).alias("_cb"), F.col("_v").alias("_vb"))
    a = cands.select("query_id", "cand_id")
    b = cands.select(F.col("query_id").alias("_qb"), F.col("cand_id").alias("_cb"))
    pair_sim = F.round(
        _dot(F.col("_va"), F.col("_vb"))
        / (norm(F.col("_va")) * norm(F.col("_vb"))),
        6,
    )
    ps = (
        a.join(
            b,
            (F.col("query_id") == F.col("_qb"))
            & (F.col("cand_id") != F.col("_cb")),
        )
        .join(va, "cand_id")
        .join(vb, "_cb")
        .select("query_id", "cand_id", F.col("_cb").alias("other_id"),
                pair_sim.alias("sim"))
        .persist()
    )
    w = W.partitionBy("query_id")
    nu = round(1.0 - lam, 10)
    # MMR scores round to 7dp, not 6: λ and (1−λ) are 1-decimal
    # constants and the input sims sit on the 1e-6 grid, so the ideal
    # score lies ON the 1e-7 grid — rounding at 6dp would park every
    # value exactly on a half-way boundary where the two engines'
    # round() implementations disagree.
    first_score = F.round(F.lit(lam) * F.col("score"), 7)
    sel = (
        cands.withColumn(
            "_rn",
            F.row_number().over(w.orderBy(first_score.desc(), "cand_id")),
        )
        .where(F.col("_rn") == 1)
        .select(
            "query_id",
            "cand_id",
            F.lit(1).alias("pick_rank"),
            first_score.alias("mmr_score"),
        )
        .localCheckpoint()
    )
    for i in range(2, k_select + 1):
        rem = cands.join(sel.select("query_id", "cand_id"),
                         ["query_id", "cand_id"], "left_anti")
        ms = (
            ps.join(
                sel.select("query_id", F.col("cand_id").alias("other_id")),
                ["query_id", "other_id"],
            )
            .groupBy("query_id", "cand_id")
            .agg(F.max("sim").alias("_ms"))
        )
        scored = rem.join(ms, ["query_id", "cand_id"]).withColumn(
            "_score",
            F.round(
                F.lit(lam) * F.col("score") - F.lit(nu) * F.col("_ms"),
                7,
            ),
        )
        pick = (
            scored.withColumn(
                "_rn",
                F.row_number().over(
                    w.orderBy(F.col("_score").desc(), "cand_id")
                ),
            )
            .where(F.col("_rn") == 1)
            .select(
                "query_id",
                "cand_id",
                F.lit(i).alias("pick_rank"),
                F.col("_score").alias("mmr_score"),
            )
        )
        sel = sel.unionByName(pick).localCheckpoint()
    cands.unpersist()
    ps.unpersist()
    return sel


def ivf_assign_hierarchical(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    nprobe_coarse: int = 4,
) -> DataFrame:
    """Two-level (IMI-style) coarse quantization — the beyond-N^1.5
    remedy from SCALE.md: where the flat :func:`ivf_assign` scores
    every vector against every centroid (N × ncells), this routes
    through ~√ncells super-centroids:

    1. super-centroids = every ⌈√ncells⌉-th centroid (tiny);
    2. each CENTROID assigns to its nearest super (ncells × √ncells);
    3. each VECTOR scores only the supers (N × √ncells) and keeps its
       ``nprobe_coarse`` nearest (boundary-miss knob, exactly IVF's
       nprobe one level up);
    4. each vector then scores only the centroids INSIDE its probed
       supers (N × nprobe·√ncells expected) and argmins.

    Total ≈ N·√ncells·(1+nprobe) vs N·ncells flat — with
    ncells = N/stride this turns the quadratic assignment into
    N^1.5/√stride. APPROXIMATE: a vector whose true nearest centroid
    lives in an unprobed super-cell mis-assigns (recall floor asserted
    in tests/test_llm_ops.py); the flat scan stays the oracle-exact
    twin, same split as minhash-md5 vs xxhash64.
    """
    import math

    n_cells = centroids.count()
    sstride = max(1, int(math.ceil(math.sqrt(float(n_cells)))))
    supers = centroids.where(F.col(centroid_id) % sstride == 0).select(
        (F.col(centroid_id) / sstride).cast("long").alias("_super_id"),
        F.col(vec_col).cast("array<double>").alias("_sv"),
    )
    c = centroids.select(
        F.col(centroid_id), F.col(vec_col).cast("array<double>").alias("_c")
    )
    # level-1: centroid -> super (exact argmin over the tiny super set)
    c_dist = (
        _dot(F.col("_c"), F.col("_c"))
        + _dot(F.col("_sv"), F.col("_sv"))
        - 2 * _dot(F.col("_c"), F.col("_sv"))
    )
    c2s = (
        c.join(F.broadcast(supers))
        .select(centroid_id, "_super_id", F.round(c_dist, 6).alias("_d"))
        .groupBy(centroid_id)
        .agg(F.min_by("_super_id", F.struct("_d", "_super_id")).alias("_super_id"))
    )
    routed = c.join(F.broadcast(c2s), centroid_id)
    # level-1: vector -> nprobe_coarse supers
    v = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    v_dist = (
        _dot(F.col("_v"), F.col("_v"))
        + _dot(F.col("_sv"), F.col("_sv"))
        - 2 * _dot(F.col("_v"), F.col("_sv"))
    )
    pw = W.partitionBy(id_col).orderBy("_ds", "_super_id")
    v2s = (
        v.join(F.broadcast(supers))
        .select(id_col, "_super_id", F.round(v_dist, 6).alias("_ds"))
        .withColumn("_rn", F.row_number().over(pw))
        .where(F.col("_rn") <= nprobe_coarse)
        .select(id_col, "_super_id")
    )
    # level-2: vector -> centroids inside its probed supers only
    cand = v.join(v2s, id_col).join(
        F.broadcast(routed.select(centroid_id, "_super_id", "_c")), "_super_id"
    )
    dist = (
        _dot(F.col("_v"), F.col("_v"))
        + _dot(F.col("_c"), F.col("_c"))
        - 2 * _dot(F.col("_v"), F.col("_c"))
    )
    return (
        cand.select(id_col, centroid_id, F.round(dist, 6).alias("_d"))
        .groupBy(id_col)
        .agg(F.min_by(centroid_id, F.struct("_d", centroid_id)).alias(centroid_id))
    )


def ivf_assign_arrow(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """Arrow-batched matmul assignment — the constant-factor remedy
    from SCALE.md, and the one place "UDFs are the slow path" inverts:
    dense linear algebra. The flat :func:`ivf_assign` evaluates the
    dot identity through interpreted higher-order folds (zip_with +
    aggregate are not whole-stage-codegen'd; ~3 folds × dim lambda
    steps per (vector, centroid)); here each Arrow batch computes ONE
    BLAS matmul (batch × dim) @ (dim × k) and a vectorised argmin.

    Semantics match the flat twin's contract: distances on the same
    ``round(d, 6)`` grid, ties to the smallest centroid id (centroid
    rows sorted by id; ``np.argmin`` takes the first minimum).
    Summation ORDER inside the dot differs from the sequential fold
    (pairwise/SIMD vs left fold), so an ulp-level difference can flip
    a 1e-6 rounding boundary — this is the throughput twin (agreement
    floor asserted in tests), the fold version stays the oracle-exact
    one; same split as md5- vs xxhash64-minhash.

    Scale: centroids collect to the driver (k × dim doubles — the same
    thing :func:`kmeans_lloyd` holds between iterations) and ship once
    per executor inside the UDF closure; the corpus streams through in
    Arrow batches with no shuffle at all.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    cent = centroids.select(
        F.col(centroid_id), F.col(vec_col).cast("array<double>").alias("_c")
    ).collect()
    ids = np.array([r[centroid_id] for r in cent], dtype=np.int64)
    C = np.array([list(r["_c"]) for r in cent], dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    ids, C = ids[order], C[order]
    cc = (C * C).sum(axis=1)

    @pandas_udf(T.LongType())
    def _assign(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.map(lambda x: np.asarray(x, dtype=np.float64)))
        d = (M * M).sum(axis=1)[:, None] + cc[None, :] - 2.0 * (M @ C.T)
        idx = np.argmin(np.round(d, 6), axis=1)
        return pd.Series(ids[idx])

    return df.select(
        F.col(id_col),
        _assign(F.col(vec_col).cast("array<double>")).alias(centroid_id),
    )


def near_dup_pairs_arrow(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "centroid_id",
    threshold: float = 0.4,
) -> DataFrame:
    """Arrow/BLAS in-cell pair scoring — the throughput twin of the
    fold-based within-block cosine join in
    :func:`embedding_near_dup_pairs`.

    Each block's vectors land in one ``applyInPandas`` group; ONE gram
    matmul (cell × dim) @ (dim × cell) scores every in-cell pair and a
    vectorised upper-triangle mask keeps ``id_a < id_b`` pairs at
    ``round(score, 6) >= threshold``. Replaces cell² interpreted
    zip_with/aggregate folds with one BLAS call per cell — the same
    trade (and the same ulp caveat) as :func:`ivf_assign_arrow`:
    numpy's summation order can differ from the sequential fold by an
    ulp at a 1e-6 rounding boundary, so the fold path stays the
    hash-exact oracle and this one is bench's configuration
    (``DS_SPARK_IVF_ARROW``; agreement floor in tests/test_llm_ops.py).

    Scale: the groupBy shuffles each vector once to its cell — the
    same movement the fold pair join already makes — and per-cell
    memory is cell_size × dim doubles; with adaptive √N sizing cell
    size ≈ stride, so a group never outgrows an executor.
    """
    import numpy as np
    import pandas as pd

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        M = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )[order]
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"vec_a": ids[:0], "vec_b": ids[:0],
                 "score": np.empty(0, dtype=np.float64)}
            )
        norms = np.sqrt((M * M).sum(axis=1))
        S = np.round((M @ M.T) / np.outer(norms, norms), 6)
        ia, ib = np.triu_indices(n, k=1)
        keep = S[ia, ib] >= threshold
        return pd.DataFrame(
            {"vec_a": ids[ia[keep]], "vec_b": ids[ib[keep]],
             "score": S[ia[keep], ib[keep]]}
        )

    return (
        df.select(F.col(block_col), F.col(id_col), F.col(vec_col))
        .groupBy(block_col)
        .applyInPandas(score, "vec_a long, vec_b long, score double")
    )


# ---------------------------------------------------------------------------
# Graph ANN (NSW-style): completes the ANN family beyond IVF/PQ/LSH
# with the graph-traversal paradigm HNSW popularised (Malkov & Yashunin
# 2016, "Efficient and robust approximate nearest neighbor search using
# Hierarchical Navigable Small World graphs"). HNSW's insert loop is
# inherently sequential; the Spark-idiomatic equivalent is the
# single-layer navigable-small-world form built relationally:
# cell-blocked k-NN edges give local navigability, deterministic
# md5-derived long links give the small-world shortcuts, and search is
# a bounded-hop BEAM traversal — each hop one equi-join against the
# adjacency list plus one broadcast-scored candidate ranking.
# APPROXIMATE by design (recall floors in tests/test_llm_ops.py, like
# hyperplane LSH); the brute-force and IVF paths stay the oracle legs.
# ---------------------------------------------------------------------------


def nsw_build(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    centroid_stride: int | None = None,
    arrow: bool | None = None,
) -> DataFrame:
    """Build the NSW adjacency: per node its ``m`` nearest in-cell
    neighbors (IVF quantizer cells bound the candidate set —
    O(rows·stride) scored pairs at any corpus size, never all-pairs)
    plus ONE deterministic long-range link per node
    (``md5(id) % N`` → an existing node), which restores the
    cross-cell navigability the blocking removed. Returns directed
    edges ``(src, dst)``."""
    centroid_stride = _resolve_stride(df, centroid_stride)
    pairs = embedding_near_dup_ivf(
        df, id_col=id_col, vec_col=vec_col,
        threshold=-1.0, centroid_stride=centroid_stride, arrow=arrow,
    )
    both = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"), "score"
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"), "score"
        )
    )
    w = W.partitionBy("src").orderBy(F.col("score").desc(), "dst")
    local = (
        both.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= m)
        .select("src", "dst")
    )
    ids = df.select(F.col(id_col).alias("_nid"))
    n_total = df.count()
    jump_target = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("nsw:"), F.col(id_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long")
        % F.lit(n_total)
    )
    jumps = (
        df.select(F.col(id_col).alias("src"), jump_target.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        # only keep links whose target exists (ids need not be dense)
        .join(ids, F.col("dst") == F.col("_nid"), "left_semi")
    )
    return local.unionByName(jumps).distinct()


def nsw_search(
    adj: DataFrame,
    df: DataFrame,
    query_ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    beam: int = 8,
    hops: int = 3,
    entry_stride: int | None = None,
) -> DataFrame:
    """Beam search over the NSW graph: start from a deterministic
    entry set (every ``entry_stride``-th node — √N entries by
    default), then ``hops`` rounds of expand-score-prune. Per hop the
    candidate frontier is |queries| × beam rows; expansion joins it
    against the adjacency list (broadcast — the frontier side is
    tiny), scoring joins candidates against the corpus by id with the
    candidate side broadcast, so the corpus streams once per hop and
    NEVER shuffles. Returns ``(query_id, neighbor_id, score, rank)``
    like the other top-k legs."""
    entry_stride = _resolve_stride(df, entry_stride)
    # The adjacency is consumed once per hop, and its build (the
    # cell-blocked k-NN pair scoring) is the expensive subtree — without
    # the persist every hop re-executes the whole build DAG (r14, guide
    # §1.2/§5: cache only what is reused AND expensive to recompute;
    # measured 4.81→4.21 s solo best-of-2 at sf0.1).
    adj = adj.persist()
    # Reused once per hop (the scoring join streams it against the
    # broadcast candidates); without the persist every hop re-scans the
    # corpus and re-computes the norms. Interleaved A/B (r14 #15):
    # persisted won every adjacent pair, best 5.25 → 4.93 s at sf0.1.
    vecs = df.select(
        F.col(id_col).alias("_nid"),
        F.col(vec_col).cast("array<double>").alias("_nv"),
    ).withColumn("_nn", norm(F.col("_nv"))).persist()
    # Persisted (r15): score() broadcasts this tiny invariant frame
    # once per hop, and each broadcast build otherwise re-runs the
    # corpus scan + isin filter it is built from — 4 scans for 3 hops.
    queries = df.where(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).withColumn("_qn", norm(F.col("_qv"))).persist()

    def score(cand: DataFrame) -> DataFrame:
        """(query_id, _nid) -> scored, deduped, top-beam frontier."""
        scored = (
            vecs.join(F.broadcast(cand.distinct()), "_nid")
            .join(F.broadcast(queries), "query_id")
            .where(F.col("_nid") != F.col("query_id"))
            .select(
                "query_id",
                "_nid",
                F.round(
                    _dot(F.col("_qv"), F.col("_nv"))
                    / (F.col("_qn") * F.col("_nn")),
                    6,
                ).alias("score"),
            )
        )
        w = W.partitionBy("query_id").orderBy(F.col("score").desc(), "_nid")
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= beam)
            .select("query_id", "_nid", "score")
        )

    entries = df.where((F.col(id_col) % entry_stride) == 0).select(
        F.col(id_col).alias("_nid")
    )
    # Lazy checkpoints (r15): eager per-hop checkpoints ran one driver
    # action per hop (plan + schedule latency ×4 on frames of a few
    # dozen rows); eager=False keeps the plan flat AND materializes
    # each frontier exactly once — at the final action — so the whole
    # beam search schedules as one job chain. Interleaved A/B: new arm
    # ahead in every pair, best 7.87 → 6.88 s (loaded window).
    frontier = score(
        queries.select("query_id").crossJoin(F.broadcast(entries))
    ).localCheckpoint(eager=False)
    for _ in range(hops):
        expanded = (
            adj.join(
                F.broadcast(frontier.select("query_id", F.col("_nid").alias("src"))),
                "src",
            )
            .select("query_id", F.col("dst").alias("_nid"))
            .unionByName(frontier.select("query_id", "_nid"))
        )
        frontier = score(expanded).localCheckpoint(eager=False)
    wk = W.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        frontier.withColumnRenamed("_nid", "neighbor_id")
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
    )
