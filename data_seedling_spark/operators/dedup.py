"""Deduplication operators for large-scale training-data pipelines.

Four escalating strategies, all declared as DataFrame plans:

- **exact**: group on a content hash — the hash (32 B) shuffles instead
  of the document body, which is the difference between shuffling
  100 TB and shuffling ~100 GB at corpus scale,
- **n-gram Jaccard (exact, blocked)**: word-shingle set similarity with
  a blocking key to bound the pair count; the oracle-checkable truth
  for the approximate variants,
- **MinHash + LSH**: signature → bands → bucket join → candidate pairs
  → exact-Jaccard verification; the linear-shuffle scale path
  (`Broder 1997, "On the resemblance and containment of documents"`;
  banding per Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets*
  ch. 3),
- **SimHash**: 64-bit fingerprints whose Hamming distance tracks cosine
  similarity of the token multiset (`Charikar 2002`), computed from
  JVM-side token hashes + a vectorized numpy reduction.

Token hashing stays JVM-side (``xxhash64``) so Python only sees fixed-
width integers through Arrow, never the document text.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Driver-side construction memos (guide §5, driver round-trips): the
# md5-LSH family rebuilds the same large expression trees on every
# call — the 16-permutation signature aggregate alone is ~130 py4j
# round trips, measured 0.3-1.4 s of pure lazy DataFrame construction
# per band_rows call, ×3 refreshes per maintenance query. The memos
# below cache ONLY exprId-free Columns (unaliased expressions over
# UnresolvedAttributes) plus the shingle UDF object; `.alias(...)`
# mints an Alias exprId at construction time, so aliases are always
# applied fresh per call — a memoized Alias appearing on both sides
# of a join (incremental_neardup_ingest joins two md5_band_rows
# outputs) would collide exprIds across branches. The cached handles
# live in the py4j gateway, which outlives individual SparkSessions
# within a process, so cross-session reuse is safe.


def _estimated_scan_partitions(df: DataFrame, files: list[str]) -> int:
    """Reproduce Spark's FilePartition packing arithmetic from driver
    metadata: ``ceil(Σ(size + openCostInBytes) / maxPartitionBytes)``.
    File COUNT alone over-states width — Spark bins many small files
    into few partitions, so 1000 tiny files can still scan on two
    cores. Sizes come from the Hadoop FileSystem (works for any FS the
    session can read); capped at a 64-file stat sample extrapolated by
    mean size so the probe stays O(1) RPCs on huge file lists."""
    spark = df.sparkSession
    sc = spark.sparkContext
    ju = sc._jvm.org.apache.spark.network.util.JavaUtils
    max_pb = ju.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
    )
    open_cost = ju.byteStringAsBytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4MB")
    )
    hconf = sc._jsc.hadoopConfiguration()
    jpath = sc._jvm.org.apache.hadoop.fs.Path
    sample = files[:64]
    total = 0
    for f in sample:
        p = jpath(f)
        total += p.getFileSystem(hconf).getFileStatus(p).getLen()
    est_bytes = (total / len(sample) + open_cost) * len(files)
    return int(est_bytes // max_pb) + (est_bytes % max_pb > 0)


def scale_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """X1 pattern (reference ``pseudonymisation.py:55-57``): raise
    parallelism before expensive per-row work. Small tables often
    arrive as one file → one partition, which would serialize the
    whole stage on a single core.

    Width probe is ``df.inputFiles()`` (driver-side metadata, no job)
    PLUS a byte-based partition estimate mirroring Spark's file
    packing: the shuffle is skipped only when the scan would already
    run at ``target``-way parallelism — requiring ≥ target files AND
    ≥ target estimated packed partitions. File count alone is not
    enough: maxPartitionBytes/openCostInBytes binning folds many
    small files into few partitions, exactly the shape this helper
    exists to widen. Non-file sources (in-memory frames, empty file
    lists) repartition unconditionally — AQE coalesces the shuffle
    back down if the input was already wide.

    An interleaved A/B at sf0.1 (3 passes, BASELINE.md protocol)
    showed the conditional-vs-unconditional choice is noise-level for
    the bench corpus (single-file input repartitions either way); the
    probe matters for many-file corpora where the extra full-row
    shuffle is real.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()  # [] for non-file-backed plans
        if len(files) >= target and _estimated_scan_partitions(df, files) >= target:
            return df
    except Exception:
        # The probe is an optimization, never a correctness gate: the
        # stat sample races file listing (a file compacted/deleted
        # between inputFiles() and getFileStatus raises), and FS
        # auth/config issues surface here too. Any probe failure falls
        # through to the unconditional repartition — the behavior the
        # probe exists to avoid, never worse than not probing.
        pass
    return df.repartition(target)

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Representative (min id) + multiplicity per distinct text.

    Grouping key is ``sha2(text)`` so the shuffle carries 32-byte keys;
    the text itself never moves. Collision probability at 2^-256 is
    below hardware-error rates.
    """
    h = F.sha2(F.col(text_col).cast("binary"), 256).alias("_h")
    return (
        df.select(h, F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .drop("_h")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct text: rank-1 over the content
    hash. WindowGroupLimit prunes before the sort at scale."""
    from pyspark.sql import Window as W

    h = F.sha2(F.col(text_col).cast("binary"), 256)
    w = W.partitionBy(h).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Shingling + exact Jaccard
# ---------------------------------------------------------------------------


@lru_cache(maxsize=None)
def _shingle_udf(n: int):
    """The shingling pandas UDF for gram size ``n``, built once per
    process: ``@F.pandas_udf`` pickles the function and registers it
    through py4j on every call, ~0.1-0.3 s of driver latency that the
    maintenance protocol paid per refresh."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def shingle(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            if text is None:
                out.append([])
                continue
            words = text.split(" ")
            grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
            out.append(list(dict.fromkeys(grams)))
        return pd.Series(out)

    return shingle


def word_shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles as an array column.

    Arrow-vectorized pandas UDF rather than a JVM higher-order
    expression: an index-lambda formulation (``transform(sequence,
    i -> concat_ws(get(words,i)...))``) embeds the ``split`` inside the
    lambda body, and Catalyst re-evaluates it per element access —
    ~n×shingles splits of the full text *per row* (measured 30× slower).
    The Python split runs once per document and produces byte-identical
    strings to the SQL oracle's ``string_split`` formulation.
    """
    return _shingle_udf(n)(text_col)


def with_word_shingles_jvm(
    df: DataFrame, text_col: str, out_col: str, n: int = 3
) -> DataFrame:
    """JVM-side shingling: split once into a *materialized* words column,
    then ``transform(sequence, i -> array_join(slice(words, i+1, n)))``.

    The known 30×-slow formulation embeds ``split`` itself inside the
    lambda (re-evaluated per element); splitting in a separate
    projection binds the lambda to the materialized array, so each
    shingle is one O(n) slice. Produces byte-identical shingle strings
    to :func:`word_shingles` (order differs never — both enumerate
    left-to-right; dedup here is ``array_distinct``, set-equal).
    """
    words = F.split(F.col(text_col), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_words") - n),
        lambda i: F.array_join(F.slice("_words", i + 1, n), " "),
    )
    return (
        df.withColumn("_words", words)
        .withColumn(
            out_col,
            F.when(
                F.col(text_col).isNull() | (F.size("_words") < n),
                F.array().cast("array<string>"),
            ).otherwise(F.array_distinct(grams)),
        )
        .drop("_words")
    )


def jaccard(a, b):
    """|A∩B| / |A∪B| over array columns (JVM set intersection)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact blocked near-dup pairs: all-pairs Jaccard *within* a
    blocking key (bounded quadratic). The ground truth the LSH variant
    approximates; at corpus scale use ``minhash_lsh_pairs`` instead."""
    df = scale_out(df)
    # Shingles are hashed to int64 before the pairwise intersections:
    # array_intersect over longs is far cheaper than over strings, and
    # the Jaccard value is identical up to 2^-64 collisions. Persisted:
    # both self-join sides read the shingled frame.
    sh = df.select(
        *block_cols,
        F.col(id_col),
        F.transform(
            word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
        ).alias("shingles"),
    ).persist()
    a = sh.alias("a")
    b = sh.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    j = jaccard(F.col("a.shingles"), F.col("b.shingles"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.round(j, 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    df_cap: int | None = None,
    bucket_cap: int | None = 64,
) -> DataFrame:
    """Jaccard-threshold self-join without blocking keys and without
    all-pairs — EXACT (zero false negatives) when ``df_cap is None``;
    with a cap set it is the bounded-df hybrid whose pairs anchored at
    an overflow prefix token get probabilistic LSH recall instead (see
    the guarantee split below). The engine is the AllPairs/PPJoin
    prefix filter (Bayardo et al. WWW'07; Xiao et al. WWW'08):
    candidate pairs come only from documents sharing a *prefix*
    shingle — each document's ``|s| - ceil(t·|s|) + 1``
    globally-rarest shingles — because two sets with Jaccard ≥ t MUST
    overlap inside those prefixes. Unlike MinHash-LSH the capless form
    has zero false negatives; unlike per-key blocking it needs no
    domain blocking column.

    The threshold is a rational ``num/den`` so every bound
    (prefix length, the two-sided size filter ``den·|b| ≥ num·|a|``)
    is computed in exact integer arithmetic — no float ``ceil`` edge
    (0.8·35 = 28.000000000000004 would otherwise inflate the bound
    and silently drop a true pair).

    Scale: shuffles are shingle-keyed (document-frequency count + the
    rank join), doc-keyed (the per-document rank window — partition =
    one document's shingles, never the corpus), and prefix-token-keyed
    (the candidate join, whose per-token fan-out is bounded because
    prefixes are by construction the RAREST shingles). Verification
    joins candidate ids back to shingle sets — O(candidates), and the
    prefix principle keeps candidates near the true-pair count.
    Reference scope: the exact-guarantee sibling of the reference-side
    near-dup surface (SURVEY §2 north-star dedup family).

    ``df_cap`` — the **bounded-df hybrid** (VERDICT r10 #3). Pure
    prefix filtering is superlinear at corpus scale BY OPERATOR CLASS:
    candidate volume is Σ_tok df(tok)², and shingle document
    frequencies grow with the corpus (the sf10 probe read
    17.2×/decade). With ``df_cap=D`` the candidate join runs only on
    prefix tokens with df ≤ D — per-token fan-out ≤ D², total
    candidates ≤ D·Σ df = O(corpus) — and every document owning at
    least one OVERFLOW (df > D) prefix token is additionally routed
    through the md5-MinHash-LSH leg (16 perms × 4 bands, the
    engine-independent family of :func:`minhash_md5_lsh_pairs`, with
    the same hot-bucket salt split at ``bucket_cap`` (default 64,
    caller-tunable alongside ``df_cap`` — ADVICE r13) — r13, VERDICT
    r12 #2); candidate sets union before the shared exact-Jaccard
    verification. Guarantee split: a qualifying pair whose FIRST
    common prefix token (global (df, tok) order) is bounded is found
    EXACTLY (the positional filter's overlap bound is anchored at
    that token, so it never kills such a pair); any other qualifying
    pair shares an overflow prefix token, so BOTH members enter the
    LSH leg and are found with standard LSH recall. Every stage —
    cap, routing, md5 minima, banding — is deterministic integer/md5
    arithmetic, so the hybrid output is oracle-checkable end to end.

    Cache ownership: the shared subtrees (``sh``, and ``pref`` on the
    hybrid path) are ``persist()``-ed because each feeds two consumers
    in the same plan; ownership passes to the CALLER, as across this
    package — unpersist (or ``spark.catalog.clearCache()``, as
    bench.py's run_one does) after materializing the result.
    """
    from pyspark.sql import Window

    t_frac = threshold_num / threshold_den
    sh = (
        scale_out(df)
        .select(F.col(id_col), word_shingles(F.col(text_col), n).alias("s"))
        .where(F.size("s") > 0)
        .persist()
    )
    ex = sh.select(
        F.col(id_col), F.explode("s").alias("tok"), F.size("s").alias("sz")
    )
    dfreq = ex.groupBy("tok").agg(F.count("*").alias("_df"))
    w = Window.partitionBy(id_col).orderBy("_df", "tok")
    # prefix length = sz - ceil(num*sz/den) + 1, all-integer
    plen = (
        F.col("sz")
        - F.floor(
            (F.lit(threshold_num) * F.col("sz") + F.lit(threshold_den - 1))
            / F.lit(threshold_den)
        )
        + F.lit(1)
    )
    pref = (
        ex.join(dfreq, "tok")
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= plen)
        .select(F.col(id_col), "tok", "sz", "_rk", "_df")
    )
    if df_cap is not None:
        # Hybrid routing: the exact candidate join sees only bounded
        # tokens; docs owning an overflow prefix token ALSO go through
        # the LSH leg. pref feeds two consumers → persist.
        pref = pref.persist()
        bounded = pref.where(F.col("_df") <= df_cap)
    else:
        bounded = pref
    a, b = bounded.alias("a"), bounded.alias("b")
    size_ok = (
        F.lit(threshold_den) * F.col("b.sz")
        >= F.lit(threshold_num) * F.col("a.sz")
    ) & (
        F.lit(threshold_den) * F.col("a.sz")
        >= F.lit(threshold_num) * F.col("b.sz")
    )
    # PPJoin positional filter (Xiao et al. WWW'08 §3.2), all-integer:
    # a pair with Jaccard ≥ num/den has overlap O ≥ ceil(num·(|a|+|b|)
    # / (num+den)); at a shared token ranked i in a and j in b (both
    # docs sorted by the same global (df, tok) order), every OTHER
    # common token lies after it in both, so O ≤ 1 + min(|a|-i,
    # |b|-j). Requiring that bound ≥ the overlap floor at the join
    # kills candidates that agree only late in their prefixes — the
    # dominant candidate class as corpus-wide df grows (SCALE.md
    # round-10 probe). Exact: the pair's FIRST common token in global
    # order always satisfies the bound, and for true pairs it is
    # inside both prefixes by the prefix principle.
    min_overlap = F.floor(
        (
            F.lit(threshold_num) * (F.col("a.sz") + F.col("b.sz"))
            + F.lit(threshold_num + threshold_den - 1)
        )
        / F.lit(threshold_num + threshold_den)
    )
    pos_ok = (
        F.lit(1)
        + F.least(
            F.col("a.sz") - F.col("a._rk"), F.col("b.sz") - F.col("b._rk")
        )
    ) >= min_overlap
    cands = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & size_ok
            & pos_ok,
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    if df_cap is not None:
        overflow_ids = (
            pref.where(F.col("_df") > df_cap).select(id_col).distinct()
        )
        sh_over = sh.join(overflow_ids, id_col, "semi")
        sig = minhash_md5_signatures_from_shingles(sh_over, "s", id_col, 16)
        bandrows = md5_band_rows(sig, id_col, num_perm=16, bands=4)
        # Capped like the standalone md5-LSH query (VERDICT r12 #2):
        # the overflow-doc subset is by construction the docs owning
        # the hottest prefix shingles, so its band buckets are the
        # LIKELIEST to go hot — an uncapped self-join here re-opens the
        # m²/2 hole the cap closes elsewhere. The hybrid's oracle
        # replays the salt split; recall composition: the exact leg is
        # untouched, and overflow-only pairs were already
        # probabilistic (standard LSH recall, now × the hot-bucket
        # subgroup term documented at band_bucket_candidates).
        lsh_cands = band_bucket_candidates(bandrows, id_col, bucket_cap=bucket_cap)
        cands = cands.unionByName(lsh_cands).distinct()
    x = sh.select(F.col(id_col).alias("doc_a"), F.col("s").alias("_sa"))
    y = sh.select(F.col(id_col).alias("doc_b"), F.col("s").alias("_sb"))
    j = jaccard(F.col("_sa"), F.col("_sb"))
    return (
        cands.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", F.round(j, 4).alias("jaccard"))
        .where(F.col("jaccard") >= t_frac)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    # Odd multipliers → multiply-shift universal family over Z/2^64.
    a = rng.integers(1, 1 << 62, size=num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 1 << 62, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signatures_from_shingles(
    shingled: DataFrame,
    shingles_col: str,
    id_col: str,
    num_perm: int = 64,
    seed: int = 42,
) -> DataFrame:
    """``(id, signature[num_perm])`` MinHash signatures from an
    already-shingled ``(id, array<string>)`` frame — the shared tail of
    :func:`minhash_signatures` and :func:`minhash_lsh_pairs`, split out
    so pipelines that need both shingles *and* signatures (LSH with
    exact-Jaccard verification) shingle the corpus exactly once.

    Shingle hashing is JVM ``xxhash64``; the num_perm universal-hash
    minima are one vectorized numpy pass per document (multiply-shift
    family ``a·h + b`` in wrapping uint64 — native-speed SIMD, the same
    construction datasketch/Spark MinHashLSH use with a prime modulus).
    Python never deserialises text.
    """
    a_params, b_params = _perm_params(num_perm, seed)

    hashed = shingled.select(
        F.col(id_col),
        F.transform(F.col(shingles_col), lambda s: F.xxhash64(s)).alias(
            "_shingle_hashes"
        ),
    )

    empty_sig = [int(np.iinfo(np.int64).max)] * num_perm

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash(hashes: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):  # wrapping uint64 is the point
            for hs in hashes:
                if hs is None or len(hs) == 0:
                    out.append(empty_sig)
                    continue
                h = np.asarray(hs, dtype=np.int64).view(np.uint64)
                # (perms × shingles) wrap-multiply-add, min per perm;
                # >>1 maps into signed-long range for the LongType sig.
                m = (a_params[:, None] * h[None, :] + b_params[:, None]) >> np.uint64(1)
                out.append(m.min(axis=1).astype(np.int64).tolist())
        return pd.Series(out)

    return hashed.select(F.col(id_col), minhash("_shingle_hashes").alias("signature"))


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """``(id, signature[num_perm])`` MinHash signatures straight from
    text: shingle (Arrow-batched pandas UDF) then delegate to
    :func:`minhash_signatures_from_shingles`."""
    shingled = scale_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("_shingles")
    )
    return minhash_signatures_from_shingles(
        shingled, "_shingles", id_col, num_perm, seed
    )


def minhash_signatures_jvm(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """All-JVM MinHash: per permutation ``p``, re-hash each shingle hash
    with ``xxhash64(h, p, seed)`` and take the array minimum — a valid
    independent hash family without Python workers or Arrow transfer.

    ANSI mode forbids the wrapping multiply-add family JVM-side
    (overflow would raise), so seeded re-hashing replaces it; both are
    uniform over int64, and the banding analysis only needs family
    independence. Signatures are NOT numerically comparable to
    :func:`minhash_signatures` output — pick one implementation per
    corpus. Empty documents get all-max sentinels (never collide).

    Shingling, hashing, minima all run inside whole-stage codegen; the
    shingle array and its hash array are materialized columns so each
    higher-order lambda binds to the array, not to a re-evaluated
    subtree.

    Measured at sf0.1 (5k docs, local[32]): 1.53s vs 1.16s for the
    pandas path — num_perm full array passes of xxhash64 cost more than
    one Arrow round-trip plus the SIMD numpy minima, so the pandas
    implementation stays the default. Use this one where Python workers
    are unavailable or per-executor Python memory is the constraint.
    """
    max_long = (1 << 63) - 1
    sig = F.array(
        *[
            F.coalesce(
                F.array_min(
                    F.transform(
                        F.col("_shingle_hashes"),
                        lambda h, p=p: F.xxhash64(h, F.lit(p), F.lit(seed)),
                    )
                ),
                F.lit(max_long),
            )
            for p in range(num_perm)
        ]
    )
    return (
        with_word_shingles_jvm(scale_out(df), text_col, "_shingles", shingle_n)
        .withColumn(
            "_shingle_hashes", F.transform("_shingles", lambda s: F.xxhash64(s))
        )
        .select(F.col(id_col), sig.alias("signature"))
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, bands: int = 8, sig_len: int | None = None
) -> DataFrame:
    """Band the signatures and bucket-join: documents sharing any
    band-hash become candidates. Shuffle is O(rows × bands), never
    quadratic."""
    if sig_len is None:  # probe only when the caller doesn't know it
        first = signatures.select("signature").first()
        if first is None:  # empty corpus → no candidate pairs
            spark = signatures.sparkSession
            return spark.createDataFrame(
                [], f"doc_a {signatures.schema[id_col].dataType.simpleString()}, "
                    f"doc_b {signatures.schema[id_col].dataType.simpleString()}"
            ).toDF("doc_a", "doc_b")
        sig_len = len(first["signature"])
    rows_per_band = sig_len // bands
    band_cols = [
        F.xxhash64(
            F.concat_ws(
                ",",
                F.lit(b),
                *[
                    F.get(F.col("signature"), b * rows_per_band + r).cast("string")
                    for r in range(rows_per_band)
                ],
            )
        ).alias(f"_band{b}")
        for b in range(bands)
    ]
    banded = signatures.select(F.col(id_col), *band_cols)
    stacked = banded.selectExpr(
        id_col,
        "stack({}, {}) as (band, bucket)".format(
            bands, ", ".join(f"{b}, _band{b}" for b in range(bands))
        ),
    )
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def lsh_recall(jaccard_sim: float, bands: int, rows_per_band: int) -> float:
    """Banding S-curve: probability a pair with true Jaccard ``j`` shares
    at least one LSH band = ``1 - (1 - j^r)^b``. This is the standard
    MinHash-LSH collision analysis (Leskovec/Rajaraman/Ullman, Mining of
    Massive Datasets §3.4) — the expected recall of
    ``lsh_candidate_pairs`` at similarity ``j``."""
    return 1.0 - (1.0 - jaccard_sim**rows_per_band) ** bands


def tune_bands(
    num_perm: int,
    target_jaccard: float,
    min_recall: float = 0.9,
    reject_jaccard: float | None = None,
) -> tuple[int, int]:
    """Pick ``(bands, rows_per_band)`` for a target Jaccard threshold.

    Among band counts that tile the signature (``rows_per_band =
    num_perm // bands``, leftover rows unused — matching
    ``lsh_candidate_pairs``), choose the one that keeps recall at
    ``target_jaccard`` ≥ ``min_recall`` while minimising the collision
    probability at ``reject_jaccard`` (default ``target/2``) — i.e. the
    steepest usable S-curve, which at corpus scale is what bounds the
    candidate-pair shuffle volume. Falls back to max-recall when no
    banding meets ``min_recall``.
    """
    if not 0.0 < target_jaccard < 1.0:
        raise ValueError(f"target_jaccard must be in (0,1), got {target_jaccard}")
    if reject_jaccard is None:
        reject_jaccard = target_jaccard / 2
    candidates = [(b, num_perm // b) for b in range(1, num_perm + 1) if num_perm // b >= 1]
    ok = [
        (b, r)
        for b, r in candidates
        if lsh_recall(target_jaccard, b, r) >= min_recall
    ]
    if ok:
        return min(ok, key=lambda br: (lsh_recall(reject_jaccard, *br), -br[1]))
    return max(candidates, key=lambda br: lsh_recall(target_jaccard, *br))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int | None = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
    cache_registry: list | None = None,
) -> DataFrame:
    """Full near-dup pipeline: MinHash → LSH buckets → candidate pairs
    → **exact** Jaccard verification (no false positives; recall is the
    banding curve ~1-(1-t^r)^b). ``bands=None`` auto-tunes the banding
    to the ``threshold`` via :func:`tune_bands`.

    Cache lifetime: the shingle and signature frames are persisted
    (each feeds two subtrees) and stay cached for the session by
    default — repeated invocations accumulate MEMORY_AND_DISK entries.
    Callers running this repeatedly should pass ``cache_registry``
    (any list): the two persisted handles are appended to it, and
    after materialising the result the caller unpersists them::

        handles: list = []
        pairs = minhash_lsh_pairs(df, ..., cache_registry=handles)
        pairs.write.parquet(out)
        for h in handles:
            h.unpersist()
    """
    if bands is None:
        bands, _ = tune_bands(num_perm, threshold)
    # Shingle the corpus exactly ONCE: the shingle sets feed both the
    # signature subtree and both sides of the verification join, so the
    # expensive pandas-UDF pass over text runs one time and everything
    # downstream reads the cached (id, shingles) rows. Signatures also
    # feed both sides of the band self-join → persisted too. At corpus
    # scale these persists are checkpoints to storage; locally
    # MEMORY_AND_DISK.
    sh = (
        scale_out(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("shingles")
        )
        .persist()
    )
    sigs = minhash_signatures_from_shingles(
        sh, "shingles", id_col, num_perm, seed
    ).persist()
    if cache_registry is not None:
        cache_registry.extend([sh, sigs])
    cands = lsh_candidate_pairs(sigs, id_col, bands, sig_len=num_perm)
    verified = (
        cands.join(sh.withColumnRenamed(id_col, "doc_a"), on="doc_a")
        .withColumnRenamed("shingles", "sh_a")
        .join(sh.withColumnRenamed(id_col, "doc_b"), on="doc_b")
        .withColumnRenamed("shingles", "sh_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jaccard"),
        )
    )
    return verified.where(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document from JVM token hashes: sum of ±1 per
    bit over token hashes, sign → bit. Emitted as zero-padded hex so
    prefixes are orderable; Hamming distance between hex fingerprints
    approximates token-multiset cosine distance."""
    df = scale_out(df)
    hashed = df.select(
        F.col(id_col),
        F.transform(F.split(F.col(text_col), " "), lambda t: F.xxhash64(t)).alias(
            "_tok_hashes"
        ),
    )

    @F.pandas_udf(T.StringType())
    def simhash(hashes: pd.Series) -> pd.Series:
        out = []
        for hs in hashes:
            if hs is None or len(hs) == 0:
                out.append("0" * 16)
                continue
            h = np.asarray(hs, dtype=np.int64).view(np.uint64)
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int32)
            votes = (2 * bits - 1).sum(axis=0)
            fp = np.uint64(0)
            for i in range(64):
                if votes[i] > 0:
                    fp |= np.uint64(1) << np.uint64(i)
            out.append(format(int(fp), "016x"))
        return pd.Series(out)

    return hashed.select(F.col(id_col), simhash("_tok_hashes").alias("simhash"))


def chunk_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_words: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Duplicate-span removal (the C4 / `Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"` policy, at chunk
    granularity): split every document into non-overlapping
    ``chunk_words``-word chunks, find chunks occurring in at least
    ``min_docs`` *distinct* documents, remove every occurrence, and
    reassemble the surviving chunks in their original order.

    Returns ``(id_col, clean_text, n_removed_chunks)`` — one row per
    input document (fully-deduplicated documents keep a row with empty
    text, so a downstream length filter owns the drop policy).

    Scale shape: the global frequency group-by and the anti-join both
    key on ``sha2(chunk)`` — 32-byte hashes shuffle, never the chunk
    text; reassembly is a per-document ``collect_list`` whose state is
    bounded by document length, not corpus size. No windows, no Python.
    (The oracle groups on the chunk text itself — identical equivalence
    classes, since a sha2 collision is negligible.)
    """
    cw = chunk_words
    base = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    ).withColumn(
        "chunks",
        F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(F.ceil(F.size("_w") / cw), F.lit(1)).cast("int") - 1,
            ),
            lambda i: F.array_join(F.slice(F.col("_w"), i * cw + 1, cw), " "),
        ),
    )
    exploded = base.select(
        id_col, F.posexplode("chunks").alias("pos", "chunk")
    ).withColumn("_h", F.sha2(F.col("chunk"), 256))
    dup_hashes = (
        exploded.groupBy("_h")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_h")
    )
    kept = exploded.join(dup_hashes, "_h", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("_n_kept"),
    )
    return (
        base.select(id_col, F.size("chunks").alias("_n_chunks"))
        .join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("_n_chunks") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed_chunks"),
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_words: int = 15,
) -> DataFrame:
    """Exact duplicated-SPAN removal at any token offset — the
    fixed-window form of ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    every ``span_words``-token window (stride 1) hashes to a seed; a
    seed occurring at ≥2 positions corpus-wide marks a duplicated
    region; per document the non-keeper seed positions merge into
    maximal spans (gaps-and-islands), and the covered tokens are
    removed — the globally-first occurrence ``min(doc, pos)`` of each
    seed is the keeper, so a duplicated seed's first occurrence is
    never removed ON ITS OWN ACCOUNT. (It can still lose tokens to a
    DIFFERENT seed's non-keeper span overlapping it in the same
    document, so zero fully-intact copies of a region may survive —
    the known ExactSubstr overlap caveat, Lee et al. §4.1; engine and
    oracle agree on the outcome.) Unlike :func:`chunk_dedup` (C4-style fixed
    NON-overlapping chunks) this catches duplicates at ANY alignment;
    unlike true suffix-array ExactSubstr the duplicate length
    granularity is fixed at ``span_words`` (regions shorter than one
    window are kept, longer regions are covered by their run of
    consecutive seeds) — the standard sliding-fingerprint trade that
    keeps the operator one linear scan + one hash shuffle.

    Returns ``(id, clean_text, n_removed_tokens)``.

    Scale: the window explode is a ~tokens-per-doc × 1 linear
    expansion (row-local md5s, parallelised via :func:`scale_out`);
    the seed groupBy shuffles (hash, id, pos) triples keyed by hash;
    island-merge windows partition by DOCUMENT (bounded by document
    length, never corpus-sized); span containment tests run as
    nested JVM lambdas over the per-doc span array (O(tokens ×
    spans), both document-bounded). Every stage is md5/min/integer
    arithmetic — a SQL oracle replays it exactly.
    """
    L = span_words
    base = _exact_substring_base(df, text_col, id_col)
    # occ has two consumers (the keeper aggregate and the join probe);
    # without the persist the md5 window expansion — the operator's
    # dominant per-row cost — runs twice (r14, guide §1.2 "don't
    # compute things twice"; measured A/B in OPTIMIZATION_r14.md).
    occ = _window_occ(base, id_col, L).persist()
    keepers = occ.groupBy("_key").agg(
        F.count("*").alias("_cnt"),
        F.min(
            F.struct(F.col(id_col).alias("kid"), F.col("pos").alias("kpos"))
        ).alias("_keep"),
    )
    dup_occ = (
        occ.join(keepers.where(F.col("_cnt") >= 2).select("_key", "_keep"), "_key")
        .where(
            ~(
                (F.col(id_col) == F.col("_keep.kid"))
                & (F.col("pos") == F.col("_keep.kpos"))
            )
        )
        .select(id_col, "pos")
    )
    return _exact_substring_apply(base, dup_occ, id_col, L)


def _exact_substring_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Shared head of the ExactSubstr family: the persisted
    ``(id, _text, _w, _n)`` frame (two consumers — seed scan + final
    reassembly; cache ownership passes to the caller, as across this
    package)."""
    return (
        scale_out(df)
        .select(
            F.col(id_col),
            F.col(text_col).alias("_text"),
            F.split(F.col(text_col), " ").alias("_w"),
        )
        .withColumn("_n", F.size("_w"))
        .persist()
    )


def _window_occ(base: DataFrame, id_col: str, L: int) -> DataFrame:
    """Sliding-window seed occurrences ``(id, pos, _key)`` — md5 of
    each stride-1 ``L``-token window, the per-document pure expansion
    shared by the one-shot operator and the incremental batch trim."""
    return (
        base.where(F.col("_n") >= L)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.col("_n") - L + 1)).alias("pos"),
            "_w",
        )
        .select(
            id_col,
            "pos",
            F.md5(F.array_join(F.slice("_w", F.col("pos"), L), " ")).alias(
                "_key"
            ),
        )
    )


def _exact_substring_apply(
    base: DataFrame, dup_occ: DataFrame, id_col: str, L: int
) -> DataFrame:
    """Shared tail of the ExactSubstr family: merge non-keeper seed
    positions into maximal spans (gaps-and-islands, document-bounded
    windows) and remove the covered tokens. Returns
    ``(id, clean_text, n_removed_tokens)``."""
    from pyspark.sql import Window

    wdoc = Window.partitionBy(id_col).orderBy("pos")
    brk = (
        F.col("pos") - F.lag("pos", 1, -1_000_000_000).over(wdoc) > L
    ).cast("int")
    spans = (
        dup_occ.withColumn("_b", brk)
        .withColumn("_isl", F.sum("_b").over(wdoc))
        .groupBy(id_col, "_isl")
        .agg(F.min("pos").alias("s"), (F.max("pos") + L - 1).alias("e"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("_spans"))
    )
    covered = lambda i: F.exists(  # noqa: E731 - token-index containment
        F.col("_spans"), lambda sp: (i >= sp["s"]) & (i <= sp["e"])
    )
    kept = F.filter(
        F.col("_w"), lambda tok, idx: ~covered(idx + F.lit(1))
    )
    return base.join(spans, id_col, "left").select(
        id_col,
        F.when(F.col("_spans").isNull(), F.col("_text"))
        .otherwise(F.array_join(kept, " "))
        .alias("clean_text"),
        F.when(F.col("_spans").isNull(), F.lit(0))
        .otherwise(F.size("_w") - F.size(kept))
        .cast("long")
        .alias("n_removed_tokens"),
    )


def exact_substring_trim_batch(
    df: DataFrame,
    index_keys: DataFrame,
    text_col: str,
    id_col: str,
    span_words: int = 15,
    with_occ: bool = False,
) -> DataFrame:
    """Incremental ExactSubstr: trim ONE arriving batch against a
    persisted seed index of the already-ingested corpus (VERDICT-r13
    mapped-index family applied to duplicated-span removal). An
    occurrence in the batch is a non-keeper — and its window removed —
    iff its seed either (a) exists in ``index_keys`` (the indexed
    occurrence is globally earlier: ingestion order IS keeper order),
    or (b) occurs ≥2 times WITHIN the batch and this occurrence is not
    the batch's ``min(id, pos)`` (the intra-batch keeper, which
    one-shot semantics would also keep).

    Provided batches partition the corpus in increasing ``id_col``
    ranges (so ingestion order equals the one-shot keeper order) and
    the index stores the ORIGINAL ingested text's window keys — NOT
    the cleaned text's (a keeper occurrence can lose its own tokens to
    a different seed's overlapping span, Lee et al. §4.1; indexing
    cleaned text would un-mark such seeds and resurrect their later
    duplicates), the union of per-batch trims is IDENTICAL to the
    one-shot :func:`exact_substring_dedup` of the whole corpus — the
    hash-proof `exact_substring_incremental_ingest` relies on.

    Scale: O(batch text) window expansion; one left-semi + one
    left-anti against 32-char keys (key-only shuffles, never text);
    the keeper aggregate runs over the batch's fresh seeds only; the
    span-merge tail is document-bounded.

    ``with_occ=True`` additionally returns the persisted window
    expansion ``(id, pos, _key)`` as a second element — the ingest
    seam (r15): the batch's ORIGINAL windows are exactly what the
    seed index must fold next
    (``MaterializedNgramIndex.refresh(precomputed_keys=...)``), so
    handing the already-persisted frame over means each ingested
    token is md5-hashed ONCE per batch instead of twice (the refresh
    re-ran the identical split/explode/md5 chain over the committed
    copy of the same rows)."""
    L = span_words
    base = _exact_substring_base(df, text_col, id_col)
    # Three consumers (index hit probe, intra-batch keeper aggregate,
    # intra-batch non-keeper join) would each re-run the md5 window
    # expansion — persist so the batch text is hashed ONCE (r14, guide
    # §1.2; the expansion dominates the trim's cost).
    occ = _window_occ(base, id_col, L).persist()
    keys = index_keys.select(F.col(index_keys.columns[0]).alias("_key"))
    hit = occ.join(keys, "_key", "left_semi").select(id_col, "pos")
    fresh = occ.join(keys, "_key", "left_anti")
    keepers = fresh.groupBy("_key").agg(
        F.count("*").alias("_cnt"),
        F.min(
            F.struct(F.col(id_col).alias("kid"), F.col("pos").alias("kpos"))
        ).alias("_keep"),
    )
    intra = (
        fresh.join(
            keepers.where(F.col("_cnt") >= 2).select("_key", "_keep"), "_key"
        )
        .where(
            ~(
                (F.col(id_col) == F.col("_keep.kid"))
                & (F.col("pos") == F.col("_keep.kpos"))
            )
        )
        .select(id_col, "pos")
    )
    cleaned = _exact_substring_apply(
        base, hit.unionByName(intra), id_col, L
    )
    return (cleaned, occ) if with_occ else cleaned


def _md5_perm_hash(i: int, s):
    """Permutation *i* of shingle *s* as a 60-bit integer. Two
    permutations per md5 call: md5 yields 128 bits, so perm 2k / 2k+1
    slice hex windows [1,15] / [17,31] of md5(f"{k}|{s}") — halving the
    dominant md5 cost while keeping every permutation an independent
    uniform draw. Engine-independent by construction.

    The conv stays INSIDE the per-row expression deliberately: taking
    the MIN over the 15-char hex windows instead (lexicographic ==
    numeric, so value-identical) moves the parse out of the aggregate
    but makes the partial-aggregation state 16 strings instead of 16
    longs — measured 3× the signature-stage shuffle bytes (1.31 →
    3.99 MB at sf0.1) for a ~9%-within-noise CPU saving. At cluster
    scale shuffle volume wins that trade (r12 A/B, reverted)."""
    start = 1 if i % 2 == 0 else 17
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{i // 2}|"), s)), start, 15), 16, 10
    ).cast("long")


def minhash_md5_signatures_from_shingles(
    sh: DataFrame, shingles_col: str, id_col: str, num_perm: int = 16
) -> DataFrame:
    """``(id, signature[num_perm])`` from a shingled frame using the
    md5 hash family. Signature minima as explode + grouped MIN
    aggregates rather than per-row array_min(transform(...)) folds:
    higher-order functions run interpreted (outside whole-stage
    codegen), and 16 of them re-walk the shingle array 16 times —
    measured ~5x slower than the codegen'd aggregate form. The shuffle
    after partial (map-side) min is one row per document either way."""
    ex = sh.select(F.col(id_col), F.explode(shingles_col).alias("_s"))
    mins = ex.groupBy(id_col).agg(
        *[
            m.alias(f"_m{i}")
            for i, m in enumerate(_md5_perm_min_exprs(num_perm))
        ]
    )
    return mins.select(
        F.col(id_col), _signature_array(num_perm).alias("signature")
    )


@lru_cache(maxsize=None)
def _md5_perm_min_exprs(num_perm: int) -> tuple:
    """The UNALIASED ``min(perm_i("_s"))`` aggregate Columns, built once
    per process (exprId-free — aliases are minted per call above)."""
    return tuple(
        F.min(_md5_perm_hash(i, F.col("_s"))) for i in range(num_perm)
    )


@lru_cache(maxsize=None)
def _signature_array(num_perm: int):
    """Unaliased ``array(_m0.._m{n-1})`` Column, built once per process."""
    return F.array(*[F.col(f"_m{i}") for i in range(num_perm)])


def md5_band_rows(
    sig: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """LSH band keys ``(id, band, bkey)``: md5 over the comma-joined
    signature slice per band — the bucket key both engines derive
    identically."""
    return sig.select(
        F.col(id_col),
        F.posexplode(_band_key_array(num_perm, bands)).alias("band", "bkey"),
    )


@lru_cache(maxsize=None)
def _band_key_array(num_perm: int, bands: int):
    """Unaliased ``array(md5(slice_0), ..)`` band-key Column over the
    ``signature`` attribute, built once per process."""
    rows_per_band = num_perm // bands
    band_keys = [
        F.md5(
            F.concat_ws(
                ",",
                *[
                    F.col("signature")[bi * rows_per_band + j].cast("string")
                    for j in range(rows_per_band)
                ],
            )
        )
        for bi in range(bands)
    ]
    return F.array(*band_keys)


def salted_band_rows(
    bandrows: DataFrame, id_col: str, bucket_cap: int | None
) -> DataFrame:
    """Attach the hot-bucket subgroup column ``_sub`` to LSH band rows
    ``(id, band, bkey)`` — the salt-split stage shared by the one-shot
    bucket join (:func:`band_bucket_candidates`) and the maintained
    index's new-vs-all join (:class:`MaterializedLshIndex`), so both
    replay in the same SQL oracle. ``bucket_cap=None`` → ``_sub = 0``
    (no split). The subgroup is ``md5_32(band || ':' || bkey || ':' ||
    id) mod ceil(bucket_count / cap)`` — bucket-keyed so draws are
    independent per bucket (ADVICE r12); the count window is
    partitioned by (band, bkey), never global."""
    from pyspark.sql import Window

    if bucket_cap is None:
        return bandrows.withColumn("_sub", F.lit(0))
    bw = Window.partitionBy("band", "bkey")
    nsplits = F.floor(
        (F.count("*").over(bw) + F.lit(bucket_cap - 1)) / F.lit(bucket_cap)
    )
    salt = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("band").cast("string"),
                    F.lit(":"),
                    F.col("bkey"),
                    F.lit(":"),
                    F.col(id_col).cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return bandrows.withColumn("_sub", salt % nsplits)


def band_bucket_candidates(
    bandrows: DataFrame, id_col: str, bucket_cap: int | None = None
) -> DataFrame:
    """Candidate pairs ``(doc_a, doc_b)`` from LSH band rows
    ``(id, band, bkey)`` via the bucket self-join — with an optional
    **hot-bucket salt split** (VERDICT r11 #2).

    An LSH band bucket with ``m`` members yields ``m²/2`` candidate
    pairs; bucket membership tracks corpus-wide signature-slice
    collisions, so hot buckets grow quadratically with the corpus (the
    standalone md5-LSH query measured 7.2×/decade at sf10 from exactly
    this). With ``bucket_cap=B``, members of a bucket larger than B
    are salted into ``ceil(m/B)`` subgroups by ``md5_32(id) mod
    nsplits`` and only joined WITHIN a subgroup — per-bucket candidate
    volume drops to ~``m·B/2`` (linear in m). The split is
    deterministic md5 arithmetic, so a SQL oracle replays it exactly.

    Recall trade (documented, same class as the prefix filter's
    ``df_cap``): a pair co-bucketed ONLY in hot buckets is emitted only
    if some hot bucket salts both members into the same subgroup
    (probability ~``1/nsplits`` per band). The subgroup draw is
    ``md5_32(band || ':' || bkey || ':' || id) mod nsplits`` — salted
    by the BUCKET as well as the id (ADVICE r12: an id-only salt made
    two docs' subgroup assignments perfectly correlated across every
    hot bucket with the same nsplits, collapsing the per-band chances
    to a single overall ~1/nsplits draw; bucket-salting makes them
    independent per bucket, so missing in k hot buckets costs
    ~``1/nsplits^k``). Pairs sharing any non-hot bucket are
    unaffected, and downstream exact verification is unchanged — the
    cap trades recall on degenerate buckets (whose members are
    near-identical boilerplate that the dedup-cluster consumers
    collapse transitively anyway), never precision.

    Plan: one partitioned window (count per (band, bkey) — never
    global), then the equi-join on (band, bkey, subgroup).
    """
    salted = salted_band_rows(bandrows, id_col, bucket_cap)
    return (
        salted.alias("x")
        .join(salted.alias("y"), ["band", "bkey", "_sub"])
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("doc_a"),
            F.col(f"y.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


def minhash_md5_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup with an **engine-independent hash family**:
    permutation *i* of shingle *s* is the 60-bit integer
    ``('0x' || substr(md5(i || '|' || s), 1, 15))::BIGINT`` — cheap,
    uniform, and computable identically in any engine with md5, so the
    ENTIRE approximate pipeline (signatures → banding → candidate
    buckets → exact-Jaccard verification) is hash-checkable against a
    SQL oracle. The xxhash64+multiply-shift variant
    (:func:`minhash_lsh_pairs`) remains the throughput path; this is
    the auditable twin (same md5 trick as the HLL/count-min sketches).

    Plan shape is identical to the fast path: per-document signature
    fold (JVM transforms, no Python), O(rows × bands) band-key shuffle,
    bucket self-join, verification join on the shingle sets. Nothing
    is all-pairs; ``bucket_cap`` additionally salt-splits hot band
    buckets (see :func:`band_bucket_candidates`) so no single bucket
    ever goes quadratic at corpus scale.
    """
    # scale_out BEFORE the shingle/md5 work (the X1 pattern): the scan
    # of a small corpus is one row group = one task, which
    # single-threads the whole signature fold (r15 — two ~3.3 s 1-task
    # jobs at sf0.1); a no-op whenever the scan already splits >= core
    # count (any real corpus).
    sh = (
        scale_out(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("shingles")
        )
        .where(F.size("shingles") > 0)
        .persist()
    )
    sig = minhash_md5_signatures_from_shingles(sh, "shingles", id_col, num_perm)
    bandrows = md5_band_rows(sig, id_col, num_perm, bands)
    cands = band_bucket_candidates(bandrows, id_col, bucket_cap)
    verified = (
        cands.join(
            sh.select(
                F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a")
            ),
            "doc_a",
        )
        .join(
            sh.select(
                F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jaccard"),
        )
    )
    return verified.where(F.col("jaccard") >= threshold)


class MaterializedLshIndex:
    """CDC-maintained MinHash-LSH band-row index — the NEAR-dup
    counterpart of exact dedup's incremental hash index (VERDICT r12
    #1, the missing 100 TB deployment shape in the dedup family).

    Every one-shot near-dup operator re-shingles, re-signs, and
    re-bands the ENTIRE corpus per run; at corpus scale you never do
    that. This class persists the band rows ``(id, band, bkey)`` as a
    ledger-backed index table (the exactly-once protocol every
    CDC-maintained state table runs, ``operators.matview.refresh_state``,
    in its row-mapped form ``refresh_mapped_index``: the applied source
    version rides inside the index commit as ``_source_hi``, so
    apply+advance are one atomic commit and a replayed refresh is a
    no-op) and each :meth:`refresh` shingles/signs/bands ONLY that
    commit range's documents — O(increment text), an append-sized
    write. New-vs-all candidate generation then equi-joins the
    increment's band rows against the index inside touched buckets
    (:meth:`new_vs_all_candidates`), reusing the hot-bucket salt split
    of :func:`band_bucket_candidates`.

    Maintained ≡ one-shot, hash-provably: band rows are a pure
    per-document function (signatures never depend on the rest of the
    corpus), so the maintained index equals the one-shot banding of
    the live corpus row-for-row, and the salt split's per-bucket
    counts — computed over the index at query time — equal the
    one-shot counts. A SQL oracle that bands the full corpus one-shot
    therefore reproduces the incremental protocol's candidates
    exactly (the ``incremental_distinct_maintenance`` proof pattern).

    Deletes / updates (ctor ``deletes``): ``"rewrite"`` drops the
    document's band rows via an anti-join overwrite — O(index) per
    delete batch, amortized while deletes are rare; ``"tombstone"``
    (VERDICT r13 #3 — the GDPR-batch deployment shape) appends one
    tombstone per changed id plus the survivors' fresh band rows,
    O(changes), with last-writer-wins resolution at read time
    (``matview.read_mapped_index``) and threshold compaction
    (``matview.compact_mapped_index``). Pure-insert increments take
    the O(increment) append path either way. Every commit carries a
    NULL-id watermark marker row, so the stored watermark advances
    with the returned ``hi`` even for increments that band to zero
    rows (ADVICE r13).

    Reference scope: the reference's CDC protocol
    (``patient_notes/src/patient_notes/datalake.py:52-99``) married to
    the LSH family — increment × maintained index instead of
    corpus-wide recompute.
    """

    def __init__(
        self,
        spark,
        table,
        text_col: str,
        id_col: str,
        num_perm: int = 16,
        bands: int = 4,
        shingle_n: int = 3,
        deletes: str = "rewrite",
    ):
        self.spark = spark
        self.table = table
        self.text_col = text_col
        self.id_col = id_col
        self.num_perm = num_perm
        self.bands = bands
        self.shingle_n = shingle_n
        #: removal-increment strategy (matview.refresh_mapped_index):
        #: "rewrite" = anti-join overwrite (O(index) per delete batch);
        #: "tombstone" = O(changes) append + read-time last-writer-wins
        #: resolution (VERDICT r13 #3 — the GDPR-batch deployment shape).
        self.deletes = deletes

    def band_rows(self, docs: DataFrame) -> DataFrame:
        """One-shot band rows ``(id, band, bkey)`` for ``docs`` — the
        per-document pure function the index accumulates. The input is
        ``scale_out``-repartitioned first: a CDC increment arrives in
        however few files its commit was written with (the ledger
        coalesces writes), and the Arrow shingling UDF + signature
        aggregate are the corpus-scale text work of the refresh — an
        sf10 probe read the refresh 2.4× slower when they inherited
        the commit's 4-file parallelism."""
        sh = scale_out(docs).select(
            F.col(self.id_col),
            word_shingles(F.col(self.text_col), self.shingle_n).alias("_sh"),
        ).where(F.size("_sh") > 0)
        sig = minhash_md5_signatures_from_shingles(
            sh, "_sh", self.id_col, self.num_perm
        )
        return md5_band_rows(sig, self.id_col, self.num_perm, self.bands)

    def refresh(self, source) -> tuple[int, int]:
        """Fold ``source`` versions ``(stored watermark, latest]`` into
        the index via the shared row-mapped-index protocol
        (``operators.matview.refresh_mapped_index``: O(increment)
        append for pure-insert increments, net-effect reduction +
        anti-join overwrite for removal-bearing ones). Cost: shingle +
        sign + band the increment only."""
        from .matview import refresh_mapped_index

        return refresh_mapped_index(
            self.table, source, self.id_col, [self.text_col],
            self.band_rows, deletes=self.deletes,
        )

    def fold_batch(self, batch: DataFrame, batch_id: int) -> bool:
        """Fold one Structured-Streaming micro-batch of documents (pure
        inserts — append streams) into the index: the foreachBatch twin
        of :meth:`refresh` (``operators.matview.fold_batch_state``), with
        the stream's ``batch_id`` as the in-commit watermark — a batch
        replayed after a failure no-ops instead of double-banding. The
        commit carries the same NULL-id watermark marker and, on a
        tombstone-mode index, the same tombstone column as a refresh.
        Returns False when the batch was already applied."""
        from .matview import fold_batch_state

        return fold_batch_state(
            self.table,
            batch.select(self.id_col, self.text_col),
            batch_id,
            lambda docs, _: self.band_rows(docs),
            append=True,
            id_col=self.id_col,
            tombstones=self.deletes == "tombstone",
        )

    def read(self) -> DataFrame:
        from .matview import read_mapped_index

        return read_mapped_index(self.table, self.id_col).select(
            self.id_col, "band", "bkey"
        )

    def compact(self, min_stale_fraction: float = 0.0) -> bool:
        """Threshold compaction of a tombstone-mode index
        (:func:`matview.compact_mapped_index`): rewrite to the resolved
        single-generation form when at least ``min_stale_fraction`` of
        raw rows is invisible, so subsequent :meth:`read` calls skip
        the last-writer-wins window entirely (the COMPACTED_TAG fast
        path). Returns whether a rewrite happened."""
        from .matview import compact_mapped_index

        return compact_mapped_index(
            self.table, self.id_col, min_stale_fraction
        )

    def new_vs_all_candidates(
        self, inc_ids: DataFrame, bucket_cap: int | None = 64
    ) -> DataFrame:
        """Candidate pairs ``(doc_a, doc_b)`` with at least one side in
        ``inc_ids`` (a 1-column id frame) — identical to the one-shot
        capped bucket join restricted to those pairs, because band
        rows are per-document and the salt split's per-bucket counts
        are taken over the full index.

        Plan: the index is semi-joined to the increment's ids, the
        TOUCHED (band, bkey) buckets are semi-joined back (work is
        proportional to the increment's buckets, not the index), the
        salt window runs inside those buckets only, and the equi-join
        pairs increment rows against the bucket pool. Never re-bands,
        never self-joins the full index."""
        idx = self.read()
        inc_rows = idx.join(
            inc_ids.select(self.id_col), self.id_col, "semi"
        )
        touched = inc_rows.select("band", "bkey").distinct()
        pool = salted_band_rows(
            idx.join(touched, ["band", "bkey"], "semi"),
            self.id_col,
            bucket_cap,
        )
        x = pool.join(
            inc_ids.select(self.id_col), self.id_col, "semi"
        ).alias("x")
        y = pool.alias("y")
        return (
            x.join(y, ["band", "bkey", "_sub"])
            .where(F.col(f"x.{self.id_col}") != F.col(f"y.{self.id_col}"))
            .select(
                F.least(
                    F.col(f"x.{self.id_col}"), F.col(f"y.{self.id_col}")
                ).alias("doc_a"),
                F.greatest(
                    F.col(f"x.{self.id_col}"), F.col(f"y.{self.id_col}")
                ).alias("doc_b"),
            )
            .distinct()
        )


class MaterializedNgramIndex:
    """CDC-maintained n-gram FINGERPRINT index (VERDICT r13 #1) — the
    decontamination-side instance of the shared row-mapped-index
    protocol (:func:`matview.refresh_mapped_index`), closing the last
    one-shot-only text family: ``ngram_decontamination_check``
    re-hashes the TRAIN corpus's 13-gram windows on every run, but in
    deployment the train corpus is huge and static-ish while
    eval/holdout sets arrive continuously. This index persists the
    train windows' 32-char md5 keys once and folds each source commit
    incrementally — a holdout set then LEFT SEMI joins the stored keys
    (32-byte key shuffle, never text) without re-hashing a single
    train document.

    The stored mapping per live train doc is EXACTLY the one-shot
    query's window expansion (lowercase → whitespace-collapse → split
    → md5 per stride-1 window of ``n`` words; docs under ``n`` words
    map to zero rows), and window extraction is a pure per-document
    function, so the maintained index provably equals the one-shot
    mapping of the live corpus under any commit split — the
    ``minhash_lsh_index_maintenance`` hash-proof verbatim. The refresh
    is NARROW-only for insert commits (split/explode/md5 — no shuffle
    at all; duplicate windows within a doc are kept, which costs a few
    duplicate 32 B rows but keeps the fold a pure map over the
    increment); the semi-join consumer is insensitive to those
    duplicates.

    Deletes / updates follow the ctor ``deletes`` mode of the shared
    protocol (``"rewrite"`` / ``"tombstone"`` — GDPR-forget batches on
    the train corpus fold O(changes) in tombstone mode, and leaked
    windows from a forgotten document stop matching immediately).

    Reference scope: the CDC watermark protocol at
    ``patient_notes/src/patient_notes/datalake.py:52-99``; the
    decontamination semantics are GPT-3 App. C (Brown et al. 2020).
    """

    def __init__(
        self,
        spark: SparkSession,
        table,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 13,
        deletes: str = "rewrite",
        normalize: bool = True,
    ):
        self.spark = spark
        self.table = table
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.deletes = deletes
        #: True = the decontamination convention (lowercase +
        #: whitespace-collapse before splitting — GPT-3 App. C);
        #: False = raw space-split windows, the ExactSubstr seed
        #: convention (`exact_substring_incremental_ingest`).
        self.normalize = normalize

    def window_keys(self, docs: DataFrame) -> DataFrame:
        """One-shot window keys ``(id, key)`` for ``docs`` — the pure
        per-document map the index maintains (the engine path of
        ``ngram_decontamination_check``, minus the split logic that
        belongs to the consumer)."""
        L = self.n
        text = (
            F.trim(F.regexp_replace(F.lower(self.text_col), r"\s+", " "))
            if self.normalize
            else F.col(self.text_col)
        )
        base = docs.select(
            self.id_col,
            F.split(text, " ").alias("_w"),
        ).withColumn("_n", F.size("_w"))
        return (
            base.where(F.col("_n") >= L)
            .select(
                self.id_col,
                F.explode(
                    F.sequence(F.lit(1), F.col("_n") - L + 1)
                ).alias("_pos"),
                "_w",
            )
            .select(
                self.id_col,
                F.md5(F.array_join(F.slice("_w", F.col("_pos"), L), " ")).alias(
                    "key"
                ),
            )
        )

    def refresh(self, source, precomputed_keys=None) -> tuple[int, int]:
        """Fold ``source``'s unapplied commits; returns applied
        ``(lo, hi)`` (lo > hi = already current). The increment is
        ``scale_out``'d before the window expansion like the LSH
        sibling — a commit written as few files must still hash on
        every core.

        ``precomputed_keys`` (r15): an already-materialized
        ``(id, key)`` frame equal to :meth:`window_keys` over the
        pending pure-insert increment — the ingest seam that lets a
        caller who just window-expanded the same batch (the
        ExactSubstr trim) fold it without hashing the text a second
        time. See :func:`matview.refresh_mapped_index`.

        The ``localCheckpoint`` between the window expansion and the
        index write is what makes that scale_out actually take (r14
        #16): window_keys is a NARROW chain (split/explode/md5 — no
        shuffle, by design), so the state table's ``coalesce(4)``
        write shape would otherwise merge the whole chain into 4
        tasks and hash the increment on 4 cores — the same
        pinned-parallelism trap as the LSH index's first spelling
        (99 → 37 s at sf10). The LSH sibling is immune only because
        its signature groupBy inserts an exchange between the heavy
        work and the write coalesce; here the checkpoint materializes
        the keys at scale_out parallelism (no new shuffle, file
        layout unchanged) and the write merely re-encodes them.
        Interleaved A/B at sf0.1: ngram maintenance 3.91 → 3.43 s,
        ExactSubstr ingest 8.99 → 8.18 s best-of-3."""
        from .matview import refresh_mapped_index

        return refresh_mapped_index(
            self.table,
            source,
            self.id_col,
            [self.text_col],
            lambda df: self.window_keys(scale_out(df)).localCheckpoint(),
            deletes=self.deletes,
            precomputed=precomputed_keys,
        )

    def read(self) -> DataFrame:
        from .matview import read_mapped_index

        return read_mapped_index(self.table, self.id_col).select(
            self.id_col, "key"
        )


def simhash_md5(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 60,
) -> DataFrame:
    """Per-document SimHash (Charikar 2002) over the engine-independent
    md5 token hash (60-bit): bit *b* of the signature is the sign of
    Σ_tokens (±1 by the token hash's bit *b*) — computed as an explode
    → grouped conditional-sum (one shuffle keyed by document, map-side
    partial combine absorbs the per-token rows), then the signature
    assembles from the 60 aggregated bit-sums as a pure projection.
    Engine-independent, so unlike the xxhash64 path (:func:`simhash64`)
    the signature itself is oracle-checkable.
    """
    # r15 negative result at scale: scale_out here won at sf0.1 (the
    # single-row-group scan pinned the token stage to one 0.6 s task)
    # but LOST the sf1 interleaved A/B (old best 1.75 vs new 2.43,
    # old 2/3) — ONE md5 per token is too light to pay for shipping
    # the text once the scan is already 20 files wide. REVERTED; the
    # expression memos below are the change that stays.
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("_tok"),
    ).select(
        F.col(id_col),
        F.conv(F.substring(F.md5("_tok"), 1, 15), 16, 10).cast("long").alias("_h"),
    )
    bit_sums = toks.groupBy(id_col).agg(
        *[
            e.alias(f"b{b}")
            for b, e in enumerate(_simhash_bit_sum_exprs(bits))
        ]
    )
    return bit_sums.select(
        F.col(id_col), _simhash_sig_expr(bits).cast("long").alias("simhash")
    )


@lru_cache(maxsize=None)
def _simhash_bit_sum_exprs(bits: int) -> tuple:
    """The UNALIASED conditional bit-sum aggregates over ``_h``, built
    once per process (r15, the r14 §5 construction-memo pattern: the
    two 60-term trees cost ~600 py4j round trips ≈ 1.8–3.3 s of pure
    driver-side construction per call). Aliases are minted per call."""
    return tuple(
        F.sum(
            F.when(
                F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        )
        for b in range(bits)
    )


@lru_cache(maxsize=None)
def _simhash_sig_expr(bits: int):
    """Unaliased signature fold ``Σ (b_i > 0 ? 2^i : 0)`` over the
    aggregated bit-sum columns, built once per process."""
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sig


def simhash_md5_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 60,
    n_chunks: int = 4,
) -> DataFrame:
    """SimHash near-duplicate pairs: split the 60-bit signature into 4
    15-bit chunks; by pigeonhole any pair within Hamming distance 3
    agrees on ≥1 chunk, so an equi-join on (chunk index, chunk value)
    finds all such pairs with no all-pairs stage; verification is
    ``bit_count(xor)``. O(rows × chunks) shuffle, bucket self-join."""
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    sigs = simhash_md5(df, text_col, id_col, bits)
    chunks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), c * chunk_bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("chunk", "cval"),
    )
    a = chunks.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"), "chunk", "cval"
    )
    b = chunks.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"), "chunk", "cval"
    )
    cands = (
        a.join(b, ["chunk", "cval"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cands.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
