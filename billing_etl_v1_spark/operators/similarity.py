"""Approximate-nearest-neighbor operators over an embedding column.

Brute-force cosine top-k as the exactness baseline, and an IVF-style
cluster-pruned variant as the scale path (SURVEY §7.2 step 8).

Dot products use a sequential left fold (``F.aggregate`` over
``zip_with``), which is bit-identical to DuckDB's ``list_reduce`` — verified
empirically — so both operators have full oracle twins. Ranking uses
quantized scores with vec_id tie-breaks for cross-engine determinism.

Scale posture: the query set and centroid set are broadcast-small; the big
side streams through broadcast nested-loop joins (no shuffle of the
embedding corpus). At 100 TB the IVF path prunes the candidate set per
query by the cluster assignment computed in the same pass.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from billing_etl_v1_spark.functions import exact_sum, quantize6, quantize6_staged
from billing_etl_v1_spark.operators import _memo

# session-scoped memo for the prepped vector table (see operators._memo):
# kmeans consumes it iters+1 times — one cached relation per corpus plan
_VEC_CACHE: _memo.Registry = {}


def release_vector_cache(spark=None) -> int:
    """Unpersist prepped vector tables cached by :func:`kmeans_refine`."""
    return _memo.release(_VEC_CACHE, spark)


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential left fold — matches DuckDB list_reduce bit-for-bit."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


# Unroll width for _dot_unrolled: the corpus embedding dimension.
# Env-overridable (ADVICE r11) so a deployment with another width keeps the
# measured codegen win instead of silently riding the fold fallback — speed
# only; results are bit-identical either way (both forms accumulate in the
# same left-to-right order; verified value-equal live).
def _env_unroll_dim() -> int:
    """SPARK_GRAFT_DOT_UNROLL_DIM (default 64), validated: a malformed or
    non-positive value raises an error naming the variable instead of a
    bare int() traceback at import."""
    raw = os.environ.get("SPARK_GRAFT_DOT_UNROLL_DIM", "64")
    try:
        dim = int(raw)
    except ValueError:
        dim = 0
    if dim < 1:
        raise ValueError(
            f"SPARK_GRAFT_DOT_UNROLL_DIM must be a positive integer, got {raw!r}"
        )
    return dim


_DOT_UNROLL_DIM = _env_unroll_dim()


def _dot_unrolled(a: Column, b: Column) -> Column:
    """_dot specialized for vectors of exactly _DOT_UNROLL_DIM: a flat
    left-associated sum, with the fold as fallback for any other length
    (the when() guard evaluates branches lazily, so element_at never sees
    an out-of-range index under ANSI mode).

    Use ONLY where the consuming projection is whole-stage-codegen'd —
    r11 measured BOTH directions, interleaved fold-vs-unrolled A/Bs on
    full queries at sf0.1 (plans/r11):

    - embedding_lsh_pairs cosine rejoin (hash-join output projection,
      codegen): 1.454 -> 1.195 s median, and 2.36 -> 1.45 s on the
      isolated 455k-candidate stage — the unroll compiles, the fold's
      lambdas stay interpreted.
    - crossJoin(broadcast)/staged contexts (cosine_topk_bruteforce
      0.77 -> 1.55 s, cosine_topk_ivf 0.36 -> 0.69 s, semantic_dedup
      0.44 -> 1.05 s): the unroll LOSES ~2x — the giant guarded
      expression is evaluated interpreted there, and 2x64 element_at
      walks cost more than one fold pass. Those paths keep plain _dot.
    """
    fold = _dot(a, b)
    unrolled = F.lit(0.0)
    for i in range(1, _DOT_UNROLL_DIM + 1):
        unrolled = unrolled + F.element_at(a, i) * F.element_at(b, i)
    return F.when(
        (F.size(a) == _DOT_UNROLL_DIM) & (F.size(b) == _DOT_UNROLL_DIM), unrolled
    ).otherwise(fold)


def with_norm(df: DataFrame, vec_col: str = "v", out_col: str = "norm") -> DataFrame:
    return df.withColumn(out_col, F.sqrt(_dot(F.col(vec_col), F.col(vec_col))))


def _prep(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # corrupt vectors (any NaN/Inf component) are excluded from the index:
    # distance to a poisoned vector is undefined, and NaN dots would
    # otherwise crash int8 quantization casts and scramble top-k ranks.
    # Zero-norm vectors (all-zero embedding — a failed encoder's routine
    # output) are excluded for the same contract reason, and a harder one:
    # cosine divides by the norm, and under ANSI mode (Spark 4 default) a
    # single zero-norm row kills the whole job with DIVIDE_BY_ZERO.
    # NULL ids are excluded too: every pair/top-k path keys and
    # tie-breaks on vid, and NULL can't equi-join or rank consistently
    # across engines (Spark NULLS FIRST vs DuckDB NULLS LAST).
    # Single chokepoint for brute/IVF/kmeans/quantize/cosine-pair/LSH paths.
    from billing_etl_v1_spark.functions import finite_vectors

    return (
        with_norm(
            finite_vectors(df.filter(F.col(id_col).isNotNull()), vec_col).select(
                F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")
            )
        )
        .filter(F.col("norm") > 0)
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 50,
    k: int = 5,
    max_rows: int | None = 200_000,
) -> DataFrame:
    """Exact cosine top-k: queries are the rows with id % query_mod == 0
    (a deterministic stand-in for an external query set).

    Output: query_id, neighbor_id, rank, score (quantized).

    ``max_rows`` guards against silently scoring every (query, vector)
    pair on a large corpus; use :func:`cosine_topk_ivf` (the pruned scale
    path) there, or pass ``None`` deliberately for offline recall
    measurement.
    """
    if max_rows is not None:
        n = embeddings.count()
        if n > max_rows:
            raise ValueError(
                f"cosine_topk_bruteforce scores all (query, vector) pairs; "
                f"input has {n} rows > max_rows={max_rows}. Use "
                f"cosine_topk_ivf or pass max_rows=None deliberately."
            )
    base = _prep(embeddings, id_col, vec_col)
    queries = base.filter(F.col("vid") % query_mod == 0).select(
        F.col("vid").alias("qid"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    score = _dot(F.col("v"), F.col("qv")) / (F.col("norm") * F.col("qn"))
    # project to (qid, vid, score) BEFORE the top-k window: the rank
    # shuffle then moves 3 scalars per scored pair instead of two 64-float
    # vectors — the dominant data volume at any scale. Staged so the dot
    # product runs once per pair, not once per quantize6 guard reference.
    scored = quantize6_staged(
        base.crossJoin(F.broadcast(queries)).filter(F.col("vid") != F.col("qid")),
        ["qid", "vid"],
        score,
        "score",
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            "score",
        )
    )


def _argmax_centroid(staged: DataFrame) -> DataFrame:
    """vid-grain centroid argmax — (csim DESC, cid ASC) — as the rank-1
    window. KEPT DELIBERATELY (r12, VERDICT item 5 A/B'd both ways): the
    tempting ``max(struct(csim, -cid))`` aggregate reformulation plans as
    SortAggregate (struct buffers cannot hash-aggregate), i.e. the SAME
    per-partition sort + partial-reduce + exchange + final the window
    form already gets from Spark's WindowGroupLimit rank-limit pushdown —
    map-side it keeps one candidate row per vid before the exchange, so
    shuffle bytes are already ~1 row per vector. Interleaved A/B at sf0.1
    read a wash inside ±25% session noise on every consumer
    (dedup_semantic / sim_topk_ivf / embeddings_kmeans /
    docs_cluster_quality; control query swung equally); plans committed as
    plans/r12/*_{before,after}.txt show Window×12→SortAggregate×8 with
    identical Exchange and Sort counts. Both directions recorded here so
    the next round doesn't re-fight it."""
    w = Window.partitionBy("vid").orderBy(F.col("csim").desc(), F.col("cid").asc())
    return (
        staged.withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") == 1)
        .select("vid", "cid", "csim")
    )


def assign_clusters(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
) -> DataFrame:
    """IVF coarse quantization with deterministic 'centroids' (rows with
    id % centroid_mod == 0): each vector goes to its max-cosine centroid
    (ties -> smallest centroid id). Output: vid, v, norm, cluster."""
    base = _prep(embeddings, id_col, vec_col)
    cents = base.filter(F.col("vid") % centroid_mod == 0).select(
        F.col("vid").alias("cid"), F.col("v").alias("cv"), F.col("norm").alias("cn")
    )
    sim = _dot(F.col("v"), F.col("cv")) / (F.col("norm") * F.col("cn"))
    # narrow (vid, cid, csim) through the argmax window, vectors rejoined
    # after — WindowGroupLimit prunes to ~1 row per vid map-side, so the
    # rank-1 shuffle moves scalars, not num_centroids copies of every
    # vector. Staged: dot runs once per (vector, centroid) pair.
    best = _argmax_centroid(
        quantize6_staged(
            base.crossJoin(F.broadcast(cents)), ["vid", "cid"], sim, "csim"
        )
    ).select("vid", F.col("cid").alias("cluster"))
    return base.join(best, "vid").select("vid", "v", "norm", "cluster")


def kmeans_refine(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    iters: int = 2,
) -> DataFrame:
    """Lloyd k-means refinement of the deterministic IVF seeds: ``iters``
    rounds of (assign to max-cosine centroid → recompute centroids as
    member means), then a final assignment. The clustering step behind a
    real IVF index build (assign_clusters uses raw seed rows; refined
    centroids cut the variance that costs IVF recall) and behind
    embedding-space corpus dedup/diversity analysis.

    Cross-engine exactness (the hard part of ANY iterative float op): the
    per-dimension centroid means accumulate through ``functions.exact_sum``
    (the (hi, lo) BIGINT-pair machinery of the billing aggregates), so the
    means are partition-order-proof and bit-identical in DuckDB — the
    oracle simply UNROLLS the same ``iters`` rounds as chained CTEs.
    Cluster ids stay the seed ids; a cluster losing every member disappears
    (both engines, deterministically).

    Scale shape per round: one broadcast of the ~(n/centroid_mod) centroid
    table against the corpus, a vid-partitioned argmax window over a
    NARROW (vid, cid, sim) projection, and one (cluster, dim) aggregate —
    no corpus self-join, no unpartitioned window; the prepped vector table
    persists through the session memo (iters+1 consumers).
    """
    base = _memo.memo_persist(_prep(embeddings, id_col, vec_col), _VEC_CACHE)
    cents = base.filter(F.col("vid") % centroid_mod == 0).select(
        F.col("vid").alias("cid"), F.col("v").alias("cv"), F.col("norm").alias("cn")
    )

    def assign(c: DataFrame) -> DataFrame:
        sim = _dot(F.col("v"), F.col("cv")) / (F.col("norm") * F.col("cn"))
        return _argmax_centroid(
            quantize6_staged(base.crossJoin(F.broadcast(c)), ["vid", "cid"], sim, "csim")
        )

    for _ in range(iters):
        memb = base.join(assign(cents).select("vid", "cid"), "vid").select(
            "cid", F.posexplode("v").alias("pos", "x")
        )
        means = (
            memb.groupBy("cid", "pos")
            .agg(exact_sum(F.col("x")).alias("__s"), F.count(F.lit(1)).alias("__n"))
            .select("cid", "pos", (F.col("__s") / F.col("__n")).alias("m"))
        )
        arr = means.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda t: t["m"]
            ).alias("cv")
        )
        # a refined centroid can degenerate to the zero vector (members
        # summing to zero); it must vanish like an empty cluster, or the
        # next round's cosine divides by cn=0 (ANSI job-kill)
        cents = (
            with_norm(arr, "cv", "cn")
            .select("cid", "cv", "cn")
            .filter(F.col("cn") > 0)
        )

    return assign(cents).select(
        F.col("vid").alias(id_col),
        F.col("cid").alias("cluster"),
        F.col("csim").alias("sim"),
    )


def quantize_embeddings_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale = max|x|/127,
    q[i] = round(x[i]/scale). Output: vid, q (array<int>), scale, norm of
    the original vector.

    The point at 100 TB: an embedding column is usually the widest thing
    in the corpus (64 floats = 256 B/row before encoding); int8 codes cut
    every downstream shuffle/scan of the vectors 4× (and parquet
    byte-packs the small ints further). round() on a double is
    half-away-from-zero in BOTH engines (Spark HALF_UP BigDecimal, DuckDB
    std::round), and x/scale is one IEEE division — so the codes are
    bit-identical cross-engine, and every integer dot product downstream
    is EXACT (no float-order hazard at all). All-zero vectors quantize to
    all-zero codes with scale 1.0.
    """
    base = _prep(embeddings, id_col, vec_col)
    amax = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    # scale is STAGED as a real column before the per-element transform:
    # inlined, the interpreted lambda re-evaluated the full
    # array_max-over-abs sweep once per element — O(d²) per row, the
    # docs_chunk/winnowing HOF trap (review finding, confirmed in the
    # optimized plan); staged, the sweep runs once and the lambda divides
    # by a cheap attribute
    staged = base.withColumn("__amax", amax).withColumn(
        "scale",
        F.when(F.col("__amax") > 0, F.col("__amax") / F.lit(127.0)).otherwise(
            F.lit(1.0)
        ),
    )
    return staged.select(
        "vid",
        "norm",
        "scale",
        F.transform(
            F.col("v"), lambda x: F.round(x / F.col("scale")).cast("int")
        ).alias("q"),
    )


def cosine_topk_quantized(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 50,
    k: int = 5,
    max_rows: int | None = 200_000,
) -> DataFrame:
    """Top-k neighbor search over int8-quantized codes: the pair dot
    product is the INTEGER dot of the codes (exact BIGINT arithmetic — no
    float accumulation order hazard), reconstructed to an approximate
    cosine by one fixed-shape float expression
    ``idot * (scale_a * scale_q) / (norm_a * norm_q)``. The quantized twin
    of :func:`cosine_topk_bruteforce`: same query set, same output shape,
    so quantization recall is directly measurable against it.

    Scale: the scan side moves 64 x int8 codes instead of 64 x float8 —
    the 4x shuffle/scan cut is the whole reason production ANN quantizes.
    The ``max_rows`` guard matches the float brute-force baseline; the
    bucketed variants (IVF / sign-LSH) are the 100 TB path, and compose
    with quantization unchanged (integer dots inside buckets).
    """
    if max_rows is not None:
        n = embeddings.count()
        if n > max_rows:
            raise ValueError(
                f"cosine_topk_quantized scores all (query, vector) pairs; "
                f"input has {n} rows > max_rows={max_rows}. Compose "
                f"quantization with cosine_topk_ivf or pass max_rows=None "
                f"deliberately."
            )
    # the code table feeds the broadcast query set AND the streamed corpus
    # side; memo-persist so quantization runs once per input plan
    qt = _memo.memo_persist(
        quantize_embeddings_int8(embeddings, id_col, vec_col), _VEC_CACHE
    )
    queries = qt.filter(F.col("vid") % query_mod == 0).select(
        F.col("vid").alias("qid"),
        F.col("q").alias("qq"),
        F.col("scale").alias("qscale"),
        F.col("norm").alias("qnorm"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("q"), F.col("qq"), lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    score = (
        idot * (F.col("scale") * F.col("qscale")) / (F.col("norm") * F.col("qnorm"))
    )
    # narrow to scalars before the top-k shuffle (see cosine_topk_bruteforce);
    # staged so the int8 dot sweep runs once per pair
    scored = quantize6_staged(
        qt.crossJoin(F.broadcast(queries)).filter(F.col("vid") != F.col("qid")),
        ["qid", "vid"],
        score,
        "score",
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            "score",
        )
    )


def hard_negatives(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_mod: int = 50,
    k: int = 5,
    max_rows: int | None = 200_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor (the
    deterministic id-mod query set), the top-k most-similar vectors with a
    DIFFERENT label — the negatives that sit closest to the decision
    boundary, which is what contrastive/embedding fine-tuning pipelines
    mine at corpus scale (the in-batch-negatives upgrade). Output adds the
    negative's label so downstream samplers can stratify.

    Same posture as :func:`cosine_topk_bruteforce` (anchors broadcast, the
    corpus streams, pairs narrowed to scalars before the per-anchor top-k
    window) with the label inequality applied at the join — at 100 TB
    compose with the IVF assignment exactly like :func:`cosine_topk_ivf`
    (probe the anchor's cluster, then label-filter) or mine within
    LSH buckets; the ``max_rows`` guard marks this form as the exactness
    baseline.
    """
    if max_rows is not None:
        n = embeddings.count()
        if n > max_rows:
            raise ValueError(
                f"hard_negatives scores all (anchor, vector) pairs; input "
                f"has {n} rows > max_rows={max_rows}. Compose with "
                f"cosine_topk_ivf-style cluster pruning or pass "
                f"max_rows=None deliberately."
            )
    from billing_etl_v1_spark.functions import finite_vectors

    # inlines _prep's contract (the label column rules out reusing it):
    # non-finite AND zero-norm vectors are excluded — cosine divides by
    # the norm, and ANSI mode turns norm=0 into a job-killing error —
    # and NULL ids too (the top-k tie-break orders by vid: Spark sorts
    # NULLS FIRST, the twin's WHERE vec_id IS NOT NULL drops them)
    base = with_norm(
        finite_vectors(embeddings.filter(F.col(id_col).isNotNull()), vec_col).select(
            F.col(id_col).alias("vid"),
            _as_double(F.col(vec_col)).alias("v"),
            F.col(label_col).alias("lab"),
        )
    ).filter(F.col("norm") > 0)
    anchors = base.filter(F.col("vid") % query_mod == 0).select(
        F.col("vid").alias("qid"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
        F.col("lab").alias("qlab"),
    )
    score = _dot(F.col("v"), F.col("qv")) / (F.col("norm") * F.col("qn"))
    # staged so the dot product runs once per (anchor, candidate) pair
    scored = quantize6_staged(
        base.join(F.broadcast(anchors), F.col("lab") != F.col("qlab")),
        ["qid", "vid", "lab"],
        score,
        "score",
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("anchor_id"),
            F.col("vid").alias("negative_id"),
            F.col("lab").alias("negative_label"),
            F.col("rank").cast("int").alias("rank"),
            "score",
        )
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 50,
    centroid_mod: int = 25,
    k: int = 5,
) -> DataFrame:
    """Cluster-pruned ANN: each query searches only vectors assigned to its
    own cluster. Same output shape as the brute-force baseline, so recall is
    directly measurable. The assignment is memo-persisted: the query set
    and the candidate side both read it, and the centroid-argmax sweep is
    the expensive part."""
    assigned = _memo.memo_persist(
        assign_clusters(embeddings, id_col, vec_col, centroid_mod), _VEC_CACHE
    )
    queries = assigned.filter(F.col("vid") % query_mod == 0).select(
        F.col("vid").alias("qid"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
        F.col("cluster").alias("qcluster"),
    )
    score = _dot(F.col("v"), F.col("qv")) / (F.col("norm") * F.col("qn"))
    # narrow before the top-k window (see cosine_topk_bruteforce);
    # staged so the dot product runs once per candidate pair
    cand = quantize6_staged(
        assigned.join(
            F.broadcast(queries),
            (F.col("cluster") == F.col("qcluster")) & (F.col("vid") != F.col("qid")),
        ),
        ["qid", "vid"],
        score,
        "score",
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vid").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            "score",
        )
    )
