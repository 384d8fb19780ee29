"""Embedding similarity search: brute-force cosine top-k (correctness
baseline) and random-hyperplane LSH bucketing (the 100 TB scale path).

Scale design:

- **Brute force is the baseline, not the plan.** ``cosine_topk``
  broadcasts the (small) query set against the corpus — linear in
  corpus size, pruned to the query rows only. Right answer, O(Q·N).
- **LSH is the scale path.** ``lsh_bucket_topk`` assigns every vector
  a sign-pattern bucket from ``n_planes`` pseudo-random hyperplanes;
  candidate generation is an equi-join on the bucket key (plus
  optional multi-probe neighbors), so the shuffle is keyed and
  fine-grained — never an all-pairs cross join.
- **Hyperplanes are hash-derived, not sampled**: component ``(p, d)``
  of plane ``p`` is ``hash32(p:d)`` mapped to [-1, 1). No RNG state to
  ship to executors, deterministic across runs/engines.
- **Hot-path math is Arrow-batched, fold-order numpy** (r9): bucket
  assignment, centroid assignment and candidate-pair scoring run in
  ``mapInPandas``/``applyInPandas``/cogroups with
  :func:`_fold_dots` — sequential accumulation over the dimension
  axis, BITWISE identical to the JVM ``aggregate(zip_with(...))``
  fold and the oracle's DuckDB ``list_reduce``, so moving off the
  JVM changed no result. Threshold predicates compare against the
  exact decimal half-boundary (:func:`_ge_round4_boundary`), and
  emitted/ranked round4 values are integer grid points (``/1e4`` is
  exact binary, so the division is the correctly-rounded decimal).
  Why: higher-order functions are CodegenFallback — ~16 µs per
  interpreted 64-dim dot, which dominated every lane at √N centroid
  or bucket counts (sf10 semantic dedup: 122 s interpreted vs ~5 s
  Arrow). The JVM fold (:func:`dot`) remains for the brute-force
  baseline and tiny frames.
  Negative result (measured, don't retry): unrolling the dim-64 dot
  into a flat 127-op arithmetic expression looked codegen-friendly
  but ran 2× SLOWER end-to-end in lsh_bucket_topk (2.8 s vs 1.36 s
  at sf0.1) — the giant expression trees bloat the task binary
  (1.2 MB broadcasts) and overflow codegen method limits, falling
  back to per-node interpretation that loses to the fold's single
  optimized loop.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (left-to-right fold — the same
    summation order as a scalar loop, reproducible across engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors of each query vector.

    ``queries`` (small — broadcast) is crossed with the corpus; ranking
    is a window over each query partition. Self-matches are excluded.
    Returns (q_id, n_id, cos_sim) — ties broken by neighbor id so the
    result set is fully deterministic.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), _as_double(F.col(vec_col)).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"), _as_double(F.col(vec_col)).alias("n_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .drop("rnk")
    )


def _sizing_rows(corpus: DataFrame, n_rows: int | None, who: str) -> int:
    """Resolve an auto-sizing cardinality: the caller's hint if given,
    else an eager ``count()`` — logged loudly, because an implicit
    pre-job over a cold 100 TB corpus should be a choice, not a
    surprise."""
    if n_rows is not None:
        return int(n_rows)
    import warnings

    warnings.warn(
        f"{who}: auto-sizing is running an eager count() over the "
        "corpus at plan-construction time; pass n_rows= (e.g. from a "
        "catalog rowcount) to avoid the extra job",
        stacklevel=3,
    )
    return corpus.count()


def auto_n_planes(n_rows: int, target_bucket_size: int = 32) -> int:
    """Plane count sized to the corpus: 2^n_planes buckets such that
    the *average* bucket holds ~``target_bucket_size`` vectors (within-
    bucket scoring is O(Σ|bucket|²), so bucket width — not bucket
    count — is the term that must stay constant as the corpus grows).
    Clamped to [4, 30].

    The default width is deliberately small: candidate scoring costs
    (1 + n_planes)·width dot-product folds per vector, and measured on
    a 10×-duplicated 20k corpus, width 128 → 31 s vs width 32 → ~4×
    less work — recall lost to narrower buckets is recovered by
    multi-probe, which is linear in n_planes, not quadratic in width.
    """
    import math

    if n_rows <= target_bucket_size:
        return 4
    return max(4, min(30, math.ceil(math.log2(n_rows / target_bucket_size))))


def auto_n_centroids(n_rows: int) -> int:
    """Centroid count sized to the corpus: ``~sqrt(n_rows)``, clamped
    to [4, 65536] — the standard IVF balance point (FAISS guidance is
    sqrt(N)..4·sqrt(N)).

    Why sqrt: per query the work is ``n_centroids`` assignment dots +
    ``nprobe · (n_rows / n_centroids)`` list-scan dots; the sum is
    minimized when the two terms match, i.e. n_centroids ≈
    sqrt(nprobe·n_rows). A FIXED centroid count is the scale trap —
    lists grow linearly with the corpus and every query rescans them
    (measured: 10× corpus at fixed 16 centroids → ~10× list-scan work;
    with auto sizing the per-query work grows ~sqrt(10)≈3.2×, see
    SCALE.md).
    """
    import math

    if n_rows <= 16:
        return 4
    return max(4, min(65536, math.ceil(math.sqrt(n_rows))))


def hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: coefficient d is
    ``md5("0:<plane>:<d>")[:8] / 2^31 - 1`` ∈ [-1, 1) — pure constants
    (no RNG state, reproducible in any engine/oracle)."""
    import hashlib

    return [
        int(hashlib.md5(f"0:{plane}:{d}".encode()).hexdigest()[:8], 16)
        / float(2**31)
        - 1.0
        for d in range(dim)
    ]


def lsh_bucket(
    df: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_norm: bool = False,
) -> DataFrame:
    """(id, vec, bucket[, norm]) — bucket = sign pattern of
    ``n_planes`` hyperplane dot products packed into a long. Narrow
    (an Arrow-native ``mapInArrow``, no shuffle); the bucket key then
    drives a fine-grained equi-join. Hyperplane coefficients are pure
    deterministic constants (:func:`hyperplane`) closed over by the
    batch scorer — nothing is collected or broadcast.

    r17 (guide §4.2): ``mapInArrow`` instead of ``mapInPandas`` — a
    ``list<float>`` Arrow column is ONE flat values buffer plus
    offsets, so the batch matrix comes from a single
    ``flatten().to_numpy().reshape`` instead of 10 000 per-row numpy
    objects boxed into a pandas column and re-boxed on emit (the
    vectors pass through as the untouched Arrow column). Same fold,
    same float64 upcast — every bucket/norm is bit-identical.

    The plane dots accumulate in fold order (:func:`_fold_dots`), so
    every sign bit — and therefore every bucket — is bitwise
    identical to the oracle's ``list_reduce`` recomputation. (The
    previous JVM expression fold was ~16 µs per interpreted dot;
    batch numpy is ~50× cheaper. ``with_norm=True`` also emits the
    fold-order L2 norm, free in the same pass.)

    A vector whose length differs from ``dim`` raises instead of
    hashing: null-padding the mismatch would send every plane dot
    null and ALL vectors would silently collapse into bucket 0 — a
    wrong-answer failure mode (same lesson as the event-time dtype
    drift: fail loud on physical-shape change)."""
    import numpy as np

    pmat = np.array(
        [hyperplane(p, dim) for p in range(n_planes)], dtype=np.float64
    )
    pow2 = (2 ** np.arange(n_planes, dtype=np.int64))
    id_dt = df.schema[id_col].dataType.simpleString()
    # r16 (guide §2.3 "narrower types"): pass the vector through at its
    # SOURCE element width instead of upcasting to array<double> here.
    # The bucketized frame is what the candidate equi-join replicates
    # (×(n_planes+1) under multi-probe), so for the float32 embeddings
    # the testdata ships this halves the bytes of every downstream
    # exchange. Exactness is untouched: float→double is value-
    # preserving, and every consumer upcasts with .astype(np.float64)
    # before the fold-order arithmetic, so all dots/norms/cosines are
    # computed on bit-identical doubles either way.
    vec_el = df.schema[vec_col].dataType.elementType.simpleString()
    cols = "norm double, " if with_norm else ""
    schema = (
        f"id {id_dt}, vec array<{vec_el}>, bucket long, {cols}".rstrip(", ")
    )

    def bucketize(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            if rb.num_rows == 0:
                continue
            vec = rb.column(rb.schema.get_field_index("vec"))
            if vec.null_count:
                raise ValueError("lsh_bucket: NULL embedding")
            bad = pc.filter(
                pc.list_value_length(vec),
                pc.not_equal(pc.list_value_length(vec), dim),
            )
            if len(bad):
                raise ValueError(
                    f"lsh_bucket: expected embedding dim {dim}, "
                    f"got {bad[0].as_py()}"
                )
            V = (
                vec.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(-1, dim)
            )
            signs = _fold_dots(V, pmat) > 0  # (rows × planes)
            cols = {
                "id": rb.column(rb.schema.get_field_index("id")),
                # original source-width values, NOT the f64 upcast V
                "vec": vec,
                "bucket": pa.array(signs @ pow2, type=pa.int64()),
            }
            if with_norm:
                cols["norm"] = pa.array(
                    _fold_sq_norms(V), type=pa.float64()
                )
            yield pa.record_batch(cols)

    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).mapInArrow(bucketize, schema)


def _cap_hot_buckets(b: DataFrame, max_bucket: int) -> DataFrame:
    """Drop vectors in buckets wider than ``max_bucket`` before the
    candidate self-join. Within-bucket candidate generation is
    O(Σ|bucket|²), so one degenerate bucket (a low-entropy embedding
    region — boilerplate docs, zero vectors) dominates the whole job at
    scale; the cap bounds the worst-case fan-out exactly like the hot-
    shingle cap in dedup.jaccard_pairs.

    Implemented as a window count over ``bucket`` rather than a
    groupBy + anti-join: the count-then-filter is ONE pass over ``b``
    (an aggregate branch would evaluate ``b``'s lineage — 2^n_planes
    interpreted hyperplane dots per vector — a second time), and the
    hash(bucket) exchange it introduces is exactly the partitioning the
    candidate equi-join needs next, so no extra shuffle materializes.
    """
    w = Window.partitionBy("bucket")
    return (
        b.withColumn("_f", F.count(F.lit(1)).over(w))
        .where(F.col("_f") <= max_bucket)
        .drop("_f")
    )


def _probe_buckets(n_planes: int, multi_probe: bool) -> Column:
    """Bucket keys to probe for a query vector: its own bucket plus —
    when ``multi_probe`` — every bucket at hamming distance 1 (each
    single hyperplane flipped). Standard multi-probe LSH: recovers the
    neighbors lost to one borderline plane at the cost of n_planes
    extra *keyed* lookups per vector, instead of lowering n_planes
    (which would widen every bucket quadratically)."""
    probes = [F.col("bucket")]
    if multi_probe:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("long"))
            for p in range(n_planes)
        ]
    return F.array(*probes)


def lsh_bucket_topk(
    corpus: DataFrame,
    k: int = 5,
    n_planes: int | None = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 200,
    multi_probe: bool = True,
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate all-pairs top-k: exact cosine ranking over LSH
    bucket candidates. Candidate generation is a keyed equi-join on the
    bucket key — never an all-pairs cross join — with the two scale
    guards the 100 TB path needs:

    - ``n_planes=None`` sizes the bucket space to the corpus
      (:func:`auto_n_planes`), keeping *average* bucket width constant
      as the corpus grows;
    - ``max_bucket`` frequency-caps degenerate hot buckets before the
      self-join (bounds worst-case O(|bucket|²) fan-out);
    - ``multi_probe`` joins hamming-distance-1 buckets too, recovering
      the recall lost to borderline hyperplanes without widening the
      bucket space.

    A (q, n) pair matches via exactly one probe key (the xor of their
    buckets), so no post-join distinct is needed.

    ``n_rows`` is the auto-sizing hint: with ``n_planes=None`` and no
    hint, sizing runs an eager ``count()`` over the corpus at
    plan-construction time — a surprise pre-job on a cold 100 TB
    corpus. Callers that already know the cardinality (a catalog
    rowcount, a prior stage's count) pass it and no job fires.
    """
    if n_planes is None:
        n_planes = auto_n_planes(_sizing_rows(corpus, n_rows, "lsh_bucket_topk"))
    import numpy as np

    # L2 norms are attached in the SAME Arrow pass as the bucketing:
    # scoring a candidate pair is then a single fold instead of three,
    # and each vector's norm is computed once, not once per pair.
    b = _cap_hot_buckets(
        lsh_bucket(corpus, n_planes, dim, id_col, vec_col, with_norm=True),
        max_bucket,
    )
    a = b.select(
        F.col("id").alias("q_id"),
        "vec",
        "norm",
        F.explode(_probe_buckets(n_planes, multi_probe)).alias("bucket"),
    )
    c = b.select(F.col("id").alias("n_id"), "vec", "norm", "bucket")
    id_dt = corpus.schema[id_col].dataType.simpleString()

    import pyarrow as pa

    def _ids(tbl, col):
        return tbl.column(col).to_numpy(zero_copy_only=False)

    def _mat(tbl, col):
        # list<float> column = ONE flat values buffer + offsets: the
        # whole bucket's matrix without per-row object boxing (§4.2)
        arr = tbl.column(col).combine_chunks()
        if arr.null_count:
            raise ValueError("lsh score: NULL vector")
        return (
            arr.flatten()
            .to_numpy(zero_copy_only=False)
            .astype(np.float64)
            .reshape(len(arr), -1)
        )

    def score_bucket(left, right):
        # one cogrouped bucket: every probing query against every
        # member. Emits only each query's LOCAL top-k — the global
        # top-k is a subset of the per-bucket top-k unions, so the
        # downstream window sees O(probes·k) rows per query, not the
        # full candidate volume. Arrow-native (r17, §4.2): vectors
        # arrive and leave as flat Arrow buffers, never pandas object
        # columns; the float64 upcast and every fold are unchanged,
        # so all cosines are bit-identical to the pandas form.
        if left.num_rows == 0 or right.num_rows == 0:
            return pa.table(
                {
                    "q_id": pa.array([], left.schema.field("q_id").type),
                    "n_id": pa.array([], right.schema.field("n_id").type),
                    "cos_sim": pa.array([], pa.float64()),
                }
            )
        qids = _ids(left, "q_id")
        nids = _ids(right, "n_id")
        # upcast the source-width (float32) vectors shuffled by the
        # bucketized frame — value-preserving, so the fold-order doubles
        # below are bit-identical to the former array<double> shape
        Q = _mat(left, "vec")
        N = _mat(right, "vec")
        qn = _ids(left, "norm")
        nn = _ids(right, "norm")
        oq, on_, oc = [], [], []
        chunk = max(1, 2_000_000 // max(len(nids), 1))
        for s in range(0, len(qids), chunk):
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = _fold_dots(Q[s : s + chunk], N) / (
                    qn[s : s + chunk, None] * nn[None, :]
                )
                # exact-decimal grid index: floor(x·1e4 + 0.5)/1e4
                # equals BigDecimal-HALF_UP round(x, 4) as a double
                # for every non-boundary value (1e4 is exact binary,
                # so the final division is the correctly-rounded
                # decimal grid point); ranking on the INTEGER index
                # ties exactly as the JVM's round-then-sort did
                grid = np.floor(cos * 1e4 + 0.5)
            grid[~np.isfinite(grid)] = -np.inf
            grid[qids[s : s + chunk, None] == nids[None, :]] = -np.inf
            kk = min(k, grid.shape[1])
            # per-row top-k by (grid desc, n_id asc): lexsort keys
            # are last-key-primary
            order = np.lexsort(
                (np.broadcast_to(nids, grid.shape), -grid), axis=1
            )[:, :kk]
            top_grid = np.take_along_axis(grid, order, axis=1)
            keep = np.isfinite(top_grid)
            oq.append(np.repeat(qids[s : s + chunk], kk)[keep.ravel()])
            on_.append(nids[order].ravel()[keep.ravel()])
            oc.append(top_grid[keep] / 1e4)
        return pa.table(
            {
                "q_id": np.concatenate(oq),
                "n_id": np.concatenate(on_),
                "cos_sim": np.concatenate(oc),
            }
        )

    scored = (
        a.groupBy("bucket")
        .cogroup(c.groupBy("bucket"))
        .applyInArrow(
            score_bucket, f"q_id {id_dt}, n_id {id_dt}, cos_sim double"
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .drop("rnk")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 200,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim)
    with id_a < id_b and cos_sim ≥ threshold.

    Candidate generation is bucket-keyed (same scale shape as
    :func:`lsh_bucket_topk` — never all-pairs, hot buckets capped at
    ``max_bucket``): one ``applyInArrow`` per bucket scores the
    within-bucket pairs as chunked fold-order numpy (bitwise the
    oracle's cosines; the threshold compares against the exact
    decimal half-boundary and the emitted value is the round4 grid
    point). High-similarity pairs are overwhelmingly co-bucketed (a
    near-duplicate pair straddles any one hyperplane with low
    probability), which is exactly the regime near-dup detection
    cares about.
    """
    import numpy as np

    b = _cap_hot_buckets(
        lsh_bucket(corpus, n_planes, dim, id_col, vec_col, with_norm=True),
        max_bucket,
    )
    id_dt = corpus.schema[id_col].dataType.simpleString()
    thr = _ge_round4_boundary(threshold)

    def pairs_in_bucket(tbl):
        # one bucket: all same-bucket pairs with id_a < id_b whose
        # exact cosine clears the threshold — scored as a chunked
        # fold-order numpy batch (cf. lsh_bucket_topk); the emitted
        # cos_sim is the integer grid index / 1e4, the same double
        # BigDecimal round4 produces. Arrow-native (r17, §4.2): the
        # vectors arrive as one flat buffer, never pandas objects.
        import pyarrow as pa

        ids = tbl.column("id").to_numpy(zero_copy_only=False)
        # source-width vectors off the bucketized frame: exact upcast
        varr = tbl.column("vec").combine_chunks()
        V = (
            varr.flatten()
            .to_numpy(zero_copy_only=False)
            .astype(np.float64)
            .reshape(len(varr), -1)
        )
        nrm = tbl.column("norm").to_numpy(zero_copy_only=False)
        w = len(ids)
        oa, ob, oc = [], [], []
        chunk = max(1, 4_000_000 // max(w, 1))
        for s in range(0, w, chunk):
            # BLAS prefilter + exact-fold re-score of near-threshold
            # survivors — identical hits and round4 grid values to
            # folding every pair (see _exact_ge_pairs)
            r, c, ex = _exact_ge_pairs(
                V[s : s + chunk], nrm[s : s + chunk], V, nrm, thr
            )
            m = ids[s + r] < ids[c]
            oa.append(ids[s + r][m])
            ob.append(ids[c][m])
            oc.append(np.floor(ex[m] * 1e4 + 0.5) / 1e4)
        return pa.table(
            {
                "id_a": np.concatenate(oa),
                "id_b": np.concatenate(ob),
                "cos_sim": np.concatenate(oc),
            }
        )

    return b.groupBy("bucket").applyInArrow(
        pairs_in_bucket, f"id_a {id_dt}, id_b {id_dt}, cos_sim double"
    )


def _with_norm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("norm", l2_norm(F.col("vec")))


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, cvec, cnorm) — the ``n_centroids`` lowest-id corpus
    vectors as seed centroids. Deterministic and engine-reproducible
    (the correctness-oracle requirement); production would
    k-means-refine these, which changes the *quality* of the
    partition, not the shape of any downstream plan."""
    return (
        _with_norm(corpus, id_col, vec_col)
        .orderBy("id")
        .limit(n_centroids)
        .select(
            F.col("id").alias("cid"),
            F.col("vec").alias("cvec"),
            F.col("norm").alias("cnorm"),
        )
    )


def ivf_kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd) refinement of the deterministic seed
    centroids: assign → element-wise member mean → repeat. Cosine
    assignment is scale-invariant, so the unnormalized mean is
    equivalent to the spherical-k-means normalized mean — the summed
    cosine objective is non-decreasing per round (asserted in tests).

    Fully distributed: assignment is the broadcast argmax of
    :func:`ivf_assign`; the new centroid is a posexplode → (cid, pos)
    average → rebuild-by-sorted-pos aggregation (never a driver-side
    matrix). ``localCheckpoint`` truncates the per-round lineage like
    dedup_clusters. Returns (cid, cvec, cnorm) — drop-in for
    :func:`ivf_topk`'s centroid set. cid values are the seed ids
    (stable labels); empty clusters keep their previous centroid.
    """
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    for _ in range(n_iter):
        assigned = ivf_assign(corpus, cents, 1, id_col, vec_col)
        means = (
            assigned.select("cid", F.posexplode("vec").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
        )
        new_vec = F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        )
        refined = means.groupBy("cid").agg(new_vec.alias("cvec"))
        refined = refined.withColumn("cnorm", l2_norm(F.col("cvec")))
        # empty clusters vanish from `refined`; keep their old centroid
        cents = (
            cents.select("cid", F.col("cvec").alias("_old_v"), F.col("cnorm").alias("_old_n"))
            .join(refined, "cid", "left")
            .select(
                "cid",
                F.coalesce(F.col("cvec"), F.col("_old_v")).alias("cvec"),
                F.coalesce(F.col("cnorm"), F.col("_old_n")).alias("cnorm"),
            )
            .localCheckpoint()
        )
    return cents


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, norm, cid, crank) — each vector assigned to its
    ``nprobe`` nearest of the given ``centroids`` by cosine (crank 1 =
    nearest), as a narrow Arrow-native ``mapInArrow``: the corpus NEVER
    shuffles; the (metadata-sized, eagerly collected) centroid matrix
    scores each batch in fold-order numpy (:func:`_fold_dots` —
    bitwise identical to the oracle's fold), ranked on the half-up
    9-decimal key with the ascending-cid tiebreak. The previous JVM
    shape (1-row centroid fold broadcast + interpreted transform/
    array_sort) cost ~16 µs per dot; at √N centroid counts that was
    the dominant term of every IVF lane (measured at the sf10 decade:
    46 s of a 122 s semantic dedup was assignment alone)."""
    import numpy as np

    spark = df.sparkSession
    id_dt = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"id {id_dt}, vec array<double>, norm double, "
        f"cid {id_dt}, crank int"
    )
    # centroid sets are metadata-sized by construction (the
    # auto_n_centroids clamp caps them at 65536 × dim doubles ≈
    # 33 MB — the same bound the previous 1-row broadcast fold
    # implied); collect once, close over the matrix
    crows = sorted(centroids.collect(), key=lambda r: r["cid"])
    if not crows:
        return spark.createDataFrame([], out_schema)
    cmat = np.array([list(r["cvec"]) for r in crows], dtype=np.float64)
    cnorm = np.array([r["cnorm"] for r in crows], dtype=np.float64)
    cid_arr = np.array([r["cid"] for r in crows])
    kk = min(nprobe, len(crows))

    def assign(batches):
        # Arrow-native (r17, §4.2): flat-buffer reshape in, ListArray
        # out — the nprobe-replicated vectors are one np.repeat plus
        # an offsets array, never a per-row python list
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            vec = rb.column(rb.schema.get_field_index("vec"))
            if vec.null_count:
                raise ValueError("ivf_assign: NULL embedding")
            V = (
                vec.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(rb.num_rows, -1)
            )
            nrm = _fold_sq_norms(V)
            # ranks on the half-up 9-decimal key — the same
            # bucketing the JVM/oracle round(cs, 9) produces — with
            # ascending-cid tiebreak; _exact_topk_key reproduces the
            # previous fold+lexsort ranking exactly (NaN/zero-norm
            # rows included) with a BLAS prefilter.
            order = _exact_topk_key(V, nrm, cmat, cnorm, kk)
            rows = rb.num_rows
            ids = rb.column(
                rb.schema.get_field_index("id")
            ).to_numpy(zero_copy_only=False)
            rep = np.repeat(V, kk, axis=0)
            yield pa.record_batch(
                {
                    "id": pa.array(np.repeat(ids, kk)),
                    "vec": pa.ListArray.from_arrays(
                        pa.array(
                            np.arange(rows * kk + 1, dtype=np.int32)
                            * V.shape[1]
                        ),
                        pa.array(rep.ravel(), type=pa.float64()),
                    ),
                    "norm": pa.array(
                        np.repeat(nrm, kk), type=pa.float64()
                    ),
                    "cid": pa.array(cid_arr[order].ravel()),
                    "crank": pa.array(
                        np.tile(np.arange(1, kk + 1, dtype=np.int32), rows),
                        type=pa.int32(),
                    ),
                }
            )

    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).mapInArrow(assign, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int | None = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their single
    nearest centroid's inverted list; each query probes its ``nprobe``
    nearest centroids and ranks those lists exactly.

    This is the other classic ANN scale shape next to LSH: candidate
    generation is an equi-join on ``cid`` (list membership), so the
    shuffle is keyed by centroid — fine-grained, never all-pairs — and
    recall is tuned by ``nprobe`` instead of hyperplane count. Queries
    are assigned against the CORPUS centroid set (optionally
    k-means-refined with ``refine_iters`` Lloyd rounds — better list
    balance, same plan shape; the contract oracle pins 0). Returns
    (q_id, n_id, cos_sim), ties broken by n_id.

    ``n_centroids=None`` auto-sizes to ``~sqrt(|corpus|)``
    (:func:`auto_n_centroids`) so inverted-list width grows with the
    square root of the corpus instead of linearly; the contract oracle
    pins the fixed-16 variant for reproducibility. ``n_rows`` is the
    auto-sizing hint — pass a known cardinality and no eager count()
    job fires at plan-construction time.
    """
    if n_centroids is None:
        n_centroids = auto_n_centroids(_sizing_rows(corpus, n_rows, "ivf_topk"))
    if refine_iters:
        cents = ivf_kmeans_centroids(
            corpus, n_centroids, refine_iters, id_col, vec_col
        )
    else:
        cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    lists = ivf_assign(corpus, cents, 1, id_col, vec_col).select(
        F.col("id").alias("n_id"),
        F.col("vec").alias("n_vec"),
        F.col("norm").alias("n_norm"),
        "cid",
    )
    probes = ivf_assign(queries, cents, nprobe, id_col, vec_col).select(
        F.col("id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("norm").alias("q_norm"),
        "cid",
    )
    scored = (
        probes.join(lists, "cid")
        .where(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            F.round(
                dot(F.col("q_vec"), F.col("n_vec"))
                / (F.col("q_norm") * F.col("n_norm")),
                4,
            ).alias("cos_sim"),
        )
        # a (q, n) pair appears once per shared probed centroid —
        # distinct on the pair before ranking
        .dropDuplicates(["q_id", "n_id"])
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .drop("rnk")
    )


def _fold_dots(A, B):
    """Pairwise dot products of the rows of ``A`` (a×d) against the
    rows of ``B`` (b×d), accumulated SEQUENTIALLY over the dimension
    axis — ``((0 + p₀) + p₁) + …`` — so every result is BITWISE
    identical to the JVM/oracle left-to-right fold
    (``aggregate(zip_with(...))`` / DuckDB ``list_reduce``). A BLAS
    ``A @ B.T`` would be ~the same speed here but sums in SIMD order,
    and a 1-ulp summation difference at a rounding boundary is exactly
    the cross-engine flake SCALE.md bans. 64 vectorized passes over an
    (a×b) accumulator: memory O(a·b), flops identical to matmul."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        acc += A[:, d, None] * B[None, :, d]
    return acc


def _fold_sq_norms(V):
    """sqrt of the sequential self-dot per row — bitwise identical to
    ``l2_norm``'s fold (same products, same add order, IEEE sqrt)."""
    import numpy as np

    acc = np.zeros(V.shape[0])
    for d in range(V.shape[1]):
        acc += V[:, d] * V[:, d]
    return np.sqrt(acc)


def _exact_ge_pairs(Vc, nc, V, nrm, thr):
    """BLAS-prefiltered exact ≥-``thr`` cosine pairs between the chunk
    rows ``Vc`` (c×d, norms ``nc``) and every column row of ``V``
    (w×d, norms ``nrm``): a SIMD ``matmul`` approximates all c·w
    cosines to within ~1e-14 (64 products, Cauchy-Schwarz-bounded
    summation error ≪ the 1e-6 margin), and only pairs clearing
    ``thr − 1e-6`` are re-scored with the sequential fold — so the
    returned ``(rows, cols, exact_cos)`` is IDENTICAL to folding
    every pair (the prefilter is a strict superset of the exact
    hits; NaN from zero norms compares False on both sides), at
    ~1/50th the flops when hits are sparse.

    Transient-memory shape (r11, per ADVICE): the divides run
    IN PLACE on the matmul output — no norm outer product and no
    separate quotient array materialize — and the re-score slab is
    sized so each of the two gathered pair copies stays ≤ ~32 MB."""
    import numpy as np

    approx = Vc @ V.T
    with np.errstate(divide="ignore", invalid="ignore"):
        approx /= nc[:, None]
        approx /= nrm[None, :]
    r, c = np.nonzero(approx >= thr - 1e-6)  # NaN → False
    if r.size == 0:
        return r, c, np.empty(0)
    # slab the gathered re-score so a dense hit region (low
    # threshold) bounds the pair copies instead of materializing
    # 2·npairs·d doubles at once
    dim = Vc.shape[1]
    out_r, out_c, out_x = [], [], []
    slab = max(1, 4_000_000 // max(dim, 1))
    for s in range(0, r.size, slab):
        rs, cs = r[s : s + slab], c[s : s + slab]
        A, B = Vc[rs], V[cs]
        acc = np.zeros(rs.size)
        for d in range(dim):
            acc += A[:, d] * B[:, d]
        with np.errstate(divide="ignore", invalid="ignore"):
            ex = acc / (nc[rs] * nrm[cs])
        keep = ex >= thr
        out_r.append(rs[keep])
        out_c.append(cs[keep])
        out_x.append(ex[keep])
    return (
        np.concatenate(out_r),
        np.concatenate(out_c),
        np.concatenate(out_x),
    )


def _exact_topk_key(V, nrm, cmat, cnorm, kk):
    """Per-row top-``kk`` centroid indices by the integer half-up key
    ``floor(1e9 · cos(V[i], cmat[j]) + 0.5)`` DESC with the
    ascending-j tiebreak — the exact ranking the interpreted
    :func:`_fold_dots` + lexsort path produced — at BLAS speed.
    Returns an (n × kk) int index array into ``cmat``'s rows.

    One SIMD matmul approximates all n·k cosines (summation-order
    error ~1e-14 ≪ the 1e-7 candidate margin); per row, only the
    centroids whose approx cosine reaches the row's kk-th-largest
    approx minus the margin are re-scored with the sequential fold,
    and the top-kk are picked on the EXACT keys. Identical to folding
    every (row, centroid) pair: a centroid outside the margin is
    > 1e-7 of cosine below the kk-th-best, so its exact key
    (grid resolution 1e-9 of cosine) cannot displace any winner.
    Zero-norm rows/centroids reproduce the fold path's NaN→−inf
    ranking (−inf keys sort last, ties by ascending j), because the
    −inf row threshold admits every centroid as a candidate.

    Flops: n·k fused multiply-adds + an exact d-pass fold over the
    ~kk near-max candidates per row, vs the interpreted d-pass n·k
    fold this replaces (~20× less wall time at the sf10 decade)."""
    import numpy as np

    n, k = V.shape[0], cmat.shape[0]
    kk = min(kk, k)
    approx = V @ cmat.T
    with np.errstate(divide="ignore", invalid="ignore"):
        approx /= nrm[:, None]
        approx /= cnorm[None, :]
    # every non-finite cosine ranks LAST, exactly as the fold path did:
    # +inf can arise when subnormal norms underflow to 0 with nonzero dot.
    np.nan_to_num(approx, copy=False, nan=-np.inf, posinf=-np.inf)
    th = (
        np.partition(approx, k - kk, axis=1)[:, k - kk]
        if kk < k
        else np.full(n, -np.inf)
    )
    r, c = np.nonzero(approx >= (th - 1e-7)[:, None])
    acc = np.zeros(r.size)
    A, B = V[r], cmat[c]
    for d in range(V.shape[1]):
        acc += A[:, d] * B[:, d]
    with np.errstate(divide="ignore", invalid="ignore"):
        key = np.floor((acc / (nrm[r] * cnorm[c])) * 1e9 + 0.5)
    np.nan_to_num(key, copy=False, nan=-np.inf, posinf=-np.inf)
    # order candidates by (row, -key, j); each row's first kk win.
    # (th guarantees ≥ kk candidates per row, ties included.)
    order = np.lexsort((c, -key, r))
    rr, cc = r[order], c[order]
    new_grp = np.ones(rr.size, dtype=bool)
    new_grp[1:] = rr[1:] != rr[:-1]
    # rank within row = position − start of that row's run
    run_start = np.maximum.accumulate(
        np.where(new_grp, np.arange(rr.size), 0)
    )
    rank = np.arange(rr.size) - run_start
    sel = rank < kk
    out = np.zeros((n, kk), dtype=np.int64)
    out[rr[sel], rank[sel]] = cc[sel]
    return out


def _ge_round4_boundary(threshold: float) -> float:
    """Smallest double ``B`` such that ``x >= B`` is EXACTLY the
    predicate ``round(x, 4) >= threshold`` as the JVM evaluates it
    (BigDecimal HALF_UP on the exact binary value of x, result cast
    back to double, compared to the double ``threshold``). Lets the
    Arrow path test a vectorized float compare instead of rounding
    45M cosines through Decimal.

    Derivation: the JVM predicate holds iff round4(x) lands on the
    smallest 4-decimal grid point g whose double value is >=
    threshold, i.e. iff the exact value of x >= g - 0.00005 (the
    HALF_UP half-boundary, an exact decimal). B is the smallest
    double whose exact binary expansion reaches that boundary."""
    import math
    from decimal import ROUND_CEILING, Decimal

    q = Decimal("0.0001")
    g = (Decimal(threshold) / q).to_integral_value(ROUND_CEILING) * q
    while float(g) < threshold:
        g += q
    while float(g - q) >= threshold:
        g -= q
    half = g - Decimal("0.00005")
    b = float(half)
    if Decimal(b) < half:
        b = math.nextafter(b, math.inf)
    return b


def semantic_dedup_keep(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_centroids: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style cluster-local semantic deduplication: assign
    every embedding to its nearest centroid, compute exact cosines
    only WITHIN each cluster, and drop any vector that has a
    ≥-threshold neighbor with a smaller id (the deterministic
    keep-lowest-id rule — no RNG, auditable across reruns). Returns
    ``(vec_id, cid, keep)`` with keep ∈ {0, 1}.

    Scale shape: candidate volume is Σ |cluster|²/2, never all-pairs,
    controlled by ``n_centroids`` (~√N via ``n_centroids=None`` →
    :func:`auto_n_centroids`; a FIXED count is the scale trap — the
    quadratic stage grows as N²/k). ``n_rows`` is the auto-sizing
    hint; without it sizing runs a loudly-warned eager ``count()``.

    Execution is the Arrow fast path (r9; Arrow-native mapInArrow/
    applyInArrow since r17 — the vectors cross the boundary as flat
    list<float> buffers, never per-row pandas objects): assignment is
    a narrow ``mapInArrow`` scoring each batch against the collected
    centroid matrix (metadata-sized: ≤65536 × dim doubles, the same
    bound the previous 1-row-fold broadcast implied), and the
    within-cluster pair stage is ONE ``applyInArrow`` keyed on the
    cluster id — the plan is scan → narrow assign → one hash
    exchange on cid, strictly fewer shuffles than the previous
    JVM pair-join shape. The interpreted ``aggregate(zip_with(...))``
    fold this replaces cost ~16 µs per 64-dim dot (higher-order
    functions are CodegenFallback); at the sf10 decade that was 122 s
    vs ~8 s for this path. (Unrolling the fold into flat arithmetic
    was tried first and is 2× SLOWER — see the module header.)
    Cross-engine exactness is preserved by construction, not luck:
    dots/norms accumulate in fold order (:func:`_fold_dots` —
    bitwise identical to the oracle's ``list_reduce``), the
    assignment ranks on the same half-up 9-decimal key, and the
    threshold test compares against the exact decimal half-boundary
    (:func:`_ge_round4_boundary`) instead of re-rounding.
    """
    import numpy as np

    if n_centroids is None:
        n_centroids = auto_n_centroids(
            _sizing_rows(corpus, n_rows, "semantic_dedup_keep")
        )
    spark = corpus.sparkSession
    id_dt = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_dt}, cid {id_dt}, keep bigint"
    # centroid seeds: deterministic lowest-id vectors, collected
    # eagerly (metadata-sized, like a table-format manifest read) and
    # closed over by the executors' scoring batches
    crows = sorted(
        ivf_centroids(corpus, n_centroids, id_col, vec_col).collect(),
        key=lambda r: r["cid"],
    )
    if not crows:
        return spark.createDataFrame([], out_schema)
    cmat = np.array([list(r["cvec"]) for r in crows], dtype=np.float64)
    cnorm = np.array([r["cnorm"] for r in crows], dtype=np.float64)
    cid_arr = np.array([r["cid"] for r in crows])
    dim = cmat.shape[1]
    # r16 (guide §2.3 "narrower types", same move as lsh_bucket): the
    # cid exchange is the one corpus-scale shuffle of this operator and
    # it carries every vector — ship them at their SOURCE element width
    # (array<float> for the float32 embeddings the testdata ships)
    # instead of the f64 upcast. keep_group upcasts with
    # .astype(np.float64) before the fold-order arithmetic, so every
    # cosine is computed on bit-identical doubles either way.
    vec_el = corpus.schema[vec_col].dataType.elementType.simpleString()
    asg_schema = f"id {id_dt}, cid {id_dt}, nrm double, vec array<{vec_el}>"

    def assign(batches):
        # Arrow-native (r17, guide §4.2): the list<float> column is one
        # flat buffer + offsets — reshape it instead of boxing per-row
        # numpy objects through pandas; vec passes through untouched.
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            vec = rb.column(rb.schema.get_field_index("vec"))
            if vec.null_count:
                raise ValueError("semantic_dedup_keep: NULL embedding")
            V = (
                vec.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(-1, dim)
            )
            nrm = _fold_sq_norms(V)
            # the JVM path ranks on round(cos, 9) desc with cid
            # tiebreak; _exact_topk_key reproduces that ranking
            # exactly (BLAS prefilter + exact-fold re-score of the
            # near-max candidates; cmat is cid-sorted so ascending-j
            # IS the ascending-cid tiebreak)
            best = _exact_topk_key(V, nrm, cmat, cnorm, 1)[:, 0]
            yield pa.record_batch(
                {
                    "id": rb.column(rb.schema.get_field_index("id")),
                    "cid": pa.array(cid_arr[best]),
                    "nrm": pa.array(nrm, type=pa.float64()),
                    # original source-width values, NOT the f64 upcast V
                    "vec": vec,
                }
            )

    thr = _ge_round4_boundary(threshold)

    def keep_group(tbl):
        import pyarrow as pa

        ids = tbl.column("id").to_numpy(zero_copy_only=False)
        # upcast the source-width (float32) vectors shuffled by the
        # cid exchange — value-preserving, so the fold-order doubles
        # are bit-identical to the former array<double> shape
        varr = tbl.column("vec").combine_chunks()
        V = (
            varr.flatten()
            .to_numpy(zero_copy_only=False)
            .astype(np.float64)
            .reshape(len(varr), -1)
        )
        nrm = tbl.column("nrm").to_numpy(zero_copy_only=False)
        w = len(ids)
        dropped = np.zeros(w, dtype=bool)
        # row-chunked so a skewed hot cluster bounds the (chunk × w)
        # approx matrix instead of materializing w² at once; each
        # chunk is one BLAS matmul + an exact fold over only the
        # near-threshold survivors (_exact_ge_pairs — result
        # identical to folding every pair)
        chunk = max(1, 4_000_000 // max(w, 1))
        for s in range(0, w, chunk):
            r, c = _exact_ge_pairs(
                V[s : s + chunk], nrm[s : s + chunk], V, nrm, thr
            )[:2]
            smaller = ids[s + r] < ids[c]
            dropped[c[smaller]] = True
        return pa.table(
            {
                id_col: ids,
                "cid": tbl.column("cid"),
                "keep": (~dropped).astype(np.int64),
            }
        )

    asg = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).mapInArrow(assign, asg_schema)
    return asg.groupBy("cid").applyInArrow(keep_group, out_schema)


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = 127/max|v|``,
    ``q_i = round(v_i · scale)`` ∈ [−127, 127] — 4× smaller than f32
    at rest and in shuffle, the memory lever that decides whether a
    100 TB embedding corpus's working set fits executor RAM.

    The quantized values are kept as integers (exact on any engine —
    identical input doubles give identical products and the same
    round-half-away-from-zero on both Spark and external oracles), so
    downstream integer dot products are bit-deterministic; only the
    final similarity ratio touches floats. Zero vectors quantize to
    null (no scale exists) rather than dividing by zero.
    """
    import numpy as np

    id_dt = df.schema[id_col].dataType.simpleString()

    def quant(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = pdf["vec"].to_numpy()
            out = []
            # uniform-dim fast path: one vectorized pass per batch —
            # the JVM form (array_max + per-element round HOFs) was
            # interpreted per element and dominated every int8 lane
            lens = {len(v) for v in vecs if v is not None}
            if len(lens) == 1 and all(v is not None for v in vecs):
                V = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in vecs]
                )
                amax = np.abs(V).max(axis=1) if V.shape[1] else np.zeros(
                    len(vecs)
                )
                # NaN amax → not ok → null elements. NB this matches
                # the DuckDB oracle (NaN > 0 is false) and DIVERGES
                # from the old JVM expression (Spark orders NaN above
                # every number, so it took the scale branch and cast
                # the NaN products to 0) — the JVM path was the
                # cross-engine outlier, latent until NaN input exists.
                ok = amax > 0
                with np.errstate(divide="ignore", invalid="ignore"):
                    X = V * (127.0 / amax)[:, None]
                    # round HALF_UP away from zero — F.round's rule
                    Q = np.copysign(np.floor(np.abs(X) + 0.5), X)
                d = V.shape[1]
                for i in range(len(vecs)):
                    out.append(
                        Q[i].astype(np.int64)
                        if ok[i]
                        else [None] * d
                    )
            else:
                for v in vecs:
                    if v is None:
                        out.append(None)
                        continue
                    x = np.asarray(v, dtype=np.float64)
                    if x.size == 0:
                        out.append([])
                        continue
                    amax = np.abs(x).max()
                    if not amax > 0:  # 0 or NaN → null scale
                        out.append([None] * x.size)
                        continue
                    X = x * (127.0 / amax)
                    out.append(
                        np.copysign(np.floor(np.abs(X) + 0.5), X).astype(
                            np.int64
                        )
                    )
            yield pd.DataFrame(
                {id_col: pdf["id"].to_numpy(), "qvec": out}
            )

    return df.select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
    ).mapInPandas(quant, f"{id_col} {id_dt}, qvec array<bigint>")


_INT8_COLLECT_MAX_QUERIES = 65536


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int | None = None,
) -> DataFrame:
    """Exact-arithmetic top-k over int8-QUANTIZED vectors: the
    integer dot products and integer norms are bit-deterministic;
    cosine ≈ qdot/(‖qa‖·‖qb‖) differs from the float ranking only by
    quantization error (measured by the paired recall entry). Same
    broadcast-cross + per-query window shape as :func:`cosine_topk`.

    ``n_queries`` is the standard auto-sizing hint (never an implicit
    scan): when it exceeds ``_INT8_COLLECT_MAX_QUERIES`` the
    driver-side query-matrix broadcast is skipped for a fully
    DISTRIBUTED pair join with JVM integer HOF folds — slower per
    pair but correct at corpus-sized query sets, where collecting
    the matrix would OOM the driver (the r12 verdict's noted
    fallback). Exact all-pairs at that scale is inherently the
    cartesian shape; use the LSH/IVF lanes when approximate is
    acceptable."""
    import numpy as np

    qq = quantize_int8(queries, id_col, vec_col).select(
        F.col(id_col).alias("q_id"), F.col("qvec").alias("q_q")
    )
    qc = quantize_int8(corpus, id_col, vec_col).select(
        F.col(id_col).alias("n_id"), F.col("qvec").alias("n_q")
    )
    if n_queries is not None and int(n_queries) > _INT8_COLLECT_MAX_QUERIES:
        sq = lambda c: F.aggregate(  # noqa: E731
            F.col(c),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x * x,
        )
        dot = F.aggregate(
            F.zip_with("q_q", "n_q", lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        scored = (
            qq.crossJoin(qc)
            .where(F.col("q_id") != F.col("n_id"))
            .select(
                "q_id",
                "n_id",
                F.round(
                    dot / (F.sqrt(sq("q_q")) * F.sqrt(sq("n_q"))), 4
                ).alias("q_cos"),
            )
        )
        w = Window.partitionBy("q_id").orderBy(
            F.col("q_cos").desc(), F.col("n_id").asc()
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .drop("rnk")
        )
    # The query set is metadata-sized (the cosine_topk broadcast
    # assumption); collect the quantized matrix and score each corpus
    # batch as ONE exact integer matmul in a narrow Arrow map —
    # integer addition is associative, and every intermediate
    # (|dot| ≤ 127²·dim ≪ 2⁵³) is exactly representable in the
    # float64 BLAS path, so the products/sums are bit-for-bit the
    # zip_with/aggregate fold's. The divide + round4 stay JVM
    # expressions, so the emitted q_cos is the same double the
    # previous interpreted-HOF form (3 folds per pair, ~16 µs/dot)
    # and the oracle produce. Null qvec (zero vectors) propagates as
    # null dot/norm → null q_cos, ranked last as before.
    # NOTE: this collect runs a Spark job EAGERLY at plan-construction
    # time (queries must be materialized to build the broadcast
    # matrix) — callers composing lazy plans should expect it.
    qrows = qq.collect()
    if len(qrows) > _INT8_COLLECT_MAX_QUERIES:
        raise ValueError(
            f"int8_topk: collected {len(qrows)} queries, over the "
            f"{_INT8_COLLECT_MAX_QUERIES} driver-broadcast budget — "
            "pass n_queries= so the distributed pair-join path "
            "engages instead of broadcasting a corpus-sized matrix"
        )
    id_dt = corpus.schema[id_col].dataType.simpleString()
    q_ids = np.array([r["q_id"] for r in qrows])

    def _whole(v):
        # a zero vector quantizes to an array OF null elements (the
        # null scale propagates element-wise), not a null array
        return v is not None and all(x is not None for x in v)

    q_has = np.array([_whole(r["q_q"]) for r in qrows], dtype=bool)
    dim_q = next(
        (len(r["q_q"]) for r in qrows if _whole(r["q_q"])), 1
    )
    Qm = np.array(
        [
            list(r["q_q"]) if _whole(r["q_q"]) else [0] * dim_q
            for r in qrows
        ],
        dtype=np.float64,
    )
    qn_f = (Qm * Qm).sum(axis=1)
    qn_f[~q_has] = np.nan
    out_schema = (
        f"q_id {id_dt}, n_id {id_dt}, dot bigint, qn bigint, nn bigint"
    )

    def _nullable_i64(x):
        mask = np.isnan(x)
        vals = np.where(mask, 0, x).astype(np.int64)
        return pd.arrays.IntegerArray(vals, mask)

    def score(batches):
        nq = len(q_ids)
        for pdf in batches:
            if len(pdf) == 0 or nq == 0:
                continue
            vecs = pdf["n_q"].to_numpy()
            ids = pdf["n_id"].to_numpy()
            n = len(ids)
            # null elements (zero vectors) surface as NaN after the
            # Arrow long→float conversion; None guards a null array.
            # dim falls back to the batch's own vectors when no query
            # quantized whole (dim_q probe failed) — otherwise a null
            # corpus row would stack ragged against real dim-d rows.
            dim_b = next(
                (len(v) for v in vecs if v is not None), dim_q
            )
            Vall = np.stack(
                [
                    np.asarray(v, dtype=np.float64)
                    if v is not None
                    else np.full(dim_b, np.nan)
                    for v in vecs
                ]
            )
            has = ~np.isnan(Vall).any(axis=1)
            dots = np.full((n, nq), np.nan)
            nn = np.full(n, np.nan)
            if has.any():
                V = Vall[has]
                nn[has] = (V * V).sum(axis=1)
                if q_has.any():
                    d = V @ Qm.T
                    d[:, ~q_has] = np.nan
                    dots[has] = d
            # batch-local top-k prune: the final window ranks on
            # (round4 cosine DESC nulls-LAST, n_id ASC); per query,
            # keep rows reaching the batch's k-th best round4 minus
            # ONE grid step (1e-4) — the JVM's round4 of the same
            # exact integers can differ from this numpy round4 only
            # at a representation boundary (< 1 grid step), so the
            # margin makes the pruned set a strict superset of the
            # global winners. Null-cosine rows map to −inf: they are
            # pruned whenever the batch holds ≥ k real candidates
            # (globally they sort after every non-null row, so they
            # cannot reach the top-k then), and when the batch holds
            # fewer than k the k-th key itself is −inf and EVERY row
            # survives — the global fewer-than-k-non-null case keeps
            # its null rows. Shrinks the exchange from N·Q rows to
            # ~batches·Q·k.
            with np.errstate(divide="ignore", invalid="ignore"):
                cosm = dots / np.sqrt(qn_f)[None, :]
                cosm /= np.sqrt(nn)[:, None]
                r4 = (
                    np.copysign(np.floor(np.abs(cosm) * 1e4 + 0.5), cosm)
                    / 1e4
                )
            key = np.nan_to_num(r4, nan=-np.inf)
            sp = ids[:, None] == q_ids[None, :]
            key[sp] = -np.inf
            kk = min(k, n)
            kth = np.partition(key, n - kk, axis=0)[n - kk, :]
            prune = key >= (kth - 1e-4)[None, :]
            keep = (~sp & prune).ravel()
            rep_q = np.tile(q_ids, n)[keep]
            rep_n = np.repeat(ids, nq)[keep]
            flat = dots.ravel()[keep]
            qnr = np.tile(qn_f, n)[keep]
            nnr = np.repeat(nn, nq)[keep]
            if has.all() and q_has.all():
                # fast path: no nulls anywhere → plain int64 columns
                yield pd.DataFrame(
                    {
                        "q_id": rep_q,
                        "n_id": rep_n,
                        "dot": flat.astype(np.int64),
                        "qn": qnr.astype(np.int64),
                        "nn": nnr.astype(np.int64),
                    }
                )
            else:
                yield pd.DataFrame(
                    {
                        "q_id": rep_q,
                        "n_id": rep_n,
                        "dot": _nullable_i64(flat),
                        "qn": _nullable_i64(qnr),
                        "nn": _nullable_i64(nnr),
                    }
                )

    scored = qc.mapInPandas(score, out_schema).select(
        "q_id",
        "n_id",
        F.round(
            F.col("dot") / (F.sqrt(F.col("qn")) * F.sqrt(F.col("nn"))),
            4,
        ).alias("q_cos"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("q_cos").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .drop("rnk")
    )


def _l2sq_slice(a: Column, b: Column, start: int, length: int) -> Column:
    """Σ (aᵢ−bᵢ)² over a 1-based slice of both arrays — a zip_with +
    left-to-right fold, the deterministic-order convention of
    :func:`dot` (an external engine replays the identical fold)."""
    return F.aggregate(
        F.zip_with(
            F.slice(a, start, length),
            F.slice(b, start, length),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_codebook(
    corpus: DataFrame,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(j, cvec) — the ``n_codes`` lowest-id corpus vectors as the
    shared sub-quantizer seeds (their s-th slice is subspace s's
    codebook). Deterministic for the same reason as
    :func:`ivf_centroids`; production k-means-refines per subspace —
    a quality change, not a plan change."""
    return (
        corpus.select(
            F.col(id_col).alias("j"), F.col(vec_col).alias("cvec")
        )
        .orderBy("j")
        .limit(n_codes)
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    n_sub: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Product-quantization encode: split each vector into ``n_sub``
    contiguous subspaces and store, per subspace, the id of the
    nearest codebook sub-vector by L2² — ``(id, codes array<int>)``,
    a ``n_sub``-byte-scale sketch of a ``dim``-float vector (the
    Jégou et al. PQ memory shape). Distances are ranked as INTEGERS
    (round(L2²·scale)) with a lowest-j tiebreak, so an external
    engine reproduces every code bit-for-bit.

    Plan: the codebook folds to one broadcast row; assignment is a
    per-row comparator sort over it — the encoded frame NEVER
    shuffles (the ivf_assign shape)."""
    import numpy as np

    if dim % n_sub:
        raise ValueError(f"pq_encode: {n_sub} subspaces must divide dim {dim}")
    sd = dim // n_sub
    # the codebook is metadata-sized by construction (n_codes rows);
    # collect once and close over the matrix — the encoded frame
    # NEVER shuffles (narrow Arrow map, the ivf_assign shape). The
    # previous JVM form (broadcast codebook array + n_sub·n_codes
    # interpreted _l2sq_slice folds and an interpreted comparator
    # sort PER ROW) was the dominant term of the IVF-PQ lane.
    crows = sorted(codebook.collect(), key=lambda r: r["j"])
    cb = np.array([list(r["cvec"]) for r in crows], dtype=np.float64)
    j_arr = np.array([r["j"] for r in crows], dtype=np.int64)
    n_codes_eff = len(crows)
    id_dt = df.schema[id_col].dataType.simpleString()

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            n = V.shape[0]
            codes = np.empty((n, n_sub), dtype=np.int32)
            for s in range(n_sub):
                lo = s * sd
                # fold-order Σ(x−y)² per (row, code): sequential
                # accumulation over the subspace dims — bitwise the
                # _l2sq_slice zip_with+aggregate fold the JVM path and
                # the oracle evaluate
                acc = np.zeros((n, n_codes_eff))
                for i in range(lo, lo + sd):
                    t = V[:, i, None] - cb[None, :, i]
                    acc += t * t
                di = np.floor(acc * scale + 0.5)  # round-half-up ≥ 0
                # min (d, j): j_arr is j-sorted, so argmin's first-min
                # rule IS the lowest-j tiebreak
                codes[:, s] = j_arr[np.argmin(di, axis=1)]
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(), "codes": list(codes)}
            )

    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).mapInPandas(encode, f"id {id_dt}, codes array<int>")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_sub: int = 4,
    dim: int = 64,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """IVF-PQ approximate nearest neighbors — the canonical 100 TB
    ANN memory shape: IVF restricts each query to its ``nprobe``
    probed inverted lists (candidate generation stays an equi-join on
    the centroid key, never all-pairs), and within those lists the
    distance is the PQ asymmetric-distance (ADC) approximation —
    computed from each candidate's ``n_sub`` CODES against the
    query's per-subspace lookup table, never from the candidate's raw
    vector. At scale the scan side carries codes (bytes) instead of
    embeddings (KBs); the raw corpus vector never reaches the scoring
    join. Returns ``(q_id, n_id, adist2)`` — approximate squared L2,
    ascending — ranked on the INTEGER-scaled distance with an n_id
    tiebreak (engine-reproducible; cf. the ivf_assign rounding note).

    Plan: codebook + LUT (|queries|·n_sub·n_codes rows) broadcast;
    the only exchanges are the IVF list equi-join and the final
    per-query top-k.

    r16 (guide §1.2 "how many full passes are unavoidable"): list
    assignment and PQ encoding were two separate ``mapInPandas``
    corpus scans (profiled as two identical-cost map stages) plus a
    per-candidate join to re-attach codes to pairs. Both are per-row
    functions of the same decoded vector batch, so ONE fused pass now
    emits ``(n_id, cid, codes)`` — the corpus is scanned once for the
    index build and the codes ride the existing cid equi-join instead
    of a second exchange (codes are n_sub ints — the pair-dedup
    shuffles a few extra bytes, cheaper than a corpus-wide join).
    Assignment reuses ``_exact_topk_key`` and encoding replays
    ``pq_encode``'s fold-order subspace loop verbatim, so every cid,
    code and distance is bit-identical to the two-pass shape."""
    import numpy as np

    spark = corpus.sparkSession
    id_dt = corpus.schema[id_col].dataType.simpleString()
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    probes = ivf_assign(queries, cents, nprobe, id_col, vec_col).select(
        F.col("id").alias("q_id"), "cid"
    )
    cb = pq_codebook(corpus, n_codes, id_col, vec_col)
    sd = dim // n_sub
    crows = sorted(cents.collect(), key=lambda r: r["cid"])
    cbrows = sorted(cb.collect(), key=lambda r: r["j"])
    if not crows or not cbrows:
        return spark.createDataFrame(
            [], f"q_id {id_dt}, n_id {id_dt}, adist2 double"
        )
    cmat = np.array([list(r["cvec"]) for r in crows], dtype=np.float64)
    cnorm = np.array([r["cnorm"] for r in crows], dtype=np.float64)
    cid_arr = np.array([r["cid"] for r in crows])
    cbm = np.array([list(r["cvec"]) for r in cbrows], dtype=np.float64)
    j_arr = np.array([r["j"] for r in cbrows], dtype=np.int64)
    n_codes_eff = len(cbrows)

    def assign_encode(batches):
        # Arrow-native (r17, §4.2): flat-buffer reshape in, ListArray
        # out — no per-row numpy-object boxing on either side
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            vec = rb.column(rb.schema.get_field_index("vec"))
            if vec.null_count:
                raise ValueError("sim_ivfpq: NULL embedding")
            V = (
                vec.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(rb.num_rows, -1)
            )
            nrm = _fold_sq_norms(V)
            # ivf_assign's nprobe=1 ranking, verbatim
            best = _exact_topk_key(V, nrm, cmat, cnorm, 1)[:, 0]
            # pq_encode's fold-order subspace loop, verbatim
            n = V.shape[0]
            codes = np.empty((n, n_sub), dtype=np.int32)
            for s in range(n_sub):
                lo = s * sd
                acc = np.zeros((n, n_codes_eff))
                for i in range(lo, lo + sd):
                    t = V[:, i, None] - cbm[None, :, i]
                    acc += t * t
                di = np.floor(acc * scale + 0.5)
                codes[:, s] = j_arr[np.argmin(di, axis=1)]
            yield pa.record_batch(
                {
                    "n_id": rb.column(rb.schema.get_field_index("id")),
                    "cid": pa.array(cid_arr[best]),
                    "codes": pa.ListArray.from_arrays(
                        pa.array(
                            np.arange(n + 1, dtype=np.int32) * n_sub
                        ),
                        pa.array(codes.ravel(), type=pa.int32()),
                    ),
                }
            )

    lists = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).mapInArrow(
        assign_encode, f"n_id {id_dt}, cid {id_dt}, codes array<int>"
    )
    subs = F.explode(
        F.sequence(F.lit(0), F.lit(n_sub - 1))
    ).alias("s")
    lut = (
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("_q"))
        .crossJoin(F.broadcast(cb))
        .select("q_id", "j", "_q", "cvec", subs)
        .select(
            "q_id",
            "s",
            "j",
            F.round(
                _l2sq_slice(
                    F.col("_q"),
                    F.col("cvec"),
                    F.col("s") * sd + 1,
                    sd,
                )
                * scale
            )
            .cast("long")
            .alias("d2i"),
        )
    )
    pairs = (
        probes.join(lists, "cid")
        .where(F.col("q_id") != F.col("n_id"))
        # codes ride through the dedup: functionally dependent on
        # n_id, so whichever duplicate survives carries identical
        # values — no join-back exchange needed
        .dropDuplicates(["q_id", "n_id"])
        .select("q_id", "n_id", F.posexplode("codes").alias("s", "j"))
    )
    scored = (
        pairs.join(F.broadcast(lut), ["q_id", "s", "j"])
        .groupBy("q_id", "n_id")
        .agg(F.sum("d2i").alias("_di"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("_di").asc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "q_id",
            "n_id",
            F.round(F.col("_di").cast("double") / scale, 4).alias(
                "adist2"
            ),
        )
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam_num: int = 7,
    lam_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``k`` of each query's top-``pool`` exact
    candidates maximizing ``λ·rel(d) − (1−λ)·max_sim(d, picked)`` —
    the diversity-aware selection behind dedup-adjacent retrieval
    (RAG context packing, eval-set sampling) where the plain top-k
    returns five copies of the same near-duplicate.

    Determinism/portability: relevance and pairwise similarity are
    cosine ROUNDED to 4 then scaled to integers (units of 1/scale);
    λ enters as the integer pair (lam_num, lam_den − lam_num), so
    the greedy objective is exact integer arithmetic with an n_id
    tiebreak — no float ever decides a pick, and an external engine
    unrolling the same k steps reproduces the selection bit-for-bit.

    Scale shape: candidates come from :func:`cosine_topk` (broadcast
    query set); pairwise similarities are computed SPARK-SIDE as a
    q_id-keyed self-join of the candidate set — O(pool²) rows per
    query by construction, never corpus² — so the Python stage
    (grouped cogroup-applyInPandas) does pure integer greedy
    selection over ≤ pool rows per group: the sequential part of MMR
    is irreducibly sequential per query, but each query's selection
    runs independently across executors.
    """
    import pandas as pd

    lam_rem = lam_den - lam_num
    cands = cosine_topk(
        corpus, queries, k=pool, id_col=id_col, vec_col=vec_col
    )
    # cands (Q×pool rows) feeds the rel projection AND both sides of
    # the pairwise self-join — unchecked, every consumer replays the
    # corpus-wide scoring pass (audited: 8 FileScans). Eager, per the
    # consumer-topology rule; the frame is tiny by construction.
    cands = cands.localCheckpoint()
    rel = cands.select(
        "q_id",
        "n_id",
        F.round(F.col("cos_sim") * scale).cast("long").alias("rel"),
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"), _as_double(F.col(vec_col)).alias("n_vec")
    )
    # cv re-attaches vectors once and is materialized for the SAME
    # reason: its two aliased self-join sides would each re-run the
    # corpus join
    cv = (
        cands.select("q_id", "n_id")
        .join(c, "n_id")
        .localCheckpoint()
    )
    # q_id-keyed candidate self-join (alias-qualified: both sides are
    # the same frame) — O(pool²) rows per query by construction
    pw = (
        cv.alias("al")
        .join(cv.alias("bl"), F.col("al.q_id") == F.col("bl.q_id"))
        .where(F.col("al.n_id") != F.col("bl.n_id"))
        .select(
            F.col("al.q_id").alias("q_id"),
            F.col("al.n_id").alias("i"),
            F.col("bl.n_id").alias("j"),
            F.round(
                F.round(cosine(F.col("al.n_vec"), F.col("bl.n_vec")), 4)
                * scale
            )
            .cast("long")
            .alias("sim"),
        )
    )

    def _greedy(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if l.empty:
            return pd.DataFrame(
                {"q_id": [], "rank": [], "n_id": [], "mmr_score": []}
            ).astype(
                {"q_id": "int64", "rank": "int32",
                 "n_id": "int64", "mmr_score": "int64"}
            )
        qid = int(l["q_id"].iloc[0])
        relmap = {int(n): int(v) for n, v in zip(l["n_id"], l["rel"])}
        sims = {
            (int(i), int(j)): int(s)
            for i, j, s in zip(r["i"], r["j"], r["sim"])
        }
        remaining = sorted(relmap)
        picked: list[int] = []
        rows = []
        for rank in range(1, min(k, len(remaining)) + 1):
            best = None
            for n in remaining:
                ms = max((sims.get((n, j), 0) for j in picked), default=0)
                score = lam_num * relmap[n] - lam_rem * ms
                cand = (-score, n)
                if best is None or cand < best[:2]:
                    best = (-score, n, score)
            picked.append(best[1])
            remaining.remove(best[1])
            rows.append((qid, rank, best[1], best[2]))
        return pd.DataFrame(
            rows, columns=["q_id", "rank", "n_id", "mmr_score"]
        )

    return (
        rel.groupBy("q_id")
        .cogroup(pw.groupBy("q_id"))
        .applyInPandas(
            _greedy, "q_id long, rank int, n_id long, mmr_score long"
        )
    )


def maxsim_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    vecs_col: str = "token_vecs",
) -> DataFrame:
    """ColBERT-style late interaction (Khattab & Zaharia 2020):
    documents and queries are BAGS of token vectors
    (``array<array<double>>``), and

        score(q, d) = Σ_{qv ∈ q}  max_{dv ∈ d}  ⟨qv, dv⟩

    — every query token matches its best document token, summed.
    The whole MaxSim is ONE nested higher-order expression (outer
    ``aggregate`` fold over query tokens, inner ``array_max`` over a
    ``transform`` of document tokens through the shared ``dot``
    fold), so scoring stays inside whole-stage codegen: no UDF, no
    explode, no per-token shuffle. Queries broadcast (the query set
    is small by construction — late interaction rescoreing runs over
    a candidate corpus); ranking is the standard rounded-value
    window with an id tie-break. Returns (q_id, n_id, maxsim).

    At 100 TB the corpus side stays partition-parallel with zero
    movement — the only duplicated data is the broadcast query bag,
    exactly like ``cosine_topk``.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vecs_col).alias("q_vecs")
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vecs_col).alias("n_vecs")
    )
    score = F.aggregate(
        F.col("q_vecs"),
        F.lit(0.0),
        lambda acc, qv: acc
        + F.array_max(
            F.transform(F.col("n_vecs"), lambda dv: dot(qv, dv))
        ),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id", F.round(score, 4).alias("maxsim")
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("maxsim").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .drop("rnk")
    )


def pca_power_component(
    corpus: DataFrame,
    n_iter: int = 3,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Leading principal direction of the (uncentered) embedding
    matrix by POWER ITERATION — the dimensionality-reduction /
    whitening step an ANN pipeline runs before IVF-PQ: with
    deterministic start ``v₀ = 1/√dim``,

        v_{t+1} = normalize( Σᵢ xᵢ (xᵢ·v_t) )

    i.e. one pass of ``Xᵀ(X v)`` per round — the d×d covariance is
    NEVER materialized and no step leaves the cluster: the current
    direction is a 1-row broadcast, per-row projections are the
    shared ``dot`` fold, component sums are a posexplode →
    ``groupBy(pos)`` partial-aggregated shuffle of exactly ``dim``
    rows, and the rebuilt direction is an ``array_sort(collect_list)``
    over those ``dim`` rows. Fixed ``n_iter`` keeps the whole thing
    a closed-form expression chain an external engine replays
    iteration by iteration. Returns ``(pos, loading)`` — the unit
    direction, components rounded to 4.
    """
    x = corpus.select(_as_double(F.col(vec_col)).alias("e"))
    v = corpus.sparkSession.range(1).select(
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda _: F.lit(1.0) / F.sqrt(F.lit(float(dim))),
        ).alias("v")
    )
    for _ in range(n_iter):
        scored = x.crossJoin(F.broadcast(v)).select(
            "e", dot(F.col("e"), F.col("v")).alias("d")
        )
        comps = (
            scored.select(
                F.posexplode("e").alias("pos", "xj"), "d"
            )
            .groupBy("pos")
            .agg(F.sum(F.col("xj") * F.col("d")).alias("s"))
        )
        v = comps.groupBy().agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "s"))
                ),
                lambda t: t["s"],
            ).alias("_s"),
            F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("_n"),
        ).select(
            F.transform(
                F.col("_s"), lambda s: s / F.col("_n")
            ).alias("v")
        )
        v = v.localCheckpoint(eager=False)
    return v.select(
        F.posexplode("v").alias("pos", "loading")
    ).select("pos", F.round("loading", 4).alias("loading"))


def hard_negatives(
    corpus: DataFrame,
    pairs: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_col: str = "q_id",
    pos_col: str = "pos_id",
) -> DataFrame:
    """Hard-negative mining for contrastive embedding training
    (DPR/SimCSE prep): for each (query, positive) pair, the top-``k``
    highest-cosine corpus vectors that are NEITHER the query NOR its
    positive — the negatives that actually move a contrastive loss.

    ``pairs`` resolves its query vectors by one broadcast join
    against the corpus, then rides broadcast into the corpus scan
    (the same zero-corpus-movement shape as ``cosine_topk``);
    ranking is the rounded-cosine window with id tie-break. Returns
    ``(q_id, pos_id, n_id, cos_sim)``.
    """
    qv = pairs.join(
        corpus.select(
            F.col(id_col).alias(q_col),
            _as_double(F.col(vec_col)).alias("q_vec"),
        ),
        q_col,
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"),
        _as_double(F.col(vec_col)).alias("n_vec"),
    )
    scored = (
        c.crossJoin(F.broadcast(qv))
        .where(
            (F.col("n_id") != F.col(q_col))
            & (F.col("n_id") != F.col(pos_col))
        )
        .select(
            q_col,
            pos_col,
            "n_id",
            F.round(
                cosine(F.col("q_vec"), F.col("n_vec")), 4
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(q_col).orderBy(
        F.col("cos_sim").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .drop("rnk")
    )


def binary_sign_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 63,
) -> DataFrame:
    """1-bit (sign) embedding quantization + Hamming top-k — the
    64×-compression retrieval path (binary embeddings rerank-then-
    refine): each vector packs ``bits`` sign bits into ONE BIGINT
    via a left-to-right fold (63 bits, not 64 — the top bit of a
    signed long would overflow under ANSI arithmetic, same rule as
    the SimHash lane), and candidate distance is
    ``bit_count(xor(a, b))`` — one ALU op per pair instead of a
    64-dim float dot. Queries broadcast; ranking ascends on
    (hamming, n_id). Returns (q_id, n_id, hamming).

    At 100 TB: the packed corpus is 8 bytes/vector — 500× smaller
    than float32×64 — so the scan is bandwidth-trivial and the
    exact-rerank stage (``cosine_topk`` over the survivors) touches
    only k·|queries| full vectors.
    """

    def packed(col: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(bits)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2
            + F.when(
                F.element_at(col, i).cast("double") > 0, F.lit(1)
            ).otherwise(F.lit(0)),
        )

    q = queries.select(
        F.col(id_col).alias("q_id"),
        packed(F.col(vec_col)).alias("q_bits"),
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"),
        packed(F.col(vec_col)).alias("n_bits"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            F.bit_count(
                F.col("q_bits").bitwiseXOR(F.col("n_bits"))
            ).cast("long").alias("hamming"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("hamming").asc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .drop("rnk")
    )
