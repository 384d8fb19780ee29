"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the 100 TB contract):

- **Never all-pairs.** Candidate generation is always a *bucketed
  equi-join* — shingle match, LSH band bucket, or SimHash band — so the
  shuffle key space is fine-grained and Catalyst plans a plain
  shuffled-hash/sort-merge join per bucket. All-pairs O(n²) appears
  nowhere.
- **Bounded bucket width.** Hot shingles/buckets (stopword-only
  shingles, degenerate bands) are frequency-capped before the
  self-join, which bounds the worst-case join fan-out (the classic
  LSH skew mitigation) — on a cluster AQE skew-join splitting handles
  the remainder.
- **Everything JVM-side.** Shingling, hashing (xxhash64/crc32/md5),
  min-aggregation, and band assembly are built-in expressions and
  higher-order functions; no Python in the hot path.

The exact-dup operator mirrors the reference's only dedup primitive
(``dropDuplicates(subset)``, reference M:50) generalized to
content-hash keys.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geniepool_etl_spark.functions import fast_hash64, portable_hash32

HashFn = Callable[[Column, int], Column]


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group by content hash; keep the minimum id as the canonical
    representative. Returns (text_hash, keep_id, n_dups).

    One hash-aggregate shuffle on a high-cardinality key — the optimal
    distributed plan for exact dedup (map-side partial min/count first).
    md5 is used (rather than Spark's murmur ``hash``) so the same key
    is reproducible in any engine.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Return one row per distinct ``text_col`` — the row whose id is
    minimal (deterministic, unlike ``dropDuplicates``).

    ONE shuffle, keyed on ``md5(text)`` — never the text itself: at
    100 TB the raw document would otherwise travel as shuffle-key
    material (and once more through a keep-set join). A row_number
    window over the hash partition picks the min-id row in the same
    exchange that co-locates the duplicates. NULL text hashes to NULL,
    which partitions as one group — matching SQL ``GROUP BY text``
    semantics (one representative row for all NULL-text docs).
    """
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    corpus_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "text_hash",
) -> DataFrame:
    """Incremental ingestion dedup: from a NEW batch, keep one
    representative per content hash (min id within the batch) and drop
    every hash already present in the existing corpus's index (the
    ``text_hash`` table :func:`exact_dedup_stats` maintains).

    This is the daily-batch shape at 100 TB: the standing corpus is
    never re-scanned — only its compact hash index joins, as the
    probe side of a left-anti join on the hash key. In-batch keep-one
    is the same single md5-keyed window as :func:`exact_dedup`, and
    the anti-join reuses that hash partitioning.
    """
    w = Window.partitionBy("_h").orderBy(id_col)
    batch_keep = (
        new_docs.withColumn("_h", F.md5(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    idx = corpus_index.select(F.col(hash_col).alias("_h")).distinct()
    return batch_keep.join(idx, "_h", "left_anti").drop("_h")


# --------------------------------------------------------------------------
# word shingles + exact n-gram Jaccard on bucketed candidates
# --------------------------------------------------------------------------

def shingle_array(n: int = 3, text_col: str = "text") -> Column:
    """Distinct word n-gram shingles of a document as an array column.

    Built by zipping the word array with its k-shifted copies
    (``shingle_i = w[i] ⊕ w[i+1] ⊕ … ⊕ w[i+n-1]``) — O(len·n) work per
    document. The obvious ``transform(starts, i -> concat_ws(slice(w,
    i, n)))`` formulation re-slices the array per shingle (O(len²)
    copying) and measured 4× slower at sf0.1. Narrow (no shuffle).
    Documents shorter than ``n`` words yield zero shingles. ``zip_with``
    pads the shorter side with null, which ``concat_ws`` skips — padded
    tails are cut by the final ``slice`` to len-(n-1) entries.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    z = words
    for k in range(1, n):
        shifted = F.slice(
            words, k + 1, F.greatest(F.size(words) - k, F.lit(0))
        )
        z = F.zip_with(z, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(
        F.size(words) >= n,
        F.array_distinct(F.slice(z, 1, F.size(words) - (n - 1))),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exploded (id, shingle) rows — the join-key shape for exact
    Jaccard candidate generation. (A narrow-input fan-out before the
    explode — the lang-id treatment — was measured and REJECTED here:
    word shingling is cheap per row, and the added raw-row exchange
    cost more than the parallelism bought back: jaccard_pairs
    1.12 → 1.49 s, levenshtein 1.06 → 1.44 s at sf0.1.)"""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_array(n, text_col)).alias("shingle"),
    )


def positioned_ngrams(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, pos, gram) rows — every word n-gram WITH its 0-based start
    position (unlike :func:`word_shingles`, which is distinct and
    positionless). Same O(len·n) zip-shift construction, then
    ``posexplode`` — narrow, no shuffle."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    z = words
    for k in range(1, n):
        shifted = F.slice(
            words, k + 1, F.greatest(F.size(words) - k, F.lit(0))
        )
        z = F.zip_with(z, shifted, lambda a, b: F.concat_ws(" ", a, b))
    grams = F.when(
        F.size(words) >= n, F.slice(z, 1, F.size(words) - (n - 1))
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(grams).alias("pos", "gram")
    )


def repeated_ngram_spans(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    max_gram_freq: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: HashFn | None = fast_hash64,
) -> DataFrame:
    """Span-level repeated-text detection: maximal word spans covered
    by n-grams that occur in ≥ ``min_docs`` distinct documents — the
    n-gram-granular formulation of exact-substring training-data dedup
    (find cross-document boilerplate/licenses/headers INSIDE otherwise
    unique documents, where document-level dedup sees nothing).

    Plan: positioned n-grams (narrow) → per-gram document frequency
    (one keyed exchange; ``max_gram_freq`` caps degenerate grams like
    stopword runs) → semi-join repeated grams back to their positions
    (same key — AQE reuses the exchange partitioning) → per-document
    island merge (window over ``id``, high cardinality: two positions
    merge when their spans overlap or touch, i.e. gap ≤ n) →
    (doc_id, span_start, span_end, n_grams).

    ``hash_fn`` keys the frequency join on a 64-bit gram fingerprint
    (8 bytes shuffled instead of an n-word string — the 100 TB
    default); ``hash_fn=None`` keys on the gram text itself, which is
    what the bit-exact external oracle recomputes."""
    g = positioned_ngrams(df, n, text_col, id_col)
    key = hash_fn(F.col("gram"), 0) if hash_fn else F.col("gram")
    # The positioned-gram frame feeds TWO consumers (frequency agg +
    # the semi-join back to positions); without materialization each
    # re-runs the full gram explode — measured 3.9× slower at sf0.1
    # (2.59 s vs 0.66 s). Same lineage-truncation pattern as the
    # minhash signature frame; on a multi-executor cluster swap for
    # persist(MEMORY_AND_DISK) if executor loss matters.
    g = g.select("id", "pos", key.alias("gk")).localCheckpoint(eager=False)
    freq = g.groupBy("gk").agg(
        F.countDistinct("id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    rep = g.join(
        freq.where(
            (F.col("n_docs") >= min_docs)
            & (F.col("n_occ") <= max_gram_freq)
        ).select("gk"),
        "gk",
        "left_semi",
    )
    w = Window.partitionBy("id").orderBy("pos")
    islands = rep.withColumn(
        "_new",
        F.when(
            F.lag("pos").over(w).isNull()
            | ((F.col("pos") - F.lag("pos").over(w)) > n),
            1,
        ).otherwise(0),
    ).withColumn(
        "_island",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy(F.col("id").alias("doc_id"), "_island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).cast("int").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .drop("_island")
    )


def jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard for every document pair sharing ≥1 shingle.

    Plan: shingle-explode → frequency-cap hot shingles (bounds join
    fan-out; a shingle appearing in f docs contributes f² candidate
    rows) → self-equi-join on shingle (bucketed, never all-pairs) →
    count intersections → join per-doc shingle counts → Jaccard.

    Returns (id_a, id_b, inter, size_a, size_b, jaccard) with
    id_a < id_b.

    r16 pass structure: ``sh`` feeds three structurally distinct
    subtrees (sizes, and the two self-join sides through the cap
    window) and ``capped`` two — per-branch pruning and the id_a/id_b
    aliasing defeat exchange reuse, so un-materialized each consumer
    replayed the shingling pass and the cap window's full shingle
    exchange ran TWICE (audited: 4 corpus scans in the
    dedup_levenshtein plan). Both are lazily ``localCheckpoint``ed:
    one shingling pass, one cap-window exchange; everything computes
    inside the first execution from the parquet inputs.
    """
    sh = word_shingles(df, n, text_col, id_col).localCheckpoint(eager=False)
    # |docs|-sized, consumed twice (size_a and size_b re-attach)
    sizes = (
        sh.groupBy("id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .localCheckpoint(eager=False)
    )

    # Frequency cap as a window count over the shingle key: one pass
    # over the exploded shingles (a groupBy + anti-join branch would
    # re-run the shingling a second time), and the hash(shingle)
    # exchange it introduces is the partitioning the self-equi-join
    # needs anyway.
    capped = (
        sh.withColumn(
            "_f", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .where(F.col("_f") <= max_shingle_freq)
        .drop("_f")
        .localCheckpoint(eager=False)
    )

    a = capped.select(F.col("id").alias("id_a"), "shingle")
    b = capped.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "size_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "size_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
                4,
            ),
        )
    )


# --------------------------------------------------------------------------
# MinHash + banded LSH
# --------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    num_perm: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: HashFn = fast_hash64,
) -> DataFrame:
    """(id, sig: array<long>[num_perm]) MinHash signature per document.

    Each "permutation" is ``hash_fn(shingle, seed=k)`` (default
    ``xxhash64`` — fast JVM path; pass ``portable_hash32`` when an
    external engine must recompute the signature, e.g. the DuckDB
    correctness oracle); the signature element is the minimum over the
    document's shingles — computed as ``num_perm`` grouped ``min``
    aggregates over the exploded (id, shingle) rows. The explode looks
    expensive but is the fast AND scale-right shape: the min aggregates
    run inside whole-stage codegen (an ``array_min∘transform``
    higher-order formulation evaluates its lambda interpreted, measured
    ~20× slower), and map-side partial aggregation collapses each
    document to one 8·num_perm-byte row per partition before the
    shuffle — so the exchange carries signatures, not shingles.
    Equivalent to ``ml.feature.MinHashLSH`` but keeps the long-typed
    signature portable and inspectable.

    Fast path (default ``hash_fn``): each shingle is hashed ONCE and
    the permutations are universal-hashing affine transforms
    ``(a_k·h + b_k) mod p`` (p prime > 2^32; a_k < 2^21, h < 2^32
    keep every product < 2^53 — exact long arithmetic, no overflow
    even under ANSI mode). Measured ~2× faster than ``num_perm``
    independent xxhash64 calls. A custom ``hash_fn`` (e.g. the
    md5-portable one the correctness oracles use) is applied per-seed
    instead, so external engines can recompute signatures verbatim.
    """
    import hashlib

    sh = word_shingles(df, n, text_col, id_col)
    if hash_fn is fast_hash64:
        h32 = (
            (F.xxhash64(F.col("shingle")) % F.lit(2**32) + F.lit(2**32))
            % F.lit(2**32)
        )
        base = sh.select("id", h32.alias("_h"))
        prime = 4294967311  # smallest prime > 2^32

        def perm_min(k: int) -> Column:
            hx = hashlib.md5(f"perm:{k}".encode()).hexdigest()
            a = (int(hx[:8], 16) % 2**20) * 2 + 1
            b = int(hx[8:16], 16)
            return F.min((F.col("_h") * F.lit(a) + F.lit(b)) % F.lit(prime))

        mins = base.groupBy("id").agg(
            *[perm_min(k).alias(f"_h{k}") for k in range(num_perm)]
        )
    else:
        mins = sh.groupBy("id").agg(
            *[
                F.min(hash_fn(F.col("shingle"), k)).alias(f"_h{k}")
                for k in range(num_perm)
            ]
        )
    return mins.select(
        "id", F.array(*[F.col(f"_h{k}") for k in range(num_perm)]).alias("sig")
    )


def _banded_keys(
    sigs: DataFrame,
    num_perm: int,
    bands: int,
    max_bucket: int,
    hash_fn: HashFn,
) -> DataFrame:
    """(id, band, key) rows from a signature frame: band identity =
    hash of the rendered signature slice (engine-portable for
    oracles), with degenerate hot buckets frequency-capped via a
    window count over (band, key) — one pass, reusing the exchange
    the downstream equi-join needs anyway."""
    rows_per_band = num_perm // bands

    def band_key(bi: int) -> Column:
        slice_str = F.concat_ws(
            ",",
            *[
                F.col("sig")[bi * rows_per_band + r].cast("string")
                for r in range(rows_per_band)
            ],
        )
        return hash_fn(slice_str, 10_000 + bi)

    band_cols = F.array(
        *[
            F.struct(F.lit(bi).alias("band"), band_key(bi).alias("key"))
            for bi in range(bands)
        ]
    )
    banded = sigs.select("id", F.explode(band_cols).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    return (
        banded.withColumn(
            "_f", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
        )
        .where(F.col("_f") <= max_bucket)
        .drop("_f")
    )


def minhash_index(
    df: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 200,
    hash_fn: HashFn = fast_hash64,
) -> DataFrame:
    """The persistable LSH index of a standing corpus: (id, band, key,
    sig) rows — write this once (parquet, partitioned by ``band``),
    then join each day's batch against it without ever re-shingling
    the corpus. Hot buckets are capped at BUILD time (corpus-side
    frequencies), so a degenerate corpus bucket never meets a batch.
    Storage is ``bands`` rows per doc each carrying the 8·num_perm-byte
    signature (the estimate re-uses it at match time).

    The signature frame feeds two CONCURRENT consumers (the banded
    keys and the join's probe side), so the checkpoint must be EAGER —
    a lazy one only dedupes join-sequenced consumers, and here both
    branches would recompute the shingle pipeline in parallel before
    either checkpoints."""
    assert num_perm % bands == 0
    sigs = minhash_signatures(
        df, num_perm, n, text_col, id_col, hash_fn
    ).localCheckpoint()
    return _banded_keys(sigs, num_perm, bands, max_bucket, hash_fn).join(
        sigs, "id"
    )


def incremental_minhash_candidates(
    batch: DataFrame,
    corpus_index: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 200,
    hash_fn: HashFn = fast_hash64,
) -> DataFrame:
    """Near-duplicate candidates of a NEW batch against a standing
    corpus — the near-dup twin of :func:`incremental_exact_dedup`:
    daily-ingest cost scales with the batch, never the corpus. The
    batch is shingled/signed/banded fresh (it is small); the corpus
    side is the precomputed :func:`minhash_index` — one (band, key)
    equi-join against an index read, no corpus re-scan.

    Returns (batch_id, corpus_id, est_jaccard). Pair-dedup happens on
    bare id pairs (a pair can match in up to ``bands`` buckets);
    signatures re-attach afterwards — the distinct shuffles 16-byte
    rows, not signature arrays."""
    assert num_perm % bands == 0
    b_sigs = minhash_signatures(
        batch, num_perm, n, text_col, id_col, hash_fn
    ).localCheckpoint(eager=False)
    b_keys = _banded_keys(b_sigs, num_perm, bands, max_bucket, hash_fn)
    pairs = (
        b_keys.select(F.col("id").alias("batch_id"), "band", "key")
        .join(
            corpus_index.select(
                F.col("id").alias("corpus_id"), "band", "key"
            ),
            ["band", "key"],
        )
        .select("batch_id", "corpus_id")
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    pairs = pairs.join(
        b_sigs.select(F.col("id").alias("batch_id"), F.col("sig").alias("sig_b")),
        "batch_id",
    ).join(
        corpus_index.select(
            F.col("id").alias("corpus_id"), F.col("sig").alias("sig_c")
        ).dropDuplicates(["corpus_id"]),
        "corpus_id",
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_b"), F.col("sig_c"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return pairs.select(
        "batch_id",
        "corpus_id",
        F.round(agree.cast("double") / F.lit(num_perm), 4).alias("est_jaccard"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 200,
    hash_fn: HashFn = fast_hash64,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH with the
    estimated Jaccard from signature agreement.

    Plan: signatures → band keys (hash of each r-row slice) → explode
    bands → frequency-cap degenerate buckets → self-join on
    (band, key) → distinct pairs → signature-agreement estimate.
    Join keys are (band_idx, band_hash): fine-grained, never all-pairs.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    assert num_perm % bands == 0
    # The signature frame feeds three consumers (banding + the two
    # re-attach joins); without materialization each consumer re-runs
    # the full shingle→hash→min pipeline. localCheckpoint (lazy)
    # truncates the lineage so signatures — 8·num_perm B per doc, far
    # smaller than the shingle explode that produced them — are
    # computed once. On a multi-executor cluster swap for
    # persist(MEMORY_AND_DISK) if executor loss matters.
    sigs = minhash_signatures(
        df, num_perm, n, text_col, id_col, hash_fn
    ).localCheckpoint(eager=False)
    banded = _banded_keys(sigs, num_perm, bands, max_bucket, hash_fn)

    a = banded.select(F.col("id").alias("id_a"), "band", "key")
    b = banded.select(F.col("id").alias("id_b"), "band", "key")
    # Candidates are deduplicated as bare (id_a, id_b) pairs — a pair
    # can match in up to ``bands`` buckets, and at scale the distinct
    # must shuffle 16-byte rows, not rows dragging two signature
    # arrays (~8·num_perm B each). Signatures re-attach afterwards via
    # two equi-joins (AQE broadcasts the signature side when small).
    pairs = (
        a.join(b, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = pairs.join(
        sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
        "id_a",
    ).join(
        sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
        "id_b",
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round(agree.cast("double") / F.lit(num_perm), 4).alias("est_jaccard"),
    )


def cross_jaccard(
    left: DataFrame,
    right: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int = 100,
) -> DataFrame:
    """Cross-corpus n-gram Jaccard — the DECONTAMINATION shape: every
    (left, right) document pair sharing ≥1 shingle, scored exactly.
    ``left`` is the benchmark/eval set (small), ``right`` the training
    corpus (huge); a training doc overlapping an eval doc above
    threshold is contamination and gets dropped upstream of training.

    Same scale guards as :func:`jaccard_pairs`: candidate generation
    is the shingle equi-join (never all-pairs) and hot shingles are
    frequency-capped on the CORPUS side (a boilerplate shingle in f_r
    corpus docs fans out f_l·f_r candidate rows). Returns
    (id_l, id_r, inter, size_l, size_r, jaccard).
    """
    # each shingle frame feeds TWO consumers (its size aggregate and
    # the candidate equi-join / cap window) — lazy-materialize once so
    # the tokenize+shingle explode does not replay per consumer (the
    # jaccard_pairs precedent; registry plan audit: 4 corpus scans in
    # one plan for the contamination lane).
    sh_l = (
        word_shingles(left, n, text_col, id_col)
        .withColumnRenamed("id", "id_l")
        .localCheckpoint(eager=False)
    )
    sh_r = (
        word_shingles(right, n, text_col, id_col)
        .withColumnRenamed("id", "id_r")
        .localCheckpoint(eager=False)
    )
    sizes_l = sh_l.groupBy("id_l").agg(F.count(F.lit(1)).alias("size_l"))
    sizes_r = sh_r.groupBy("id_r").agg(F.count(F.lit(1)).alias("size_r"))
    capped_r = (
        sh_r.withColumn(
            "_f", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .where(F.col("_f") <= max_shingle_freq)
        .drop("_f")
    )
    inter = (
        sh_l.join(capped_r, "shingle")
        .groupBy("id_l", "id_r")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes_l, "id_l")
        .join(sizes_r, "id_r")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (
                    F.col("size_l") + F.col("size_r") - F.col("inter")
                ).cast("double"),
                4,
            ),
        )
    )


def levenshtein_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int | None = None,
) -> DataFrame:
    """Exact edit distance over CANDIDATE pairs — the precision pass
    that follows any of the approximate candidate generators (shingle
    Jaccard, MinHash-LSH, SimHash bands).

    Levenshtein is O(|a|·|b|) per pair, so it must never see all-pairs
    input; here it runs only on the (id_a, id_b) rows of ``pairs``,
    re-attaching the two texts via keyed joins (broadcast when the
    pair set is small, which it is by construction after bucketing +
    caps). Returns (id_a, id_b, lev), optionally filtered to
    ``lev <= max_dist``.
    """
    t = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    out = (
        pairs.select("id_a", "id_b")
        .join(
            t.withColumnsRenamed({"_id": "id_a", "_t": "_ta"}), "id_a"
        )
        .join(
            t.withColumnsRenamed({"_id": "id_b", "_t": "_tb"}), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_ta", "_tb").cast("long").alias("lev"),
        )
    )
    # `is not None`, not truthiness: max_dist=0 is a legitimate
    # exact-match filter and must not silently disable filtering
    return out.where(F.col("lev") <= max_dist) if max_dist is not None else out


# --------------------------------------------------------------------------
# duplicate clusters (connected components over candidate pairs)
# --------------------------------------------------------------------------

def dedup_clusters(
    pairs: DataFrame, max_iter: int = 50, check_every: int = 3
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document
    in a transitively-connected duplicate group gets the group's
    minimum id as its cluster label — the step that turns pairwise
    matches into "keep one per group".

    Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14):
    large-star hangs every neighbor larger than the center onto the
    center's minimum; small-star then re-hangs each node's smaller
    neighborhood onto its minimum. Each two-phase round at least
    halves star depth, so the edge set converges to one star per
    component (every node → component min) in **O(log n) rounds** —
    the earlier min-label propagation needed O(component diameter)
    rounds, degenerate on chain-shaped components (a 200-node path
    took 100+ label hops; this takes < 10 rounds, unit-pinned).
    Every phase is one keyed aggregate + join — fully distributed,
    no driver-side graph, and edges only ever carry bare id pairs.

    Scale notes: ``localCheckpoint`` truncates the growing lineage
    each round; the convergence check (edge set unchanged, an exact
    symmetric-difference emptiness probe) runs every ``check_every``
    rounds — converged extra rounds are no-ops on the edges, so
    amortizing trades ≤ check_every−1 cheap fixpoint iterations for
    fewer driver actions.

    Returns (id, label) for every id appearing in ``pairs``.
    """
    labels, _ = _alternating_star(pairs, max_iter, check_every)
    return labels


def _alternating_star(
    pairs: DataFrame, max_iter: int, check_every: int
) -> tuple:
    """Alternating-star CC kernel; returns (labels, rounds_run) so
    tests can pin the O(log n) convergence. See dedup_clusters."""
    all_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    # canonical orientation: u > v (min-wards), self-pairs dropped
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"),
            F.least("id_a", "id_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    for it in range(max_iter):
        rounds = it + 1
        # large-star: center u over the SYMMETRIZED adjacency; every
        # neighbor v > u re-attaches to m = min(N(u) ∪ {u})
        adj = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m_ls = adj.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("_m")
        )
        large = (
            adj.join(m_ls, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .distinct()
        )
        # small-star: center u over its (all-smaller, post-large-star)
        # neighborhood; everything except m = min(N(u)) re-attaches
        # to m, including u itself
        ss = large.join(
            large.groupBy("u").agg(F.min("v").alias("_m")), "u"
        )
        new_edges = (
            ss.where(F.col("v") != F.col("_m"))
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .unionByName(ss.select("u", F.col("_m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        if (it + 1) % check_every == 0 or it == max_iter - 1:
            changed = not (
                new_edges.exceptAll(edges)
                .unionByName(edges.exceptAll(new_edges))
                .isEmpty()
            )
            if not changed:
                edges = new_edges
                break
        edges = new_edges
    # at the fixpoint each non-root has exactly one edge (id → min);
    # the min(label) guard keeps labels unique even on a max_iter stop
    src = edges.groupBy(F.col("u").alias("id")).agg(
        F.min("v").alias("_lbl")
    )
    labels = all_ids.join(src, "id", "left").select(
        "id", F.coalesce(F.col("_lbl"), F.col("id")).alias("label")
    )
    return labels, rounds


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    bits: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: HashFn = fast_hash64,
) -> DataFrame:
    """``bits``-bit SimHash per document over whitespace tokens.

    For each bit b: sign of Σ_tokens (±1 depending on bit b of
    hash(token)). Implemented as explode → one hash per token → ``bits``
    conditional-sum aggregates grouped by document. The aggregates are
    plain codegen'd expressions — a previous formulation as ``bits``
    array ``F.aggregate`` folds evaluated its lambdas *interpreted*
    (measured ~2× slower end-to-end at sf0.1, and CPU-bound at scale;
    the same rewrite bought ~20× for MinHash signatures). Map-side
    partial aggregation collapses each document's tokens to a single
    8·bits-byte row before the exchange, so the shuffle carries
    per-document bit-sums, not tokens. Use ``bits=32`` with
    ``portable_hash32`` for an external-engine-reproducible variant.

    Returns (id, simhash: long).
    """
    # coalesce(text, '') so a null-text document still yields one
    # (empty) token — split(null) is a null array and explode would
    # silently drop the document from the output entirely
    words = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    tokens = df.select(
        F.col(id_col).alias("id"), F.explode(words).alias("_w")
    ).select("id", hash_fn(F.col("_w"), 0).alias("_h"))

    # Σ over tokens of (+1 if bit b set else -1) — one codegen'd
    # conditional sum per bit, partial-aggregated map-side
    bit_sums = tokens.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"_b{b}")
            for b in range(bits)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(bits):
        weight = 2**b if b < 63 else -(2**63)
        sim = sim + F.when(
            F.col(f"_b{b}") > 0, F.lit(weight).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bit_sums.select("id", sim.alias("simhash"))


def simhash_bands(
    df: DataFrame,
    bands: int = 4,
    bits: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: HashFn = fast_hash64,
) -> DataFrame:
    """(id, band, band_key) — equal-width bands of the SimHash, the
    candidate-bucket key for hamming-distance near-dup search (two docs
    within hamming distance < bands share ≥1 exact band)."""
    sh = simhash(df, bits, text_col, id_col, hash_fn)
    width = bits // bands
    mask = (1 << width) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), bi * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for bi in range(bands)
        ]
    )
    return sh.select("id", F.explode(band_arr).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def hash_band_pairs(
    df: DataFrame,
    hash_col: str = "phash",
    id_col: str = "asset_id",
    bands: int = 4,
    bits: int = 64,
    max_hamming: int = 6,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded hamming-distance near-dup pairs over ANY ``bits``-wide
    integer hash column (pHash, SimHash, audio fingerprints…): the
    hash is cut into ``bands`` equal-width bands, candidates are the
    pairs sharing at least one EXACT band — a keyed equi-self-join on
    (band, band_key), NEVER all-pairs (two hashes within hamming
    distance < bands must agree on some band, the pigeonhole
    guarantee) — then exact ``bit_count(xor)`` filters to
    ``max_hamming``. Returns (id_a, id_b, hamming), deduplicated
    across bands. The shuffle is keyed by band value, so candidate
    volume scales with bucket occupancy, not corpus².

    ``max_bucket`` is the HOT-BUCKET CAP (same scale answer as the
    MinHash-LSH lane): with 16-bit bands, random band collisions
    alone produce ~C(N,2)/2¹⁶ candidates per band — quadratic in
    the corpus — so at decade scale the occupancy of popular band
    values must be bounded. Buckets larger than the cap are DROPPED
    entirely (a documented recall trade: a value shared by that
    many hashes is near-degenerate as a discriminator anyway, and
    genuine near-dups still meet in their other, rarer bands).
    None (the default) disables the cap for small corpora.

    r15: extracted as the shared banding core so the pHash image
    near-dup lane reuses the SimHash shape (simhash_bands above).

    r17 (guide §5; the r16 multi-consumer rule applied here): the
    input frame feeds BOTH sides of the banded self-join, and when it
    is the output of a decode pipeline (pHash DCT, FLAC fingerprint)
    each side replayed the full decode (plan audit: 2× the synth +
    decode MapInPandas chain per execution). The (id, h) projection —
    16 B per asset, metadata-sized — is lazily materialized once
    before fan-out."""
    width = bits // bands
    mask = (1 << width) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftrightunsigned(F.col("h"), bi * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for bi in range(bands)
        ]
    )
    keyed = (
        df.select(
            F.col(id_col).alias("id"), F.col(hash_col).alias("h")
        )
        .localCheckpoint(eager=False)
        .select("id", "h", F.explode(band_arr).alias("bk"))
        .select(
            "id", "h",
            F.col("bk.band").alias("band"),
            F.col("bk.band_key").alias("band_key"),
        )
    )
    if max_bucket is not None:
        # one keyed count + semi-filter: buckets past the cap never
        # enter the self-join (the candidate explosion is cut at
        # its source, before the shuffle that would carry it)
        sizes = keyed.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("_n")
        )
        keyed = (
            keyed.join(
                sizes.where(F.col("_n") <= F.lit(max_bucket)),
                ["band", "band_key"],
                "left_semi",
            )
        )
    a = keyed.select(
        F.col("band"), F.col("band_key"),
        F.col("id").alias("id_a"), F.col("h").alias("h_a"),
    )
    b = keyed.select(
        F.col("band"), F.col("band_key"),
        F.col("id").alias("id_b"), F.col("h").alias("h_b"),
    )
    cand = (
        a.join(b, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(
        F.col("h_a").bitwiseXOR(F.col("h_b"))
    ).cast("long")
    return (
        cand.select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def near_dedup_keep(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The end-to-end near-dedup corpus filter: given candidate
    ``pairs`` (id_a, id_b, …) from any of the pair generators
    (Jaccard, MinHash-LSH, SimHash bands, embedding cosine), keep one
    representative per duplicate cluster (min id — deterministic) plus
    every document that appears in no pair.

    Composition of already-scale-shaped pieces: connected components
    (:func:`dedup_clusters` — distributed label propagation), a
    min-per-label aggregate over the (small) paired-ids set, and two
    keyed joins against the corpus — ``left_anti`` for the unpaired
    mass, ``left_semi`` for the representatives. The corpus is never
    shuffled on anything but its id, and the label table is a
    fraction of the corpus (only docs that matched a pair).
    """
    labels = dedup_clusters(pairs)
    reps = (
        labels.groupBy("label")
        .agg(F.min("id").alias(id_col))
        .select(id_col)
    )
    paired = labels.select(F.col("id").alias(id_col))
    return df.join(paired, id_col, "left_anti").unionByName(
        df.join(reps, id_col, "left_semi")
    )
