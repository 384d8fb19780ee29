"""Deterministic sampling for dataset mixing.

Training-data pipelines re-weight domains (web vs books vs code) by
sampling each source at a target rate. RNG-based ``df.sample`` is
non-reproducible across runs/partitionings and cannot be recomputed by
another engine; hash-gated sampling is: a row is kept iff a content
hash of its key falls below the group's cutoff — stable under
repartitioning, task retries, and engine changes, and the same row set
is selected in every downstream job that repeats the predicate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geniepool_etl_spark.functions import portable_hash32

MOD = 10_000  # fraction resolution: 0.01%


def deterministic_shuffle(
    df: DataFrame,
    n_shards: int = 8,
    key_col: str = "doc_id",
    seed: int = 17,
) -> DataFrame:
    """Reproducible global reshuffle for training-data ordering:
    every row gets a (shard, pos) address — shard = content-hash %
    ``n_shards``, pos = rank of the hash within the shard — so the
    epoch order is pseudorandom w.r.t. the input layout yet identical
    across runs, task retries, and engines (no RNG state anywhere).

    The scale-correct formulation: a single GLOBAL row_number over the
    hash would funnel 100 TB through one sorting partition, so order
    is defined shard-locally instead — one hash exchange on the shard
    key, each shard sorts independently, and a training reader
    round-robins the shards. Changing ``seed`` is a fresh epoch
    permutation.
    """
    h = portable_hash32(F.col(key_col).cast("string"), seed)
    out = df.withColumn("_h", h).withColumn(
        "shard", (F.col("_h") % n_shards).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("_h", key_col)
    return out.withColumn(
        "pos", F.row_number().over(w).cast("int")
    ).drop("_h")


def stratified_hash_sample(
    df: DataFrame,
    fractions: dict[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
    default_fraction: float = 0.0,
    seed: int = 11,
) -> DataFrame:
    """Keep ~``fractions[group]`` of each group's rows, selected by a
    deterministic per-key hash gate. Narrow (no shuffle, no RNG state):
    the cutoff is a literal CASE over the group column and the gate is
    one hash per row — runs at scan speed at any scale.
    """
    cutoff: Column = F.lit(int(default_fraction * MOD))
    for grp, frac in sorted(fractions.items()):
        cutoff = F.when(
            F.col(group_col) == grp, F.lit(int(frac * MOD))
        ).otherwise(cutoff)
    gate = (
        portable_hash32(F.col(key_col).cast("string"), seed) % MOD < cutoff
    )
    return df.where(gate)


def mixture_plan(
    df: DataFrame,
    token_budget: int,
    shares: dict[str, float],
    group_col: str = "source",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Per-source sampling fractions that hit a target token mixture.

    Given a total ``token_budget`` and target ``shares`` (fractions
    summing to ≤1: web 0.6, books 0.2, …), compute for each source the
    fraction of its rows to keep so its contribution approaches
    ``share·budget`` tokens, capped at 1.0 when the source is too
    small (a source cannot be upsampled by subsampling — the plan
    reports the shortfall instead of silently renormalizing).

    One tiny aggregate (|sources| rows): group-sum the token counts,
    then arithmetic. The output feeds
    :func:`stratified_hash_sample` as its ``fractions`` dict — the
    planner is a driver-side decision over KB-scale stats, the
    sampler stays a narrow scan-speed gate over the full corpus.

    Returns (source, available_tokens, target_tokens, fraction,
    shortfall_tokens), fraction rounded to 4 dp for cross-engine
    reproducibility.
    """
    target: Column = F.lit(None).cast("long")
    for grp, share in sorted(shares.items()):
        target = F.when(
            F.col(group_col) == grp, F.lit(int(share * token_budget))
        ).otherwise(target)
    per_source = (
        df.groupBy(group_col)
        .agg(F.sum(F.col(token_col).cast("long")).alias("available_tokens"))
        .withColumn("target_tokens", target)
        .where(F.col("target_tokens").isNotNull())
    )
    frac = F.round(
        F.least(
            F.lit(1.0),
            F.col("target_tokens") / F.col("available_tokens"),
        ),
        4,
    )
    return per_source.select(
        F.col(group_col).alias("source"),
        "available_tokens",
        "target_tokens",
        frac.alias("fraction"),
        F.greatest(
            F.lit(0).cast("long"),
            F.col("target_tokens") - F.col("available_tokens"),
        ).alias("shortfall_tokens"),
    )


def weighted_hash_sample(
    df: DataFrame,
    weight: Column,
    key_col: str = "doc_id",
    seed: int = 23,
) -> DataFrame:
    """Per-ROW deterministic rejection sampling: keep a row iff its
    hash gate clears a row-dependent acceptance probability — the
    curriculum/quality-weighted generalization of
    :func:`stratified_hash_sample`'s per-group constants. ``weight``
    is any column expression in [0, 1] (clamped); a row with weight
    0.9 is ~9× likelier to survive than one at 0.1.

    Same scale properties as every sampling gate here: narrow (no
    shuffle, no RNG state), one hash per row at scan speed, identical
    keep set across runs, retries, partitionings, and engines. The
    weight must be a deterministic function of the row — upstream
    quality scores, length priors, domain multipliers.
    """
    p = F.least(F.lit(1.0), F.greatest(F.lit(0.0), weight))
    gate = (
        portable_hash32(F.col(key_col).cast("string"), seed) % MOD
        < (p * MOD).cast("long")
    )
    return df.where(gate)


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (90, 5, 5),
    seed: int = 0,
) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across
    splits: the assignment unit is the near-dup CLUSTER, not the
    document. A doc-level hash split puts two near-identical
    documents on opposite sides of the train/eval fence ~2·p·(1−p) of
    the time — the classic silent eval contamination; hashing the
    connected-component label instead moves whole duplicate groups
    together, so no split ever evaluates on a paraphrase of another
    split's training doc.

    ``pairs`` is any near-dup pair frame ((id_a, id_b) — Jaccard,
    MinHash, SimHash, or embedding); unpaired documents are their own
    singleton cluster (label = own id). The split gate is the
    engine-portable md5-derived hash (functions.portable_hash32) on
    the label — deterministic, seedable, no RNG, reproducible by any
    engine for audit.

    Scale: label propagation cost is confined to paired docs (≪
    corpus); the final assignment is a broadcast-joined narrow map.
    Returns (id, split_unit, split).
    """
    from geniepool_etl_spark.functions import portable_hash32
    from geniepool_etl_spark.operators.dedup import dedup_clusters

    w_train, w_val, w_test = weights
    if w_train + w_val + w_test != 100:
        raise ValueError("leakage_safe_split: weights must sum to 100")
    labels = dedup_clusters(pairs).withColumnRenamed("id", id_col)
    unit = F.coalesce(F.col("label"), F.col(id_col))
    gate = portable_hash32(unit, seed=seed) % 100
    split = (
        F.when(gate < w_train, F.lit("train"))
        .when(gate < w_train + w_val, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(F.col(id_col))
        .join(labels, id_col, "left")
        .select(
            F.col(id_col),
            unit.alias("split_unit"),
            split.alias("split"),
        )
    )


def sample_per_group(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample: within each
    stratum, keep the ``k`` rows with the smallest portable hash of
    their id — the reservoir-sample result without any RNG or
    sequential state, reproducible by any engine and stable under
    re-runs, repartitions, and insertion order.

    One window per stratum (rank on (hash, id) — total order, no
    ties). Strata are assumed plentiful relative to the cluster (the
    usual balanced-downsampling case: per source × language × day);
    a handful of giant strata would sort hot — use
    :func:`weighted_hash_sample` with a per-stratum rate for that
    regime instead.
    """
    from pyspark.sql import Window

    h = portable_hash32(F.col(id_col), seed=seed)
    w = Window.partitionBy(*strata_cols).orderBy(
        h.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rnk", F.row_number().over(w))
        .where(F.col("_rnk") <= k)
        .drop("_rnk")
    )


def mixture_temperature(
    df: DataFrame,
    alpha: float = 0.5,
    group_col: str = "source",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Temperature-scaled mixture weights — the exponent-smoothed
    sampling of multilingual/multi-domain LM training (XLM-R's
    ``p_i ∝ n_i^α``): big domains are damped, small ones boosted,
    ``alpha = 1`` recovers proportional and ``alpha = 0`` uniform.

    One |sources|-row aggregate, then arithmetic: ``weight_i =
    n_i^α / Σ n_j^α`` and ``epochs_i = weight_i · N / n_i`` (the
    duplication factor each domain effectively trains for — the
    number a data planner actually stares at). Returns (source,
    n_docs, n_tokens, weight, epochs), floats rounded to 4.
    """
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(token_col).cast("long")).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum(F.pow(F.col("n_tokens"), F.lit(alpha))).alias("_z"),
        F.sum("n_tokens").alias("_total"),
    )
    w = F.pow(F.col("n_tokens"), F.lit(alpha)) / F.col("_z")
    return per.crossJoin(F.broadcast(tot)).select(
        F.col(group_col).alias("source"),
        "n_docs",
        "n_tokens",
        F.round(w, 4).alias("weight"),
        F.round(w * F.col("_total") / F.col("n_tokens"), 4)
        .alias("epochs"),
    )


def build_preference_pairs(
    ratings: DataFrame,
    prompt_col: str = "prompt_id",
    cand_col: str = "cand_id",
    rating_col: str = "rating",
) -> DataFrame:
    """DPO/RLHF preference-pair prep: per prompt, elect the
    highest-rated candidate as ``chosen`` and the lowest as
    ``rejected`` (deterministic tie-breaks: lowest candidate id on
    either side), drop prompts whose ratings are all equal (margin
    0 carries no preference signal).

    ONE grouped aggregate — the election rides as ``max``/``min``
    over (rating, ∓id) struct orderings, so there is no window over
    the prompt key and no second shuffle. Returns (prompt_id,
    chosen_id, rejected_id, chosen_rating, rejected_rating,
    margin)."""
    hi = F.max(
        F.struct(
            F.col(rating_col).alias("r"),
            (-F.col(cand_col)).alias("negid"),
        )
    )
    lo = F.min(
        F.struct(
            F.col(rating_col).alias("r"),
            F.col(cand_col).alias("id"),
        )
    )
    agg = ratings.groupBy(prompt_col).agg(
        hi.alias("_hi"), lo.alias("_lo")
    )
    return (
        agg.select(
            F.col(prompt_col),
            (-F.col("_hi.negid")).alias("chosen_id"),
            F.col("_lo.id").alias("rejected_id"),
            F.col("_hi.r").alias("chosen_rating"),
            F.col("_lo.r").alias("rejected_rating"),
            (F.col("_hi.r") - F.col("_lo.r")).alias("margin"),
        )
        .where(F.col("margin") > 0)
    )


def cohen_kappa(
    labels: DataFrame,
    a_col: str = "label_a",
    b_col: str = "label_b",
) -> DataFrame:
    """Inter-annotator agreement (Cohen's κ) for labeled-data QC —
    the go/no-go number before trusting a rating pipeline:
    ``κ = (p_o − p_e) / (1 − p_e)`` with observed agreement ``p_o``
    and chance agreement ``p_e = Σ_k p_a(k)·p_b(k)``.

    Exact integer contingency algebra until the single final
    division: ``κ_num = N·Σ_k n_kk − Σ_k a_k·b_k`` over
    ``κ_den = N² − Σ_k a_k·b_k`` (multiply p_o, p_e by N²) — so the
    one-row result replays bit-identically. Returns (n_items,
    n_agree, kappa)."""
    pair = labels.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    )
    # |classes²|-sized and consumed by THREE subtrees (both margins
    # and the observed-agreement aggregate) — lazy-materialize once so
    # the labels scan+aggregate does not replay per consumer.
    cells = (
        pair.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    a_marg = cells.groupBy("a").agg(F.sum("n").alias("na"))
    b_marg = cells.groupBy("b").agg(F.sum("n").alias("nb"))
    chance = (
        a_marg.join(b_marg, F.col("a") == F.col("b"))
        .agg(F.sum(F.col("na") * F.col("nb")).alias("sum_ab"))
    )
    obs = cells.agg(
        F.sum("n").alias("n_items"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("n"))
              .otherwise(F.lit(0))).alias("n_agree"),
    )
    return obs.crossJoin(F.broadcast(chance)).select(
        "n_items",
        "n_agree",
        F.round(
            (
                F.col("n_items") * F.col("n_agree")
                - F.coalesce(F.col("sum_ab"), F.lit(0))
            ).cast("double")
            / (
                F.col("n_items") * F.col("n_items")
                - F.coalesce(F.col("sum_ab"), F.lit(0))
            ),
            4,
        ).alias("kappa"),
    )


def bradley_terry(
    matches: DataFrame,
    n_iter: int = 3,
    a_col: str = "a",
    b_col: str = "b",
    winner_col: str = "winner",
) -> DataFrame:
    """Bradley-Terry strength ratings from pairwise outcomes — the
    model behind RLHF preference leaderboards (Chatbot-Arena-style)
    — via ``n_iter`` rounds of Hunter's (2004) MM update

        r_i ← W_i / Σ_j n_ij / (r_i + r_j)

    from the deterministic all-ones start, renormalized each round
    to Σr = |items| so the scale is pinned. Every round is two
    broadcast joins of the TINY ratings table into the pair-count
    aggregate — match data shuffles once (the pair groupBy) and the
    iteration never touches it again. Fixed ``n_iter`` keeps the
    whole thing an expression chain an external engine replays
    round by round (the PCA-power-oracle pattern). Returns
    ``(item, rating)`` rounded to 4.
    """
    directed = matches.select(
        F.col(a_col).alias("i"), F.col(b_col).alias("j"),
        F.col(winner_col).alias("w"),
    ).unionByName(
        matches.select(
            F.col(b_col).alias("i"), F.col(a_col).alias("j"),
            F.col(winner_col).alias("w"),
        )
    )
    both = directed.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n")
    )
    wins = directed.where(F.col("w") == F.col("i")).groupBy("i").agg(
        F.count(F.lit(1)).alias("wi")
    )
    items = both.select("i").distinct()
    n_items = items.count()
    r = items.select("i", F.lit(1.0).alias("r"))
    for _ in range(n_iter):
        ri = r.select(F.col("i").alias("_ii"), F.col("r").alias("_ri"))
        rj = r.select(F.col("i").alias("_jj"), F.col("r").alias("_rj"))
        den = (
            both.join(F.broadcast(ri), F.col("i") == F.col("_ii"))
            .join(F.broadcast(rj), F.col("j") == F.col("_jj"))
            .groupBy("i")
            .agg(
                F.sum(
                    F.col("n") / (F.col("_ri") + F.col("_rj"))
                ).alias("den")
            )
        )
        # LEFT join from den (which covers every item that played)
        # so zero-win items keep a rating of 0 and stay in the next
        # round's denominator sums — the inner join silently dropped
        # them after round 1, inflating opponents' ratings vs the MM
        # update (r15 ADVICE low item)
        raw = den.join(wins, "i", "left").select(
            "i",
            (F.coalesce(F.col("wi"), F.lit(0)) / F.col("den"))
            .alias("raw"),
        )
        tot = raw.agg(F.sum("raw").alias("_s"))
        r = raw.crossJoin(F.broadcast(tot)).select(
            "i",
            (F.col("raw") / F.col("_s") * F.lit(float(n_items)))
            .alias("r"),
        )
        r = r.localCheckpoint(eager=False)
    return r.select(
        F.col("i").alias("item"), F.round("r", 4).alias("rating")
    )
