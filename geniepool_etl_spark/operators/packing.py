"""Sequence packing: assign documents to fixed-token-budget context
windows (the concat-and-chop step of LLM pretraining data prep).

Documents are deterministically sharded, ordered within each shard,
concatenated, and chopped into ``context_len``-token windows; each
document learns which window(s) it lands in and at what offset. This
is the metadata a downstream tokenizer/loader needs to materialize
packed training sequences without a global sort:

- ``shard``: hash-assigned pack group — packing is embarrassingly
  parallel across shards, so at 100 TB the single shuffle is a
  hash-partition + per-partition sort (one exchange; the running sum
  is a window over data already partitioned by its own key — no
  second exchange);
- ``first_window`` / ``last_window``: windows the document spans
  (documents straddle boundaries — chop semantics, not bin packing);
- ``win_offset``: token offset of the document inside its first
  window.

Everything is integer arithmetic over a deterministic hash order, so
any engine (and any rerun, at any partitioning) reproduces the exact
same layout — task retries and speculative execution cannot scramble
the pack assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geniepool_etl_spark.functions import portable_hash32
from geniepool_etl_spark.operators.text import words_col


#: auto-sizing target: tokens per packing shard. Each shard is sorted
#: within a single task, but the sort rows are ~32-byte metadata
#: (id, n_tok, hash), not text — 256M tokens ≈ 0.5M docs ≈ tens of MB
#: of sort data per task, far under executor memory, while keeping the
#: shard count (= parallelism) proportional to corpus size.
TOKENS_PER_SHARD = 256_000_000


def pack_windows(
    df: DataFrame,
    context_len: int = 512,
    n_shards: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
    seed: int = 7,
    tokens_per_shard: int = TOKENS_PER_SHARD,
    total_tokens: int | None = None,
) -> DataFrame:
    """(id, shard, n_tok, first_window, win_offset, last_window).

    ``token_col`` names a precomputed token-count column; by default
    tokens are whitespace-split word counts (swap in a real tokenizer
    count upstream — the packing math only needs the integer).

    ``n_shards=None`` (default) auto-sizes the shard count from the
    corpus: one cheap aggregation job sums the token counts and sets
    ``ceil(total_tokens / tokens_per_shard)``. A fixed default (the
    old ``n_shards=8``) is a parallelism ceiling — at 100 TB it means
    8 tasks each window-summing 1/8th of the corpus; auto-sizing keeps
    tokens-per-shard bounded so the per-task sort stays small and the
    shard count grows linearly with the data. Determinism is
    preserved: shard assignment stays a pure hash mod, and the same
    input always yields the same shard count.

    ``total_tokens`` is the auto-sizing hint: pass a known corpus
    token total (a catalog stat, a prior stage's sum) and the sizing
    aggregation job is skipped entirely; without it, auto mode runs —
    and loudly warns about — one eager aggregate at plan time.
    """
    n_tok = (
        F.col(token_col).cast("long")
        if token_col
        else F.size(words_col(F.col(text_col))).cast("long")
    )
    if n_shards is None:
        if total_tokens is None:
            import warnings

            warnings.warn(
                "pack_windows: auto-sizing is running an eager token-sum "
                "aggregate at plan-construction time; pass total_tokens= "
                "to avoid the extra job",
                stacklevel=2,
            )
            total_tokens = df.select(
                F.coalesce(F.sum(n_tok), F.lit(0)).alias("t")
            ).first()["t"]
        n_shards = max(1, -(-int(total_tokens) // int(tokens_per_shard)))
    key = F.col(id_col).cast("string")
    base = df.select(
        F.col(id_col).alias("id"),
        n_tok.alias("n_tok"),
        (portable_hash32(key, seed) % n_shards).alias("shard"),
        portable_hash32(key, seed + 1).alias("_ord"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("_ord", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    # integer `div`, not `/`: double division loses integer exactness
    # past 2^53 cumulative tokens and a float floor is one ULP from a
    # wrong window id
    return (
        base.withColumn("_cum", cum_before)
        .select(
            "id",
            "shard",
            "n_tok",
            F.expr(f"_cum div {context_len}").alias("first_window"),
            (F.col("_cum") % context_len).alias("win_offset"),
            F.expr(f"(_cum + n_tok - 1) div {context_len}").alias(
                "last_window"
            ),
        )
    )


def render_chat_spans(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn",
    role_col: str = "role",
    content_col: str = "content",
) -> DataFrame:
    """Chat-template rendering with LOSS-MASK SPANS — the SFT data
    prep step: each turn renders to ``<|role|>content<|end|>``, the
    conversation is the in-order concatenation, and the trainer
    needs, per turn, its character span [start_char, end_char) in
    the rendered string plus whether loss applies (assistant turns
    only — the standard instruction-tuning mask). Emitting spans
    instead of the concatenated blob keeps every column scalar and
    lets the loader slice lazily.

    One window over (conv, turn) computes the exclusive running sum
    of segment lengths — a single exchange on the conversation key;
    at 100 TB this is one hash-partition + per-partition sort, the
    same shape as :func:`pack_documents`. Pure integer/concat
    expressions, zero UDFs."""
    seg = F.concat(
        F.lit("<|"), F.col(role_col), F.lit("|>"),
        F.col(content_col), F.lit("<|end|>"),
    )
    seg_len = F.length(seg).cast("long")
    w = Window.partitionBy(conv_col).orderBy(turn_col)
    start = F.coalesce(
        F.sum(seg_len).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0).cast("long"),
    )
    end = F.sum(seg_len).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.select(
        conv_col,
        turn_col,
        role_col,
        start.alias("start_char"),
        end.alias("end_char"),
        (F.col(role_col) == "assistant").alias("in_loss"),
    )


def pack_bins_ffd(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    size_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """First-Fit-Decreasing bin packing within each group — the
    padding-minimizing alternative to chop-packing (`pack_windows`):
    whole documents go to fixed-budget bins (no document straddles a
    boundary), FFD's 11/9·OPT+6/9 guarantee keeps waste low, and the
    greedy is deterministic: items sort (size desc, id asc), each
    takes the FIRST bin with room, else opens a new bin. Oversized
    items (> budget) open their own over-full bin and nothing else
    ever joins it (any load > budget rejects every fit test).

    FFD is inherently sequential PER GROUP, so the group is the
    parallelism unit: one hash shuffle co-locates each group, then
    an Arrow ``applyInPandas`` runs the O(n·bins) greedy on metadata
    only (id + size, never text). Groups at 100 TB = pack shards
    (see TOKENS_PER_SHARD); the greedy never sees payload bytes.

    Returns (group_col, id_col, size_col, bin_idx, bin_load) — one
    row per item; ``bin_load`` is the FINAL load of the item's bin
    (every member row agrees, handy for padding accounting).
    """
    import pandas as pd

    schema = (
        f"{group_col} string, {id_col} long, {size_col} long, "
        "bin_idx int, bin_load long"
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            [size_col, id_col], ascending=[False, True]
        )
        loads: list = []
        assign: list = []
        for sz in pdf[size_col]:
            sz = int(sz)
            placed = -1
            for bi in range(len(loads)):
                if loads[bi] + sz <= budget:
                    placed = bi
                    break
            if placed < 0:
                loads.append(sz)
                placed = len(loads) - 1
            else:
                loads[placed] += sz
            assign.append(placed)
        return pd.DataFrame({
            group_col: pdf[group_col],
            id_col: pdf[id_col],
            size_col: pdf[size_col],
            "bin_idx": assign,
            "bin_load": [loads[b] for b in assign],
        })

    return df.select(group_col, id_col, size_col).groupBy(
        group_col
    ).applyInPandas(pack, schema)


def flatten_chat_trees(
    msgs: DataFrame,
    max_depth: int = 6,
    conv_col: str = "conv_id",
    id_col: str = "msg_id",
    parent_col: str = "parent_id",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Conversation-TREE flattening (the OpenAssistant/ShareGPT SFT
    prep step): branching message trees → one row per ROOT→LEAF
    path, with the concatenated transcript, its depth, and the
    assistant-turn count — what a trainer samples from when human
    raters forked multiple completions.

    Fixed ``max_depth`` unrolls to a chain of child equi-joins (each
    a plain hash join on ``parent_id`` — co-partitioned by the join
    key, no iteration driver-side); a path FINISHES at a message
    with no children (left-anti probe) or at the depth cap. Paths
    carry only ids + the growing text, never the full tree. Returns
    ``(conv_id, leaf_msg_id, depth, path_text, n_assistant)``.
    """
    # The unrolled depth loop probes the message set once per level
    # from BOTH sides (child extension + no-children finish), so the
    # projected input is consumed 2·(max_depth−1)+1 times — without
    # materialization every probe replayed the upstream derivation
    # (audited r16: 26 scans in the contract lane's plan). One lazy
    # localCheckpoint of the 5-column message frame (|msgs|-sized,
    # the operator's input) and one of the ids-only kids set pin the
    # derivation to a single pass.
    m = msgs.select(
        F.col(conv_col).alias("_conv"),
        F.col(id_col).alias("_id"),
        F.col(parent_col).alias("_parent"),
        F.col(role_col).alias("_role"),
        F.col(text_col).alias("_text"),
    ).localCheckpoint(eager=False)
    # msg ids are only unique PER CONVERSATION in real chat-tree
    # dumps (ShareGPT-style restarting counters), so every probe must
    # carry the conversation key or paths splice across conversations
    # (r15 ADVICE medium item)
    kids = (
        m.select(
            F.col("_conv").alias("_kconv"),
            F.col("_parent").alias("_has_kids_id"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    live = (
        m.where(F.col("_parent").isNull())
        .select(
            "_conv",
            F.col("_id").alias("leaf_msg_id"),
            F.lit(1).alias("depth"),
            F.col("_text").alias("path_text"),
            F.when(F.col("_role") == "assistant", F.lit(1))
            .otherwise(F.lit(0))
            .alias("n_assistant"),
        )
    )
    finished = []
    for _ in range(max_depth - 1):
        done = live.join(
            kids,
            (live["_conv"] == kids["_kconv"])
            & (live["leaf_msg_id"] == kids["_has_kids_id"]),
            "left_anti",
        )
        finished.append(done)
        child = m.select(
            F.col("_conv").alias("_cconv"),
            F.col("_id").alias("_cid"),
            F.col("_parent").alias("_cparent"),
            F.col("_role").alias("_crole"),
            F.col("_text").alias("_ctext"),
        )
        live = (
            live.join(
                child,
                (live["_conv"] == child["_cconv"])
                & (live["leaf_msg_id"] == child["_cparent"]),
            )
            .select(
                F.col("_conv"),
                F.col("_cid").alias("leaf_msg_id"),
                (F.col("depth") + 1).alias("depth"),
                F.concat_ws(
                    "\n", F.col("path_text"), F.col("_ctext")
                ).alias("path_text"),
                (
                    F.col("n_assistant")
                    + F.when(
                        F.col("_crole") == "assistant", F.lit(1)
                    ).otherwise(F.lit(0))
                ).alias("n_assistant"),
            )
        )
    finished.append(live)  # depth-capped paths count as leaves
    out = finished[0]
    for part in finished[1:]:
        out = out.unionByName(part)
    return out.select(
        F.col("_conv").alias(conv_col),
        "leaf_msg_id",
        "depth",
        "path_text",
        "n_assistant",
    )


def lint_conversations(
    msgs: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """SFT conversation linting — the validation gate before chat
    data reaches a trainer: starts-with-user, strict user/assistant
    alternation, no empty turns, at least one assistant turn. One
    grouped aggregate (no window): alternation-from-user-start is
    equivalent to ``role[turn] == (turn even ? user : assistant)``
    on 0-based turns, so violations count per row inside the
    aggregate. Returns per conversation: ``n_turns,
    n_role_violations, n_empty, n_assistant, ok``."""
    role_bad = F.when(
        (
            (F.col(turn_col) % 2 == 0)
            & (F.col(role_col) != "user")
        )
        | (
            (F.col(turn_col) % 2 == 1)
            & (F.col(role_col) != "assistant")
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    empty = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(1)
    ).otherwise(F.lit(0))
    agg = msgs.groupBy(conv_col).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(role_bad).alias("n_role_violations"),
        F.sum(empty).alias("n_empty"),
        F.sum(
            F.when(F.col(role_col) == "assistant", 1).otherwise(0)
        ).alias("n_assistant"),
    )
    return agg.withColumn(
        "ok",
        (F.col("n_role_violations") == 0)
        & (F.col("n_empty") == 0)
        & (F.col("n_assistant") >= 1)
        & (F.col("n_turns") >= 2),
    )
