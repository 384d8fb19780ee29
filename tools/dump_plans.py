"""Regenerate PLANS.md: the formatted physical plans of the headline
queries, with the properties each plan is supposed to exhibit (and
that tests/test_plans.py asserts) called out above it.

Usage: python tools/dump_plans.py [sf_dir]   (default sf0.001)

The artifact exists so plan quality is reviewable without running
anything: broadcast choices, pushed filters, exchange counts, and
codegen coverage are visible in the committed text, and a diff on a
future commit is a plan change you have to explain.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geniepool_etl_spark import contract as C  # noqa: E402
from geniepool_etl_spark import plans as P  # noqa: E402
from geniepool_etl_spark.session import get_spark  # noqa: E402

# (name, builder, what-to-look-for)
SHOWCASE = [
    (
        "flagship_lake_nest",
        C.q_flagship_lake_nest,
        "Dims broadcast (no SortMergeJoin against 25-row tables); two "
        "ObjectHashAggregate collect_set levels; <=4 exchanges.",
    ),
    (
        "events_interval_join",
        C.q_events_interval_join,
        "Bucketed range join: equi-join on (user_id, _bucket), refine "
        "filter after -- no BroadcastNestedLoopJoin/CartesianProduct.",
    ),
    (
        "pipeline_corpus_build",
        C.q_pipeline_corpus_build,
        "Four stages (quality gate, exact dedup, chunk, pack) in three "
        "exchanges; chunk explode is narrow.",
    ),
    (
        "dedup_minhash_lsh",
        C.q_dedup_minhash_lsh,
        "Banded equi-join on signature bands; hot-bucket cap reuses the "
        "join exchange; pair dedup on bare ids.",
    ),
    (
        "scd2_point_in_time",
        C.q_scd2_point_in_time,
        "NO range join: union-carry as-of over the user key; the two "
        "SCD2 windows share one exchange, the carry adds exactly one "
        "more on the same key.",
    ),
    (
        "table_diff",
        C.q_table_diff,
        "Both sides reduce to (key, md5) BEFORE the full-outer "
        "SortMergeJoin -- digests are computed scan-side, wide columns "
        "never shuffle.",
    ),
    (
        "sql_tpch_q21",
        C.q_sql_tpch_q21,
        "EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti (suppkey "
        "inequality as join residual), stacked on broadcast "
        "supplier/orders joins; no nested-loop join anywhere.",
    ),
    (
        "multimodal_decode_mp3",
        C.q_multimodal_decode_mp3,
        "Two narrow mapInPandas stages (synth, decode) with zero "
        "exchanges -- payload bytes never shuffle.",
    ),
    (
        "graph_pagerank",
        C.q_graph_pagerank,
        "Five supersteps, each a keyed src-join + dst-aggregate; the "
        "node count rides a broadcast 1-row frame; no nested-loop "
        "join anywhere in the unrolled plan.",
    ),
    (
        "text_bm25",
        C.q_text_bm25,
        "One 1-row global-stats aggregate broadcast back (the only "
        "'join'); tf/dl are codegen'd regexp counts at scan speed; "
        "TakeOrderedAndProject top-k.",
    ),
    (
        "graph_triangles",
        C.q_graph_triangles,
        "Degree-ordered orientation: wedge join and closing join are "
        "both keyed equi-joins (ShuffledHashJoin/SortMergeJoin, no "
        "nested loop); the projection self-join keys on the order.",
    ),
    (
        "a18_countmin_topk",
        C.q_a18_countmin_topk,
        "One data-sized shuffle (the exact key count); the hash "
        "fan-out is a codegen'd array explode; the d*width counter "
        "table broadcasts back for the estimate join; "
        "TakeOrderedAndProject top-k.",
    ),
    (
        "dedup_semantic",
        C.q_dedup_semantic,
        "Centroid assignment is a per-row fold over ONE broadcast "
        "1-row centroid array (r8): no Window, no corpus exchange "
        "before the cluster-keyed pair join -- the only data-sized "
        "shuffle is on cid. The earlier window shape exchanged NxC "
        "vector-carrying rows.",
    ),
    (
        "snap_range_skip",
        C.q_snap_range_skip,
        "Snapshot-table stats-pruned read: the manifest already "
        "dropped non-intersecting files driver-side (the FileScan's "
        "InMemoryFileIndex lists 4 of the table's 8 files at "
        "sf0.001), and the surviving scan shows the o_orderkey range "
        "in PushedFilters -- skipping composes with row-group "
        "pruning.",
    ),
    (
        "text_perplexity",
        C.q_text_perplexity,
        "ZERO FileScans of documents.parquet in this plan: the "
        "shared (doc,bigram,m) frame is lazily localCheckpoint'd, so "
        "the one tokenize scan lives in the checkpoint's lineage and "
        "all three consumers read the RDD (was 3 full scans pre-r8); "
        "1-row corpus-total broadcast; bigram-keyed equi-join; "
        "integer surprisal summed exactly.",
    ),
    (
        "pipeline_web_curation",
        C.q_pipeline_web_curation,
        "ZERO FileScans of documents.parquet: the cleaned frame is "
        "EAGERLY localCheckpoint'd (four INDEPENDENT consumers — "
        "gates, classifier, dedup, report spine — the lazy form "
        "would dedupe none of them); the classifier's only exchange "
        "is the fixed-width (doc,bucket) aggregate; gates are pure "
        "narrow HOFs on the checkpointed rows.",
    ),
    (
        "events_resample_ffill",
        C.q_events_resample_ffill,
        "ZERO FileScans of events.parquet: the observed (user, hour) "
        "aggregate — tiny next to the event stream — is EAGERLY "
        "localCheckpoint'd for its two independent consumers (span "
        "agg + grid join), so the one event scan lives in the "
        "checkpoint lineage; the grid is explode(sequence(first, "
        "last)) per user (no global calendar join); the forward fill "
        "is a user_id-partitioned running last(ignorenulls).",
    ),
    (
        "sim_mmr_rerank",
        C.q_sim_mmr_rerank,
        "Candidates from the broadcast 8-query cosine top-pool; the "
        "pairwise-sim stage is a q_id-keyed self-join bounded at "
        "pool^2 rows per query (never corpus^2); the greedy selection "
        "is a cogrouped FlatMapCoGroupsInPandas over <=pool rows per "
        "group — the only Python stage, pure integer arithmetic.",
    ),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("geniepool-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Regenerated by `python tools/dump_plans.py` at `{sf_dir}` "
        "(plan SHAPE is sf-independent; AQE numbers are not).",
        "A diff in this file on a future commit is a plan change that "
        "needs explaining.",
        "",
    ]
    for name, build, expect in SHOWCASE:
        df = build(spark, sf_dir)
        plan = P.executed_plan(df)
        # literal control bytes (reconcile.py's 0x1f/0x00 sentinels
        # appear verbatim in plan text) would make the artifact binary
        plan = "".join(
            ch if ch == "\n" or ord(ch) >= 32 else f"\\x{ord(ch):02x}"
            for ch in plan
        )
        out += [
            f"## {name}",
            "",
            f"**Expected properties:** {expect}",
            "",
            "```",
            plan.strip(),
            "```",
            "",
        ]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLANS.md",
    )
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
