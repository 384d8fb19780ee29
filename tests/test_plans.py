"""Physical-plan quality gates: the properties that keep these
operators fast at 100 TB must be visible in the executed plan, not
assumed — broadcast joins where a side is dim-sized, filter/column
pushdown into the parquet scan, bounded exchange counts on the
flagship dataflow, and codegen coverage of the hot path.
"""

from __future__ import annotations

from geniepool_etl_spark import contract as C
from geniepool_etl_spark import plans as P
from tests.conftest import SF_SMALL

_plan = P.executed_plan


def test_broadcast_join_is_broadcast(spark):
    plan = _plan(C.q_j3_broadcast_join_agg(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan


def test_pricing_summary_scan_is_pruned(spark):
    # Column pruning: the q1-shaped aggregate must not read join keys
    # it never touches; filter must be pushed to the parquet scan.
    df = C.q_a4_pricing_summary(spark, SF_SMALL)
    P.assert_column_pruned(df, "l_partkey")
    assert "l_shipdate" in P.pushed_filters(df)


def test_flagship_exchange_budget(spark):
    # scan → left join → agg1 → agg2: with AQE the plan should need at
    # most 4 exchanges (join sides + two aggregation boundaries). A
    # regression that adds a shuffle (e.g. a lost partial-agg) fails.
    df = C.q_flagship_lake_nest(spark, SF_SMALL)
    df.collect()  # materialize so AQE finalizes the adaptive plan
    # dim broadcast + two aggregation boundaries = 3; the join must NOT
    # shuffle the fact side.
    P.assert_max_exchanges(df, 4)
    P.assert_broadcast_join(df)


def test_whole_stage_codegen_covers_hot_path(spark):
    df = C.q_a4_pricing_summary(spark, SF_SMALL)
    df.collect()  # codegen markers appear once AQE finalizes the plan
    plan = _plan(df)
    # "*(n)" prefixes mark operators fused into WholeStageCodegen
    # stages; both the scan→filter→partial-agg stage and the final agg
    # must be codegen'd.
    assert "*(1)" in plan and "*(2)" in plan


def test_asof_join_is_window_not_range_join(spark):
    # the as-of join must compile to union + window (one keyed
    # shuffle), never a theta/range join or nested loop.
    from geniepool_etl_spark.operators import events as E

    from geniepool_etl_spark.functions import enable_nanos_as_long

    enable_nanos_as_long(spark)
    ev = E.with_event_time(spark.read.parquet(f"{SF_SMALL}/events.parquet"))
    df = E.asof_join_latest_prior(
        ev.where("event_type = 'purchase'"), ev.where("event_type = 'click'")
    )
    plan = _plan(df)
    assert "Join" not in plan
    assert "Window" in plan


def test_exact_dedup_is_single_hash_exchange(spark):
    # keep-one dedup must be one window over a hash(md5) exchange:
    # no join, and never the raw document text as a shuffle key.
    from geniepool_etl_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = _plan(D.exact_dedup(docs))
    assert "Join" not in plan
    assert plan.count("Exchange") == 1
    assert "md5" in plan


def test_deterministic_shuffle_is_single_exchange(spark):
    from geniepool_etl_spark.operators.sampling import (
        deterministic_shuffle,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = _plan(deterministic_shuffle(docs))
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_chunking_is_narrow(spark):
    # chunk fan-out happens next to the data: no exchange at all
    from geniepool_etl_spark.operators import text as TX

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = _plan(TX.chunk_documents(docs))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode


def test_lsh_similarity_join_is_keyed(spark):
    from geniepool_etl_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    plan = _plan(S.lsh_bucket_topk(emb, k=3))
    assert "CartesianProduct" not in plan
    # candidate generation is keyed on the bucket: the cogrouped
    # Arrow scorer sits on bucket-hash exchanges (the r9 shape; the
    # previous JVM form was a bucket equi-JOIN — same key, same
    # never-all-pairs property). r17: Arrow-native cogroup — vectors
    # cross the Python boundary as flat list<float> buffers.
    assert "FlatMapCoGroupsInArrow" in plan
    assert "hashpartitioning(bucket" in plan


def test_phash_band_join_is_keyed(spark):
    """r15: the pHash near-dup pair stage must plan as a keyed
    equi-join on (band, band_key) — never a cartesian/BNLJ — so
    candidate volume scales with bucket occupancy, not corpus²."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.operators import dedup as D

    hs = spark.range(0, 256).select(
        F.col("id").alias("asset_id"),
        (F.col("id") * 2654435761 % 1099511627776).alias("phash"),
    )
    plan = _plan(D.hash_band_pairs(hs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and ("Join" in plan or "join" in plan)


def test_lsh_hot_buckets_are_capped(spark):
    # the frequency cap must actually bound the candidate buckets: with
    # a tiny max_bucket every surviving bucket is ≤ the cap, and the
    # cap is applied via broadcast anti-join (no shuffle of the corpus
    # for the hot-list).
    from pyspark.sql import functions as F

    from geniepool_etl_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    cap = 3
    b = S._cap_hot_buckets(S.lsh_bucket(emb, n_planes=4), max_bucket=cap)
    widths = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    assert widths.where(F.col("n") > cap).count() == 0
    # and some bucket was actually dropped at this cap (the guard is
    # exercised, not vacuous)
    full = S.lsh_bucket(emb, n_planes=4).select("bucket").distinct().count()
    assert widths.count() < full


def test_auto_n_planes_scales_with_corpus():
    from geniepool_etl_spark.operators.similarity import auto_n_planes

    assert auto_n_planes(30) == 4  # floor
    assert auto_n_planes(32 * 2**10) == 10
    assert auto_n_planes(32 * 2**20) == 20
    assert auto_n_planes(10**12) == 30  # ceiling
    # doubling the corpus adds one plane: bucket *width* stays constant
    assert auto_n_planes(2 * 32 * 2**10) == 11


def test_multi_probe_recovers_straddling_neighbors(spark):
    # multi-probe must strictly extend the candidate set vs exact-
    # bucket matching, and every recovered pair differs in exactly one
    # plane (hamming distance 1 on the bucket key).
    from geniepool_etl_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    exact = S.lsh_bucket_topk(emb, k=5, multi_probe=False)
    probed = S.lsh_bucket_topk(emb, k=5, multi_probe=True)
    assert probed.count() >= exact.count()


# The labelled Spark-baseline controls closing SPARK_QUERIES: bench.py
# times them directly as the engine-only yardstick.
_CONTROLS = [
    "flagship_lake_nest",
    "a4_pricing_summary",
    "j3_broadcast_join_agg",
    "w1_window_topk",
    "a2_two_level_nest",
    "sql_tpch_q9",
    "sql_tpch_q21",
]


def _lanes_without_package_code() -> set[str]:
    """Lanes whose SPARK_QUERIES function references no name imported
    from ``geniepool_etl_spark`` (module-level or function-local
    imports), following references into contract.py's own module-level
    functions."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(C))

    def pkg_names(node: ast.AST) -> set[str]:
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.ImportFrom) and (n.module or "").startswith(
                "geniepool_etl_spark"
            ):
                out.update(a.asname or a.name for a in n.names)
            elif isinstance(n, ast.Import):
                out.update(
                    (a.asname or a.name).split(".")[0]
                    for a in n.names
                    if a.name.startswith("geniepool_etl_spark")
                )
        return out

    top = set()
    for n in tree.body:
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            top |= pkg_names(n)
    defs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}

    def uses_pkg(name: str, seen: set[str]) -> bool:
        if name in seen:
            return False
        seen.add(name)
        fn = defs[name]
        pkg = top | pkg_names(fn)
        for n in ast.walk(fn):
            if isinstance(n, ast.Name) and (
                n.id in pkg or (n.id in defs and uses_pkg(n.id, seen))
            ):
                return True
        return False

    return {
        lane
        for lane, fn in C.SPARK_QUERIES.items()
        if not uses_pkg(fn.__name__, set())
    }


def test_registry_lanes_run_package_code():
    """Registry rule: a lane stays only if it runs package code; the
    only exceptions are the labelled controls at the end of the
    registry. Every lane has an oracle, and no oracle outlives its
    lane."""
    import __spark_entry__ as entry

    assert list(C.SPARK_QUERIES)[-len(_CONTROLS):] == _CONTROLS
    assert _lanes_without_package_code() == set(_CONTROLS)
    assert list(entry.oracle_sql()) == list(entry.queries())
    assert set(C.ORACLE_SQL) == set(C.SPARK_QUERIES)


def test_rotation_ranks_lanes_by_last_green_record(tmp_path, monkeypatch):
    """A red driver record is not proof: a lane green in r1 and red in
    r2 ranks before a lane green in r2, and a lane never recorded
    green ranks first."""
    import json

    import __spark_entry__ as entry

    def rec(green: bool) -> dict:
        return {"rows_match": True, "schema_match": True,
                "hash_match": green, "err": ""}

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"fresh": rec(True), "relapsed": rec(True)})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"fresh": rec(True), "relapsed": rec(False),
                    "red": rec(False)})
    )
    monkeypatch.setattr(entry, "_HERE", str(tmp_path))
    assert entry._rotation_order(["fresh", "relapsed", "red", "new"]) == [
        "red", "new", "relapsed", "fresh"
    ]


def test_synthesizers_share_one_arrow_wrapper():
    """Every ``multimodal.synth_*`` encoder maps rows through the one
    ``_synth_assets`` wrapper: none defines its own ``batches``
    closure or calls ``mapInPandas``, and the VP8L flat-code builder
    ``_vp8l_balanced`` is not re-defined inside any function."""
    import ast
    import inspect

    from geniepool_etl_spark.operators import multimodal as M

    tree = ast.parse(inspect.getsource(M))
    synths = [
        fn for fn in tree.body
        if isinstance(fn, ast.FunctionDef) and fn.name.startswith("synth_")
    ]
    assert synths
    own_wrapper = sorted(
        fn.name
        for fn in synths
        for node in ast.walk(fn)
        if (isinstance(node, ast.FunctionDef) and node.name == "batches")
        or (isinstance(node, ast.Attribute) and node.attr == "mapInPandas")
    )
    assert own_wrapper == []
    nested_balanced = [
        node.lineno
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if node is not fn
        and isinstance(node, ast.FunctionDef)
        and node.name.lstrip("_") == "balanced"
    ]
    assert nested_balanced == []


def test_codecs_share_one_decoder_wrapper_and_writers():
    """In ``multimodal.py`` only the two Arrow wrappers
    ``_synth_assets`` and ``_decode_assets`` reference ``mapInPandas``,
    and no function nests its own VP8L ``put``; in ``multimodal.py``
    and ``vp8.py`` only ``_riff_chunk`` writes a RIFF chunk size
    (``struct.pack("<I", len(...))``)."""
    import ast
    import inspect

    from geniepool_etl_spark.operators import multimodal as M
    from geniepool_etl_spark.operators import vp8 as V

    def owners(tree, match) -> set:
        return {
            getattr(top, "name", "<module>")
            for top in tree.body
            for node in ast.walk(top)
            if match(node)
        }

    def riff_size(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and ast.unparse(node.func) == "struct.pack"
            and len(node.args) == 2
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "<I"
            and isinstance(node.args[1], ast.Call)
            and ast.unparse(node.args[1].func) == "len"
        )

    tree = ast.parse(inspect.getsource(M))
    assert owners(
        tree,
        lambda n: isinstance(n, ast.Attribute) and n.attr == "mapInPandas",
    ) == {"_synth_assets", "_decode_assets"}
    nested_put = [
        node.lineno
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if node is not fn
        and isinstance(node, ast.FunctionDef)
        and node.name == "put"
    ]
    assert nested_put == []
    assert owners(tree, riff_size) == set()
    assert owners(ast.parse(inspect.getsource(V)), riff_size) == {
        "_riff_chunk"
    }


def test_snaptable_has_one_commit_one_merge_and_one_planner():
    """In ``snaptable.py`` only ``write_table`` and the rewrite helper
    ``_commit_rewrite`` call ``_try_commit`` (once each); only the
    planner ``_plan`` reads ``_MANIFEST_INLINE_MAX`` or calls
    ``_manifest_files_df``; and the keyed merges reach the data only
    through their shared core (no direct ``_read_files``,
    ``_stage_files`` or ``_try_commit`` call)."""
    import ast
    import inspect

    from geniepool_etl_spark import snaptable as T

    tree = ast.parse(inspect.getsource(T))
    defs = {
        top.name: top for top in tree.body if isinstance(top, ast.FunctionDef)
    }

    def loads(node, name) -> list:
        return [
            n
            for n in ast.walk(node)
            if isinstance(n, ast.Name)
            and n.id == name
            and isinstance(n.ctx, ast.Load)
        ]

    def owners(name) -> list:
        return sorted(
            getattr(top, "name", "<module>")
            for top in tree.body
            for _ in loads(top, name)
        )

    assert owners("_try_commit") == ["_commit_rewrite", "write_table"]
    assert owners("_MANIFEST_INLINE_MAX") == ["_plan"]
    assert owners("_manifest_files_df") == ["_plan"]
    for fn in ("merge_table", "apply_cdc"):
        for helper in ("_read_files", "_stage_files", "_try_commit"):
            assert loads(defs[fn], helper) == [], (fn, helper)


# Entries whose plans INTENTIONALLY contain a broadcast nested-loop /
# cross join: a tiny broadcast side (query set, centroid set, 1-row
# corpus count, literal range bounds) crossed against the corpus — the
# correct shape, not a scale hazard.
_INTENDED_CROSS = {
    "sim_brute_topk",
    "sim_ivf_topk",
    "sim_ivfpq_topk",  # 1-row centroid fold + 16-row codebook broadcasts
    "sim_lsh_recall",  # brute-force baseline side: 8 queries broadcast
    "sim_ivf_recall",  # same: the exact side is the 8-query broadcast
    "sim_int8_recall",  # same: quantized + exact sides both broadcast 8 queries
    "text_tfidf",
    "text_bm25",  # 1-row global stats frame broadcast (tfidf pattern)
    "text_bpe_merges",  # per-round 1-row argmax winner broadcast
    "obs_drift_psi",  # 1-row totals frame broadcast (tfidf pattern)
    "obs_drift_ks",  # same: 1-row totals frame broadcast
    "text_lang_id",  # |languages|-row candidate frame broadcast
    # fans each doc-profile row out to every candidate language
    "graph_pagerank",  # 1-row node-count frame broadcast per superstep
    "obs_expectations",  # 1-row total × 1-row orphan-count broadcast
    "text_perplexity",  # 1-row corpus-bigram-total broadcast (tfidf pattern)
    "text_collocations",  # 1-row bigram-total broadcast (tfidf pattern)
    "dedup_semantic",  # 16-row centroid broadcast (ivf_assign pattern)
    "text_bpe_encode",  # per-round 1-row argmax winner broadcast (bpe pattern)
    "text_bpe_byte_fallback",  # same winner broadcast + 1-row char-inventory broadcast
    "text_unigram_lm",  # 1-row vocab-cost-map broadcast per E-step
    "sim_maxsim_topk",  # 6-query token-bag broadcast (cosine_topk shape)
    "sim_hard_negatives",  # 6-pair query broadcast (cosine_topk shape)
    "sim_binary_hamming",  # 8-query packed-bits broadcast (same shape)
    "text_kneser_ney",  # 1-row bigram-type-total broadcast (tfidf pattern)
    "text_blocklist",  # 1-row two-array term-inventory broadcast
    "sample_mixture_temperature",  # 1-row (Σn^α, Σn) frame broadcast
    "label_cohen_kappa",  # 1-row chance-agreement frame broadcast
    "text_unigram_vocab",  # same training plan (shared _unigram_train)
    "text_wordpiece",  # 1-row vocab-presence-map broadcast
    "a19_loghist_quantiles",  # tiny sketch frame × 3-row quantile-target broadcast
    "stream_loghist",  # same read-out over the standing sketch
    "events_rfm",  # 1-row global-max + 1-row quartile-threshold broadcasts
    "sim_mmr_rerank",  # 8-query broadcast (cosine_topk candidate stage)
    "text_dsir_weights",  # 1-row smoothing-constant broadcast (tfidf pattern)
    "text_dsir_resample",  # same 1-row constant + k-row winner broadcast
}


def test_no_unintended_cartesian_in_any_contract_entry(spark):
    """Planning-only sweep over the whole contract: no entry may plan
    a CartesianProduct/BroadcastNestedLoopJoin unless its design calls
    for a tiny broadcast side (whitelist above). Catches the classic
    scale-killer at plan time for every registered operator."""
    skip = {
        # side-effecting / streaming / iterative entries are exercised
        # by their own tests; planning them here re-runs jobs
        "s11_lake_range_read",
        "s17_fixed_width",
        "stream_tumbling",
        "stream_session",
        "stream_dedup",
        "stream_join",
        "stream_stateful",
        "stream_rollup",
        "stream_sliding",
        "stream_snap_ingest",
        "s22_python_stream_source",
        "dedup_clusters",
        "lake_upsert",
        # snapshot-table entries commit versions at plan-construction
        # time (their read side is a plain pruned parquet scan)
        "snap_time_travel",
        "snap_delete_cow",
        "snap_delete_dv",
        "snap_range_skip",
        "snap_change_feed",
        "snap_merge_upsert",
        "snap_zorder_skip",
        "snap_compact_zorder",
        "snap_compact_history",
        "snap_schema_evolution",
        "snap_bloom_skip",
        "snap_partition_prune",
        "snap_apply_cdc",
        "s23_snap_change_stream",
        "stream_snap_cdf",
        "snap_compact_cluster",
        "snap_meta_count",
        "snap_hidden_partition",
    }
    bad = {}
    for name, fn in C.SPARK_QUERIES.items():
        if name in skip or name in _INTENDED_CROSS:
            continue
        df = fn(spark, SF_SMALL)
        if P.has_cartesian(df):
            bad[name] = True
    assert not bad, f"unintended cartesian plans: {sorted(bad)}"


def test_join_strategy_hints_are_honored(spark):
    # when broadcast is wrong (both sides big), the engine surface
    # must be able to force shuffle-hash or sort-merge explicitly
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    sh = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    assert "ShuffledHashJoin" in _plan(sh)
    smj = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    assert "SortMergeJoin" in _plan(smj)


def test_minhash_no_cross_join(spark):
    # the LSH self-join must be a keyed equi-join, never a cartesian
    # product — the core 100 TB safety property of the dedup family.
    from geniepool_etl_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = _plan(D.minhash_lsh_pairs(docs, num_perm=16, bands=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_windows_single_exchange(spark):
    # shard hash-partition is the ONE shuffle; the running-sum window
    # runs on data already partitioned by its own key
    from geniepool_etl_spark.operators.packing import pack_windows

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    # total_tokens supplied as a catalog-stat stand-in: keeps the
    # plan free of the auto-sizing eager aggregate (and its warning)
    df = pack_windows(docs, total_tokens=200_000)
    df.collect()
    P.assert_max_exchanges(df, 1)


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """With broadcast off (big-dim regime), AQE injects a bloom filter
    built from the selective dim side into the fact scan — rows that
    cannot join are dropped before the shuffle. This is the 100 TB
    fallback when the dim outgrows broadcast; the test pins the knob
    working so a config regression is caught."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "10MB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        part = spark.read.parquet(f"{SF_SMALL}/part.parquet").where(
            "p_size = 1"
        )
        j = li.join(part, li.l_partkey == part.p_partkey).select(
            "l_orderkey", "p_name"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter" in plan.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_tail_decorrelates_to_hash_joins(spark):
    """The round-7 TPC-H tail's subquery shapes must all decorrelate
    to keyed hash joins — a per-row subquery loop or nested-loop join
    here would be the 100 TB scale-killer."""
    # Q21 (r16 shape): the EXISTS/NOT EXISTS pair is computed as
    # window counts over the per-(order, supplier) aggregate — ONE
    # scan and one keyed pass over lineitem, no semi/anti self-joins
    # re-shuffling the fact, never a nested loop
    p = _plan(C.q_sql_tpch_q21(spark, SF_SMALL))
    assert "Window" in p
    assert p.count("Scan parquet") == 3, p.count("Scan parquet")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_interval_join_is_keyed_equi_join(spark):
    # The bucketed rewrite must plan as a hash/sort-merge equi-join on
    # (key, bucket) — the naive range formulation would be BNLJ.
    df = C.q_events_interval_join(spark, SF_SMALL)
    P.assert_no_cartesian(df)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_udtf_partitions_once_on_key(spark):
    # The UDTF's TABLE(...) PARTITION BY shuffles exactly once; the
    # Python lane must not add extra exchanges.
    df = C.q_udtf_topk(spark, SF_SMALL)
    assert P.count_exchanges(df) <= 1


def test_corpus_build_pipeline_is_three_exchanges(spark):
    # Four stages (quality gate, exact dedup, chunk, pack) must cost
    # exactly three exchanges: the keep-set join folds into the dedup
    # window's hash partition or broadcasts; chunking is narrow.
    df = C.q_pipeline_corpus_build(spark, SF_SMALL)
    P.assert_no_cartesian(df)
    P.assert_max_exchanges(df, 3)


def test_scd2_single_exchange(spark):
    """Both SCD2 windows (run compression + interval stitch) share
    one (key, ts, id) sort — Catalyst must plan exactly ONE exchange."""
    df = C.q_scd2_history(spark, SF_SMALL)
    P.assert_max_exchanges(df, 1)


def test_point_in_time_two_exchanges_max(spark):
    """History derivation + union-carry: two keyed exchanges on
    user_id, nothing more (no range-join blowup)."""
    df = C.q_scd2_point_in_time(spark, SF_SMALL)
    P.assert_max_exchanges(df, 2)
    P.assert_no_cartesian(df)


def test_table_diff_shuffles_digests_not_rows(spark):
    """The reconcile full-outer join must consume (key, md5)
    projections: the exchange payload is the digest, never the wide
    compared columns."""
    from geniepool_etl_spark.operators.reconcile import table_diff

    left = C._t(spark, SF_SMALL, "orders")
    right = C._t(spark, SF_SMALL, "orders")
    df = table_diff(
        left, right, ["o_orderkey"],
        ["o_custkey", "o_orderstatus", "o_orderpriority"],
    )
    plan = P.final_plan(df)
    import re
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert exchanges, "expected keyed exchanges in the diff plan"
    # compared columns are digested below every exchange: the md5
    # projection must appear, and no exchange row carries the raw
    # compared columns alongside it
    assert "md5" in plan
    assert not re.search(r"Exchange[^\n]*o_orderpriority", plan)


def test_debounce_and_transition_exchange_budget(spark):
    """debounce: one window exchange. transition_counts: the lag
    window + (prev,next) aggregate + broadcast-back totals — the
    totals must NOT introduce a skewed low-cardinality window."""
    ev = C._events(spark, SF_SMALL)
    from geniepool_etl_spark.operators import events as EV

    P.assert_max_exchanges(EV.debounce(ev), 1)
    t = EV.transition_counts(ev)
    plan = P.final_plan(t)
    assert "BroadcastExchange" in plan  # totals come back broadcast
    P.assert_no_cartesian(t)


def test_user_feature_table_is_one_scan_one_exchange(spark):
    """The fused feature build must keep its shape: a single parquet
    scan and a single hash exchange feeding both windows and the
    final aggregate (the composed form costs 3 scans / 5 hash
    exchanges for the same answer)."""
    df = C.q_pipeline_user_features(spark, SF_SMALL)
    plan = P.final_plan(df)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    P.assert_no_cartesian(df)


def test_corpus_card_single_scan_digest_only_shuffle(spark):
    """The per-source corpus card must stay ONE scan with map-side
    partials; the distinct arm shuffles (source, md5 digest) — raw
    text must never appear in an Exchange's output."""
    df = C.q_pipeline_corpus_card(spark, SF_SMALL)
    df.collect()
    # AQE's string repeats the tree under "== Initial Plan ==" —
    # assert on the final section only
    p = _plan(df).split("== Initial Plan ==")[0]
    assert p.count("FileScan") == 1
    assert P.count_exchanges(df) <= 2
    for ln in p.splitlines():
        if "Exchange" in ln:
            # the digest expression's printed name contains "text#"
            # (md5(cast(text#N as binary))) — that IS the 16-byte
            # digest key; only a BARE text attribute would mean raw
            # text crossing the wire
            assert "text#" not in ln.replace("md5(cast(text#", ""), ln


def test_perplexity_tokenizes_corpus_once(spark):
    """bigram_surprisal_scores (r17 de-skew form): the LM count
    n(l,r) is a partial-aggregated groupBy on the checkpointed counts
    frame re-attached by an equi-join — NEVER a window over raw
    occurrences (a window partition cannot be split by AQE, so one
    hot bigram would become an unsplittable straggler at 100 TB).
    The composed plan therefore has ZERO Window nodes, at most two
    corpus scans (the probe branch; the counts branch computes once
    inside the checkpoint materialization), and the counts re-attach
    is a ShuffledHashJoin (shuffle_hash hint: one build row per key,
    no corpus-side sort, AQE skew-splittable probe — a sort-merge
    join's occurrence sort or a forced broadcast of the unbounded
    counts frame are both wrong at 100 TB)."""
    df = C.q_text_perplexity(spark, SF_SMALL)
    df.collect()
    p = _plan(df).split("== Initial Plan ==")[0]
    assert p.count("documents.parquet") <= 2, (
        "perplexity plan replays the corpus scan per consumer"
    )
    assert p.count("Window") == 0, (
        "LM count must not be a window over raw occurrences (skew)"
    )
    assert "SortMergeJoin" not in p
    # the counts re-attach (hash join, no sorts) + the 1-row total
    assert "ShuffledHashJoin" in p
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_warc_corpus_payload_confined_to_scan_stage(spark):
    """r16 flagship (pipeline_warc_corpus): the WARC bytes must stay
    inside the first mapInPandas parse stage — no Exchange row may
    carry the binary payload column (parsed fields and page text
    legitimately shuffle for the gate/dedup/pack stages; raw WARC
    bytes never do) — and the composed five-stage plan stays
    cartesian-free."""
    import re

    df = C.q_pipeline_warc_corpus(spark, SF_SMALL)
    P.assert_no_cartesian(df)
    plan = P.final_plan(df)
    # r16: the gated spine is localCheckpoint'ed, so the parse
    # subtree sits behind a Scan ExistingRDD in the composed plan —
    # assert payload confinement on the parse subtree itself (scan →
    # mapInPandas, narrow: no Exchange at all), and no payload column
    # ever reaches an Exchange of the composed plan either.
    assert not re.search(r"Exchange[^\n]*payload", plan)
    from pyspark.sql import functions as F

    from geniepool_etl_spark.sources import warc as WC

    params = (
        C._t(spark, SF_SMALL, "documents")
        .where(F.col("doc_id") % 13 == 4)
        .select(F.col("doc_id").alias("asset_id"))
    )
    parse_plan = P.final_plan(
        WC.parse_warc_records(WC.synth_warc_assets(params))
    )
    assert "payload" in parse_plan  # the parse stage itself
    assert not re.search(r"Exchange[^\n]*payload", parse_plan)
