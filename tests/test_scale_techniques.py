"""Skew salting and bucketed co-located joins: the two explicit
scale techniques. Salting must be answer-preserving; bucketing must
eliminate the join shuffle (visible in the plan).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from geniepool_etl_spark.lake import write_bucketed_table
from geniepool_etl_spark.operators.skew import salted_agg, salted_skew_join
from tests.conftest import SF_SMALL


def test_salted_agg_equals_plain(spark):
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    plain = {
        r.l_returnflag: (r.n, r.s)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("s"),
        )
        .collect()
    }
    salted = {
        r.l_returnflag: (r.n, r.sum_l_quantity)
        for r in salted_agg(
            li, ["l_returnflag"], 16, F.col("l_orderkey"), "l_quantity"
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark):
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    plain = sorted(
        (r.l_orderkey, r.l_linenumber, r.o_orderstatus)
        for r in li.join(orders, "l_orderkey", "left")
        .select("l_orderkey", "l_linenumber", "o_orderstatus")
        .collect()
    )
    salted = sorted(
        (r.l_orderkey, r.l_linenumber, r.o_orderstatus)
        for r in salted_skew_join(
            li, orders, "l_orderkey", 8, F.col("l_linenumber")
        )
        .select("l_orderkey", "l_linenumber", "o_orderstatus")
        .collect()
    )
    assert salted == plain


def test_salted_agg_on_hot_key(spark):
    """Adversarial skew: one key holds 60% of all rows; the salted
    aggregation must still return exactly the plain answer."""
    base = spark.range(100_000).select(
        F.when(F.col("id") % 10 < 6, F.lit("HOT"))
        .otherwise((F.col("id") % 10).cast("string"))
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
        F.col("id"),
    )
    plain = {
        r.k: (r.n, r.s)
        for r in base.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 2).alias("s"))
        .collect()
    }
    salted = {
        r.k: (r.n, r.sum_v)
        for r in salted_agg(base, ["k"], 32, F.col("id"), "v").collect()
    }
    assert salted == plain
    assert plain["HOT"][0] == 60_000


def test_bucketed_join_has_no_exchange(spark):
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed_table(li, "t_li_bkt", ["l_orderkey"], 8, ["l_orderkey"])
    write_bucketed_table(orders, "t_o_bkt", ["o_orderkey"], 8, ["o_orderkey"])

    # Bucketing matters exactly when neither side broadcasts (at these
    # test sizes the planner would broadcast the dim and skip the
    # bucketed scan entirely) — force the big-join regime.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_li_bkt").join(
            spark.table("t_o_bkt"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        # co-located: the bucketed layout replaces both join exchanges
        assert "Exchange" not in final, final
        assert "SortMergeJoin" in final

        # and the answer is the plain join's answer
        assert joined.count() == li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# ---------------------------------------------------------- z-order

def test_zorder_key_matches_reference_bit_interleave(spark):
    from geniepool_etl_spark.lake import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (1023, 1023)], "x LONG, y LONG"
    )
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_key([F.col("x"), F.col("y")], bits=10).alias("z")
        ).collect()
    }

    def morton(x, y):
        z = 0
        for b in range(10):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y)


def test_zordered_write_clusters_both_dimensions(spark, tmp_path):
    """Z-ordered layout bounds per-file min/max spans in BOTH
    dimensions; a 1-D sort leaves the second dimension's span at
    ~full range in every file (no skipping possible on it)."""
    import glob

    from geniepool_etl_spark.lake import write_zordered, zorder_key  # noqa: F401

    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") % 128).alias("x"),
        ((F.col("id") * 2654435761) % 128).alias("y"),
    )

    def per_file_spans(path):
        spans = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            one = spark.read.parquet(f).agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            ).collect()[0]
            spans.append((one.sx, one.sy))
        return spans

    zpath = str(tmp_path / "zordered")
    write_zordered(df, zpath, [F.col("x"), F.col("y")], bits=7, n_files=16)
    zspans = per_file_spans(zpath)
    assert len(zspans) >= 8

    lpath = str(tmp_path / "linear")
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(lpath)
    lspans = per_file_spans(lpath)

    avg = lambda v: sum(v) / len(v)  # noqa: E731
    z_x, z_y = avg([s[0] for s in zspans]), avg([s[1] for s in zspans])
    l_y = avg([s[1] for s in lspans])
    # both dims clustered well below the 127 global span…
    assert z_x < 64 and z_y < 64
    # …whereas the 1-D layout can't skip on y at all
    assert l_y > 100


def test_auto_sizing_hints_suppress_eager_jobs(spark, monkeypatch):
    """lsh_bucket_topk / ivf_topk / pack_windows auto-modes must not
    fire an implicit corpus scan when the caller supplies the sizing
    hint: at 100 TB an unannounced count()/aggregate pre-job on a cold
    corpus is a surprise cluster-wide scan. count()/first() are
    poisoned for the duration — plan construction must succeed without
    touching them."""
    from pyspark.sql import DataFrame

    from geniepool_etl_spark.operators.packing import pack_windows
    from geniepool_etl_spark.operators.similarity import (
        ivf_topk,
        lsh_bucket_topk,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 7)] * 64) for i in range(20)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    docs = spark.createDataFrame(
        [(i, "some words here") for i in range(20)],
        "doc_id LONG, text STRING",
    )

    def boom(self, *a, **k):  # noqa: ANN001
        raise AssertionError("eager job fired despite sizing hint")

    monkeypatch.setattr(DataFrame, "count", boom)
    monkeypatch.setattr(DataFrame, "first", boom)
    monkeypatch.setattr(DataFrame, "head", boom)

    lsh_bucket_topk(emb, k=3, n_planes=None, n_rows=20)
    ivf_topk(emb, emb, k=3, n_centroids=None, n_rows=20)
    pack_windows(docs, n_shards=None, total_tokens=60)


def test_auto_sizing_without_hint_warns(spark):
    """The implicit pre-job is allowed but loud: auto mode with no
    hint must emit a warning naming the operator."""
    import warnings

    from geniepool_etl_spark.operators.similarity import lsh_bucket_topk

    emb = spark.createDataFrame(
        [(i, [float(i % 7)] * 64) for i in range(20)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        lsh_bucket_topk(emb, k=3, n_planes=None)
    assert any("lsh_bucket_topk" in str(w.message) for w in caught)


def test_salted_join_plan_expands_salt(spark):
    """The skew mechanics must be IN THE PLAN, not assumed: the dim
    side replicates via explode(sequence(0, n_salts-1)) and the join
    keys include _salt, so the hot key's rows hash to n_salts distinct
    reducers instead of one."""
    from geniepool_etl_spark.plans import executed_plan

    # adversarial skew: 90% of fact rows share one key
    facts = spark.range(50_000).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("row_id"),
    )
    dim = spark.range(5_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
    )
    joined = salted_skew_join(facts, dim, "k", 8, F.col("row_id"))
    plan = executed_plan(joined)
    assert "explode" in plan, f"no dim replication in plan:\n{plan}"
    assert "_salt" in plan, f"join does not include the salt key:\n{plan}"
    # and the rewrite is still exact on the skewed fixture
    n_hot = joined.where("k = 7").count()
    assert n_hot == facts.where("k = 7").count()


def test_aqe_splits_skewed_join(spark):
    """AQE's runtime skew handling — the first line of defense before
    explicit salting: with a hot key dominating one shuffle partition
    and thresholds at test scale, the post-execution adaptive plan
    must mark the sort-merge join skew=true (the hot partition was
    split across tasks)."""
    conf_keys = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in conf_keys.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        from geniepool_etl_spark.plans import executed_plan

        facts = spark.range(400_000).select(
            F.when(F.col("id") % 20 < 19, 7).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload_" * 8), F.col("id")).alias("pad"),
        )
        dim = spark.range(20_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        joined = facts.join(dim, "k", "inner")
        # execute the frame's OWN QueryExecution (a write action plans
        # a separate execution and would leave this plan non-final)
        joined.collect()
        plan = executed_plan(joined)
        assert "SortMergeJoin" in plan
        assert "skew=true" in plan, (
            f"AQE did not split the skewed partition:\n{plan}"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime bloom-filter join pruning must be IN THE PLAN when the
    build side is selective and too big to broadcast: a
    bloom_filter_agg subquery on the build keys and a might_contain
    gate on the probe side — probe rows are dropped before the
    shuffle (the 100 TB complement to broadcast joins)."""
    from geniepool_etl_spark.plans import executed_plan
    from geniepool_etl_spark.session import enable_runtime_bloom_filters
    from tests.conftest import SF_ORACLE

    saved = {}
    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        enable_runtime_bloom_filters(spark, application_side_min_scan="0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").where(
            "o_totalprice > 400000"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = executed_plan(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # and the rewrite is answer-preserving
        n_bloom = j.count()
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        assert n_bloom == li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_int8_topk_large_query_fallback(spark, monkeypatch):
    """r13 (closing the r12 verdict's noted nuance): int8_topk with
    an ``n_queries`` hint above the collect cap must take the fully
    distributed pair-join path — NO driver-side collect at plan
    construction — and produce exactly the matrix path's rows (the
    HOF integer folds equal the float64 BLAS dots bit-for-bit at
    int8 magnitudes)."""
    from pyspark.sql import DataFrame

    from geniepool_etl_spark.operators import similarity as S

    emb = (
        spark.range(0, 40)
        .selectExpr(
            "id AS vec_id",
            "transform(sequence(1, 8), j -> "
            "cast(pmod(id * j * 37 + j * j, 19) - 9 AS double)) "
            "AS embedding",
        )
    )
    base = S.int8_topk(emb, emb, k=3).orderBy("q_id", "n_id").collect()
    # force the fallback and poison collect during plan construction
    monkeypatch.setattr(S, "_INT8_COLLECT_MAX_QUERIES", 10)
    real_collect = DataFrame.collect

    def no_collect(self):
        raise AssertionError(
            "int8_topk fallback must not collect at plan time"
        )

    monkeypatch.setattr(DataFrame, "collect", no_collect)
    fb = S.int8_topk(emb, emb, k=3, n_queries=40)
    monkeypatch.setattr(DataFrame, "collect", real_collect)
    got = fb.orderBy("q_id", "n_id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in base]


def test_materialize_rejects_unknown_mode(spark):
    # a mistyped mode must fail loudly, not fall back to localCheckpoint
    import pytest

    from geniepool_etl_spark.functions import MATERIALIZE_CONF, ckpt_lazy

    saved = spark.conf.get(MATERIALIZE_CONF, None)
    spark.conf.set(MATERIALIZE_CONF, "Persist")
    try:
        with pytest.raises(ValueError, match="'Persist'"):
            spark.range(3).transform(ckpt_lazy)
    finally:
        if saved is None:
            spark.conf.unset(MATERIALIZE_CONF)
        else:
            spark.conf.set(MATERIALIZE_CONF, saved)


def test_fan_out_parses_spark_byte_strings(spark, caplog):
    # maxPartitionBytes in any form Spark accepts ('128m', '1k') must
    # give the same fan-out decision as the plain byte form, without
    # the split estimate failing into a warning + no-op
    import logging

    from geniepool_etl_spark.functions import fan_out_if_narrow

    key = "spark.sql.files.maxPartitionBytes"
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")  # 1 file
    saved = spark.conf.get(key)
    fanned = {}
    try:
        with caplog.at_level(logging.WARNING):
            for value in ("134217728b", "128m", "1024b", "1k"):
                spark.conf.set(key, value)
                fanned[value] = fan_out_if_narrow(docs) is not docs
    finally:
        spark.conf.set(key, saved)
    assert not [r for r in caplog.records if "fan_out_if_narrow" in r.message]
    assert fanned["128m"] == fanned["134217728b"]
    assert fanned["1k"] == fanned["1024b"]
    if spark.sparkContext.defaultParallelism > 1:
        # one 64 KiB file: one split at 128 MiB (narrow → fan out),
        # dozens at 1 KiB (already wide → unchanged)
        assert fanned["128m"] and not fanned["1k"]
