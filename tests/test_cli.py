"""CLI subcommand smoke tests: each family is runnable end to end
(parquet in → parquet out) through the public entrypoint."""

from __future__ import annotations

import pytest

from geniepool_etl_spark.cli import main
from tests.conftest import SF_SMALL


def test_cli_dedup_exact(spark, tmp_path):
    out = str(tmp_path / "dedup")
    assert main(["dedup", f"{SF_SMALL}/documents.parquet", out]) == 0
    got = spark.read.parquet(out)
    assert {"text_hash", "keep_id", "n_dups"} <= set(got.columns)
    assert got.count() > 0


def test_cli_profile(spark, tmp_path):
    out = str(tmp_path / "profile")
    assert main(["profile", f"{SF_SMALL}/nation.parquet", out]) == 0
    got = spark.read.parquet(out)
    assert got.count() == len(
        spark.read.parquet(f"{SF_SMALL}/nation.parquet").columns
    )


def test_cli_text_stats(spark, tmp_path):
    out = str(tmp_path / "text")
    assert main(["text-stats", f"{SF_SMALL}/documents.parquet", out]) == 0
    got = spark.read.parquet(out)
    assert {"n_words", "n_tokens", "pred_lang"} <= set(got.columns)


def test_cli_sim_topk(spark, tmp_path):
    out = str(tmp_path / "sim")
    # the CLI has no catalog rowcount to pass as n_rows, so the
    # auto-sizing count (and its loud warning) is intentional here
    with pytest.warns(UserWarning, match="auto-sizing"):
        assert (
            main(
                ["sim-topk", f"{SF_SMALL}/embeddings.parquet", out,
                 "--k", "3"]
            )
            == 0
        )
    got = spark.read.parquet(out)
    assert {"q_id", "n_id", "cos_sim"} <= set(got.columns)


def test_get_spark_returns_a_live_session_unchanged(spark):
    """Every CLI subcommand calls get_spark; inside a running session
    it must hand that session back without re-applying its own confs
    (which would reset e.g. ANSI mode for every later caller)."""
    from geniepool_etl_spark.session import get_spark

    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        assert get_spark("other") is spark
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)


def test_cli_etl_wrong_arity_returns_usage():
    assert main(["etl", "a", "b"]) == 2


def test_cli_etl_rejects_unknown_t2t_before_spark(monkeypatch, capsys):
    import geniepool_etl_spark.cli as cli

    def no_session(*_a, **_k):
        raise AssertionError("a Spark session started")

    monkeypatch.setattr(cli, "get_spark", no_session)
    for bad in ("ture", "t2t", "", "2"):
        args = ["in", "out", "status", "impact", "dbsnp", bad, "gnomad", "alpha"]
        assert main(["etl", *args]) == 2
        assert main(args) == 2  # the bare reference form
        assert "t2t must be one of true/1/yes/false/0/no" in capsys.readouterr().err
    for good in ("TRUE", " No ", "1", "0", "yes", "false"):  # valid: reaches the session
        with pytest.raises(AssertionError, match="session started"):
            main(["etl", "in", "out", "status", "impact", "dbsnp", good, "gnomad", "alpha"])


def test_cli_pack(spark, tmp_path):
    out = str(tmp_path / "pack")
    assert (
        main(
            ["pack", f"{SF_SMALL}/documents.parquet", out,
             "--context-len", "128", "--shards", "4"]
        )
        == 0
    )
    got = spark.read.parquet(out)
    assert {"id", "shard", "n_tok", "first_window", "win_offset"} <= set(
        got.columns
    )
    assert got.where("win_offset >= 128 OR shard >= 4").count() == 0


def test_cli_chunk(spark, tmp_path):
    out = str(tmp_path / "chunk")
    assert (
        main(
            ["chunk", f"{SF_SMALL}/documents.parquet", out,
             "--chunk-words", "32", "--stride-words", "24"]
        )
        == 0
    )
    got = spark.read.parquet(out)
    assert {"doc_id", "chunk_idx", "chunk_text", "n_chunk_words"} <= set(
        got.columns
    )
    assert got.where("n_chunk_words > 32").count() == 0


def test_cli_shuffle(spark, tmp_path):
    out = str(tmp_path / "shuffle")
    assert (
        main(
            ["shuffle", f"{SF_SMALL}/documents.parquet", out,
             "--shards", "4"]
        )
        == 0
    )
    got = spark.read.parquet(out)
    n_src = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert got.count() == n_src
    assert got.select("shard").distinct().count() <= 4


def test_cli_pii(spark, tmp_path):
    out = str(tmp_path / "pii")
    assert main(["pii", f"{SF_SMALL}/documents.parquet", out]) == 0
    got = spark.read.parquet(out)
    assert {"n_emails", "n_urls", "n_phones", "has_pii"} <= set(got.columns)
    n_src = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert got.count() == n_src


def test_cli_compact_and_recover(spark, tmp_path):
    from pyspark.sql import functions as F

    from geniepool_etl_spark.operators import events as E
    from geniepool_etl_spark.streaming import _write_ingest_batch

    ev = E.with_event_time(
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
    ).withColumn("day_bucket", F.expr("ts_us div 86400000000"))
    lake = str(tmp_path / "lake")
    _write_ingest_batch(ev, 0, lake)
    _write_ingest_batch(ev, 1, lake)
    n = spark.read.parquet(lake).count()
    day = spark.read.parquet(lake).agg(F.min("day_bucket")).first()[0]

    assert main(["recover", lake]) == 0  # no-op on a clean lake
    assert main(["compact", lake, "--day", str(int(day))]) == 0
    assert spark.read.parquet(lake).count() == n


def test_cli_corpus_build(spark, tmp_path):
    out = str(tmp_path / "packed")
    assert main(
        [
            "corpus-build", f"{SF_SMALL}/documents.parquet", out,
            "--shards", "2", "--context-len", "128",
        ]
    ) == 0
    got = spark.read.parquet(out)
    assert {"id", "shard", "n_tok", "first_window", "win_offset",
            "last_window"} <= set(got.columns)
    assert got.count() > 0
    assert got.select("shard").distinct().count() <= 2


def test_cli_diff_and_scd2(spark, tmp_path):
    from geniepool_etl_spark.cli import main

    left = str(tmp_path / "left")
    right = str(tmp_path / "right")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k LONG, v STRING"
    ).write.parquet(left)
    spark.createDataFrame(
        [(1, "a"), (2, "CHANGED"), (4, "d")], "k LONG, v STRING"
    ).write.parquet(right)
    out = str(tmp_path / "diff_out")
    assert main(["diff", left, right, out, "--keys", "k"]) == 0
    got = {
        r.status: r.n_rows for r in spark.read.parquet(out).collect()
    }
    assert got == {
        "match": 1, "differs": 1, "only_left": 1, "only_right": 1
    }

    log = str(tmp_path / "log")
    spark.createDataFrame(
        [(1, 100, "A", 1), (1, 200, "B", 2)],
        "k LONG, ts LONG, attr STRING, id LONG",
    ).write.parquet(log)
    hist = str(tmp_path / "hist")
    assert main([
        "scd2", log, hist, "--key", "k", "--ts-col", "ts",
        "--attr", "attr", "--id-col", "id",
    ]) == 0
    rows = {r.version: r.attr for r in spark.read.parquet(hist).collect()}
    assert rows == {1: "A", 2: "B"}
    # incremental extension onto the standing history
    batch = str(tmp_path / "batch")
    spark.createDataFrame(
        [(1, 300, "C", 3)], "k LONG, ts LONG, attr STRING, id LONG"
    ).write.parquet(batch)
    hist2 = str(tmp_path / "hist2")
    assert main([
        "scd2", batch, hist2, "--key", "k", "--ts-col", "ts",
        "--attr", "attr", "--id-col", "id", "--standing", hist,
    ]) == 0
    rows2 = {
        r.version: (r.attr, r.is_current)
        for r in spark.read.parquet(hist2).collect()
    }
    assert rows2 == {1: ("A", False), 2: ("B", False), 3: ("C", True)}


def test_cli_dq_gate_exit_codes(spark, tmp_path):
    """The dq subcommand is a CI gate: exit 0 when every rule passes,
    exit 1 when any fails, report written either way."""
    from geniepool_etl_spark.cli import main

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (2, 999.0)], "k LONG, v DOUBLE"
    ).write.parquet(src)

    out_ok = str(tmp_path / "ok")
    assert main(["dq", src, out_ok, "--rule", "v_pos:v > 0"]) == 0

    out_bad = str(tmp_path / "bad")
    rc = main([
        "dq", src, out_bad,
        "--rule", "v_small:v < 100",
        "--unique", "k",
    ])
    assert rc == 1
    got = {
        r.rule: (r.violations, r.ok)
        for r in spark.read.parquet(out_bad).collect()
    }
    assert got == {"v_small": (1, 0), "k_unique": (1, 0)}


def test_cli_table_lifecycle(spark, tmp_path):
    """table write/append/delete/compact/history/read/vacuum chain
    through the public entrypoint; time travel reads survive the
    later commits until vacuum reclaims them."""
    from geniepool_etl_spark import snaptable as T

    t = str(tmp_path / "t")
    src = f"{SF_SMALL}/nation.parquet"
    assert main(["table", "write", t, "--input", src,
                 "--stats-cols", "n_nationkey"]) == 0
    assert main(["table", "write", t, "--input", src,
                 "--mode", "append"]) == 0
    assert main(["table", "delete", t,
                 "--predicate", "n_nationkey >= 20"]) == 0
    assert main(["table", "compact", t]) == 0
    hist = {r.version: (r.action, r.n_rows)
            for r in T.history(spark, t).collect()}
    assert hist[0] == ("create", 25)
    assert hist[3] == ("compact", 40)
    out = str(tmp_path / "out")
    assert main(["table", "read", t, "--output", out,
                 "--version", "1"]) == 0
    assert spark.read.parquet(out).count() == 50
    assert main(["table", "vacuum", t, "--keep-versions", "2"]) == 0
    assert T.read_table(spark, t).count() == 40


def test_cli_table_merge(spark, tmp_path):
    from pyspark.sql import functions as F

    from geniepool_etl_spark import snaptable as T

    t = str(tmp_path / "t")
    src = f"{SF_SMALL}/nation.parquet"
    assert main(["table", "write", t, "--input", src]) == 0
    upd_dir = str(tmp_path / "upd")
    (
        spark.read.parquet(src)
        .where("n_nationkey < 3")
        .withColumn("n_name", F.lit("PATCHED"))
        .write.parquet(upd_dir)
    )
    assert main(["table", "merge", t, "--input", upd_dir,
                 "--keys", "n_nationkey"]) == 0
    got = {r.n_nationkey: r.n_name
           for r in T.read_table(spark, t).collect()}
    assert len(got) == 25 and got[0] == "PATCHED" and got[5] != "PATCHED"


def test_cli_table_point_lookup(spark, tmp_path, capsys):
    """table write --bloom-cols then point: the probe output parquet
    holds exactly the matching row and the printed scan stats show
    the bloom layer engaged."""
    t = str(tmp_path / "t")
    src = f"{SF_SMALL}/orders.parquet"
    assert main(["table", "write", t, "--input", src,
                 "--stats-cols", "o_orderkey",
                 "--bloom-cols", "o_orderkey"]) == 0
    out = str(tmp_path / "out")
    pk = spark.read.parquet(src).collect()[0].o_orderkey
    assert main(["table", "point", t, "--col", "o_orderkey",
                 "--value", str(pk), "--output", out]) == 0
    got = spark.read.parquet(out)
    assert got.count() == 1
    assert got.collect()[0].o_orderkey == pk


def test_cli_table_partition_and_cdc(spark, tmp_path, capsys):
    """table write --partition-by, part (pruned one-partition read)
    and cdc (upsert+delete batch) through the public entrypoint."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    src = f"{SF_SMALL}/nation.parquet"
    assert main(["table", "write", t, "--input", src,
                 "--partition-by", "n_regionkey"]) == 0
    capsys.readouterr()  # drain the write's version print
    out = str(tmp_path / "part_out")
    assert main(["table", "part", t, "--col", "n_regionkey",
                 "--value", "2", "--output", out]) == 0
    stats_line = capsys.readouterr().out.strip().splitlines()[0]
    total, scanned = eval(stats_line)
    assert scanned < total
    got = spark.read.parquet(out)
    assert {r.n_regionkey for r in got.collect()} == {2}

    cdc_dir = str(tmp_path / "cdc")
    base = spark.read.parquet(src)
    (
        base.where("n_nationkey = 0")
        .withColumn("n_name", F.lit("PATCHED"))
        .withColumn("_op", F.lit("upsert"))
        .unionByName(
            base.where("n_nationkey = 1").withColumn("_op", F.lit("delete"))
        )
        .write.parquet(cdc_dir)
    )
    assert main(["table", "cdc", t, "--input", cdc_dir,
                 "--keys", "n_nationkey"]) == 0
    from geniepool_etl_spark import snaptable as T

    back = {r.n_nationkey: r.n_name for r in T.read_table(spark, t).collect()}
    assert back[0] == "PATCHED"
    assert 1 not in back
    assert len(back) == 24
