"""Snapshot-table (snaptable.py) semantics: atomic commits, snapshot
isolation, copy-on-write by reference, stats pruning, crash debris
invisibility, concurrent-writer races, vacuum safety.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading

import pytest
from pyspark.sql import functions as F

from geniepool_etl_spark import snaptable as T


@pytest.fixture()
def tdir():
    return tempfile.mkdtemp(prefix="gp_snap_test_")


@pytest.fixture(scope="module")
def nums(spark):
    return spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 13).alias("v")
    )


def _manifest(path, v):
    with open(os.path.join(path, "_snaplog", f"{v:08d}.json")) as fh:
        return json.load(fh)


def test_create_append_time_travel(spark, nums, tdir):
    assert T.write_table(nums.where("k < 600"), tdir, "create") == 0
    assert T.write_table(nums.where("k >= 600"), tdir, "append") == 1
    assert T.read_table(spark, tdir, 0).count() == 600
    assert T.read_table(spark, tdir).count() == 1000
    assert T.current_version(spark, tdir) == 1


def test_append_is_by_reference(spark, nums, tdir):
    T.write_table(nums.where("k < 600").repartition(3), tdir, "create")
    T.write_table(nums.where("k >= 600"), tdir, "append")
    f0 = {f["path"] for f in _manifest(tdir, 0)["files"]}
    f1 = {f["path"] for f in _manifest(tdir, 1)["files"]}
    assert f0 < f1  # every v0 file carried over verbatim


def test_append_schema_mismatch_fails_loud(spark, nums, tdir):
    T.write_table(nums, tdir, "create")
    with pytest.raises(ValueError, match="schema differs"):
        T.write_table(nums.withColumn("extra", F.lit(1)), tdir, "append")


def test_overwrite_keeps_old_version_readable(spark, nums, tdir):
    T.write_table(nums.where("k < 10"), tdir, "create")
    T.write_table(nums.where("k >= 990"), tdir, "overwrite")
    assert T.read_table(spark, tdir, 0).count() == 10
    got = sorted(r.k for r in T.read_table(spark, tdir).collect())
    assert got == list(range(990, 1000))


def test_delete_where_rewrites_only_touched_files(spark, nums, tdir):
    # range-partitioned files → the predicate hits exactly one file
    T.write_table(
        nums.repartitionByRange(4, "k").sortWithinPartitions("k"),
        tdir,
        "create",
        stats_cols=("k",),
    )
    before = {f["path"] for f in _manifest(tdir, 0)["files"]}
    T.delete_where(spark, tdir, "k BETWEEN 0 AND 5")
    after = {f["path"] for f in _manifest(tdir, 1)["files"]}
    assert T.read_table(spark, tdir).count() == 994
    assert T.read_table(spark, tdir, 0).count() == 1000  # time travel
    assert len(before & after) == len(before) - 1  # 3 of 4 by reference


def test_delete_where_no_match_is_metadata_only(spark, nums, tdir):
    T.write_table(nums, tdir, "create")
    v = T.delete_where(spark, tdir, "k > 100000")
    assert v == 1
    m0, m1 = _manifest(tdir, 0), _manifest(tdir, 1)
    assert [f["path"] for f in m0["files"]] == [f["path"] for f in m1["files"]]


def test_stats_pruning_skips_files(spark, nums, tdir):
    T.write_table(
        nums.repartitionByRange(8, "k").sortWithinPartitions("k"),
        tdir,
        "create",
        stats_cols=("k",),
    )
    total, scanned = T.scan_stats(spark, tdir, "k", 0, 50)
    assert total == 8 and scanned < total
    got = sorted(r.k for r in T.read_range(spark, tdir, "k", 0, 50).collect())
    assert got == list(range(0, 51))


def test_change_feed_is_file_diff(spark, nums, tdir):
    """read_changes returns exactly the appended rows with their
    commit versions (all _change_type 'insert'), empty for from=head,
    and — since the r12 write-time change tracking — spans a
    delete_where rewrite with its exact net deletes."""
    T.write_table(nums.where("k < 100"), tdir, "create")
    T.write_table(nums.where("k >= 100 AND k < 250"), tdir, "append")
    T.write_table(nums.where("k >= 250 AND k < 300"), tdir, "append")
    ch = T.read_changes(spark, tdir, 0)
    per_v = {
        r._commit_version: r.n
        for r in ch.groupBy("_commit_version")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_v == {1: 150, 2: 50}
    assert set(
        r._change_type
        for r in ch.select("_change_type").distinct().collect()
    ) == {"insert"}
    assert T.read_changes(spark, tdir, 2).count() == 0
    assert T.read_changes(spark, tdir, 0, to_version=1).count() == 150
    T.delete_where(spark, tdir, "k < 10")
    # the rewrite's net changes are exactly the 10 deleted rows
    dl = T.read_changes(spark, tdir, 2).collect()
    assert len(dl) == 10
    assert all(
        r._change_type == "delete" and r._commit_version == 3
        and r.k < 10
        for r in dl
    )
    # a window that stops before the rewrite is unaffected
    assert T.read_changes(spark, tdir, 0, to_version=2).count() == 200


def test_change_feed_spans_rewrites(spark, nums, tdir):
    """r12 write-time CDF: the feed spans merge (pre/postimage +
    insert), apply_cdc (incl. delete ops), overwrite (derived
    delete-all/insert-all) and compact (no changes); replaying the
    feed types reproduces the head row set; vacuum keeps the change
    data of kept versions."""
    T.write_table(nums.where("k < 50"), tdir, "create")          # v0
    ups = spark.range(45, 55).select(
        F.col("id").alias("k"),
        # otherwise-less when() on a non-literal condition keeps v
        # nullable, matching the table schema exactly
        F.when(F.col("id") >= 0, F.lit(99)).cast("long").alias("v"),
    )
    T.merge_table(spark, tdir, ups, ["k"])                       # v1
    ch1 = T.read_changes(spark, tdir, 0, to_version=1)
    by_t = {
        r._change_type: r.n
        for r in ch1.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # keys 45..49 existed (pre+post), 50..54 are inserts
    assert by_t == {
        "update_preimage": 5, "update_postimage": 5, "insert": 5,
    }
    pre = {r.k for r in ch1.where("_change_type = 'update_preimage'").collect()}
    assert pre == set(range(45, 50))
    # CDC batch: update k=0, delete k=1, insert k=1000, delete absent
    cdc = spark.createDataFrame(
        [(0, 77, "upsert"), (1, 0, "delete"), (1000, 5, "upsert"),
         (5000, 0, "delete")],
        "k long, v long, _op string",
    )
    T.apply_cdc(spark, tdir, cdc, ["k"])                         # v2
    ch2 = T.read_changes(spark, tdir, 1, to_version=2)
    got = {(r.k, r._change_type) for r in ch2.collect()}
    assert got == {
        (0, "update_preimage"), (0, "update_postimage"),
        (1, "delete"), (1000, "insert"),
    }
    # compact: zero change rows
    T.compact(spark, tdir, target_files=1)                       # v3
    assert T.read_changes(spark, tdir, 2, to_version=3).count() == 0
    # overwrite: derived full delete + insert
    repl = spark.range(0, 7).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )
    T.write_table(repl, tdir, "overwrite")                       # v4
    ch4 = T.read_changes(spark, tdir, 3, to_version=4)
    n_live_v3 = T.read_table(spark, tdir, version=3).count()
    by_t4 = {
        r._change_type: r.n
        for r in ch4.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_t4 == {"delete": n_live_v3, "insert": 7}
    # feed REPLAY across the whole history reproduces the head:
    # apply inserts/postimages, remove deletes/preimages, per version
    feed = T.read_changes(spark, tdir, 0).collect()
    state = {(r.k, r.v) for r in T.read_table(spark, tdir, version=0).collect()}
    for v in sorted({r._commit_version for r in feed}):
        for r in feed:
            if r._commit_version == v and r._change_type in (
                "delete", "update_preimage",
            ):
                state.discard((r.k, r.v))
        for r in feed:
            if r._commit_version == v and r._change_type in (
                "insert", "update_postimage",
            ):
                state.add((r.k, r.v))
    head = {(r.k, r.v) for r in T.read_table(spark, tdir).collect()}
    assert state == head
    # vacuum to the last 2 versions: the v4 window still reads
    T.vacuum(spark, tdir, keep_versions=2, min_age_seconds=0)
    assert T.read_changes(spark, tdir, 3, to_version=4).count() == (
        n_live_v3 + 7
    )


def test_merge_upsert_cow_by_reference(spark, nums, tdir):
    """merge_table rewrites ONLY files holding matched keys; updates
    replace, new keys insert, and duplicate update keys fail loud."""
    T.write_table(
        nums.repartitionByRange(4, "k").sortWithinPartitions("k"),
        tdir,
        "create",
        stats_cols=("k",),
    )
    upd = nums.where("k BETWEEN 10 AND 20").withColumn(
        "v", F.col("v") + 100
    )
    ins = nums.where("k < 5").select(
        (F.col("k") + 10000).alias("k"), "v"
    )
    T.merge_table(spark, tdir, upd.unionByName(ins), ["k"])
    before = {f["path"] for f in _manifest(tdir, 0)["files"]}
    after = {f["path"] for f in _manifest(tdir, 1)["files"]}
    assert len(before & after) == len(before) - 1  # 3 of 4 by reference
    got = {r.k: r.v for r in T.read_table(spark, tdir).collect()}
    assert len(got) == 1005
    assert got[15] == (15 * 7 % 13) + 100  # updated
    assert got[10003] == (3 * 7 % 13)  # inserted
    assert got[500] == (500 * 7 % 13)  # untouched
    with pytest.raises(ValueError, match="duplicate key"):
        T.merge_table(
            spark, tdir, upd.unionByName(upd.limit(1)), ["k"]
        )


def test_merge_rejects_updates_of_another_schema(spark, nums, tdir):
    """merge_table takes only updates of the table's exact schema: an
    int key against the table's long key is refused, not cast."""
    T.write_table(nums, tdir, "create")
    upd = nums.where("k < 3").withColumn("k", F.col("k").cast("int"))
    with pytest.raises(ValueError, match="schema differs"):
        T.merge_table(spark, tdir, upd, ["k"])
    assert T.current_version(spark, tdir) == 0


def test_zorder_write_skips_on_both_dimensions(spark, tdir):
    """A single z-ordered layout must buy file skipping for range
    predicates on EITHER participating column — the property a plain
    single-column sort cannot provide for the second dimension."""
    from geniepool_etl_spark import lake

    grid = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
    )
    z = grid.withColumn(
        "zkey", lake.zorder_key([F.col("a"), F.col("b")], bits=6)
    )
    T.write_table(
        z.repartitionByRange(8, "zkey").sortWithinPartitions("zkey"),
        tdir,
        "create",
        stats_cols=("a", "b"),
    )
    for col in ("a", "b"):
        total, scanned = T.scan_stats(spark, tdir, col, 0, 15)
        assert total == 8 and scanned < total, (col, total, scanned)
        got = sorted(
            (r.a, r.b)
            for r in T.read_range(spark, tdir, col, 0, 15).collect()
        )
        want = sorted(
            (i % 64, i // 64)
            for i in range(4096)
            if 0 <= (i % 64 if col == "a" else i // 64) <= 15
        )
        assert got == want


def test_compact_zorder_multi_axis_skipping(spark, tdir):
    """r15: compact(zorder_by=…) takes a hash-scattered layout (every
    file spans the full range of both columns — stats pruning inert
    on BOTH axes) to a Morton-clustered one where a range read skips
    files on EITHER axis, rows identical, bounds sourced from the
    manifest's own stats (no data pre-pass)."""
    grid = spark.range(0, 4096).select(
        F.col("id").alias("id"),
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("long").alias("b"),
    )
    # round-robin layout: every file sees the full [0, 63] range of
    # both a and b — the worst case compaction exists to fix
    T.write_table(grid.repartition(8), tdir, "create",
                  stats_cols=("a", "b"))
    for col in ("a", "b"):
        total, scanned = T.scan_stats(spark, tdir, col, 0, 15)
        assert (total, scanned) == (8, 8), (col, total, scanned)
    v = T.compact(spark, tdir, target_files=8, zorder_by=("a", "b"))
    assert v == 1
    for col in ("a", "b"):
        total, scanned = T.scan_stats(spark, tdir, col, 0, 15)
        assert total == 8 and scanned < total, (col, total, scanned)
        got = sorted(
            (r.a, r.b)
            for r in T.read_range(spark, tdir, col, 0, 15).collect()
        )
        want = sorted(
            (i % 64, i // 64)
            for i in range(4096)
            if (i % 64 if col == "a" else i // 64) <= 15
        )
        assert got == want
    assert T.read_table(spark, tdir).count() == 4096
    hist = {r.version: r.action for r in T.history(spark, tdir).collect()}
    assert hist[1] == "compact"
    with pytest.raises(ValueError, match="exclusive"):
        T.compact(spark, tdir, sort_by=("a",), zorder_by=("b",))


def test_compact_zorder_three_columns(spark, tdir):
    """r15: zorder_by generalizes past two columns — a 3-D Morton
    re-cluster buys skipping on ALL THREE axes from one pass (the
    bits-per-axis shrink as 63//n, so discrimination degrades
    gracefully rather than failing)."""
    grid = spark.range(0, 4096).select(
        (F.col("id") % 16).alias("a"),
        ((F.col("id") / 16).cast("long") % 16).alias("b"),
        (F.col("id") / 256).cast("long").alias("c"),
    )
    T.write_table(grid.repartition(8), tdir, "create",
                  stats_cols=("a", "b", "c"))
    T.compact(spark, tdir, target_files=8, zorder_by=("a", "b", "c"))
    for col in ("a", "b", "c"):
        total, scanned = T.scan_stats(spark, tdir, col, 0, 3)
        assert total == 8 and scanned < total, (col, total, scanned)
    assert T.read_table(spark, tdir).count() == 4096


def test_compact_preserves_rows_and_history(spark, nums, tdir):
    T.write_table(nums.repartition(6), tdir, "create")
    T.compact(spark, tdir, target_files=1)
    hist = {r.version: (r.action, r.n_files, r.n_rows) for r in T.history(spark, tdir).collect()}
    assert hist[0] == ("create", 6, 1000)
    assert hist[1] == ("compact", 1, 1000)
    assert T.read_table(spark, tdir).count() == 1000


def test_crash_debris_is_invisible(spark, nums, tdir):
    """A tmp manifest and an uncommitted data directory (the two
    possible crash leftovers) must not change what readers see, and
    vacuum must reclaim both."""
    T.write_table(nums, tdir, "create")
    # crash type 1: staged-but-never-renamed manifest
    with open(os.path.join(tdir, "_snaplog", "_tmp-deadbeef.json"), "w") as fh:
        fh.write('{"version": 99, "files": []}')
    # crash type 2: data files written, commit never attempted
    nums.limit(5).write.parquet(os.path.join(tdir, "data", "orphantoken"))
    assert T.current_version(spark, tdir) == 0
    assert T.read_table(spark, tdir).count() == 1000
    # retention guard: fresh unreferenced state might be an IN-FLIGHT
    # write — the default age must spare it
    T.vacuum(spark, tdir, keep_versions=1)
    assert os.path.exists(os.path.join(tdir, "data", "orphantoken"))
    T.vacuum(spark, tdir, keep_versions=1, min_age_seconds=0)
    assert not os.path.exists(os.path.join(tdir, "data", "orphantoken"))
    assert not os.path.exists(
        os.path.join(tdir, "_snaplog", "_tmp-deadbeef.json")
    )
    assert T.read_table(spark, tdir).count() == 1000


def test_concurrent_appends_both_land(spark, nums, tdir):
    """Two writers racing for the same version: rename-as-claim means
    one wins v1, the loser retries and lands v2 — no lost update, no
    torn manifest."""
    T.write_table(nums.where("k < 100"), tdir, "create")
    errs = []

    def appender(lo, hi):
        try:
            T.write_table(
                nums.where(f"k >= {lo} AND k < {hi}"), tdir, "append"
            )
        except Exception as e:  # pragma: no cover - diagnostic
            errs.append(e)

    t1 = threading.Thread(target=appender, args=(100, 200))
    t2 = threading.Thread(target=appender, args=(200, 300))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    assert T.current_version(spark, tdir) == 2
    assert T.read_table(spark, tdir).count() == 300


def test_snapshot_isolation_under_append(spark, nums, tdir):
    """A frame resolved before an append keeps reading the old
    snapshot — the resolved file list is immutable."""
    T.write_table(nums.where("k < 100"), tdir, "create")
    before = T.read_table(spark, tdir)
    T.write_table(nums.where("k >= 100 AND k < 200"), tdir, "append")
    assert before.count() == 100
    assert T.read_table(spark, tdir).count() == 200


def test_props_ledger_and_idempotent_ingest(spark, nums, tdir):
    """write_table props land in the manifest and committed_props
    reads them back; ingest_snap_batch skips a redelivered batch id
    without staging anything (exactly-once under at-least-once
    delivery)."""
    from geniepool_etl_spark.streaming import ingest_snap_batch

    ingest_snap_batch(nums.where("k < 100"), 0, tdir)
    ingest_snap_batch(nums.where("k >= 100 AND k < 200"), 1, tdir)
    assert T.committed_props(spark, tdir, "batch_id") == {0, 1}
    assert T.read_table(spark, tdir).count() == 200
    # redelivery: same batch id, even with different rows, is a no-op
    ingest_snap_batch(nums.where("k >= 500"), 1, tdir)
    assert T.current_version(spark, tdir) == 1
    assert T.read_table(spark, tdir).count() == 200
    # fast path: the head manifest carries the CUMULATIVE ledger
    assert T.head_props(spark, tdir)["batch_ledger"] == [0, 1]
    # a foreign commit (compact) at head drops the ledger from the
    # fast path; the per-manifest batch_id walk must still recover it
    T.compact(spark, tdir, target_files=1)
    assert "batch_ledger" not in T.head_props(spark, tdir)
    from geniepool_etl_spark.streaming import committed_snap_batches

    assert committed_snap_batches(spark, tdir) == {0, 1}
    # and the next ingest re-seeds the rolling ledger at head
    ingest_snap_batch(nums.where("k >= 200 AND k < 210"), 2, tdir)
    assert T.head_props(spark, tdir)["batch_ledger"] == [0, 1, 2]


def test_vacuum_never_touches_kept_versions(spark, nums, tdir):
    T.write_table(nums.where("k < 100"), tdir, "create")
    T.write_table(nums.where("k >= 100 AND k < 200"), tdir, "append")
    T.write_table(nums.where("k < 50"), tdir, "overwrite")
    deleted = T.vacuum(spark, tdir, keep_versions=2, min_age_seconds=0)
    # v0-only files are exactly the overwritten ones still referenced
    # by v1 — nothing v1/v2 reference may go
    assert T.read_table(spark, tdir, 1).count() == 200
    assert T.read_table(spark, tdir, 2).count() == 50
    assert deleted == 0  # v0's files are all still referenced by v1
    T.write_table(nums.where("k < 10"), tdir, "overwrite")
    assert T.vacuum(spark, tdir, keep_versions=1, min_age_seconds=0) > 0
    assert T.read_table(spark, tdir).count() == 10


def test_prune_by_stats_edges():
    """Shared pruning helper: files without stats (or with null
    bounds) are conservatively kept; an empty probe set (lo=None)
    prunes everything; boundary touches are kept."""
    files = [
        {"path": "a", "stats": {"k": [0, 10]}},
        {"path": "b", "stats": {"k": [11, 20]}},
        {"path": "c"},  # no stats: must survive any range
        {"path": "d", "stats": {"k": [None, None]}},
    ]
    kept = [f["path"] for f in T._prune_by_stats(files, "k", 5, 10)]
    assert kept == ["a", "c", "d"]
    kept = [f["path"] for f in T._prune_by_stats(files, "k", 10, 11)]
    assert kept == ["a", "b", "c", "d"]  # boundary touch both sides
    assert T._prune_by_stats(files, "k", None, None) == []
    kept = [f["path"] for f in T._prune_by_stats(files, "k", 21, 99)]
    assert kept == ["c", "d"]


def test_merge_probe_prunes_by_key_stats(spark, nums, tdir):
    """A needle merge on a range-clustered keyed table must not scan
    the whole table for its probe: with the key in stats_cols and
    updates confined to one file's key range, the probe file set is a
    strict subset (observed via the pruning helper on the live
    manifest), and the merge result is still exact."""
    T.write_table(
        nums.repartitionByRange(4, "k").sortWithinPartitions("k"),
        tdir,
        "create",
        stats_cols=("k",),
    )
    m = _manifest(tdir, 0)
    probe = T._prune_by_stats(m["files"], "k", 10, 20)
    assert 0 < len(probe) < len(m["files"])
    upd = nums.where("k BETWEEN 10 AND 20").withColumn(
        "v", F.col("v") + 1000
    )
    T.merge_table(spark, tdir, upd, ["k"])
    got = {r.k: r.v for r in T.read_table(spark, tdir).collect()}
    assert got[15] == (15 * 7 % 13) + 1000
    assert got[999] == (999 * 7 % 13)


def test_delete_where_keeps_null_predicate_rows(spark, tdir):
    """SQL DELETE semantics: rows where the predicate evaluates NULL
    are NOT deleted — a bare NOT(pred) survivor filter would silently
    drop them from the rewritten file (data loss)."""
    rows = spark.createDataFrame(
        [(1, 5), (2, None), (3, 7), (4, None), (5, 5)],
        "k LONG, v LONG",
    )
    T.write_table(rows, tdir, "create")
    T.delete_where(spark, tdir, "v = 5")
    got = sorted((r.k, r.v) for r in T.read_table(spark, tdir).collect())
    assert got == [(2, None), (3, 7), (4, None)]


def test_vacuum_rejects_zero_retention(spark, nums, tdir):
    T.write_table(nums.limit(5), tdir, "create")
    with pytest.raises(ValueError, match="keep_versions"):
        T.vacuum(spark, tdir, keep_versions=0)


def test_prune_mixed_type_stats_kept_conservatively():
    """Stats serialized as strings (date/decimal via default=str) must
    never be compared against a typed bound as if ordered — pruning is
    an optimization, so the file is kept."""
    files = [{"path": "a", "stats": {"d": ["2024-01-01", "2024-02-01"]}}]
    assert T._prune_by_stats(files, "d", 5, 10) == files


def test_concurrent_create_single_winner(spark, nums, tdir):
    """Two writers racing to CREATE the same table: exactly one wins;
    the loser gets a conflict error instead of silently shadowing the
    winner's data under version 1."""
    results = []

    def creator(lo, hi):
        try:
            T.write_table(
                nums.where(f"k >= {lo} AND k < {hi}"), tdir, "create"
            )
            results.append("ok")
        except ValueError as e:
            results.append(str(e))

    t1 = threading.Thread(target=creator, args=(0, 100))
    t2 = threading.Thread(target=creator, args=(100, 300))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert sorted(r == "ok" for r in results) == [False, True]
    assert T.current_version(spark, tdir) == 0
    assert T.read_table(spark, tdir).count() in (100, 200)


def test_merge_rejects_null_keys(spark, tdir):
    base = spark.createDataFrame([(1, 0), (5, 0)], "k LONG, v LONG")
    T.write_table(base, tdir, "create")
    upd = spark.createDataFrame([(None, 1), (5, 2)], "k LONG, v LONG")
    with pytest.raises(ValueError, match="NULL"):
        T.merge_table(spark, tdir, upd, ["k"])


def test_read_changes_rejects_unknown_to_version(spark, nums, tdir):
    T.write_table(nums, tdir, "create")
    with pytest.raises(ValueError, match="to_version"):
        T.read_changes(spark, tdir, 0, to_version=99)


def test_bloom_pruning_beats_stats_on_hash_layout(spark, nums, tdir):
    """Hash-clustered files all span the full key range (stats prune
    nothing); the per-file bloom bitsets must cut a point lookup to a
    strict subset, the lookup must stay exact, and a present-nowhere
    in-range key must prune to zero files (no false 'all set' under
    this load factor)."""
    evens = spark.range(0, 1000).select(
        (F.col("id") * 2).alias("k"), (F.col("id") % 13).alias("v")
    )
    T.write_table(
        evens.repartition(8, "k"), tdir, "create",
        stats_cols=("k",), bloom_cols=("k",),
    )
    total, after_stats, after_bloom = T.point_scan_stats(
        spark, tdir, "k", 500
    )
    assert total == 8 and after_stats == 8
    assert after_bloom < after_stats
    got = T.read_point(spark, tdir, "k", 500).collect()
    assert [(r.k, r.v) for r in got] == [(500, 250 % 13)]
    # 999 is odd: in no file, but inside the global [0, 1998] range,
    # so only the bloom layer can reject it
    t2, s2, b2 = T.point_scan_stats(spark, tdir, "k", 999)
    assert s2 == 8 and b2 == 0
    assert T.read_point(spark, tdir, "k", 999).count() == 0


def test_bloom_contract_inherited_on_append(spark, nums, tdir):
    """Appends must inherit the table's bloom contract (cols, m, k)
    the way they inherit stats_cols — appended files stay point-
    prunable without the caller re-stating the table's physics."""
    T.write_table(
        nums.where("k < 500").repartition(4, "k"), tdir, "create",
        bloom_cols=("k",), bloom_bits=4096, bloom_hashes=3,
    )
    T.write_table(
        nums.where("k >= 500").repartition(4, "k"), tdir, "append"
    )
    m = _manifest(tdir, 1)
    assert m["bloom_cols"] == ["k"]
    assert m["bloom_bits"] == 4096 and m["bloom_hashes"] == 3
    assert all("bloom" in f and "k" in f["bloom"] for f in m["files"])
    # lookups discriminate across both commits
    for probe in (100, 900):
        got = T.read_point(spark, tdir, "k", probe).collect()
        assert [(r.k, r.v) for r in got] == [(probe, probe * 7 % 13)]
        _, _, nb = T.point_scan_stats(spark, tdir, "k", probe)
        assert nb < 8


def test_bloomless_files_kept_conservatively(spark, nums, tdir):
    """Files committed before a bloom existed (or rewritten by paths
    that don't rebuild blooms) have no bitset — the pruner must KEEP
    them: pruning is an optimization, never a filter."""
    T.write_table(nums.repartition(3, "k"), tdir, "create")
    assert T.point_scan_stats(spark, tdir, "k", 7) == (3, 3, 3)
    assert T.read_point(spark, tdir, "k", 7).count() == 1


def test_schema_evolution_add_column(spark, nums, tdir):
    """evolve_schema=True appends a superset schema without touching
    old files: head reads null-fill the new column for v0 rows, time
    travel to v0 keeps the original 2-column schema, and the v0 data
    files are byte-identical (referenced, not rewritten)."""
    T.write_table(nums.where("k < 500"), tdir, "create")
    v0_files = {f["path"] for f in _manifest(tdir, 0)["files"]}
    wide = nums.where("k >= 500").withColumn(
        "extra", F.col("k") * 10
    )
    T.write_table(wide, tdir, "append", evolve_schema=True)
    head = T.read_table(spark, tdir)
    assert [f.name for f in head.schema.fields] == ["k", "v", "extra"]
    assert head.count() == 1000
    assert head.where("extra IS NULL").count() == 500
    assert head.where("extra = k * 10").count() == 500
    assert [f.name for f in T.read_table(spark, tdir, 0).schema.fields] == [
        "k", "v",
    ]
    assert v0_files <= {f["path"] for f in _manifest(tdir, 1)["files"]}


def test_schema_evolution_rejections(spark, nums, tdir):
    """Without the flag a widened append still fails loud; with the
    flag, drops and type changes are still rejected — only pure
    add-column evolutions pass."""
    T.write_table(nums, tdir, "create")
    wide = nums.withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="evolve_schema"):
        T.write_table(wide, tdir, "append")
    dropped = nums.select("k")
    with pytest.raises(ValueError):
        T.write_table(dropped, tdir, "append", evolve_schema=True)
    retyped = nums.select(
        F.col("k").cast("int").alias("k"), "v"
    )
    with pytest.raises(ValueError):
        T.write_table(retyped, tdir, "append", evolve_schema=True)


@pytest.fixture(scope="module")
def pnums(spark):
    """Keyed rows with a low-cardinality partition column."""
    return spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("p"),
        (F.col("id") * 3).alias("v"),
    )


def test_partitioned_roundtrip_schema_and_values(spark, pnums, tdir):
    """Partitioned create+append reads back with the DECLARED column
    order and dtypes (partition values come from dir names but cast
    under the manifest schema — no string/int inference drift)."""
    T.write_table(
        pnums.where("k < 200"), tdir, "create", partition_by=("p",)
    )
    T.write_table(pnums.where("k >= 200"), tdir, "append")
    back = T.read_table(spark, tdir)
    # nullability legitimately flips on the parquet roundtrip — names,
    # dtypes and ORDER are the contract (partition cols must not drift
    # to the end the way a raw partitioned scan surfaces them)
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in pnums.schema.fields
    ]
    assert sorted((r.k, r.p, r.v) for r in back.collect()) == sorted(
        (r.k, r.p, r.v) for r in pnums.collect()
    )


def test_partition_pruning_skips_files_driver_side(spark, pnums, tdir):
    T.write_table(pnums, tdir, "create", partition_by=("p",), target_files=1)
    total, scanned = T.partition_scan_stats(spark, tdir, {"p": 2})
    assert total == 4 and scanned == 1
    got = T.read_partition(spark, tdir, {"p": 2})
    assert got.count() == 100
    assert {r.p for r in got.select("p").distinct().collect()} == {2}


def test_partition_layout_survives_delete_merge_compact(spark, pnums, tdir):
    """Every copy-on-write rewrite inherits the partition spec: the
    rewritten files land hive-partitioned and stay prunable."""
    T.write_table(pnums, tdir, "create", partition_by=("p",), target_files=1)
    T.delete_where(spark, tdir, "p = 1 AND k < 50")
    T.merge_table(
        spark,
        tdir,
        pnums.where("k % 97 = 0").withColumn("v", F.col("v") + 1),
        ["k"],
    )
    T.compact(spark, tdir, target_files=1)
    m = _manifest(tdir, T.current_version(spark, tdir))
    assert m["partition_by"] == ["p"]
    assert all("partition" in f for f in m["files"])
    total, scanned = T.partition_scan_stats(spark, tdir, {"p": 3})
    assert scanned < total
    back = T.read_partition(spark, tdir, {"p": 3})
    assert back.count() == 100  # p=3 untouched by the delete


def test_partition_append_inherits_spec_and_prunes_new_files(
    spark, pnums, tdir
):
    T.write_table(
        pnums.where("k < 100"), tdir, "create", partition_by=("p",),
        target_files=1,
    )
    T.write_table(pnums.where("k >= 100"), tdir, "append", target_files=1)
    m = _manifest(tdir, 1)
    assert m["partition_by"] == ["p"]
    assert all(f["partition"]["p"] in (0, 1, 2, 3) for f in m["files"])
    total, scanned = T.partition_scan_stats(spark, tdir, {"p": 0})
    assert total == 8 and scanned == 2  # one file per commit


def test_partition_by_missing_column_rejected(spark, pnums, tdir):
    with pytest.raises(ValueError, match="partition_by"):
        T.write_table(pnums, tdir, "create", partition_by=("nope",))


def test_apply_cdc_upsert_delete_insert_one_pass(spark, pnums, tdir):
    """One CDC batch: update k=10, delete k=11, insert k=1000; only
    files holding a changed key rewrite (by-reference carryover)."""
    T.write_table(
        pnums.repartitionByRange(4, "k"), tdir, "create",
        stats_cols=("k",),
    )
    changes = spark.createDataFrame(
        [
            (10, 2, 999, "upsert"),
            (11, 3, 0, "delete"),
            (1000, 0, 3000, "upsert"),
        ],
        "k long, p long, v long, _op string",
    )
    v = T.apply_cdc(spark, tdir, changes, ["k"])
    back = {r.k: r.v for r in T.read_table(spark, tdir).collect()}
    assert back[10] == 999
    assert 11 not in back
    assert back[1000] == 3000
    assert len(back) == 400  # 400 - 1 delete + 1 insert
    # CoW by reference: untouched files carried verbatim
    f_old = {f["path"] for f in _manifest(tdir, 0)["files"]}
    f_new = {f["path"] for f in _manifest(tdir, v)["files"]}
    assert f_old & f_new, "no files carried over — full rewrite?"


def test_apply_cdc_validation_rejects(spark, pnums, tdir):
    T.write_table(pnums, tdir, "create")
    bad_op = spark.createDataFrame(
        [(1, 1, 1, "replace")], "k long, p long, v long, _op string"
    )
    with pytest.raises(ValueError, match="_op"):
        T.apply_cdc(spark, tdir, bad_op, ["k"])
    # a NULL op is no op at all: refused, not read as a silent delete
    null_op = spark.createDataFrame(
        [(1, 1, 1, None)], "k long, p long, v long, _op string"
    )
    with pytest.raises(ValueError, match="_op"):
        T.apply_cdc(spark, tdir, null_op, ["k"])
    dup = spark.createDataFrame(
        [(1, 1, 1, "upsert"), (1, 1, 2, "delete")],
        "k long, p long, v long, _op string",
    )
    with pytest.raises(ValueError, match="duplicate key"):
        T.apply_cdc(spark, tdir, dup, ["k"])
    nullk = spark.createDataFrame(
        [(None, 1, 1, "upsert")], "k long, p long, v long, _op string"
    )
    with pytest.raises(ValueError, match="NULL"):
        T.apply_cdc(spark, tdir, nullk, ["k"])
    badcols = spark.createDataFrame([(1, "upsert")], "k long, _op string")
    with pytest.raises(ValueError, match="columns"):
        T.apply_cdc(spark, tdir, badcols, ["k"])
    assert T.current_version(spark, tdir) == 0


def test_apply_cdc_delete_all_leaves_empty_readable_table(spark, tdir):
    small = spark.range(0, 5).select(F.col("id").alias("k"))
    T.write_table(small, tdir, "create")
    changes = small.withColumn("_op", F.lit("delete"))
    T.apply_cdc(spark, tdir, changes, ["k"])
    back = T.read_table(spark, tdir)
    assert back.count() == 0
    assert back.schema == small.schema


def test_compact_sort_by_enables_pruning_and_preserves_rows(
    spark, nums, tdir
):
    """OPTIMIZE-style re-cluster: hash-scattered files have inert
    stats pruning; compact(sort_by) makes a narrow range read skip
    files, with the row multiset unchanged and partitioned layouts
    preserved."""
    T.write_table(
        nums.repartition(6), tdir, "create", stats_cols=("k",)
    )
    before = sorted((r.k, r.v) for r in T.read_table(spark, tdir).collect())
    t0, s0 = T.scan_stats(spark, tdir, "k", 100, 150)
    assert s0 == t0  # every file spans the range
    T.compact(spark, tdir, target_files=6, sort_by=("k",))
    t1, s1 = T.scan_stats(spark, tdir, "k", 100, 150)
    assert s1 < t1
    after = sorted((r.k, r.v) for r in T.read_table(spark, tdir).collect())
    assert after == before


def test_as_of_timestamp_and_meta_count(spark, nums, tdir):
    """Commit stamps ride the manifest: resolve_as_of picks the
    version in effect at a wall-clock probe (Delta timestampAsOf
    rule), and meta_row_count answers count(*) from metadata alone
    at any version."""
    T.write_table(nums.where("k < 300"), tdir, "create")
    ts0 = _manifest(tdir, 0)["ts_ms"]
    T.write_table(nums.where("k >= 300"), tdir, "append")
    ts1 = _manifest(tdir, 1)["ts_ms"]
    assert T.resolve_as_of(spark, tdir, ts0) == 0
    assert T.resolve_as_of(spark, tdir, ts1 + 10_000) == 1
    with pytest.raises(ValueError, match="no version"):
        T.resolve_as_of(spark, tdir, ts0 - 10_000)
    v = T.resolve_as_of(spark, tdir, ts0)
    assert T.read_table(spark, tdir, version=v).count() == 300
    assert T.meta_row_count(spark, tdir, version=0) == 300
    assert T.meta_row_count(spark, tdir) == 1000
    T.delete_where(spark, tdir, "k BETWEEN 0 AND 9")
    assert T.meta_row_count(spark, tdir) == 990


def test_hidden_partitioning_bucket_and_truncate(spark, nums, tdir):
    """Iceberg-style hidden transforms: the table partitions on a
    DERIVED value (bucket/truncate) while queries keep filtering the
    RAW column; leaf files keep every data column, pruning maps the
    probe through the same transform, and reads need no basePath."""
    T.write_table(
        nums, tdir, "create",
        partition_by=("bucket(8,k)",), target_files=1,
    )
    total, scanned = T.partition_scan_stats(spark, tdir, {"k": 123})
    assert total == 8 and scanned == 1
    got = T.read_partition(spark, tdir, {"k": 123}).collect()
    assert [(r.k, r.v) for r in got] == [(123, 123 * 7 % 13)]
    back = T.read_table(spark, tdir)
    assert back.columns == ["k", "v"]  # derived col never surfaces
    assert back.count() == 1000


def test_hidden_partitioning_truncate_and_month(spark, tdir):
    from datetime import datetime

    rows = [
        (1, 17, datetime(2024, 1, 5)),
        (2, 23, datetime(2024, 1, 28)),
        (3, 91, datetime(2024, 3, 2)),
        (4, -7, datetime(2023, 12, 31)),  # negative truncate bin
    ]
    df = spark.createDataFrame(rows, "id long, amt long, ts timestamp")
    T.write_table(
        df, tdir, "create",
        partition_by=("truncate(10,amt)", "month(ts)"), target_files=1,
    )
    # amt=17 and amt=23 share no bin; -7 floors to bin -10
    t, s = T.partition_scan_stats(spark, tdir, {"amt": 17})
    assert s == 1 and t == 4
    got = T.read_partition(spark, tdir, {"amt": -7}).collect()
    assert [r.id for r in got] == [4]
    # month probe: January 2024 holds ids 1 and 2
    t, s = T.partition_scan_stats(spark, tdir, {"ts": datetime(2024, 1, 5)})
    assert s == 2
    # mixed identity+transform specs are rejected
    with pytest.raises(ValueError, match="mixing"):
        T.write_table(
            df, str(tdir) + "_mix", "create",
            partition_by=("amt", "month(ts)"),
        )


def test_hidden_partitioning_survives_cow(spark, nums, tdir):
    T.write_table(
        nums, tdir, "create",
        partition_by=("bucket(4,k)",), target_files=1,
    )
    T.delete_where(spark, tdir, "k = 5")
    T.compact(spark, tdir, target_files=2)
    m = _manifest(tdir, T.current_version(spark, tdir))
    assert m["partition_by"] == ["bucket(4,k)"]
    assert all("partition" in f for f in m["files"])
    total, scanned = T.partition_scan_stats(spark, tdir, {"k": 77})
    assert scanned < total
    assert T.read_table(spark, tdir).count() == 999


def test_vacuum_preserves_partitioned_live_data(spark, pnums, tdir):
    """Regression: vacuum must walk hive col=value subdirectories —
    a flat listing saw zero top-level parquets and deleted the whole
    still-referenced token dir as crash debris."""
    T.write_table(pnums, tdir, "create", partition_by=("p",), target_files=1)
    T.write_table(
        pnums.select("k", "p", (F.col("v") + 1).alias("v")),
        tdir, "overwrite",
    )
    deleted = T.vacuum(spark, tdir, keep_versions=2, min_age_seconds=0)
    assert deleted == 0
    assert T.read_table(spark, tdir, version=0).count() == 400
    # now expire v0: its 4 partition leaves (one shared token dir)
    T.vacuum(spark, tdir, keep_versions=1, min_age_seconds=0)
    assert T.read_table(spark, tdir).count() == 400
    with pytest.raises(ValueError, match="not in"):
        T.read_table(spark, tdir, version=0)


def test_bloom_and_cow_keys_survive_basename_collisions(spark, pnums, tdir):
    """Regression: partitionBy reuses ONE basename across every
    col=value dir a task writes; bloom bitsets and CoW hit sets must
    key on the table-relative path or they conflate sibling files."""
    T.write_table(
        pnums, tdir, "create",
        partition_by=("p",), bloom_cols=("k",), target_files=1,
    )
    m = _manifest(tdir, 0)
    assert len(m["files"]) == 4
    import os as _os
    basenames = {_os.path.basename(f["path"]) for f in m["files"]}
    assert len(basenames) == 1, "fixture no longer collides — rework test"
    # every file must carry its OWN bloom (4 distinct bitsets for a
    # 100-value partition each — identical would mean conflation)
    bitsets = [f["bloom"]["k"] for f in m["files"]]
    assert len(set(bitsets)) == 4
    # point lookups in EVERY partition find their rows
    for k in (0, 1, 2, 3, 123, 250, 399):
        got = T.read_point(spark, tdir, "k", k).collect()
        assert [r.k for r in got] == [k], f"k={k} lost to a wrong bloom"
    # CoW delete touches exactly one partition's file
    T.delete_where(spark, tdir, "k = 123")  # k=123 -> p=3
    f0 = {f["path"] for f in _manifest(tdir, 0)["files"]}
    f1 = {f["path"] for f in _manifest(tdir, 1)["files"]}
    assert len(f0 & f1) == 3  # 3 of 4 carried by reference


def test_commit_timestamps_strictly_monotonic(spark, nums, tdir):
    """Back-to-back commits land microseconds apart; ts_ms must still
    be strictly increasing (the Delta commit-timestamp adjustment)."""
    T.write_table(nums.where("k < 10"), tdir, "create")
    for _ in range(3):
        T.write_table(nums.where("k < 10"), tdir, "overwrite")
    stamps = [
        _manifest(tdir, v)["ts_ms"]
        for v in range(T.current_version(spark, tdir) + 1)
    ]
    assert stamps == sorted(stamps)
    assert len(set(stamps)) == len(stamps)


def test_partition_values_with_spaces_and_escapes(spark, tdir):
    """Regression (review repro): input_file_name() returns
    URL-ENCODED URIs, so identity partition values containing spaces
    or hive-escaped characters used to land encoded in the manifest —
    reads chased 'city=new%20york' while disk had 'city=new york',
    and vacuum reclaimed the LIVE token dir as wholly unreferenced.
    Manifests now record fs-real paths: write/read/delete/vacuum all
    work on a space-and-colon-bearing partition value."""
    rows = [(1, "new york"), (2, "new york"), (3, "a:b"), (4, "plain")]
    df = spark.createDataFrame(rows, "k long, city string")
    T.write_table(df, tdir, "create", partition_by=("city",), target_files=1)
    back = T.read_table(spark, tdir)
    assert sorted((r.k, r.city) for r in back.collect()) == sorted(rows)
    got = T.read_partition(spark, tdir, {"city": "new york"})
    assert sorted(r.k for r in got.collect()) == [1, 2]
    t, s = T.partition_scan_stats(spark, tdir, {"city": "a:b"})
    assert s == 1 and t == 3
    # CoW delete touches only the matching partition's file
    T.delete_where(spark, tdir, "k = 1")
    assert T.read_table(spark, tdir).count() == 3
    f0 = {f["path"] for f in _manifest(tdir, 0)["files"]}
    f1 = {f["path"] for f in _manifest(tdir, 1)["files"]}
    assert len(f0 & f1) == 2
    # vacuum must keep every referenced file
    deleted = T.vacuum(spark, tdir, keep_versions=2, min_age_seconds=0)
    assert deleted == 0
    assert T.read_table(spark, tdir).count() == 3
    T.vacuum(spark, tdir, keep_versions=1, min_age_seconds=0)
    assert sorted(r.k for r in T.read_table(spark, tdir).collect()) == [2, 3, 4]


def test_vacuum_never_deletes_manifests_above_observed_head(
    spark, nums, tdir, monkeypatch
):
    """Regression (advisor finding): vacuum snapshotted the version
    list at entry and deleted every numbered manifest 'not in
    kept_vs' — a commit landing AFTER that listing has a version
    above the observed head, so its just-committed manifest was
    reclaimed regardless of age, destroying the newest version. The
    log cleanup must only truncate history strictly BELOW the kept
    window's floor."""
    T.write_table(nums.where("k < 300"), tdir, "create")       # v0
    T.write_table(nums.where("k BETWEEN 300 AND 599"), tdir, "append")  # v1
    T.write_table(nums.where("k >= 600"), tdir, "append")      # v2
    # Simulate the race: vacuum's listing ran before v2 landed.
    real_versions = T._versions
    monkeypatch.setattr(
        T, "_versions", lambda fs, P, p: real_versions(fs, P, p)[:-1]
    )
    T.vacuum(spark, tdir, keep_versions=1)  # kept_vs == [1] in its view
    monkeypatch.setattr(T, "_versions", real_versions)
    # v2 (the concurrent commit) must survive: manifest intact, head
    # readable with all 1000 rows; v0 was legitimately truncated.
    assert T.current_version(spark, tdir) == 2
    assert T.read_table(spark, tdir).count() == 1000
    assert not os.path.exists(
        os.path.join(tdir, "_snaplog", f"{0:08d}.json")
    )


def test_rewrites_carry_bloom_contract(spark, tdir):
    """Regression (advisor finding): delete/merge/CDC/compact built
    their manifests without bloom_cols — one rewrite silently and
    permanently disabled point-lookup pruning for the table (appends
    inherit the head's contract, so the loss propagated). Rewrites
    must carry the declaration AND stage fresh bitsets for the
    rewritten files."""
    evens = spark.range(0, 1000).select(
        (F.col("id") * 2).alias("k"), (F.col("id") % 13).alias("v")
    )
    T.write_table(
        evens.repartition(8, "k"), tdir, "create",
        stats_cols=("k",), bloom_cols=("k",),
        bloom_bits=4096, bloom_hashes=3,
    )
    T.delete_where(spark, tdir, "k = 0")                        # v1
    # built from range exprs so nullability matches the table schema
    # (modulo makes v nullable, same as the table's `id % 13`)
    upd = spark.range(1).select(
        (F.col("id") * 2 + 2).alias("k"),
        (F.col("id") % 13 + 99).alias("v"),
    )
    T.merge_table(spark, tdir, upd, ["k"])                      # v2
    cdc = spark.range(2, 4).select(
        (F.col("id") * 2).alias("k"),
        (F.col("id") * 22).alias("v"),
        F.when(F.col("id") == 2, "upsert").otherwise("delete").alias("_op"),
    )
    T.apply_cdc(spark, tdir, cdc, ["k"])                        # v3
    T.compact(spark, tdir, target_files=4, sort_by=("k",))      # v4
    for v in (1, 2, 3, 4):
        m = _manifest(tdir, v)
        assert m["bloom_cols"] == ["k"], f"v{v} lost bloom_cols"
        assert m["bloom_bits"] == 4096 and m["bloom_hashes"] == 3
        assert all("bloom" in f and "k" in f["bloom"] for f in m["files"])
    # pruning still discriminates and lookups stay exact at head
    total, _s, nb = T.point_scan_stats(spark, tdir, "k", 500)
    assert nb < total
    got = T.read_point(spark, tdir, "k", 500).collect()
    assert [(r.k, r.v) for r in got] == [(500, 250 % 13)]
    assert T.read_point(spark, tdir, "k", 6).count() == 0  # CDC delete
    assert [r.v for r in T.read_point(spark, tdir, "k", 2).collect()] == [99]
    # an append AFTER the rewrites still inherits the live contract
    T.write_table(
        spark.range(0, 5).select(
            (F.col("id") * 2 + 2000).alias("k"),
            (F.col("id") % 13 * 0).alias("v"),
        ).repartition(1),
        tdir,
        "append",
    )
    m5 = _manifest(tdir, 5)
    assert m5["bloom_cols"] == ["k"]
    assert all("bloom" in f for f in m5["files"])


def test_vacuum_inflight_partitioned_staging_protected(spark, nums, tdir):
    """Regression (advisor finding): the in-flight-write guard for
    wholly-unreferenced token dirs checked only the TOP-LEVEL dir's
    mtime; partitioned staging lands leaves in col=value subdirs, so
    a still-writing job whose top-level stamp aged out could have its
    data reclaimed mid-flight. The guard must use the newest mtime
    across the dir's recursive contents."""
    import time

    T.write_table(nums, tdir, "create")
    staging = os.path.join(tdir, "data", "token-inflight", "p=1")
    os.makedirs(staging)
    leaf = os.path.join(staging, "part-000.parquet")
    with open(leaf, "wb") as fh:
        fh.write(b"x")  # placeholder leaf; content never read
    # age the top-level token dir and the subdir, keep the LEAF fresh
    old = time.time() - 7200
    os.utime(os.path.join(tdir, "data", "token-inflight"), (old, old))
    os.utime(staging, (old, old))
    T.vacuum(spark, tdir, keep_versions=1, min_age_seconds=3600)
    assert os.path.exists(leaf), "in-flight staged leaf was reclaimed"
    # once EVERYTHING is past retention it is crash debris: reclaim
    os.utime(leaf, (old, old))
    os.utime(staging, (old, old))
    os.utime(os.path.join(tdir, "data", "token-inflight"), (old, old))
    T.vacuum(spark, tdir, keep_versions=1, min_age_seconds=3600)
    assert not os.path.exists(os.path.join(tdir, "data", "token-inflight"))


def test_snap_manifest_scale_distributed_pruning(spark, tdir, monkeypatch):
    """A manifest past _MANIFEST_INLINE_MAX must plan its pruned reads
    DISTRIBUTED: file entries prune executor-side, the driver collects
    only survivors, and the driver-side json parse (_read_text) is
    never invoked for the big manifest (at 10^6 files that parse is a
    driver-memory cliff — r8 verdict ask #4). Counts and row results
    must match what the inline pruners would compute."""
    evens = spark.range(0, 400).select(
        (F.col("id") * 2).alias("k"), (F.col("id") % 13).alias("v")
    )
    T.write_table(
        evens.repartitionByRange(4, "k").sortWithinPartitions("k"),
        tdir, "create", stats_cols=("k",), bloom_cols=("k",),
        bloom_bits=4096, bloom_hashes=3,
    )
    mpath = os.path.join(tdir, "_snaplog", f"{0:08d}.json")
    with open(mpath) as fh:
        m = json.load(fh)
    real = len(m["files"])
    # inflate with 50k fake entries whose stats exclude every probe
    # below (k >= 10^6) and whose bloom has no bits set — all pruned
    zero_bloom = "0" * (4096 // 4)
    for i in range(50_000):
        m["files"].append(
            {
                "path": f"data/fake/part-{i:05d}.parquet",
                "rows": 1,
                "stats": {"k": [1_000_000 + i, 1_000_000 + i]},
                "bloom": {"k": zero_bloom},
            }
        )
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    # the original commit went through hadoop's checksummed local fs;
    # this raw rewrite must drop the stale .crc sidecar or the JVM
    # read path rejects the (deliberately) doctored manifest
    crc = os.path.join(tdir, "_snaplog", f".{0:08d}.json.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert os.path.getsize(mpath) > T._MANIFEST_INLINE_MAX
    # any driver-side parse of the big manifest is the bug
    real_read_text = T._read_text

    def guarded(spark_, fs, jpath):
        if str(jpath).endswith(f"{0:08d}.json"):
            raise AssertionError(
                "pruned read drove the big manifest through the "
                "driver-side json parse"
            )
        return real_read_text(spark_, fs, jpath)

    monkeypatch.setattr(T, "_read_text", guarded)
    total, scanned = T.scan_stats(spark, tdir, "k", 100, 120)
    assert total == real + 50_000
    assert scanned == 1  # one real range-clustered file; fakes pruned
    got = sorted(r.k for r in T.read_range(spark, tdir, "k", 100, 120).collect())
    assert got == list(range(100, 121, 2))
    # point path: stats prune the fakes, bloom discriminates the reals
    t_, s_, b_ = T.point_scan_stats(spark, tdir, "k", 500)
    assert t_ == real + 50_000 and s_ == 1 and b_ == 1
    assert [(r.k, r.v) for r in T.read_point(spark, tdir, "k", 500).collect()] == [
        (500, 250 % 13)
    ]
    # a bloom miss inside the stats range prunes to zero files
    t2, s2, b2 = T.point_scan_stats(spark, tdir, "k", 501)
    assert s2 >= 1 and b2 == 0


def test_snap_manifest_scale_distributed_partition_pruning(
    spark, tdir, monkeypatch
):
    """The partition-pruned read and its stats, planned DISTRIBUTED
    past _MANIFEST_INLINE_MAX: fake entries in other partitions prune
    executor-side, counts and rows match the inline rule, and the big
    manifest never goes through the driver-side json parse."""
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    T.write_table(df, tdir, "create", target_files=1, partition_by=("g",))
    total0, kept0 = T.partition_scan_stats(spark, tdir, {"g": 1})
    mpath = os.path.join(tdir, "_snaplog", f"{0:08d}.json")
    with open(mpath) as fh:
        m = json.load(fh)
    real = len(m["files"])
    assert (total0, kept0) == (real, 1)
    # 60k fake entries, all in partitions no probe below asks for
    for i in range(60_000):
        m["files"].append(
            {
                "path": f"data/fake/g={3 + i}/part-{i:05d}.parquet",
                "rows": 1,
                "partition": {"g": 3 + i},
            }
        )
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    crc = os.path.join(tdir, "_snaplog", f".{0:08d}.json.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert os.path.getsize(mpath) > T._MANIFEST_INLINE_MAX
    real_read_text = T._read_text

    def guarded(spark_, fs, jpath):
        if str(jpath).endswith(f"{0:08d}.json"):
            raise AssertionError(
                "partition-pruned read drove the big manifest through "
                "the driver-side json parse"
            )
        return real_read_text(spark_, fs, jpath)

    monkeypatch.setattr(T, "_read_text", guarded)
    assert T.partition_scan_stats(spark, tdir, {"g": 1}) == (
        real + 60_000, 1
    )
    got = T.read_partition(spark, tdir, {"g": 1}).collect()
    assert sorted(r.k for r in got) == list(range(1, 300, 3))
    assert T.partition_scan_stats(spark, tdir, {"g": -1}) == (
        real + 60_000, 0
    )


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


if _HYP:
    _CDC_OPS = st.lists(
        st.one_of(
            st.tuples(
                st.just("append"),
                st.lists(
                    st.tuples(
                        st.integers(min_value=100, max_value=140),
                        st.integers(min_value=0, max_value=9),
                    ),
                    min_size=0,
                    max_size=5,
                    unique_by=lambda t: t[0],
                ),
            ),
            st.tuples(
                st.just("merge"),
                st.lists(
                    st.tuples(
                        st.integers(min_value=0, max_value=60),
                        st.integers(min_value=50, max_value=59),
                    ),
                    min_size=1,
                    max_size=6,
                    unique_by=lambda t: t[0],
                ),
            ),
            st.tuples(
                st.just("cdc"),
                st.lists(
                    st.tuples(
                        st.integers(min_value=0, max_value=150),
                        st.integers(min_value=60, max_value=69),
                        st.booleans(),
                    ),
                    min_size=1,
                    max_size=6,
                    unique_by=lambda t: t[0],
                ),
            ),
            st.tuples(st.just("delete"), st.integers(0, 9)),
            st.tuples(st.just("compact"), st.just(None)),
            st.tuples(st.just("vacuum"), st.just(None)),
        ),
        min_size=1,
        max_size=5,
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        base=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=40),
                st.integers(min_value=0, max_value=9),
            ),
            min_size=1,
            max_size=20,
            unique_by=lambda t: t[0],
        ),
        ops=_CDC_OPS,
    )
    def test_change_stream_initial_load_survives_maintenance(
        spark, base, ops
    ):
        """The change-stream source's Delta rule — a fresh
        subscription's initial batch IS the current snapshot — must
        hold after ANY maintenance history: CDC batches interleaved
        with merges, deletes, compactions and vacuums (which truncate
        old manifests entirely). Planned driver-side through the real
        reader (partitions + pyarrow read), no streaming engine per
        example. After subscription, an append streams incrementally
        and a rewrite fails loud (never a wrong feed)."""
        import tempfile

        from geniepool_etl_spark import snaptable as T
        from geniepool_etl_spark.sources.snapsource import (
            SnapChangesStreamReader,
        )

        tdir = tempfile.mkdtemp(prefix="gp_snap_cdcprop_")

        def df_of(rows):
            return spark.createDataFrame(rows or [], "k LONG, v LONG")

        model = dict(base)
        T.write_table(df_of(base), tdir, "create")
        for op, arg in ops:
            if op == "append":
                arg = [(k, v) for k, v in arg if k not in model]
                T.write_table(df_of(arg), tdir, "append")
                model.update(arg)
            elif op == "merge":
                T.merge_table(spark, tdir, df_of(arg), ["k"])
                model.update(arg)
            elif op == "cdc":
                ch = spark.createDataFrame(
                    [
                        (k, v, "upsert" if up else "delete")
                        for k, v, up in arg
                    ],
                    "k LONG, v LONG, _op STRING",
                )
                T.apply_cdc(spark, tdir, ch, ["k"])
                for k, v, up in arg:
                    if up:
                        model[k] = v
                    else:
                        model.pop(k, None)
            elif op == "delete":
                T.delete_where(spark, tdir, f"v = {arg}")
                model = {k: v for k, v in model.items() if v != arg}
            elif op == "compact":
                T.compact(spark, tdir, target_files=2)
            else:
                T.vacuum(spark, tdir, keep_versions=1, min_age_seconds=0)

        reader = SnapChangesStreamReader(tdir, [("k", "LONG"), ("v", "LONG")])
        head = reader.latestOffset()

        def batch(start, end):
            rows = []
            for p in reader.partitions(start, end):
                rows.extend(reader.read(p))
            return rows

        initial = batch(reader.initialOffset(), head)
        assert {
            (k, v) for k, v, _ct, _cv in initial
        } == set(model.items())
        assert {ct for _k, _v, ct, _cv in initial} <= {"insert"}
        # every file attribution is a real, still-kept version
        kept = set(T._versions(*T._hadoop_fs(spark, tdir), tdir))
        assert {cv for _k, _v, _ct, cv in initial} <= kept
        # post-subscription append streams incrementally
        new_rows = [(900, 1), (901, 2)]
        T.write_table(df_of(new_rows), tdir, "append")
        head2 = reader.latestOffset()
        inc = batch(head, head2)
        assert {(k, v) for k, v, _ct, _cv in inc} == set(new_rows)
        # post-subscription rewrites stream their net changes (r12):
        # compact is rows-identical → nothing; a delete streams its
        # write-time change rows, typed
        T.compact(spark, tdir, target_files=1)
        assert batch(head2, reader.latestOffset()) == []
        head3 = reader.latestOffset()
        T.delete_where(spark, tdir, "k = 900")
        dl = batch(head3, reader.latestOffset())
        assert [(k, ct) for k, _v, ct, _cv in dl] == [(900, "delete")]


def test_deletion_vector_lifecycle(spark, tdir):
    """Merge-on-read deletes (r12): a DV delete rewrites ZERO data
    files (manifest file list identical, dv_files added); reads
    anti-join the vectors out; a second DV delete reads THROUGH the
    first's vectors (no double counting); meta_row_count subtracts
    dv_rows without opening a file; append carries the vectors;
    time travel sees each version's own vectors; compact
    MATERIALIZES them (dv_files dropped, rows identical); CoW
    delete and merge on a DV-carrying table keep working (the probe
    key survives the multi-source plan input_file_name() rejects);
    vacuum keeps referenced vectors."""
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    T.write_table(df, tdir, "create", stats_cols=("k",), target_files=4)
    v1 = T.delete_where(spark, tdir, "k % 10 = 3", mode="dv")
    m0, m1 = _manifest(tdir, 0), _manifest(tdir, 1)
    assert [f["path"] for f in m1["files"]] == [
        f["path"] for f in m0["files"]
    ]  # zero rewrites
    assert m1["dv_files"] and sum(
        e["rows"] for e in m1["dv_files"]
    ) == 10
    assert sum(f.get("dv_rows", 0) for f in m1["files"]) == 10
    exp1 = [i for i in range(100) if i % 10 != 3]
    assert sorted(r.k for r in T.read_table(spark, tdir).collect()) == exp1
    assert T.meta_row_count(spark, tdir) == 90
    # second DV delete overlaps the first (k=3,13,23 already gone)
    T.delete_where(spark, tdir, "k < 25", mode="dv")
    exp2 = [i for i in range(25, 100) if i % 10 != 3]
    assert sorted(r.k for r in T.read_table(spark, tdir).collect()) == exp2
    assert T.meta_row_count(spark, tdir) == len(exp2)
    # change feed recorded exactly the net deletes of each commit
    ch = T.read_changes(spark, tdir, 1, 2).collect()
    assert sorted(r.k for r in ch) == [
        i for i in range(25) if i % 10 != 3
    ]
    # append carries the vectors
    extra = spark.range(100, 110).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    T.write_table(extra, tdir, "append", stats_cols=("k",))
    assert sorted(
        r.k for r in T.read_table(spark, tdir).collect()
    ) == exp2 + list(range(100, 110))
    # time travel applies each version's own vectors
    assert sorted(
        r.k for r in T.read_table(spark, tdir, version=v1).collect()
    ) == exp1
    # compact materializes: dv_files gone, rows identical
    v4 = T.compact(spark, tdir, target_files=2)
    assert "dv_files" not in _manifest(tdir, v4)
    assert sorted(
        r.k for r in T.read_table(spark, tdir).collect()
    ) == exp2 + list(range(100, 110))
    assert T.meta_row_count(spark, tdir) == len(exp2) + 10


def test_dv_with_cow_merge_and_vacuum(spark, tdir):
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    T.write_table(df, tdir, "create", target_files=4)
    T.delete_where(spark, tdir, "k % 10 = 3", mode="dv")
    # CoW delete on a DV table: rewritten files apply the vectors,
    # untouched files keep theirs
    T.delete_where(spark, tdir, "k >= 90", mode="cow")
    exp = [i for i in range(90) if i % 10 != 3]
    assert sorted(r.k for r in T.read_table(spark, tdir).collect()) == exp
    # merge through the DV probe: update + insert, deleted key stays dead
    ups = spark.range(0, 2).select(
        F.when(F.col("id") == 0, 5).otherwise(150)
        .cast("long").alias("k"),
        F.when(F.col("id") == 0, 999).otherwise(1)
        .cast("long").alias("v"),
    )
    T.merge_table(spark, tdir, ups, keys=["k"])
    rows = {r.k: r.v for r in T.read_table(spark, tdir).collect()}
    assert 3 not in rows and 93 not in rows
    assert rows[5] == 999 and rows[150] == 1
    assert len(rows) == len(exp) + 1
    # vacuum keeps the vectors the kept versions still reference
    T.vacuum(spark, tdir, keep_versions=2, min_age_seconds=0)
    rows2 = {r.k: r.v for r in T.read_table(spark, tdir).collect()}
    assert rows2 == rows


def test_dv_partitioned_table(spark, tdir):
    dfp = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    T.write_table(dfp, tdir, "create", partition_by=("p",), target_files=2)
    T.delete_where(spark, tdir, "k % 7 = 1", mode="dv")
    exp = [i for i in range(60) if i % 7 != 1]
    assert sorted(r.k for r in T.read_table(spark, tdir).collect()) == exp
    assert T.meta_row_count(spark, tdir) == len(exp)
    # partition-pruned read still applies the vectors
    got = T.read_partition(spark, tdir, {"p": 1})
    assert sorted(r.k for r in got.collect()) == [
        i for i in range(60) if i % 3 == 1 and i % 7 != 1
    ]


def test_dv_urlencoded_partition_dir(spark, tdir):
    """r13 (advice): a DV delete under a partition dir that needs
    URL encoding ('p=new york') must bump dv_rows on the right
    manifest entries — _metadata-derived _dvf keys are URL-encoded
    while manifest paths are FS-real, so the per-file count match
    needs one unquote. Before the fix meta_row_count overcounted and
    compact() permanently raised its staged-vs-live reconciliation."""
    df = spark.range(0, 20).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "new york")
        .otherwise("bo ston").alias("p"),
        (F.col("id") * 3).alias("v"),
    )
    T.write_table(df, tdir, "create", partition_by=("p",), target_files=1)
    T.delete_where(spark, tdir, "k IN (2, 4, 5, 7)", mode="dv")
    m1 = _manifest(tdir, 1)
    assert sum(f.get("dv_rows", 0) for f in m1["files"]) == 4
    assert T.meta_row_count(spark, tdir) == 16
    exp = sorted(set(range(20)) - {2, 4, 5, 7})
    assert sorted(r.k for r in T.read_table(spark, tdir).collect()) == exp
    v2 = T.compact(spark, tdir, target_files=1)
    assert "dv_files" not in _manifest(tdir, v2)
    assert sorted(r.k for r in T.read_table(spark, tdir).collect()) == exp


def test_dv_reserved_column_guard(spark, tdir):
    """r13 (advice): the DV read path threads internal _dvf/_pos
    columns through the table; a user column of either name must be
    rejected up front, not surface as a duplicate-column ambiguity
    on every read."""
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), F.col("id").alias("_pos")
    )
    T.write_table(df, tdir, "create")
    with pytest.raises(ValueError, match="reserved"):
        T.delete_where(spark, tdir, "k = 3", mode="dv")
    # CoW remains available for such tables
    T.delete_where(spark, tdir, "k = 3", mode="cow")
    assert T.meta_row_count(spark, tdir) == 9


def test_dv_bulk_delete_cap_and_read_fallback(spark, tdir, monkeypatch):
    """r13 (advice + verdict #5a): delete_where(mode='dv') refuses to
    grow a snapshot's accumulated vectors past the broadcast budget
    (bulk deletes must pay CoW once, not tax every read), and
    _read_files drops the broadcast hint for manifests already past
    the cap so reads degrade to a shuffle anti-join, never an OOM."""
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    T.write_table(df, tdir, "create", target_files=2)
    monkeypatch.setattr(T, "_DV_BROADCAST_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="cap 10"):
        T.delete_where(spark, tdir, "k < 50", mode="dv")
    # the refused delete staged nothing and committed nothing
    assert _manifest(tdir, 0)["version"] == 0
    assert T.meta_row_count(spark, tdir) == 100
    # a needle delete under the cap carries the broadcast HINT...
    T.delete_where(spark, tdir, "k IN (1, 2, 3)", mode="dv")
    plan_b = (
        T.read_table(spark, tdir)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "broadcast" in plan_b
    # ...and a manifest past the cap (raced there / legacy) drops the
    # hint — Spark's own size threshold decides, so an oversized DV
    # side shuffles instead of force-broadcasting — results identical
    monkeypatch.setattr(T, "_DV_BROADCAST_MAX_ROWS", 2)
    got = T.read_table(spark, tdir)
    plan_s = got._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in plan_s
    assert sorted(r.k for r in got.collect()) == [
        i for i in range(100) if i not in (1, 2, 3)
    ]


def test_dv_delete_racing_compaction(spark, tdir, monkeypatch):
    """r13 (verdict #5b): a DV delete and a compaction racing over
    the same files — whichever writer loses the version-slot claim
    must FAIL LOUD, and the surviving head must never resurrect
    deleted rows (the loser staged its view from a stale manifest)."""
    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    T.write_table(df, tdir, "create", target_files=2)
    T.delete_where(spark, tdir, "k % 10 = 1", mode="dv")
    exp1 = [i for i in range(40) if i % 10 != 1]

    # --- ordering A: compaction resolves, a second DV delete lands
    # first, compaction must lose (its staged files were read from
    # the pre-delete view and would resurrect k%10==5)
    fs, P = T._hadoop_fs(spark, tdir)
    stale = T._resolve(spark, fs, P, tdir, None)
    T.delete_where(spark, tdir, "k % 10 = 5", mode="dv")
    exp2 = [i for i in range(40) if i % 10 not in (1, 5)]
    real_resolve = T._resolve
    calls = {"n": 0}

    def stale_once(spark_, fs_, P_, path_, v_):
        calls["n"] += 1
        if calls["n"] == 1:
            return stale
        return real_resolve(spark_, fs_, P_, path_, v_)

    monkeypatch.setattr(T, "_resolve", stale_once)
    with pytest.raises(RuntimeError, match="compact"):
        T.compact(spark, tdir, target_files=1)
    monkeypatch.setattr(T, "_resolve", real_resolve)
    assert sorted(r.k for r in T.read_table(spark, tdir).collect()) == exp2

    # --- ordering B: a DV delete resolves, compaction lands first
    # (rewriting + materializing the DV'd files), the delete must
    # lose (its vectors point at file names the new head dropped)
    stale2 = T._resolve(spark, fs, P, tdir, None)
    T.compact(spark, tdir, target_files=1)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        T._delete_where_dv(spark, tdir, stale2, "k % 10 = 7")
    assert sorted(r.k for r in T.read_table(spark, tdir).collect()) == exp2
    # the rerun-against-new-head path the error message promises
    T.delete_where(spark, tdir, "k % 10 = 7", mode="dv")
    assert sorted(r.k for r in T.read_table(spark, tdir).collect()) == [
        i for i in range(40) if i % 10 not in (1, 5, 7)
    ]
