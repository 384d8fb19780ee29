"""Benchmark harness: headline lanes at $SPARK_GRAFT_SF_DIR (an sf0.1
testdata tree by default) on local[$SPARK_GRAFT_CPUS], then the heaviest
lanes on two staged blow-ups of it (sf1 = 10x, sf10 = 100x).

Prints ONE compact JSON line LAST: the driver parses the last JSON line
in the final ~2000 chars of stdout, so the line holds only headline
seconds and counts (the rest is in BENCH_DETAIL.json), and the console
progress bar is off. Lanes run on the ``noop`` sink: full execution, no
driver-side collection. Per lane, the warm best-of-N is graded against
the best ever recorded for the same (sf, cpus) in BENCH_BASELINE.json
(>1.5x is a regression); ``cold`` = build + first run is the honest
cost of plans whose checkpoint pays in the build or in run 1, and never
gates.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys
import tempfile
import time
from collections import namedtuple
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from geniepool_etl_spark import contract as C  # noqa: E402
from geniepool_etl_spark.functions import enable_nanos_as_long  # noqa: E402
from geniepool_etl_spark.operators import dedup as D, events as E, upsert as U  # noqa: E402
from geniepool_etl_spark.operators import packing as PK, similarity as S, text as TX  # noqa: E402
from geniepool_etl_spark.session import get_spark  # noqa: E402

_HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(_HERE, ".benchdata", "sf1"))
SF10_DIR = os.environ.get("SPARK_GRAFT_SF10_DIR", os.path.join(_HERE, ".benchdata", "sf10"))
SF1_ENABLED = os.environ.get("SPARK_GRAFT_SF1", "1") != "0"
SF10_ENABLED = os.environ.get("SPARK_GRAFT_SF10", "1") != "0"
BASELINE_PATH = os.path.join(_HERE, "BENCH_BASELINE.json")
DETAIL_PATH = os.path.join(_HERE, "BENCH_DETAIL.json")
REGRESSION_RATIO = 1.5
STDOUT_BUDGET = 1800  # of the driver's ~2000-char tail
COPIES = 10  # sf1 = 10 copies of sf0.1, sf10 = 10 copies of sf1


def rotate_vec(d, i):
    # sf1: circular shift (norm-preserving) so replicas are not exact
    # duplicates that turn semantic dedup into a dup-pair explosion
    v, n = F.col("embedding"), F.size("embedding")
    return d.withColumn("embedding", F.concat(F.slice(v, i + 1, n - i), F.slice(v, 1, i)))


def plane_rot(d, j):
    # sf10: shifts alone cannot tell 100 copies of a 64-dim vector apart (order
    # 64); a (0,1)-plane rotation composed with sf1's shifts leaves no two equal
    cos, sin = f"cos({0.35 * j}D)", f"sin({0.35 * j}D)"
    return d.withColumn("embedding", F.expr(
        "transform(embedding, (x, c) -> cast(case"
        f" when c = 0 then {cos} * embedding[0] - {sin} * embedding[1]"
        f" when c = 1 then {sin} * embedding[0] + {cos} * embedding[1]"
        " else x end as float))"))


def tag_words(d, j):
    # sf10: verbatim replicas make each doc a near-dup of its 99 copies (pairs
    # quadratic in copies); tagging each word with the copy index makes
    # cross-copy Jaccard 0, so candidate volume grows linearly with the decade
    words = F.transform(F.split(F.col("text"), " "), lambda w: F.concat(F.lit(f"c{j}"), w))
    return d.withColumn("text", F.array_join(words, " "))


# Staging: (table, {column: (table, column) whose max + 1 is the per-copy
# offset}, transform). Disjoint keys per copy: the keyed shuffles see Nx
# the keys instead of Nx exact duplicates.
SF1_TABLES = (
    ("lineitem", {"l_orderkey": ("orders", "o_orderkey")}, None),
    ("orders", {"o_orderkey": ("orders", "o_orderkey")}, None),
    ("documents", {"doc_id": ("documents", "doc_id")}, None),
    ("embeddings", {"vec_id": ("embeddings", "vec_id")}, rotate_vec),
    # same timestamps, disjoint users: each user's stream keeps its real
    # temporal shape while the keyed shuffles see 10x the users
    ("events", {"event_id": ("events", "event_id"), "user_id": ("events", "user_id")}, None),
)
SF10_TABLES = SF1_TABLES[:2] + (
    ("embeddings", {"vec_id": ("embeddings", "vec_id")}, plane_rot),
    ("documents", {"doc_id": ("documents", "doc_id")}, tag_words),
)


def _stage(spark, src: str, dst: str, token: str, tables) -> None:
    """COPIES replicas of each table under ``dst``, unless its marker reads ``token``."""
    marker = os.path.join(dst, "_STAGED")
    if os.path.exists(marker) and Path(marker).read_text().strip() == token:
        return
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst, exist_ok=True)
    enable_nanos_as_long(spark)  # events' ts may be parquet TIMESTAMP(NANOS)
    for name, offsets, transform in tables:
        df = C._t(spark, src, name)
        steps = {c: int(C._t(spark, src, t).agg(F.max(k)).first()[0]) + 1
                 for c, (t, k) in offsets.items()}
        parts = [df.withColumns({c: F.col(c) + F.lit(i * s) for c, s in steps.items()})
                 for i in range(COPIES)]
        # copy 0 keeps its values
        parts = [transform(d, i) if transform and i else d for i, d in enumerate(parts)]
        functools.reduce(lambda a, b: a.unionByName(b), parts) \
            .write.mode("overwrite").parquet(os.path.join(dst, f"{name}.parquet"))
    Path(marker).write_text(token + "\n")


def stage_sf1(spark) -> None:
    _stage(spark, SF_DIR, SF1_DIR, "v2", SF1_TABLES)


def stage_sf10(spark) -> None:
    stage_sf1(spark)
    # sf1's marker mtime is part of the token: a restaged sf1 restages sf10
    mtime = int(os.path.getmtime(os.path.join(SF1_DIR, "_STAGED")))
    _stage(spark, SF1_DIR, SF10_DIR, f"v3:{mtime}", SF10_TABLES)


# Lanes, listed in run order. A lane not in the builder's local table is the
# contract query C.q_<lane>, or C.q_<fn> when written lane=fn.

HEADLINE = """flagship_lake_nest pricing_summary=a4_pricing_summary
broadcast_join_agg=j3_broadcast_join_agg window_topk=w1_window_topk events_session
events_tumbling dedup_exact dedup_minhash_lsh dedup_simhash text_stats pack_windows
sim_lsh_topk two_level_nest=a2_two_level_nest dedup_repeated_spans text_pii
events_interval_join rollup_incremental pipeline_corpus_build scd2_point_in_time table_diff
text_bm25 pipeline_user_features tpch_q9=sql_tpch_q9 tpch_q21=sql_tpch_q21 text_perplexity
dedup_semantic text_bpe_encode text_collocations events_pattern_match sim_ivfpq_topk
text_html_clean text_gopher_gates text_nfc_normalize events_resample_ffill events_rfm
events_ewma text_quality_classifier pipeline_web_curation micro_event_us_long
micro_event_us_ntz micro_scd2_full_rebuild micro_scd2_apply_batch"""
SF1_LANES = """flagship_lake_nest dedup_semantic sim_lsh_topk text_perplexity text_bpe_encode
dedup_minhash_lsh dedup_clusters graph_pagerank events_interval_join events_session
events_resample_ffill"""
# embedding lanes before the 60M-row flagship, whose heap churn slows
# whatever follows it; flagship itself is insensitive to order
SF10_LANES = """dedup_semantic sim_lsh_topk flagship_lake_nest dedup_minhash_lsh text_perplexity
text_bpe_encode"""


def _lanes(order: str, spark, sf_dir: str, local: dict) -> dict:
    out = {}
    for tok in order.split():
        lane, _, fn = tok.partition("=")
        out[lane] = local.get(lane) or functools.partial(
            getattr(C, f"q_{fn or lane}"), spark, sf_dir)
    return out


def bench_queries(spark, sf_dir):
    docs = C._t(spark, sf_dir, "documents")
    emb = C._t(spark, sf_dir, "embeddings")
    # auto-sizing hints, computed untimed so operators fire no pre-jobs
    n_emb = emb.count()
    doc_tokens = int(docs.select(F.coalesce(
        F.sum(F.size(TX.words_col(F.col("text")))), F.lit(0))).first()[0])
    # events with ts as nanos INT64 and as TIMESTAMP_NTZ, the two encodings the
    # testdata has shipped: encoding drift shows up in the micro_event_us pair
    ev = C._t(spark, sf_dir, "events")
    e_all = E.with_event_time(ev)
    us = e_all.withColumn("_us", F.col("ts_us"))
    cols, enc = [c for c in ev.columns if c != "ts"], tempfile.mkdtemp(prefix="gp_bench_enc_")
    for name, ts in (("long", (F.col("_us") * 1000).cast("long")),
                     ("ntz", F.timestamp_micros(F.col("_us")).cast("timestamp_ntz"))):
        us.select(ts.alias("ts"), *cols).write.parquet(os.path.join(enc, name))

    def micro_event_us(name):
        return E.with_event_time(spark.read.parquet(os.path.join(enc, name))).groupBy().agg(
            F.sum("ts_us").alias("sum_us"), F.count("*").alias("n"))

    # SCD2 pair, incremental O(batch) vs rebuild O(history): the standing history
    # is staged once (in production, a stored table); only merge / rebuild is timed
    scd2 = dict(key="user_id", ts_col="ts_us", attr="event_type", id_col="event_id")
    standing_dir = tempfile.mkdtemp(prefix="gp_bench_scd2_")
    U.scd2_from_changelog(e_all.where(F.col("ts_us") < C._SCD2_SPLIT_US), **scd2) \
        .write.mode("overwrite").parquet(standing_dir)
    standing = spark.read.parquet(standing_dir)
    batch = e_all.where(F.col("ts_us") >= C._SCD2_SPLIT_US).select(
        "user_id", "ts_us", "event_type", "event_id")
    # production xxhash64 operator variants, not the oracles' md5-portable ones
    return _lanes(HEADLINE, spark, sf_dir, {
        "dedup_exact": lambda: D.exact_dedup_stats(docs),
        "dedup_minhash_lsh": lambda: D.minhash_lsh_pairs(docs, num_perm=64, bands=16),
        "dedup_simhash": lambda: D.simhash_bands(docs, bands=4, bits=64),
        "text_stats": lambda: TX.with_token_count(TX.with_text_stats(docs)),
        "pack_windows": lambda: PK.pack_windows(docs, total_tokens=doc_tokens),
        "sim_lsh_topk": lambda: S.lsh_bucket_topk(emb, k=5, n_planes=None, n_rows=n_emb),
        "dedup_repeated_spans": lambda: D.repeated_ngram_spans(docs, n=5),
        "text_pii": lambda: TX.with_pii_counts(docs),
        # micro_* lanes are graded but left out of the headline total
        "micro_event_us_long": lambda: micro_event_us("long"),
        "micro_event_us_ntz": lambda: micro_event_us("ntz"),
        "micro_scd2_full_rebuild": lambda: U.scd2_from_changelog(e_all, **scd2),
        "micro_scd2_apply_batch": lambda: U.scd2_apply_batch(standing, batch, **scd2),
    })


def staged_queries(spark, sf_dir: str, order: str) -> dict:
    emb = C._t(spark, sf_dir, "embeddings")
    n_emb = emb.count()
    # None + n_rows engages the corpus-sized centroid / plane count: a fixed one
    # (the contract's, for oracle parity) makes the pair stage quadratic
    return _lanes(order, spark, sf_dir, {
        "dedup_semantic": lambda: S.semantic_dedup_keep(
            emb, threshold=0.3, n_centroids=None, n_rows=n_emb),
        "sim_lsh_topk": lambda: S.lsh_bucket_topk(emb, k=5, n_planes=None, n_rows=n_emb),
    })


# prefix: of the tier's error, detail and baseline keys; runs: timed runs per
# lane (warm = their best); lanes: spark -> {lane: build}; stage: spark -> None
Tier = namedtuple("Tier", "name prefix runs lanes stage enabled", defaults=(None, True))
# One run per sf10 lane: tens of seconds each, so noise is small.
TIERS = (
    Tier("sf0.1", "", 3, lambda spark: bench_queries(spark, SF_DIR)),
    Tier("sf1", "sf1_", 2, lambda spark: staged_queries(spark, SF1_DIR, SF1_LANES),
         stage_sf1, enabled=SF1_ENABLED),
    Tier("sf10", "sf10_", 1, lambda spark: staged_queries(spark, SF10_DIR, SF10_LANES),
         stage_sf10, enabled=SF1_ENABLED and SF10_ENABLED),
)


def session(app: str, extra_conf: dict | None = None):
    conf = {"spark.ui.showConsoleProgress": "false", **(extra_conf or {})}
    spark = get_spark(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def time_noop(spark, name: str, build, runs: int, warm: int = 0):
    """Build once, ``warm`` untimed runs, then ``runs`` timed noop-sink runs;
    ``(build s, [s per timed run])``. Jobs: ``<name> build|warm <i>|run <i>``.
    The RDDs the lane persists (its local checkpoints) are released when it
    ends, so no lane's blocks crowd the heap of the lanes after it."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    try:
        sc.setJobDescription(f"{name} build")
        t0 = time.perf_counter()
        df = build()
        build_s, secs = time.perf_counter() - t0, []
        for i in range(warm + runs):
            sc.setJobDescription(f"{name} warm {i}" if i < warm else f"{name} run {i - warm}")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            secs.append(time.perf_counter() - t0)
    finally:
        sc.setJobDescription(None)
        for rdd_id, rdd in sc._jsc.getPersistentRDDs().items():
            if rdd_id not in before:
                rdd.unpersist(True)  # blocking: freed before the next lane starts
    return build_s, secs[warm:]


def _control(spark, tag: str, control: dict) -> None:
    try:
        build = functools.partial(C.q_a4_pricing_summary, spark, SF_DIR)
        control[tag] = round(time_noop(spark, tag, build, 1)[1][0], 3)
        control[f"{tag}_load1m"] = (_loadavg() or [None])[0]
    except Exception:  # noqa: BLE001 — telemetry must not gate
        pass


def _err(exc: Exception) -> str:
    first = str(exc).strip().splitlines()[0] if str(exc) else ""
    return f"{type(exc).__name__}: {first[:200]}"


def grade(warm: dict, cold: dict, bl_file: dict, sf: float, cpus: int):
    """``{tier prefix: {lane: sec}}`` -> ``({<p>ratio_vs_best, <p>regressions},
    new baseline or None)``. Floors only tighten; hist_* and cold floors never
    gate. A record from another (sf, cpus) is neither graded against nor saved."""
    same = (bl_file.get("sf"), bl_file.get("cpus")) == (sf, cpus)
    savable = same or bl_file.get("sf") is None
    prior = bl_file if savable else {}
    graded, new, improved = {}, {"sf": sf, "cpus": cpus}, False
    for p, cur in warm.items():
        floors = dict(prior.get(f"{p}best_sec") or {}) if same else {}
        ratios = {k: round(v / floors[k], 2) for k, v in cur.items() if floors.get(k)}
        graded[f"{p}ratio_vs_best"] = ratios
        graded[f"{p}regressions"] = {k: r for k, r in ratios.items() if r > REGRESSION_RATIO}
        new[f"{p}best_sec"] = floors
        for field, vals in ((f"{p}best_sec", cur), (f"hist_{p}best_sec", cur),
                            (f"{p}cold_best_sec", cold[p])):
            best = new.setdefault(field, dict(prior.get(field) or {}))
            better = {k: v for k, v in vals.items() if v < best.get(k, float("inf"))}
            best.update(better)
            improved = improved or bool(better)
    return graded, (new if improved and savable else None)


def compact_line(out: dict) -> str:
    """The stdout line, shedding control, then load, then queries to fit."""
    out = dict(out)
    line = json.dumps(out, separators=(",", ":"))
    for drop in ("control", "load", "queries"):
        if len(line) <= STDOUT_BUDGET:
            break
        out.pop(drop, None)
        line = json.dumps(out, separators=(",", ":"))
    return line


def _loadavg() -> list:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # platform without getloadavg
        return []


def main() -> None:
    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)
    # loadavg at start/end and a control lane before each staged tier: a flag
    # beside high load or a control excursion is box state, not a regression
    load_start = _loadavg()
    spark = session("geniepool-bench")
    cpus = spark.sparkContext.defaultParallelism
    C._t(spark, SF_DIR, "lineitem").limit(1).count()  # warm JVM + file listing
    warm = {t.prefix: {} for t in TIERS}
    cold = {p: {} for p in warm}
    control, errors = {}, {}
    for tier in (t for t in TIERS if t.enabled):
        p = tier.prefix
        try:
            if tier.stage:
                tier.stage(spark)
                _control(spark, f"pre_{tier.name}", control)
            qs = tier.lanes(spark)
        except Exception as exc:  # noqa: BLE001 — staging failure
            errors[f"{p}staging"] = _err(exc)
            continue
        for name, build in qs.items():
            try:  # one broken plan is a reported error, not a lost round
                build_s, secs = time_noop(spark, p + name, build, tier.runs)
                warm[p][name] = round(min(secs), 3)
                cold[p][name] = round(build_s + secs[0], 3)
            except Exception as exc:  # noqa: BLE001 — harness boundary
                errors[p + name] = _err(exc)

    try:
        bl_file = json.loads(Path(BASELINE_PATH).read_text())
    except (OSError, ValueError):
        bl_file = {}
    graded, new_baseline = grade(warm, cold, bl_file, sf, cpus)
    if new_baseline is not None:
        Path(BASELINE_PATH).write_text(json.dumps(new_baseline, indent=2, sort_keys=True) + "\n")
    headline = {k: v for k, v in warm[""].items() if not k.startswith("micro_")}
    micro = {k: v for k, v in warm[""].items() if k.startswith("micro_")}
    total, load_end = round(sum(headline.values()), 3), _loadavg()
    Path(DETAIL_PATH).write_text(json.dumps({
        "sf": sf, "total_sec": total, "loadavg_start": load_start, "loadavg_end": load_end,
        "control_sec": control, "micro": micro, "errors": errors, **graded,
        **{f"{p}cold_sec": c for p, c in cold.items()},
        **{p.rstrip("_"): w for p, w in warm.items() if p},
    }, indent=2, sort_keys=True) + "\n")
    # n_queries vs n_expected: an errored lane drops out of the total
    print(compact_line({
        "metric": "headline_queries_total", "value": total, "unit": "sec",
        "queries": headline, "sf": sf, "cpus": cpus,
        "n_queries": len(headline),
        "n_expected": sum(not k.startswith("micro_") for k in HEADLINE.split()),
        "n_regressions": len(graded["regressions"]), "n_errors": len(errors),
        "sf1": warm["sf1_"], "n_sf1_regressions": len(graded["sf1_regressions"]),
        "sf10": warm["sf10_"], "n_sf10_regressions": len(graded["sf10_regressions"]),
        "load": [(load_start or [None])[0], (load_end or [None])[0]],
        "control": control,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
