"""Runnable entrypoints.

The primary job mirrors the reference's spark-submit ``main``
(reference M:22-41: 8 positional args):

    python -m geniepool_etl_spark.cli etl \\
        <input_path> <output_path> <status_path> \\
        <impact_path> <dbsnp_path> <t2t> <gnomad_path> <alpha_path>

(The bare 8-positional-args form without ``etl`` is accepted too, for
drop-in parity with the reference invocation.) ``t2t`` is
``true``/``false`` (or ``1``/``0``, ``yes``/``no``, any case) — selects
the parquet (T2T) vs TSV dbSNP reader, exactly like the reference's
flag (M:28, M:159-199); any other value is a usage error.

The LLM-pipeline operator families are runnable as subcommands, each
reading parquet in and writing parquet out:

    python -m geniepool_etl_spark.cli dedup <docs.parquet> <out_dir> \\
        [--method exact|jaccard|minhash|simhash] [--threshold 0.5]
    python -m geniepool_etl_spark.cli profile <table.parquet> <out_dir>
    python -m geniepool_etl_spark.cli text-stats <docs.parquet> <out_dir>
    python -m geniepool_etl_spark.cli sim-topk <embeddings.parquet> <out_dir> \\
        [--k 5] [--exact]
    python -m geniepool_etl_spark.cli pack <docs.parquet> <out_dir> \\
        [--context-len 512] [--shards 8]
    python -m geniepool_etl_spark.cli chunk <docs.parquet> <out_dir> \\
        [--chunk-words 64] [--stride-words 48]
    python -m geniepool_etl_spark.cli shuffle <docs.parquet> <out_dir> \\
        [--shards 8] [--seed 17]
    python -m geniepool_etl_spark.cli pii <docs.parquet> <out_dir>
    python -m geniepool_etl_spark.cli compact <lake_dir> --day <bucket> \\
        [--target-files 1]
    python -m geniepool_etl_spark.cli recover <lake_dir>
    python -m geniepool_etl_spark.cli table write <table_dir> \\
        --input <data.parquet> [--mode create|append|overwrite] \\
        [--stats-cols col ...]
    python -m geniepool_etl_spark.cli table merge <table_dir> \\
        --input <updates.parquet> --keys k1 [k2 ...]
    python -m geniepool_etl_spark.cli table read <table_dir> \\
        --output <out_dir> [--version N]
    python -m geniepool_etl_spark.cli table \\
        {part,cdc,delete,compact,vacuum,history} <table_dir> [...]
"""

from __future__ import annotations

import argparse
import sys

from geniepool_etl_spark.lake import write_datalake, write_status
from geniepool_etl_spark.pipeline import convert_vcfs_to_datalake, get_status
from geniepool_etl_spark.session import get_spark

_T2T = {
    "true": True, "1": True, "yes": True,
    "false": False, "0": False, "no": False,
}


def _run_etl(args: list[str]) -> int:
    if len(args) != 8:
        print(__doc__, file=sys.stderr)
        return 2
    (
        input_path,
        output_path,
        status_path,
        impact_path,
        dbsnp_path,
        t2t_raw,
        gnomad_path,
        alpha_path,
    ) = args
    t2t = _T2T.get(t2t_raw.strip().lower())
    if t2t is None:  # a typo must not silently pick the TSV dbSNP reader
        print(
            f"etl: t2t must be one of {'/'.join(_T2T)}, got {t2t_raw!r}",
            file=sys.stderr,
        )
        print(__doc__, file=sys.stderr)
        return 2

    spark = get_spark("geniepool-etl")
    lake_df = convert_vcfs_to_datalake(
        spark, input_path, impact_path, dbsnp_path, t2t, gnomad_path, alpha_path
    )
    write_datalake(lake_df, output_path)
    write_status(get_status(spark, input_path), status_path)
    return 0


def _run_dedup(ns: argparse.Namespace) -> int:
    from geniepool_etl_spark.operators import dedup as D

    spark = get_spark("geniepool-dedup")
    docs = spark.read.parquet(ns.input)
    if ns.method == "exact":
        out = D.exact_dedup_stats(docs)
    elif ns.method == "jaccard":
        out = D.jaccard_pairs(docs).where(f"jaccard >= {ns.threshold}")
    elif ns.method == "minhash":
        out = D.minhash_lsh_pairs(docs).where(
            f"est_jaccard >= {ns.threshold}"
        )
    else:
        out = D.simhash(docs)
    out.write.mode("overwrite").parquet(ns.output)
    return 0


def _run_profile(ns: argparse.Namespace) -> int:
    from geniepool_etl_spark.operators.profile import profile_columns

    spark = get_spark("geniepool-profile")
    profile_columns(spark.read.parquet(ns.input)).write.mode(
        "overwrite"
    ).parquet(ns.output)
    return 0


def _run_text_stats(ns: argparse.Namespace) -> int:
    from geniepool_etl_spark.operators import text as TX

    spark = get_spark("geniepool-text")
    docs = spark.read.parquet(ns.input)
    out = TX.with_lang_id(TX.with_token_count(TX.with_text_stats(docs)))
    out.write.mode("overwrite").parquet(ns.output)
    return 0


def _run_sim_topk(ns: argparse.Namespace) -> int:
    from geniepool_etl_spark.operators import similarity as S

    spark = get_spark("geniepool-sim")
    emb = spark.read.parquet(ns.input)
    if ns.exact:
        out = S.cosine_topk(emb, emb, k=ns.k)
    else:
        out = S.lsh_bucket_topk(emb, k=ns.k, n_planes=None)
    out.write.mode("overwrite").parquet(ns.output)
    return 0


def _run_pack(ns: argparse.Namespace) -> int:
    from geniepool_etl_spark.operators import packing as PK

    spark = get_spark("geniepool-pack")
    docs = spark.read.parquet(ns.input)
    out = PK.pack_windows(
        docs, context_len=ns.context_len, n_shards=ns.shards
    )
    out.write.mode("overwrite").parquet(ns.output)
    return 0


def _run_chunk(ns: argparse.Namespace) -> int:
    from geniepool_etl_spark.operators import text as TX

    spark = get_spark("geniepool-chunk")
    out = TX.chunk_documents(
        spark.read.parquet(ns.input),
        chunk_words=ns.chunk_words,
        stride_words=ns.stride_words,
    )
    out.write.mode("overwrite").parquet(ns.output)
    return 0


def _run_shuffle(ns: argparse.Namespace) -> int:
    from geniepool_etl_spark.operators.sampling import deterministic_shuffle

    spark = get_spark("geniepool-shuffle")
    out = deterministic_shuffle(
        spark.read.parquet(ns.input), n_shards=ns.shards, seed=ns.seed
    )
    out.write.mode("overwrite").partitionBy("shard").parquet(ns.output)
    return 0


def _run_pii(ns: argparse.Namespace) -> int:
    from geniepool_etl_spark.operators import text as TX

    spark = get_spark("geniepool-pii")
    out = TX.with_pii_counts(spark.read.parquet(ns.input))
    out.write.mode("overwrite").parquet(ns.output)
    return 0


def _run_compact(ns: argparse.Namespace) -> int:
    from geniepool_etl_spark.streaming import compact_day_partition

    spark = get_spark("geniepool-compact")
    compact_day_partition(
        spark, ns.lake, ns.day, target_files=ns.target_files
    )
    return 0


def _run_recover(ns: argparse.Namespace) -> int:
    """Settle interrupted compactions — run on ingest startup."""
    from geniepool_etl_spark.streaming import recover_compaction

    spark = get_spark("geniepool-recover")
    recover_compaction(spark, ns.lake)
    return 0


def _run_corpus_build(ns: argparse.Namespace) -> int:
    """The whole training-corpus funnel in one job: quality gate →
    exact dedup → context-window chunking → sequence packing (the
    pipeline_corpus_build composition — one plan, three exchanges)."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.operators import dedup as D
    from geniepool_etl_spark.operators import packing as PK
    from geniepool_etl_spark.operators import text as TX

    spark = get_spark("geniepool-corpus-build")
    docs = spark.read.parquet(ns.input)
    keep_ids = (
        TX.quality_filter(docs).where(F.col("keep")).select("doc_id")
    )
    survivors = D.exact_dedup(docs.join(keep_ids, "doc_id"))
    chunks = TX.chunk_documents(
        survivors, chunk_words=ns.chunk_words, stride_words=ns.stride_words
    ).select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx"))
        .cast("long")
        .alias("chunk_id"),
        "chunk_text",
        F.col("n_chunk_words").cast("long").alias("n_chunk_words"),
    )
    out = PK.pack_windows(
        chunks,
        context_len=ns.context_len,
        n_shards=ns.shards,
        id_col="chunk_id",
        text_col="chunk_text",
        token_col="n_chunk_words",
    )
    out.write.mode("overwrite").parquet(ns.output)
    return 0


def _run_diff(ns: argparse.Namespace) -> int:
    """Migration-validation report: digest-diff two keyed parquet
    tables; writes the per-status counts and prints them."""
    from geniepool_etl_spark.operators.reconcile import diff_summary

    spark = get_spark("geniepool-diff")
    left = spark.read.parquet(ns.left)
    right = spark.read.parquet(ns.right)
    keys = ns.keys.split(",")
    compare = (
        ns.columns.split(",")
        if ns.columns
        else [c for c in left.columns if c not in keys]
    )
    out = diff_summary(left, right, keys, compare)
    out.write.mode("overwrite").parquet(ns.output)
    for r in spark.read.parquet(ns.output).collect():
        print(f"{r.status}\t{r.n_rows}")
    return 0


def _run_scd2(ns: argparse.Namespace) -> int:
    """Build (or incrementally extend) an SCD2 history from a change
    log: with --standing, the input is applied as a batch onto the
    existing history (O(batch)); without, a full build."""
    from geniepool_etl_spark.operators.upsert import (
        scd2_apply_batch, scd2_from_changelog,
    )

    spark = get_spark("geniepool-scd2")
    log = spark.read.parquet(ns.input)
    kw = dict(
        key=ns.key, ts_col=ns.ts_col, attr=ns.attr, id_col=ns.id_col
    )
    if ns.standing:
        standing = spark.read.parquet(ns.standing)
        out = scd2_apply_batch(standing, log, **kw)
    else:
        out = scd2_from_changelog(log, **kw)
    out.write.mode("overwrite").parquet(ns.output)
    return 0


def _run_dq(ns: argparse.Namespace) -> int:
    """Run a declarative expectation suite over a parquet table:
    each --rule is ``name:SQL-predicate`` (all evaluated in ONE
    conditional-sum aggregate over a single scan); --unique adds a
    primary-key rule per named column. Writes the (rule, total,
    violations, ok) report and prints it; exit 1 if any rule fails —
    the CI-gate contract."""
    from geniepool_etl_spark.operators.profile import (
        expectations, uniqueness_check,
    )

    spark = get_spark("geniepool-dq")
    df = spark.read.parquet(ns.input)
    rules = []
    for r in ns.rule or []:
        name, _, pred = r.partition(":")
        if not pred:
            raise SystemExit(f"--rule needs name:predicate, got {r!r}")
        rules.append((name, pred))
    parts = [expectations(df, rules)] if rules else []
    for col in ns.unique or []:
        parts.append(uniqueness_check(df, col, f"{col}_unique"))
    if not parts:
        raise SystemExit("dq: need at least one --rule or --unique")
    report = parts[0]
    for extra in parts[1:]:
        report = report.unionByName(extra)
    report.write.mode("overwrite").parquet(ns.output)
    rows = spark.read.parquet(ns.output).collect()
    failed = False
    for r in rows:
        print(f"{r.rule}\t{r.total}\t{r.violations}\t{r.ok}")
        failed = failed or r.ok == 0
    return 1 if failed else 0


def _run_table(ns: argparse.Namespace) -> int:
    """Snapshot-table (snaptable.py) operations from the shell:

    - ``write``: commit a parquet input as create/append/overwrite
      (optionally with --stats-cols for manifest min/max skipping);
    - ``read``: export a snapshot (``--version`` time-travels) to
      parquet;
    - ``merge``: keyed CoW upsert of a parquet input;
    - ``delete``: copy-on-write delete by SQL predicate;
    - ``compact`` / ``vacuum`` / ``history``: maintenance + audit.

    Prints the resulting version (or the history rows) so shell
    pipelines can chain on it."""
    from geniepool_etl_spark import snaptable as T

    # per-op required options, enforced BEFORE a Spark session spins
    # up — a missing flag should be a usage error, not a Py4J trace
    _required = {
        "write": ("input",),
        "read": ("output",),
        "point": ("output", "col", "value"),
        "part": ("output", "col", "value"),
        "merge": ("input", "keys"),
        "cdc": ("input", "keys"),
        "delete": ("predicate",),
    }
    for opt in _required.get(ns.op, ()):
        if getattr(ns, opt) in (None, []):
            raise SystemExit(
                f"table {ns.op}: --{opt.replace('_', '-')} is required"
            )
    spark = get_spark("geniepool-table")
    op = ns.op
    if op == "write":
        df = spark.read.parquet(ns.input)
        v = T.write_table(
            df, ns.table, mode=ns.mode,
            stats_cols=tuple(ns.stats_cols or ()),
            bloom_cols=tuple(ns.bloom_cols or ()),
            partition_by=tuple(ns.partition_by or ()),
        )
        print(v)
    elif op == "read":
        out = T.read_table(spark, ns.table, version=ns.version)
        out.write.mode("overwrite").parquet(ns.output)
        print(out.count())
    elif op == "point":
        # the probe string coerces via the column's declared type in
        # read_point; ints are the common key case
        try:
            val = int(ns.value)
        except ValueError:
            val = ns.value
        print(T.point_scan_stats(spark, ns.table, ns.col, val))
        out = T.read_point(
            spark, ns.table, ns.col, val, version=ns.version
        )
        out.write.mode("overwrite").parquet(ns.output)
        print(out.count())
    elif op == "part":
        # one-partition pruned read: --col/--value name the equality
        try:
            val = int(ns.value)
        except ValueError:
            val = ns.value
        print(
            T.partition_scan_stats(
                spark, ns.table, {ns.col: val}, version=ns.version
            )
        )
        out = T.read_partition(
            spark, ns.table, {ns.col: val}, version=ns.version
        )
        out.write.mode("overwrite").parquet(ns.output)
        print(out.count())
    elif op == "merge":
        df = spark.read.parquet(ns.input)
        print(T.merge_table(spark, ns.table, df, ns.keys))
    elif op == "cdc":
        df = spark.read.parquet(ns.input)
        print(T.apply_cdc(spark, ns.table, df, ns.keys, op_col=ns.op_col))
    elif op == "delete":
        print(T.delete_where(spark, ns.table, ns.predicate))
    elif op == "compact":
        print(
            T.compact(
                spark, ns.table, target_files=ns.target_files,
                sort_by=tuple(ns.sort_by or ()),
            )
        )
    elif op == "vacuum":
        print(
            T.vacuum(
                spark,
                ns.table,
                keep_versions=ns.keep_versions,
                min_age_seconds=ns.min_age_seconds,
            )
        )
    elif op == "history":
        for r in T.history(spark, ns.table).collect():
            print(f"{r.version}\t{r.action}\t{r.n_files}\t{r.n_rows}")
    else:  # pragma: no cover - argparse restricts choices
        raise SystemExit(f"unknown table op {op!r}")
    return 0


_COMMANDS = {
    "dedup": _run_dedup,
    "profile": _run_profile,
    "text-stats": _run_text_stats,
    "sim-topk": _run_sim_topk,
    "pack": _run_pack,
    "chunk": _run_chunk,
    "shuffle": _run_shuffle,
    "pii": _run_pii,
    "compact": _run_compact,
    "recover": _run_recover,
    "corpus-build": _run_corpus_build,
    "diff": _run_diff,
    "scd2": _run_scd2,
    "dq": _run_dq,
    "table": _run_table,
}


def main(argv: list[str] | None = None) -> int:
    args = list(sys.argv[1:] if argv is None else argv)
    if args and args[0] == "etl":
        return _run_etl(args[1:])
    # reference-compatible bare form: 8 positional args = the ETL job
    if len(args) == 8 and args[0] not in _COMMANDS:
        return _run_etl(args)

    p = argparse.ArgumentParser(prog="geniepool_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("dedup")
    d.add_argument("input")
    d.add_argument("output")
    d.add_argument(
        "--method",
        choices=["exact", "jaccard", "minhash", "simhash"],
        default="exact",
    )
    d.add_argument("--threshold", type=float, default=0.5)
    for name in ("profile", "text-stats"):
        s = sub.add_parser(name)
        s.add_argument("input")
        s.add_argument("output")
    s = sub.add_parser("sim-topk")
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--k", type=int, default=5)
    s.add_argument("--exact", action="store_true")
    s = sub.add_parser("pack")
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--context-len", type=int, default=512)
    s.add_argument("--shards", type=int, default=8)
    s = sub.add_parser("chunk")
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--chunk-words", type=int, default=64)
    s.add_argument("--stride-words", type=int, default=48)
    s = sub.add_parser("shuffle")
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--shards", type=int, default=8)
    s.add_argument("--seed", type=int, default=17)
    s = sub.add_parser("pii")
    s.add_argument("input")
    s.add_argument("output")
    s = sub.add_parser("compact")
    s.add_argument("lake")
    s.add_argument("--day", type=int, required=True)
    s.add_argument("--target-files", type=int, default=1)
    s = sub.add_parser("recover")
    s.add_argument("lake")
    s = sub.add_parser("corpus-build")
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--chunk-words", type=int, default=64)
    s.add_argument("--stride-words", type=int, default=48)
    s.add_argument("--context-len", type=int, default=512)
    s.add_argument("--shards", type=int, default=None)
    s = sub.add_parser("diff")
    s.add_argument("left")
    s.add_argument("right")
    s.add_argument("output")
    s.add_argument("--keys", required=True)
    s.add_argument("--columns", default=None)
    s = sub.add_parser("scd2")
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--key", required=True)
    s.add_argument("--ts-col", required=True)
    s.add_argument("--attr", required=True)
    s.add_argument("--id-col", required=True)
    s.add_argument("--standing", default=None)
    s = sub.add_parser("dq")
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--rule", action="append")
    s.add_argument("--unique", action="append")
    s = sub.add_parser("table")
    s.add_argument(
        "op",
        choices=[
            "write", "read", "point", "part", "merge", "cdc",
            "delete", "compact", "vacuum", "history",
        ],
    )
    s.add_argument("table")
    s.add_argument("--input")
    s.add_argument("--output")
    s.add_argument("--mode", default="create",
                   choices=["create", "append", "overwrite"])
    s.add_argument("--stats-cols", nargs="*")
    s.add_argument("--bloom-cols", nargs="*")
    s.add_argument("--partition-by", nargs="*")
    s.add_argument("--sort-by", nargs="*")
    s.add_argument("--op-col", default="_op")
    s.add_argument("--col")
    s.add_argument("--value")
    s.add_argument("--keys", nargs="+")
    s.add_argument("--predicate")
    s.add_argument("--version", type=int)
    s.add_argument("--target-files", type=int, default=1)
    s.add_argument("--keep-versions", type=int, default=2)
    s.add_argument("--min-age-seconds", type=int, default=3600)
    ns = p.parse_args(args)
    return _COMMANDS[ns.cmd](ns)


if __name__ == "__main__":
    sys.exit(main())
