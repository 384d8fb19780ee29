"""The traced run: per-layer metrics of one workload and seed.

A layer's cost is the extra cost of one more cumulative prefix of the
pipeline. The benchmark wraps the layer functions that
``pipeline.convert_vcfs_to_datalake`` calls, so the prefixes follow
the pipeline's own composition, builds the lake plan once, then runs
each captured prefix to the ``noop`` sink under its own job
description with a ``DataFrame.observe`` row count. After the prefixes
it calls ``write_datalake``, ``get_status`` + ``write_status`` and
``read_range`` directly. One full ``cli etl`` runs first in the traced
session; status input is what it reads beyond the lake plan (the last
prefix), so ``rescan_frac`` follows however ``cli etl`` computes status.

Spans (name, start, end, parent, run id) are kept in memory and
written, with the per-layer table, to
``.perfbench_work/traces/<workload>-seed<n>.json`` when the run ends.
Task time, shuffle, spill and I/O bytes come from the Spark event log
(``eventlog.py``), joined to the spans by job description. Tracing
overhead is the traced ``cli etl`` time minus the untraced warm one
just before it, taken in the same JVM in a session without the event
log.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import ExitStack, contextmanager
from dataclasses import asdict, dataclass
from unittest import mock

from perfbench import eventlog, harness, oracle
from perfbench.workloads import queries

# Functions that pipeline.convert_vcfs_to_datalake calls → layer names.
LAYERS = {
    "read_mutations": "sources.vcf",
    "read_impact": "sources.annotations.impact",
    "read_dbsnp": "sources.annotations.dbsnp",
    "read_gnomad": "sources.annotations.gnomad",
    "read_alpha": "sources.annotations.alpha",
    "join_impact": "operators.annotate.impact",
    "join_dbsnp": "operators.annotate.dbsnp",
    "join_gnomad": "operators.annotate.gnomad",
    "join_alpha": "operators.annotate.alpha",
    "nest_samples": "operators.nest.samples",
    "nest_entries": "operators.nest.entries",
}
# The column each annotation join fills; its non-null share is match_frac.
MATCH_COLUMN = {
    "operators.annotate.impact": "impact",
    "operators.annotate.dbsnp": "dbSNP",
    "operators.annotate.gnomad": "gnomad_an",
    "operators.annotate.alpha": "alphamissense",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans; a span's name is also the Spark job
    description of every job started inside it."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        self.sc.setJobDescription(name)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time(), parent, self.run_id))
            self._open.pop()
            self.sc.setJobDescription(parent)

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)


def capture_layers(spark, c: harness.Corpus):
    """Build the lake plan with ``convert_vcfs_to_datalake`` and return
    it with the ``(layer, DataFrame)`` each wrapped call returned, in
    call order. Builds plans only; runs no job."""
    from geniepool_etl_spark import pipeline

    captured: list[tuple[str, object]] = []

    def wrap(name, fn):
        def layer(*args, **kwargs):
            df = fn(*args, **kwargs)
            captured.append((LAYERS[name], df))
            return df

        return layer

    with ExitStack() as stack:
        for name in LAYERS:
            stack.enter_context(
                mock.patch.object(pipeline, name, wrap(name, getattr(pipeline, name)))
            )
        a = c.annot
        lake_df = pipeline.convert_vcfs_to_datalake(
            spark, str(c.vcf), str(a / "impact"), str(a / "dbsnp"), c.t2t,
            str(a / "gnomad"), str(a / "alpha"),
        )
    missing = set(LAYERS.values()) - {name for name, _ in captured}
    if missing:
        raise RuntimeError(f"pipeline no longer calls the layers {sorted(missing)}")
    return lake_df, captured


def _observed_noop(tr: Tracer, span: str, layer: str, df) -> dict:
    """Run ``df`` to the noop sink inside ``span``; return its observed
    row count, null ``pos`` rows and the layer's match-column count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("rows")]
    if "pos" in df.columns:
        aggs.append(F.count_if(F.col("pos").isNull()).alias("null_pos"))
    col = MATCH_COLUMN.get(layer)
    if col in df.columns:
        aggs.append(F.count(col).alias("matched"))
    obs = Observation(f"o{len(tr.spans)}")
    with tr.span(span):
        df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def run(workload, seed: int, seconds: float) -> tuple[dict, harness.Ops, dict]:
    from geniepool_etl_spark import lake, pipeline

    c = harness.corpus(workload, seed)
    out = harness.WORK / "runs" / f"{workload.name}-trace"
    ops = harness.Ops()

    def etl(label: str) -> float | None:
        timed = harness.etl(ops, spark, c, out, label)
        return timed[0] if timed else None

    # Untraced reference: JVM start-up, then a cold and a warm cli etl
    # run; the warm one is the untraced time.
    spark, jvm_setup_s = harness.start(harness.spark_conf())
    untraced = [etl(f"untraced cli etl {i}") for i in range(2)][-1]
    spark.stop()

    logs = harness.WORK / "eventlog" / f"{workload.name}-seed{seed}-{os.getpid()}"
    spark, _ = harness.start(harness.spark_conf(event_log=logs))
    tr = Tracer(spark.sparkContext)
    # The traced cli etl comes first, right after the untraced ones in the
    # same JVM, so both are taken at nearly the same point of JIT warm-up.
    with tr.span("cli.etl"):
        traced = etl("traced cli etl")

    with tr.span("plan"):  # jobs that plan building starts (schema reads)
        lake_df, captured = capture_layers(spark, c)
    chain = [(n, df) for n, df in captured if not n.startswith("sources.annotations.")]
    spans, obs = {}, {}
    for name, df in captured:
        if name.startswith("sources.annotations."):
            spans[name] = name
            obs[name] = _observed_noop(tr, name, name, df)
    for name, df in chain:
        spans[name] = f"prefix:{name}"
        obs[name] = _observed_noop(tr, spans[name], name, df)

    lake_dir = out / "lake-direct"
    with tr.span("lake.write_datalake"):
        lake.write_datalake(lake_df, str(lake_dir))
    files_written, bytes_written = harness.tree_bytes(lake_dir)
    with tr.span("pipeline.get_status"):
        lake.write_status(pipeline.get_status(spark, str(c.vcf)), str(out / "status-direct"))

    rows_returned, files_touched, q_lat = 0, 0, []
    for chrom, lo, hi in queries(c.exp, 1, seed):
        with tr.span("lake.read_range"):
            t0 = time.perf_counter()
            rows = harness.query(ops, spark, c, lake_dir, (chrom, lo, hi))
            q_lat.append(time.perf_counter() - t0)
        if rows is None:
            continue
        rows_returned += len(rows)
        for b in range(lo // oracle.BUCKET, hi // oracle.BUCKET + 1):
            d = lake_dir / f"chrom={chrom}" / f"pos_bucket={b}"
            files_touched += len(list(d.glob("*.parquet")))

    java = spark._jvm.java.lang.System.getProperty("java.version")
    master = spark.sparkContext.master
    harness.shutdown(spark)  # flushes and closes the event log

    ev = eventlog.read(eventlog.latest_log(logs))
    metrics = layer_metrics(tr, ev, spans, obs, [name for name, _ in chain])
    metrics["session.get_spark.self_s"] = (jvm_setup_s, "s")
    metrics["lake.write_datalake.files_written"] = (files_written, "count")
    metrics["lake.write_datalake.bytes_written"] = (bytes_written, "B")
    q_bytes = ev.get("lake.read_range", eventlog.JobMetrics()).input_bytes
    metrics["lake.read_range.self_s"] = (statistics.median(q_lat), "s")
    metrics["lake.read_range.files_per_query"] = (files_touched / len(q_lat), "count")
    metrics["lake.read_range.input_bytes_per_row_returned"] = (
        q_bytes / max(1, rows_returned), "B")
    metrics["lake.read_range.rows_returned"] = (rows_returned, "count")
    if untraced is not None and traced is not None:
        metrics["cli.etl.untraced_s"] = (untraced, "s")
        metrics["cli.etl.traced_s"] = (traced, "s")
        metrics["trace.overhead_s"] = (traced - untraced, "s")

    trace_file = harness.WORK / "traces" / f"{workload.name}-seed{seed}.json"
    trace_file.parent.mkdir(parents=True, exist_ok=True)
    trace_file.write_text(json.dumps({
        "spans": [asdict(s) for s in tr.spans],
        "jobs": {str(k): {**asdict(v), "write_task_s": v.write_task_s} for k, v in ev.items()},
        "observed": obs,
        "layers": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, indent=1))
    detail = {"trace_file": os.path.relpath(trace_file, harness.ROOT), "run_id": tr.run_id,
              "java": java, "master": master}
    return metrics, ops, detail


def layer_metrics(tr: Tracer, ev: dict, spans: dict, obs: dict, chain: list[str]) -> dict:
    """The per-layer table: deltas between consecutive prefixes along
    ``chain`` plus the directly called layers. ``spans`` maps a layer
    to the span of its noop run."""
    empty = eventlog.JobMetrics()
    job = lambda layer: ev.get(spans.get(layer, layer), empty)  # noqa: E731
    secs = lambda layer: tr.seconds(spans.get(layer, layer))  # noqa: E731
    m: dict[str, tuple[float, str]] = {}

    vcf = job("sources.vcf")
    m["sources.vcf.self_s"] = (secs("sources.vcf"), "s")
    m["sources.vcf.executor_cpu_s"] = (vcf.cpu_s, "s")
    m["sources.vcf.input_bytes"] = (vcf.input_bytes, "B")
    m["sources.vcf.rows_out"] = (obs["sources.vcf"]["rows"], "count")
    m["sources.vcf.null_pos_rows"] = (obs["sources.vcf"].get("null_pos", 0), "count")

    for t in ("impact", "dbsnp", "gnomad", "alpha"):
        name = f"sources.annotations.{t}"
        m[f"{name}.self_s"] = (secs(name), "s")
        m[f"{name}.input_bytes"] = (job(name).input_bytes, "B")
        m[f"{name}.rows_out"] = (obs[name]["rows"], "count")

    for prev, name in zip(chain, chain[1:]):
        cur, before = job(name), job(prev)
        rows_in, rows_out = obs[prev]["rows"], obs[name]["rows"]
        m[f"{name}.self_s"] = (secs(name) - secs(prev), "s")
        m[f"{name}.executor_run_s"] = (cur.run_s - before.run_s, "s")
        m[f"{name}.shuffle_write_bytes"] = (cur.shuffle_write_bytes - before.shuffle_write_bytes, "B")
        m[f"{name}.spill_bytes"] = (cur.spill_bytes - before.spill_bytes, "B")
        m[f"{name}.rows_in"] = (rows_in, "count")
        m[f"{name}.rows_out"] = (rows_out, "count")
        if name in MATCH_COLUMN:
            m[f"{name}.match_frac"] = (obs[name].get("matched", 0) / max(1, rows_out), "ratio")
        elif name.startswith("operators.nest."):
            m[f"{name}.collapse_ratio"] = (rows_in / max(1, rows_out), "ratio")

    w, before = job("lake.write_datalake"), job(chain[-1])
    m["lake.write_datalake.self_s"] = (secs("lake.write_datalake") - secs(chain[-1]), "s")
    m["lake.write_datalake.executor_run_s"] = (w.run_s - before.run_s, "s")
    m["lake.write_datalake.shuffle_write_bytes"] = (
        w.shuffle_write_bytes - before.shuffle_write_bytes, "B")
    m["lake.write_datalake.skew_ratio"] = (w.write_skew(), "ratio")

    # Status input is what the traced cli etl reads beyond building and
    # running the lake plan, so the figure follows however cli etl
    # computes status.
    st = job("pipeline.get_status")
    status_bytes = job("cli.etl").input_bytes - job("plan").input_bytes - job(chain[-1]).input_bytes
    m["pipeline.get_status.self_s"] = (secs("pipeline.get_status"), "s")
    m["pipeline.get_status.executor_run_s"] = (st.run_s, "s")
    m["pipeline.get_status.input_bytes"] = (status_bytes, "B")
    m["pipeline.get_status.rescan_frac"] = (status_bytes / max(1, vcf.input_bytes), "ratio")
    return m
