"""What every run shares: the working area, the corpus with its
expectations, the Spark session lifecycle, and the checked ``cli etl``
and ``read_range`` calls.

Every path the benchmark writes lies under ``WORK`` inside the
checkout; ``isolate`` points the JVM, Spark and Python temp files there
before pyspark is imported.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
DRIVER_MEM = "2g"


def isolate() -> None:
    """Environment for the run; call before importing pyspark."""
    for d in ("tmp", "spark-local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(WORK / "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)


def spark_conf(event_log: Path | None = None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start(conf: dict[str, str]):
    """``(session, seconds)`` for one ``get_spark`` start-up."""
    import pyspark.sql  # noqa: F401  (import time is not start-up time)

    from geniepool_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    """The local-mode driver JVM, which also runs every executor task."""
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def cpu_seconds(spark) -> float:
    """User plus system CPU seconds so far of the driver JVM, which runs
    every task in local mode, and of this process. Unlike wall time, it
    does not grow with the time the hypervisor gives to other guests."""
    with open(f"/proc/{jvm_pid(spark)}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()  # fields 3.. of proc(5)
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return jvm + time.process_time()


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


@dataclass
class Corpus:
    annot: Path
    vcf: Path
    t2t: bool
    book: dict
    exp: dict

    def etl_args(self, out: Path) -> list[str]:
        a = self.annot
        return [
            "etl", str(self.vcf), str(out / "lake"), str(out / "status"),
            str(a / "impact"), str(a / "dbsnp"), str(self.t2t).lower(),
            str(a / "gnomad"), str(a / "alpha"),
        ]


def corpus(workload, seed: int) -> Corpus:
    """The workload's corpus for ``seed`` and its expectations, both
    cached in ``WORK``."""
    from perfbench import gen, oracle

    annot, root, book = gen.cached_corpus(WORK / "corpus", workload.name, workload.shape, seed)
    exp_file = root / "expected.json"
    if not exp_file.exists():
        exp = oracle.expected(root / "vcf", annot, workload.shape.t2t)
        tmp = exp_file.with_suffix(".tmp")
        tmp.write_text(json.dumps(exp))
        tmp.replace(exp_file)
    return Corpus(annot, root / "vcf", workload.shape.t2t, book, json.loads(exp_file.read_text()))


def collect_garbage(spark) -> None:
    """A full collection in Python and in the driver JVM, so every timed
    step starts from the same heap state."""
    gc.collect()
    spark._jvm.java.lang.System.gc()


def etl(ops: Ops, spark, c: Corpus, out: Path, label: str) -> tuple[float, float] | None:
    """One ``cli etl`` run, as a user makes it, with its output checked:
    ``(wall s, cpu s)`` of the run alone, or ``None`` if it raised."""
    from geniepool_etl_spark import cli

    def run() -> tuple[float, float]:
        shutil.rmtree(out / "status", ignore_errors=True)
        collect_garbage(spark)
        cpu0, t0 = cpu_seconds(spark), time.perf_counter()
        rc = cli.main(c.etl_args(out))
        dt, cpu = time.perf_counter() - t0, cpu_seconds(spark) - cpu0
        if rc != 0:
            raise RuntimeError(f"cli etl exited {rc}")
        return dt, cpu

    timed = ops.run(label, run)
    if timed is not None:
        ops.check(label, check_etl(c, out))
    return timed


def check_etl(c: Corpus, out: Path) -> list[str]:
    from perfbench import oracle

    status = [
        json.loads(line)
        for f in sorted((out / "status").glob("*.json"))
        for line in f.read_text().splitlines()
        if line.strip()
    ]
    return oracle.check_lake(out / "lake", status, c.exp)


def query(ops: Ops, spark, c: Corpus, lake_dir: Path, q: tuple[str, int, int]) -> list | None:
    """One ``read_range`` call with its result collected and its row
    count checked: the rows, or ``None`` if it raised."""
    from geniepool_etl_spark import lake
    from perfbench import oracle

    chrom, lo, hi = q
    rows = ops.run("read_range", lambda: lake.read_range(spark, str(lake_dir), chrom, lo, hi).collect())
    if rows is not None:
        want = oracle.range_rows(c.exp, chrom, lo, hi)
        ops.check(f"read_range{q}", [] if len(rows) == want else [f"{len(rows)} rows, want {want}"])
    return rows


class Ops:
    """Attempted and failed operations; a failure is an exception or a
    failed output check, and is reported on stderr."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn):
        """``fn()``'s value, or ``None`` if it raised."""
        self.attempted += 1
        try:
            result = fn()
        except Exception as e:  # one failed operation must not end the run
            import traceback

            traceback.print_exc()
            self.failed += 1
            print(f"perfbench: {what} failed: {e!r}", file=sys.stderr)
            return None
        return result

    def check(self, what: str, mismatches: list[str]) -> None:
        if mismatches:
            self.failed += 1
            print(f"perfbench: {what} output check failed: {mismatches}", file=sys.stderr)


def tree_bytes(path: Path) -> tuple[int, int]:
    """``(files, bytes)`` of the regular files under ``path``."""
    files = total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            total += os.path.getsize(os.path.join(dirpath, n))
    return files, total
