"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``geniepool_etl_spark.contract`` — one
(Spark query, DuckDB oracle) pair per lane that runs package code
(SURVEY.md §2 operators and the LLM-data-pipeline families: dedup,
similarity, text analysis, events/windows, multimodal, streaming,
packing/sampling), plus seven Spark-baseline controls. Every entry
has an exact oracle (approx ops are checked as within-tolerance
booleans whose oracle side computes the exact value).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the package lives next to this file — resolvable regardless of the
# harness's working directory
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from geniepool_etl_spark.contract import (  # noqa: E402
    ORACLE_SQL,
    SPARK_QUERIES,
    q_flagship_lake_nest,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the reference's lake-build dataflow
    shape (scan → left join → two-level collect_set nest → bucket) on
    the star schema (contract.q_flagship_lake_nest)."""
    return q_flagship_lake_nest(spark, SMOKE_SF_DIR)


def _recordings() -> list[tuple[int, str, bool]]:
    """Every driver recording in the CORRECTNESS_r*.json history as
    ``(round, lane, green)``, oldest round first. Green means rows,
    schema and value hash all matched with no error."""
    import glob
    import json

    out = []
    for path in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        try:
            rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
            with open(path) as f:
                rec = json.load(f)
        except (ValueError, OSError, json.JSONDecodeError) as exc:
            # a dropped round would silently skew staleness ordering —
            # surface it instead of pretending the history is complete
            import warnings

            warnings.warn(
                f"rotation: unreadable correctness record {path}: {exc}"
            )
            continue
        for k, row in rec.items():
            green = bool(
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            )
            out.append((rnd, k, green))
    return sorted(out)


def _rotation_order(names) -> list[str]:
    """Order lanes for the driver's rotating ~50-lane correctness
    window: lanes never recorded green first (new work gets
    externally proven the round it lands), then ascending last-green
    round from the CORRECTNESS_r*.json history (stalest external
    proof re-proven first), registry order as the tiebreak. A red
    record does not count as proof. The registry itself stays
    grouped by family; rotation is a view. With 279 lanes and a
    50-lane window this bounds every lane's external re-proof cycle
    at ~6 rounds (r12 verdict, process nit #1)."""
    last_green = {k: rnd for rnd, k, green in _recordings() if green}
    order = {n: i for i, n in enumerate(names)}
    return sorted(names, key=lambda n: (last_green.get(n, -1), order[n]))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    north-star LLM-pipeline operators), rotation-ordered (stalest
    driver record first) so the driver's window re-proves the oldest
    third of the registry each round."""
    rot = _rotation_order(list(SPARK_QUERIES))
    return {n: SPARK_QUERIES[n] for n in rot}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each query (omitted only where the
    semantics are engine-specific, e.g. approximate aggregates);
    same rotation order as queries()."""
    rot = _rotation_order(list(SPARK_QUERIES))
    return {n: ORACLE_SQL[n] for n in rot if n in ORACLE_SQL}
