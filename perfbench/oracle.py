"""Expected outputs of ``cli etl``, computed by DuckDB from the raw
generated files without any package code, and the matching digest of
a written lake.

The lake is compared as a multiset of flattened rows, one per
(position, allele entry, sample, hom/het): every ``entries`` element
has at least one sample, so the flattened rows determine the lake up
to the order inside its ``collect_set`` arrays. The digest is the row
count plus the sum of DuckDB row hashes, which ignores order; both
sides cast to the same types before hashing.
"""

from __future__ import annotations

import tempfile
from bisect import bisect_left, bisect_right
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

BUCKET = 100_000

# The flattened lake row, with the types both sides cast to.
FLAT_TYPES = {
    "chrom": "VARCHAR", "pos": "INTEGER", "ref": "VARCHAR", "alt": "VARCHAR",
    "impact": "VARCHAR", "dbSNP": "VARCHAR", "gnomad_an": "BIGINT",
    "gnomad_ac": "BIGINT", "gnomad_nhomalt": "BIGINT", "hg38_coordinate": "VARCHAR",
    "alphamissense": "DOUBLE", "hom": "BOOLEAN", "id": "VARCHAR", "qual": "FLOAT",
    "ad": "VARCHAR",
}
FLAT = ", ".join(f"{c}::{t} AS {c}" for c, t in FLAT_TYPES.items())
DIGEST = f"SELECT count(*), sum(hash({', '.join(FLAT_TYPES)}))::VARCHAR FROM flat"
ANNOTATIONS = ("impact", "dbSNP", "gnomad_an", "alphamissense")
ALLELE_FIELDS = list(FLAT_TYPES)[2:11]  # ref .. alphamissense


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET preserve_insertion_order = false")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def _chrom_from_c_file(col: str) -> str:
    """``.../c1_m0.parquet`` → ``chr1`` (FIXTURES.md §4-5)."""
    stem = f"split_part(regexp_extract({col}, '[^/]*$'), '.', 1)"
    return f"'chr' || upper(replace(split_part({stem}, '_', 1), 'c', ''))"


def _alpha_score() -> str:
    arms = [
        f"WHEN v.ref = '{r}' AND a.{r} = 0 AND v.alt = '{x}' THEN a.{x}"
        for r in "ACGT"
        for x in "ACGT"
        if x != r
    ]
    return "CASE " + " ".join(arms) + " END"


def _load_inputs(con, vcf: Path, annot: Path, t2t: bool) -> None:
    cols = ", ".join(f"'c{i}': 'VARCHAR'" for i in range(10))
    con.execute(
        f"""
        CREATE TEMP TABLE raw AS
        SELECT c0, c1, c3, c4, c5, c9,
               split_part(regexp_extract(filename, '[^/]*$'), '.', 1) AS srr,
               filename
        FROM read_csv('{vcf}/*', delim='\t', header=false, quote='', escape='',
                      columns={{{cols}}}, null_padding=true, filename=true,
                      auto_detect=false)
        WHERE NOT starts_with(c0, '#')
        """
    )
    con.execute(
        """
        CREATE TEMP TABLE v AS
        SELECT split_part(c0, '_', 1) AS chrom, TRY_CAST(c1 AS INTEGER) AS pos,
               c3 AS ref, c4 AS alt, TRY_CAST(c5 AS FLOAT) AS qual,
               string_split(c9, ':')[2] AS ad,
               coalesce(starts_with(c9, '1/1'), false) AS hom, srr AS id
        FROM raw
        """
    )
    con.execute(
        f"""
        CREATE TEMP TABLE impact AS
        SELECT DISTINCT 'chr' || upper(CHROM) AS chrom, TRY_CAST(POS AS INTEGER) AS pos,
               REF AS ref, ALT AS alt, trim(IMPACT) AS impact
        FROM read_csv('{annot}/impact/*', delim='\t', header=true, quote='',
                      all_varchar=true)
        """
    )
    if t2t:
        dbsnp = f"""
        SELECT {_chrom_from_c_file('filename')} AS chrom, POS::INTEGER AS pos,
               REF AS ref, ALT AS alt, SNP AS dbSNP
        FROM read_parquet('{annot}/dbsnp/*.parquet', filename=true, union_by_name=true)
        """
    else:
        dbsnp = f"""
        SELECT 'chr' || upper(c0) AS chrom, TRY_CAST(c1 AS INTEGER) AS pos,
               c2 AS ref, c3 AS alt, c4 AS dbSNP
        FROM read_csv('{annot}/dbsnp/*', delim='\t', header=false, quote='',
                      columns={{'c0': 'VARCHAR', 'c1': 'VARCHAR', 'c2': 'VARCHAR',
                                'c3': 'VARCHAR', 'c4': 'VARCHAR'}}, auto_detect=false)
        WHERE NOT starts_with(c0, '#')
        """
    con.execute(f"CREATE TEMP TABLE dbsnp AS {dbsnp}")
    con.execute(
        f"""
        CREATE TEMP TABLE gnomad AS
        SELECT {_chrom_from_c_file('filename')} AS chrom, POS::INTEGER AS pos,
               REF AS ref, ALT AS alt, gnomad_an, gnomad_ac, gnomad_nhomalt,
               hg38_coordinates AS hg38_coordinate
        FROM read_parquet('{annot}/gnomad/*.parquet', filename=true, union_by_name=true)
        """
    )
    con.execute(
        f"""
        CREATE TEMP TABLE alpha AS
        SELECT 'chr' || upper(split_part(regexp_extract(filename, '[^/]*$'), '.', 1))
                   AS chrom, POS::INTEGER AS pos, A, C, G, T
        FROM read_parquet('{annot}/alpha/*.parquet', filename=true)
        """
    )


def expected(vcf: Path, annot: Path, t2t: bool) -> dict:
    """Everything the checks compare against, for one corpus."""
    con = _connect()
    try:
        _load_inputs(con, vcf, annot, t2t)
        (dups,) = con.execute(
            "SELECT count(*) - count(DISTINCT (chrom, pos, ref, alt)) FROM impact"
        ).fetchone()
        if dups:  # the generator must keep trimmed IMPACT unique per key
            raise ValueError(f"impact keys with conflicting values: {dups}")
        con.execute(
            f"""
            CREATE TEMP TABLE flat AS
            SELECT DISTINCT {FLAT} FROM (
                SELECT v.*, i.impact, d.dbSNP, g.gnomad_an, g.gnomad_ac,
                       g.gnomad_nhomalt, g.hg38_coordinate,
                       {_alpha_score()} AS alphamissense
                FROM v
                LEFT JOIN impact i USING (chrom, pos, ref, alt)
                LEFT JOIN dbsnp d USING (chrom, pos, ref, alt)
                LEFT JOIN gnomad g USING (chrom, pos, ref, alt)
                LEFT JOIN alpha a ON v.chrom = a.chrom AND v.pos = a.pos
            )
            """
        )
        n, digest = con.execute(DIGEST).fetchone()
        out = {"flat_rows": n, "digest": digest}
        out["lake_rows"] = con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT chrom, pos FROM flat)"
        ).fetchone()[0]
        out["entries"] = _annotation_counts(con, "flat")
        coords, muts, samples, rows, null_pos = con.execute(
            """
            SELECT count(DISTINCT c0 || chr(9) || c1),
                   count(DISTINCT c0 || chr(9) || c1 || chr(9) || c3 || chr(9) || c4),
                   count(DISTINCT filename), count(*), count(*) - count(TRY_CAST(c1 AS INTEGER))
            FROM raw
            """
        ).fetchone()
        out["status"] = {
            "coordinates_num": coords,
            "mutations_num": muts,
            "samples_num": samples,
        }
        out["sample_rows"] = rows
        out["null_pos_rows"] = null_pos
        positions: dict[str, list[int]] = {}
        for chrom, pos in con.execute(
            "SELECT DISTINCT chrom, pos FROM flat WHERE pos IS NOT NULL ORDER BY 1, 2"
        ).fetchall():
            positions.setdefault(chrom, []).append(pos)
        out["positions"] = positions
        return out
    finally:
        con.close()


def _annotation_counts(con, table: str) -> dict[str, int]:
    """Entries (distinct annotated alleles) and their non-null
    annotation counts."""
    sel = ", ".join(f"count({c})" for c in ANNOTATIONS)
    keys = ", ".join(["chrom", "pos", *ALLELE_FIELDS])
    row = con.execute(
        f"SELECT count(*), {sel} FROM (SELECT DISTINCT {keys} FROM {table})"
    ).fetchone()
    return dict(zip(("entries", *ANNOTATIONS), row))


def _flatten_lake(lake: Path) -> pa.Table:
    """One row per (position, entry, sample), with the flag saying
    whether the sample sits in ``hom`` or ``het``; ``pos_bucket`` is
    kept as its directory string."""
    part = ds.partitioning(
        pa.schema([("chrom", pa.string()), ("pos_bucket", pa.string())]), flavor="hive"
    )
    t = ds.dataset(lake, format="parquet", partitioning=part).to_table()
    entries = t.column("entries").combine_chunks()
    at = pc.list_parent_indices(entries)
    e = pc.list_flatten(entries)
    chrom, pos = t.column("chrom").take(at), t.column("pos").take(at)
    parts = []
    for side in ("hom", "het"):
        samples = e.field(side)
        at2 = pc.list_parent_indices(samples)
        s = pc.list_flatten(samples)
        cols = {"chrom": chrom.take(at2), "pos": pos.take(at2)}
        cols.update({f: e.field(f).take(at2) for f in ALLELE_FIELDS})
        cols["hom"] = pa.array([side == "hom"] * len(s), pa.bool_())
        cols.update({f: s.field(f) for f in ("id", "qual", "ad")})
        parts.append(pa.table(cols))
    return t.select(["chrom", "pos", "pos_bucket"]), pa.concat_tables(parts)


def lake_summary(lake: Path) -> dict:
    """The same figures read back from a written lake."""
    rows_t, flat_t = _flatten_lake(lake)
    con = _connect()
    try:
        con.register("lake_rows", rows_t)
        con.register("lake_flat", flat_t)
        rows, misplaced = con.execute(
            f"""
            SELECT count(*), count(*) FILTER (
                WHERE TRY_CAST(pos_bucket AS BIGINT) IS DISTINCT FROM pos // {BUCKET})
            FROM lake_rows
            """
        ).fetchone()
        con.execute(f"CREATE TEMP TABLE flat AS SELECT {FLAT} FROM lake_flat")
        n, digest = con.execute(DIGEST).fetchone()
        return {
            "lake_rows": rows,
            "misplaced_rows": misplaced,
            "flat_rows": n,
            "digest": digest,
            "entries": _annotation_counts(con, "flat"),
        }
    finally:
        con.close()


def check_lake(lake: Path, status_rows: list[dict], exp: dict) -> list[str]:
    """Mismatches between one ``cli etl`` run's outputs and ``exp``;
    empty when the run is correct."""
    got = lake_summary(lake)
    bad = [
        f"{k}: got {got[k]} want {exp[k]}"
        for k in ("lake_rows", "flat_rows", "digest", "entries")
        if got[k] != exp[k]
    ]
    if got["misplaced_rows"]:
        bad.append(f"{got['misplaced_rows']} rows outside their pos_bucket")
    if len(status_rows) != 1:
        bad.append(f"{len(status_rows)} status rows, want 1")
    else:
        row = status_rows[0]
        bad += [
            f"status {k}: got {row.get(k)} want {v}"
            for k, v in exp["status"].items()
            if row.get(k) != v
        ]
        if not row.get("update_date"):
            bad.append("status update_date missing")
    return bad


def range_rows(exp: dict, chrom: str, lo: int, hi: int) -> int:
    """Lake rows a ``read_range(chrom, lo, hi)`` must return."""
    ps = exp["positions"].get(chrom, [])
    return bisect_right(ps, hi) - bisect_left(ps, lo)
