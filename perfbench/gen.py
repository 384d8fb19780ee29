"""Seeded GeniePool-shaped corpus generator (stdlib + pyarrow only).

A corpus is the five inputs of ``cli etl``, following the file-name
and edge conventions of FIXTURES.md §1-6:

- ``vcf/<SAMPLE>.vcf[.gz]``: VCF v4.2 single-sample files with ``##``
  meta lines and a ``#CHROM`` header, multi-alt positions, deletions,
  ``chr1_KI270706v1_random`` contig rows, short rows and rows whose POS
  is not a number;
- ``impact/impact_<i>.csv``: tab-separated with a header, bare and
  lower-case chromosome names, duplicate keys across files whose
  IMPACT differs only in stray spaces, and multi-word values;
- ``dbsnp/``: a TSV with a ``#CHROM`` header line, or (``t2t``) T2T
  parquet files ``c<CHROM>_m<N>.parquet`` whose ``CHROM`` column is
  int64 in some files and string in others; some keys carry two rs ids;
- ``gnomad/c<CHROM>_<lo>k_<hi>k.parquet``; exactly one file lacks the
  ``hg38_coordinates`` column;
- ``alpha/<chrom>.parquet``: one row per position with A/C/G/T scores;
  some rows have a non-zero score in the reference base's column.

The annotation tables describe a fixed catalogue of known alleles, the
same for every seed of a shape, as real reference resources are; the
seed draws the samples. Samples take ``KNOWN_FRAC`` of their alleles
from the catalogue and the rest are novel. The same (shape, seed)
always gives the same bytes. Nothing here imports the package under
test.
"""

from __future__ import annotations

import dataclasses
import gzip
import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

CHROMS = [str(i) for i in range(1, 23)] + ["X", "Y"]
BASES = "ACGT"
BUCKET = 100_000  # the lake's pos_bucket width (config.PARTITION_SIZE)
HEADER = (
    "##fileformat=VCFv4.2\n"
    "##source=perfbench\n"
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">\n'
    "##contig=<ID=chr1>\n"
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t{sample}\n"
)
IMPACTS = ["missense", "synonymous", "stop_gained", "impact XX test", "frameshift"]
KNOWN_FRAC = 0.7  # share of a sample's alleles taken from the catalogue
MATCH_FRAC = 0.6  # share of the catalogue each annotation table describes
HOT_BUCKETS = 1  # chr1 buckets that take a shape's ``hot_frac`` of the sites
KEEP = 12  # sample sets per workload kept on disk

Allele = tuple[int, int, str, str]  # (chrom index, pos, ref, alt)


@dataclass(frozen=True)
class Shape:
    """Corpus parameters.

    With ``pool`` set, the samples draw from one shared pool of that
    many alleles, so each allele appears in about
    ``samples * rows_per_sample / pool`` samples; with ``pool=None``
    every sample draws its own alleles. ``hot_frac`` of the sites lie
    in the first ``HOT_BUCKETS`` buckets of chr1. The catalogue has
    ``annot_factor`` alleles per distinct sample allele, and each
    annotation table describes ``MATCH_FRAC`` of it.
    """

    samples: int
    rows_per_sample: int
    pool: int | None
    buckets_per_chrom: int
    hot_frac: float = 0.0
    gzip: bool = False
    t2t: bool = False
    annot_factor: float = 1.5

    def params(self) -> str:
        return json.dumps(dataclasses.asdict(self), sort_keys=True)

    def key(self) -> str:
        """Cache key: the parameters and this generator's source."""
        blob = self.params().encode() + Path(__file__).read_bytes()
        return hashlib.sha1(blob).hexdigest()[:10]

    def distinct_alleles(self) -> int:
        return self.pool or self.samples * self.rows_per_sample


def _ref_base(ci: int, pos: int) -> str:
    """The reference base at a site: a fixed function of the site, so
    samples and annotation tables agree on it."""
    return BASES[(pos * 2654435761 + ci * 40503) >> 7 & 3]


def _site(shape: Shape, rng: random.Random) -> tuple[int, int]:
    if rng.random() < shape.hot_frac:
        return 0, rng.randrange(1, HOT_BUCKETS * BUCKET)
    return rng.randrange(len(CHROMS)), rng.randrange(1, shape.buckets_per_chrom * BUCKET)


def _alleles_at(ci: int, pos: int, rng: random.Random) -> list[Allele]:
    """One allele at a site, two at ~15 % of sites (multi-alt); ~3 %
    are deletions, which get no AlphaMissense score."""
    ref = _ref_base(ci, pos)
    others = [b for b in BASES if b != ref]
    rng.shuffle(others)
    out = [(ci, pos, ref, alt) for alt in others[: 2 if rng.random() < 0.15 else 1]]
    if rng.random() < 0.03:
        out[0] = (ci, pos, ref + others[-1], ref)
    return out


def _draw(shape: Shape, n: int, rng: random.Random) -> list[Allele]:
    """``n`` distinct alleles at random sites."""
    seen: set[Allele] = set()
    out: list[Allele] = []
    while len(out) < n:
        for a in _alleles_at(*_site(shape, rng), rng):
            if a not in seen and len(out) < n:
                seen.add(a)
                out.append(a)
    return out


def catalogue(shape: Shape) -> list[Allele]:
    """The known alleles the annotation tables describe (seed-free)."""
    rng = random.Random(f"perfbench-catalogue:{shape.params()}")
    return sorted(_draw(shape, int(shape.distinct_alleles() * shape.annot_factor), rng))


def _mix(known: list[Allele], shape: Shape, n: int, rng: random.Random) -> list[Allele]:
    """``n`` distinct alleles: ``KNOWN_FRAC`` from the catalogue, the
    rest novel."""
    k = int(n * KNOWN_FRAC)
    out = set(rng.sample(known, k))
    while len(out) < n:
        out.update(_draw(shape, n - len(out), rng))
    return sorted(out)


def _suffixes(rng: random.Random, n: int = 512) -> list[str]:
    """QUAL .. sample columns; about a third homozygous."""
    out = []
    for _ in range(n):
        dp = rng.randrange(2, 60)
        alt_reads = rng.randrange(1, dp + 1)
        gt = "1/1" if rng.random() < 0.33 else "0/1"
        qual = f"{rng.randrange(100, 99999) / 100:.2f}"
        out.append(
            f"\t{qual}\tPASS\tDP={dp}\tGT:AD:DP\t{gt}:{dp - alt_reads},{alt_reads}:{dp}\n"
        )
    return out


def _line_prefix(a: Allele) -> str:
    ci, pos, ref, alt = a
    return f"chr{CHROMS[ci]}\t{pos}\t.\t{ref}\t{alt}"


def _edge_rows(i: int, shape: Shape, rng: random.Random) -> list[str]:
    """An alt contig row (the reader strips the chrom suffix after
    ``_``), a short row and a non-numeric POS, in some of the files."""
    span = shape.buckets_per_chrom * BUCKET
    rows = []
    if i % 9 == 0:
        pos = rng.randrange(1, span)
        ref = _ref_base(0, pos)
        alt = "T" if ref != "T" else "C"
        rows.append(
            f"chr1_KI270706v1_random\t{pos}\t.\t{ref}\t{alt}\t31.50\tPASS\t.\tGT:AD\t1/1:0,4\n"
        )
    if i % 11 == 1:
        rows.append(f"chr{CHROMS[i % 24]}\t{rng.randrange(1, span)}\t.\n")
    if i % 13 == 2:
        rows.append(f"chr{CHROMS[i % 24]}\tNA\t.\tA\tG\t12.00\tPASS\t.\tGT:AD\t0/1:3,2\n")
    return rows


def write_samples(vdir: Path, shape: Shape, seed: int) -> dict:
    """Write the sample files for ``seed``; return their bookkeeping."""
    rng = random.Random(f"perfbench-samples:{shape.params()}:{seed}")
    vdir.mkdir(parents=True)
    known = catalogue(shape)
    suffixes = _suffixes(rng)
    pool = _mix(known, shape, shape.pool, rng) if shape.pool else None
    prefixes = [_line_prefix(a) for a in pool] if pool else None
    alleles: set[Allele] = set(pool or ())
    rows = body_bytes = 0
    for i in range(shape.samples):
        sample = f"SRR{14860000 + i}" if i else "SRR581526-small"
        if pool:
            idx = sorted(rng.sample(range(len(pool)), shape.rows_per_sample))
            body = [prefixes[j] for j in idx]
        else:
            mine = _mix(known, shape, shape.rows_per_sample, rng)
            alleles.update(mine)
            body = [_line_prefix(a) for a in mine]
        lines = list(map(str.__add__, body, rng.choices(suffixes, k=len(body))))
        lines += _edge_rows(i, shape, rng)
        rows += len(lines)
        text = "".join(lines).encode()
        body_bytes += len(text)
        data = HEADER.format(sample=sample).encode() + text
        if shape.gzip:
            (vdir / f"{sample}.vcf.gz").write_bytes(
                gzip.compress(data, compresslevel=1, mtime=0)
            )
        else:
            (vdir / f"{sample}.vcf").write_bytes(data)
    return {
        "sample_rows": rows,
        "samples": shape.samples,
        "distinct_alleles": len(alleles),
        "vcf_body_bytes": body_bytes,
    }


def _bare(ci: int, rng: random.Random) -> str:
    """Chromosome as the annotation tables spell it: no prefix, X/Y
    sometimes lower case."""
    c = CHROMS[ci]
    return c.lower() if c in "XY" and rng.random() < 0.5 else c


def _by_chrom(rows: list) -> dict[int, list]:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(r[0], []).append(r)
    return out


def _write_impact(d: Path, hits: list[Allele], rng: random.Random) -> None:
    files = [["CHROM\tPOS\tREF\tALT\tIMPACT\n"] for _ in range(2)]
    for ci, pos, ref, alt in hits:
        word = IMPACTS[(pos + ci) % len(IMPACTS)]
        line = f"{_bare(ci, rng)}\t{pos}\t{ref}\t{alt}\t"
        f = rng.randrange(2)
        files[f].append(f"{line}{word}\n")
        if rng.random() < 0.05:  # the same key again, with stray spaces
            files[1 - f].append(f"{line} {word}  \n")
    for i, lines in enumerate(files):
        (d / f"impact_{i}.csv").write_text("".join(lines))


def _write_dbsnp(d: Path, hits: list[Allele], t2t: bool, rng: random.Random) -> None:
    rows = []
    for n, (ci, pos, ref, alt) in enumerate(hits):
        rows.append((ci, pos, ref, alt, f"rs{1000000 + n}"))
        if rng.random() < 0.03:  # a second rs id: the allele fans out
            rows.append((ci, pos, ref, alt, f"rs{90000000 + n}"))
    if not t2t:
        lines = ["#CHROM\tPOS\tREF\tALT\tID\n"]
        lines += [f"{_bare(ci, rng)}\t{p}\t{r}\t{a}\t{rs}\n" for ci, p, r, a, rs in rows]
        (d / "dbsnp.tsv").write_text("".join(lines))
        return
    for ci, rs in sorted(_by_chrom(rows).items()):
        c = CHROMS[ci]
        half = (len(rs) + 1) // 2
        for n, part in enumerate((rs[:half], rs[half:])):
            # CHROM's physical type differs between files (int64 vs
            # string); the reader must not depend on it.
            chrom_col = (
                pa.array([int(c)] * len(part), pa.int64())
                if c.isdigit() and n == 0
                else pa.array([c] * len(part), pa.string())
            )
            t = pa.table(
                {
                    "CHROM": chrom_col,
                    "POS": pa.array([r[1] for r in part], pa.int64()),
                    "REF": [r[2] for r in part],
                    "ALT": [r[3] for r in part],
                    "SNP": [r[4] for r in part],
                }
            )
            pq.write_table(t, d / f"c{c}_m{n}.parquet")


def _write_gnomad(d: Path, hits: list[Allele], span: int, rng: random.Random) -> None:
    half = span // 2
    first = True
    for ci, rows in sorted(_by_chrom(hits).items()):
        for lo, hi in ((0, half), (half, span)):
            part = [r for r in rows if lo <= r[1] < hi]
            an = [rng.randrange(1000, 150000) for _ in part]
            cols = {
                "POS": pa.array([r[1] for r in part], pa.int64()),
                "REF": [r[2] for r in part],
                "ALT": [r[3] for r in part],
                "gnomad_an": pa.array(an, pa.int64()),
                "gnomad_ac": pa.array([x // rng.randrange(2, 200) for x in an], pa.int64()),
                "gnomad_nhomalt": pa.array([rng.randrange(50) for _ in part], pa.int64()),
            }
            if not first:  # the first file lacks hg38_coordinates
                cols["hg38_coordinates"] = [f"chr{CHROMS[ci]}:{r[1] + 7}" for r in part]
            first = False
            name = f"c{CHROMS[ci]}_{lo // 1000}k_{hi // 1000}k.parquet"
            pq.write_table(pa.table(cols), d / name)


def _write_alpha(d: Path, hits: list[Allele], rng: random.Random) -> None:
    sites = sorted({(ci, pos) for ci, pos, _, _ in hits})
    for ci, rows in sorted(_by_chrom(sites).items()):
        positions = [pos for _, pos in rows]
        cols: dict[str, list[float]] = {b: [] for b in BASES}
        for pos in positions:
            for b in BASES:
                cols[b].append(rng.randrange(1, 10000) / 10000)
            if rng.random() < 0.9:  # usually the ref base's own column is 0
                cols[_ref_base(ci, pos)][-1] = 0.0
        t = pa.table(
            {
                "POS": pa.array(positions, pa.int64()),
                **{b: pa.array(v, pa.float64()) for b, v in cols.items()},
            }
        )
        pq.write_table(t, d / f"{CHROMS[ci].lower()}.parquet")


def write_annotations(root: Path, shape: Shape) -> None:
    """Write the four annotation inputs for the shape's catalogue."""
    rng = random.Random(f"perfbench-annotations:{shape.params()}")
    known = catalogue(shape)
    span = shape.buckets_per_chrom * BUCKET
    for name in ("impact", "dbsnp", "gnomad", "alpha"):
        (root / name).mkdir(parents=True)
    hits = lambda: [a for a in known if rng.random() < MATCH_FRAC]  # noqa: E731
    _write_impact(root / "impact", hits(), rng)
    _write_dbsnp(root / "dbsnp", hits(), shape.t2t, rng)
    _write_gnomad(root / "gnomad", hits(), span, rng)
    _write_alpha(root / "alpha", hits(), rng)


def _cached(root: Path, build) -> Path:
    """Build ``root`` once; a ``done`` marker makes a half-written
    directory from an interrupted run count as absent."""
    done = root / "done"
    if done.exists():
        os.utime(done)
        return root
    shutil.rmtree(root, ignore_errors=True)
    build()
    done.write_text("")
    return root


def cached_corpus(cache: Path, name: str, shape: Shape, seed: int):
    """Return ``(annotation dir, sample dir, bookkeeping)`` for the
    corpus, generating what is missing. At most ``KEEP`` sample sets
    per workload stay on disk."""
    annot = _cached(cache / f"{name}-{shape.key()}-annotations",
                    lambda: write_annotations(cache / f"{name}-{shape.key()}-annotations", shape))
    root = cache / f"{name}-{shape.key()}-seed{seed}"
    book_file = root / "corpus.json"

    def build():
        book = write_samples(root / "vcf", shape, seed)
        book_file.write_text(json.dumps(book))

    _cached(root, build)
    old = sorted(
        (p for p in cache.glob(f"{name}-{shape.key()}-seed*") if (p / "done").exists()),
        key=lambda p: (p / "done").stat().st_mtime,
    )
    for p in old[:-KEEP]:
        shutil.rmtree(p, ignore_errors=True)
    return annot, root, json.loads(book_file.read_text())
