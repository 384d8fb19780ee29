"""The benchmark's workloads: corpus shapes and the seeded read mix."""

from __future__ import annotations

import random
from dataclasses import dataclass

from perfbench.gen import BUCKET, Shape


@dataclass(frozen=True)
class Workload:
    """A corpus shape under a name; why each was chosen is in
    ``BENCHMARK.json`` and the README."""

    name: str
    shape: Shape


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "cohort_gz",
            Shape(samples=60, rows_per_sample=3000, pool=6000, buckets_per_chrom=5,
                  gzip=True),
        ),
        Workload(
            "private_skewed",
            Shape(samples=6, rows_per_sample=10_000, pool=None, buckets_per_chrom=5,
                  hot_frac=0.5, t2t=True, annot_factor=2.0),
        ),
    )
}


BLOCK = 20  # queries per stratified block: 14 point + 6 range, half dense


def queries(exp: dict, blocks: int, seed: int) -> list[tuple[str, int, int]]:
    """Seeded ``read_range`` arguments in blocks of ``BLOCK``, each
    with the same mix: 70 % point queries at lake positions and 30 %
    1 Mb ranges starting at a bucket boundary; half of each kind aims
    at the densest tenth of the buckets, taken in turn from the densest
    down, and half at a random other bucket."""
    rng = random.Random(f"perfbench-queries:{seed}")
    by_bucket: dict[tuple[str, int], list[int]] = {}
    for chrom, ps in exp["positions"].items():
        for p in ps:
            by_bucket.setdefault((chrom, p // BUCKET), []).append(p)
    ranked = sorted(by_bucket, key=lambda b: (-len(by_bucket[b]), b))
    n_dense = max(1, len(ranked) // 10)
    dense, rest = ranked[:n_dense], ranked[n_dense:] or ranked
    n_point = BLOCK * 7 // 10
    out = []
    for _ in range(blocks):
        block = []
        for i in range(BLOCK):
            point = i < n_point
            k = i if point else i - n_point
            chrom, b = dense[(k // 2) % n_dense] if k % 2 == 0 else rng.choice(rest)
            if point:
                pos = rng.choice(by_bucket[(chrom, b)])
                block.append((chrom, pos, pos))
            else:
                block.append((chrom, b * BUCKET, b * BUCKET + 999_999))
        rng.shuffle(block)
        out += block
    return out
