"""Point-probe cost of ``StoreSnapshot.rows`` at growing store sizes.

For each scale (a multiple of ``GraphSpec.n_users``) it generates the
perfbench seed store with ``perfbench/gen.py``, keeps one bucket's share
of it (the rows whose soul ``soul_bucket`` puts in bucket 0 of
``GraphSpec.n_buckets``), and writes that bucket with pyarrow as the one
live bucket of a manifest store, sorted by (soul, field) as
``write_buckets`` writes it.  Then, per scale:

- ``filter_ms``: one ``pq.read_table`` of the bucket with row filters on
  the soul, which is what a probe cost before buckets were cached;
- ``cold_ms``, ``cold_q1_ms``, ``cold_q3_ms``: the first ``rows(soul)``
  of a fresh ``StoreSnapshot`` (read and decode the bucket, check its
  order, search it); median and quartiles over ``COLD_SNAPSHOTS`` fresh
  snapshots, each probing a random soul;
- ``warm_ms``: the median ``rows(soul)`` of random souls of the bucket
  once it is cached;
- ``cached_kb``: the bytes the snapshot counts for the bucket it keeps
  decoded (``StoreSnapshot.cached_bytes``).

The bucket file sits in the page cache after it is written, so no
figure includes a disk read.  The whole seed store is generated in
memory first: the 100x scale peaks at about 0.9 GB.

Usage: python tools/point_probe_scale.py [--scales 1,10,100] [--probes 400] [--seed 1]
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow.parquet as pq  # noqa: E402

from esgopeta_spark.sources.io import StoreSnapshot, new_manifest, publish_manifest, soul_bucket  # noqa: E402
from perfbench import gen  # noqa: E402

BUCKET = 0
COLD_SNAPSHOTS = 31  # first probes per scale: three moved the median by half between runs


def write_bucket(path: str, spec: gen.GraphSpec, seed: int) -> list[str]:
    """Write bucket ``BUCKET`` of the seed store at ``path`` in (soul,
    field) order, as ``write_buckets`` does; returns its souls."""
    rows = gen.seed_quads(spec, seed)
    mine = {s for s in {r[0] for r in rows} if soul_bucket(s, spec.n_buckets) == BUCKET}
    rows = sorted((r for r in rows if r[0] in mine), key=lambda r: (r[0], r[1]))
    rel = f"commits/c000000/data/soul_bucket={BUCKET}"
    os.makedirs(os.path.join(path, rel))
    gen.write_table(gen.to_table(rows), os.path.join(path, rel, "part-0.parquet"))
    publish_manifest(path, new_manifest(spec.n_buckets, 0, {str(BUCKET): rel}))
    return sorted(mine)


def ms(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1e3


def measure(path: str, souls: list[str], probes: int, rng: random.Random) -> dict:
    bucket_dir = os.path.join(path, StoreSnapshot.open(path).buckets[str(BUCKET)])
    picks = [rng.choice(souls) for _ in range(probes)]
    filtered = [ms(lambda s=s: pq.read_table(bucket_dir, filters=[("soul", "==", s)])) for s in picks[:20]]
    cold = []
    for s in (rng.choice(souls) for _ in range(COLD_SNAPSHOTS)):
        snap = StoreSnapshot.open(path)
        cold.append(ms(lambda: snap.rows(s)))
    cold_q1, cold_med, cold_q3 = statistics.quantiles(cold, n=4)
    warm = [ms(lambda s=s: snap.rows(s)) for s in picks]
    return {
        "rows": pq.read_metadata(os.path.join(bucket_dir, "part-0.parquet")).num_rows,
        "file_kb": os.path.getsize(os.path.join(bucket_dir, "part-0.parquet")) / 1024,
        "filter_ms": statistics.median(filtered),
        "cold_ms": cold_med,
        "cold_q1_ms": cold_q1,
        "cold_q3_ms": cold_q3,
        "warm_ms": statistics.median(warm),
        "warm_p90_ms": statistics.quantiles(warm, n=10)[-1],
        "cached_kb": snap.cached_bytes / 1024,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--scales", default="1,10,100", help="multiples of GraphSpec.n_users")
    ap.add_argument("--probes", type=int, default=400, help="warm probes per scale")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    base = gen.GraphSpec()
    cols = ["rows", "file_kb", "filter_ms", "cold_ms", "cold_q1_ms", "cold_q3_ms", "warm_ms", "warm_p90_ms", "cached_kb"]
    print(f"bucket {BUCKET} of {base.n_buckets}, seed {args.seed}, {args.probes} warm probes")
    print(f"{'users':>8} " + " ".join(f"{c:>12}" for c in cols))
    work = tempfile.mkdtemp(prefix="point_probe_scale-")
    try:
        for scale in (int(x) for x in args.scales.split(",")):
            spec = gen.GraphSpec(n_users=base.n_users * scale)
            path = os.path.join(work, f"x{scale}")
            souls = write_bucket(path, spec, args.seed)
            r = measure(path, souls, args.probes, random.Random(args.seed))
            print(f"{spec.n_users:>8} " + " ".join(f"{r[c]:>12.2f}" if isinstance(r[c], float) else f"{r[c]:>12}" for c in cols), flush=True)
            shutil.rmtree(path)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
