"""Standalone (no-Spark) machine-ceiling probes for the build's two
physical bottleneck classes, importable by bench.py:

  * kernel_ceiling(): the REAL encode kernel (unpack packed token
    blobs, sort, varbyte-encode) run under multiprocessing at several
    worker counts over the just-built tok artifact. If the engine's
    N->4N build efficiency matches this, the residue is the machine,
    not the plan.
  * bandwidth_curve(): aggregate memory-copy GB/s vs worker count —
    evidence for WHY high core counts flatten on this one-socket VM
    (measured: ~1.3 GB/s/core, plateau ~7 GB/s aggregate).

CLI: python tools/profile_kernel.py [tok_dir]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_PART_DIR = "/tmp/irkit_profile/kparts"
_N_SLICES = 32


def _prep(tok_dir: str) -> None:
    """Split the blob tok artifact into _N_SLICES per-slice parquet
    files keyed on bucket (the same key the build shuffles on)."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    os.makedirs(_PART_DIR, exist_ok=True)
    tbl = ds.dataset(tok_dir).to_table()
    bk = tbl.column("bucket").to_numpy()
    for i in range(_N_SLICES):
        pq.write_table(tbl.filter(pa.array(bk % _N_SLICES == i)),
                       f"{_PART_DIR}/part{i}.parquet")


def _work(part: int) -> float:
    import pyarrow.parquet as pq

    from irkit_spark import config
    from irkit_spark.operators.build import _blob_encoder

    sub = pq.read_table(f"{_PART_DIR}/part{part}.parquet")
    kern = _blob_encoder(180.0, "varbyte", config.BLOCK_SIZE, 500000 // 64)
    t0 = time.monotonic()
    for _ in kern(sub.to_batches(max_chunksize=65536)):
        pass
    return time.monotonic() - t0


def kernel_ceiling(tok_dir: str,
                   worker_counts: tuple = (1, 2, 4, 8, 32)) -> dict:
    """Wall seconds for the full _N_SLICES-slice encode at each pinned
    worker count + derived N->4N efficiencies."""
    _prep(tok_dir)
    saved = os.sched_getaffinity(0)
    out: dict = {}
    try:
        for n in worker_counts:
            os.sched_setaffinity(0, set(range(n)))
            with mp.Pool(n) as pool:
                t0 = time.monotonic()
                pool.map(_work, range(_N_SLICES))
                out[f"wall_{n}w"] = round(time.monotonic() - t0, 3)
    finally:
        os.sched_setaffinity(0, saved)
    for lo, hi in ((1, 4), (2, 8), (8, 32)):
        if f"wall_{lo}w" in out and f"wall_{hi}w" in out:
            out[f"eff_{lo}_to_{hi}"] = round(
                out[f"wall_{lo}w"] / out[f"wall_{hi}w"] / (hi // lo), 3)
    return out


def _bw_work(seed: int) -> float:
    import numpy as np
    a = np.random.default_rng(seed).integers(
        0, 1 << 60, size=6_250_000, dtype=np.int64)      # 50 MB
    t0 = time.monotonic()
    for _ in range(8):
        a.copy()
    return 8 * 2 * a.nbytes / (time.monotonic() - t0) / 1e9


def bandwidth_curve(worker_counts: tuple = (1, 2, 4, 8)) -> dict:
    """Aggregate memory-copy GB/s at each pinned worker count."""
    saved = os.sched_getaffinity(0)
    out = {}
    try:
        for n in worker_counts:
            os.sched_setaffinity(0, set(range(n)))
            with mp.Pool(n) as pool:
                out[f"agg_GBps_{n}w"] = round(
                    sum(pool.map(_bw_work, range(n))), 2)
    finally:
        os.sched_setaffinity(0, saved)
    return out


if __name__ == "__main__":
    tok = sys.argv[1] if len(sys.argv) > 1 else "/tmp/irkit_bench/idx8/tok"
    print(json.dumps({"kernel": kernel_ceiling(tok),
                      "bandwidth": bandwidth_curve()}))
