"""Single-layer micro-benchmarks that need no Spark.

The seen filters are timed on fixed-size key arrays drawn from the
workload seed (each rate the median of several repetitions); the fetch
verdict is timed per id on one core over seeded ``image_id`` values,
through the same steps the fetch stage runs per distinct id.
"""

from __future__ import annotations

import time

import numpy as np

from .stats import median, percentile, tail_percentile

N_KEYS = 500_000
REPS = 5
N_VERDICTS = 300


def _rate(fn, n_items: int, reps: int = REPS, setup=None) -> float:
    """Median items/s of ``fn(state)`` over ``reps`` runs, with a fresh
    ``setup()`` state per run (untimed)."""
    rates = []
    for _ in range(reps):
        state = setup() if setup else None
        t0 = time.perf_counter()
        fn(state)
        rates.append(n_items / (time.perf_counter() - t0))
    return median(rates)


def filter_rates(seed: int) -> dict[str, float]:
    from cex_crawler_spark.operators.seen import BloomFilter64, CuckooFilter64

    rng = np.random.default_rng(seed)
    keys = rng.integers(-(2**63), 2**63 - 1, size=N_KEYS, dtype=np.int64)
    probes = rng.integers(-(2**63), 2**63 - 1, size=N_KEYS, dtype=np.int64)
    n_exp = 2 * N_KEYS

    bloom = BloomFilter64(n_exp)
    bloom.add_many(keys)
    cuckoo = CuckooFilter64(n_exp)
    cuckoo.add_many(keys)
    n_del = N_KEYS // 50

    return {
        "seen.bloom_add_mkeys_per_s": _rate(
            lambda b: b.add_many(keys), N_KEYS,
            setup=lambda: BloomFilter64(n_exp),
        ) / 1e6,
        "seen.bloom_probe_mkeys_per_s": _rate(
            lambda _: bloom.might_contain(probes), N_KEYS
        ) / 1e6,
        "seen.cuckoo_probe_mkeys_per_s": _rate(
            lambda _: cuckoo.might_contain(probes), N_KEYS
        ) / 1e6,
        "seen.cuckoo_delete_mkeys_per_s": _rate(
            lambda c: c.delete_many(keys[:n_del]), n_del, setup=lambda: CuckooFilter64(n_exp, table=cuckoo.table.copy())
        ) / 1e6,
    }


def fetch_verdicts(seed: int) -> dict[str, float]:
    """Per-verdict cost on one core (payload → decode → reference decode
    → PSNR): throughput, median and the tail percentile the sample count
    supports (p95 for 3 × 300 samples)."""
    from cex_crawler_spark.functions.imaging import decode_image, psnr
    from cex_crawler_spark.payload import payload_for, reference_decode

    rng = np.random.default_rng(seed)
    ids = [f"img{int(i):010d}" for i in rng.integers(0, 10**10, size=N_VERDICTS)]
    samples = []
    for _ in range(3):
        for image_id in ids:
            t0 = time.perf_counter()
            p = payload_for(image_id)
            psnr(decode_image(p["bytes"], p["fmt"]), reference_decode(image_id))
            samples.append(time.perf_counter() - t0)
    tail = tail_percentile(len(samples))
    return {
        "fetch.verdicts_per_s": len(samples) / sum(samples),
        "fetch.verdict_ms_p50": median(samples) * 1e3,
        f"fetch.verdict_ms_p{tail:g}": percentile(samples, tail) * 1e3,
    }
