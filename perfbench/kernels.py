"""Driver-side timings of the sketch kernels on a sample of the workload's
generated data: `update_batch`, `merge`, `to_bytes` and `from_bytes`."""

from __future__ import annotations

import statistics
import time
from typing import Callable

import numpy as np

from p2pddsketch_spark.sketches.bloom import BloomFilter
from p2pddsketch_spark.sketches.cms import CountMinSketch
from p2pddsketch_spark.sketches.ddsketch import DDSketch
from p2pddsketch_spark.sketches.hll import HyperLogLog
from p2pddsketch_spark.sketches.kll import KLLSketch
from p2pddsketch_spark.sketches.tdigest import TDigest

KERNELS = ("dds", "kll", "tdigest", "hll", "cms", "bloom")
# value kernels read measurements, the others read identity keys
VALUE_KERNELS = {"dds", "kll", "tdigest"}

# the corpus_build configuration; a workload overrides the kernels it builds
DEFAULT_FACTORIES: dict[str, Callable[[], object]] = {
    "dds": lambda: DDSketch(alpha=0.001, bin_limit=1 << 22),
    "kll": lambda: KLLSketch(k=256),
    "tdigest": lambda: TDigest(delta=200),
    "hll": lambda: HyperLogLog(p=14),
    "cms": lambda: CountMinSketch(depth=4, width=1 << 16),
    "bloom": lambda: BloomFilter(m_bits=1 << 21, k=5),
}

CALL_BATCH = 32


def _median_s(fn: Callable[[], object], reps: int) -> float:
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def time_kernels(tracer, factories: dict[str, Callable[[], object]],
                 values: np.ndarray, keys: np.ndarray) -> dict[str, float]:
    """Metrics `sketches.<t>.*` for every kernel in KERNELS."""
    out: dict[str, float] = {}
    calls = 256
    for t in KERNELS:
        factory = factories.get(t, DEFAULT_FACTORIES[t])
        data = values if t in VALUE_KERNELS else keys
        half = data.size // 2
        with tracer.span(f"sketches.{t}.update_batch"):
            per_item = _median_s(lambda: factory().update_batch(data), 3) / data.size
        sk = factory()
        batches = [data[i * CALL_BATCH:(i + 1) * CALL_BATCH] for i in range(calls)]

        def small_calls():
            for b in batches:
                sk.update_batch(b)
        with tracer.span(f"sketches.{t}.update_batch_small"):
            per_call = _median_s(small_calls, 3) / calls
        full = factory().update_batch(data)
        blob = full.to_bytes()
        with tracer.span(f"sketches.{t}.to_bytes"):
            to_b = _median_s(full.to_bytes, 7)
        with tracer.span(f"sketches.{t}.from_bytes"):
            from_b = _median_s(lambda: type(full).from_bytes(blob), 7)
        blob_a = factory().update_batch(data[:half]).to_bytes()
        blob_b = factory().update_batch(data[half:]).to_bytes()
        merges = []
        with tracer.span(f"sketches.{t}.merge"):
            for _ in range(7):
                left, right = type(full).from_bytes(blob_a), type(full).from_bytes(blob_b)
                t0 = time.perf_counter()
                left.merge(right)
                merges.append(time.perf_counter() - t0)
        out[f"sketches.{t}.update_ns_per_item"] = per_item * 1e9
        out[f"sketches.{t}.update_us_per_call"] = per_call * 1e6
        out[f"sketches.{t}.to_bytes_us"] = to_b * 1e6
        out[f"sketches.{t}.from_bytes_us"] = from_b * 1e6
        out[f"sketches.{t}.merge_us"] = statistics.median(merges) * 1e6
        out[f"sketches.{t}.blob_bytes"] = float(len(blob))
    return out
