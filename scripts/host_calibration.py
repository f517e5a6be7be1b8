"""Spark-free host parallel-ceiling calibration for the scaling bench.

The north rule's criterion — throughput scaling efficiency ≥ 0.8 from N
to 4N executors — presumes each executor brings its own silicon. This
sandbox is ONE shared-tenancy VM (32 vCPUs, visible steal, shared
memory bandwidth and LLC), so before charging a scaling miss to the
pipeline, measure what the HOST itself can deliver: run embarrassingly
parallel work — no Spark, no shuffle, no Python↔JVM boundary, processes
started behind a barrier — at both parallelism levels and report the
aggregate-throughput ratio. No Spark job can scale better than this.

Two probes bracket the pipeline's instruction mix:
- ``alu``: L1-resident uint64 mix loop (pure ALU, no memory traffic) —
  the absolute ceiling of the machine.
- ``kernel``: the pipeline's own signature kernel
  (batch_token_shingle_sets + batch_minhash_simhash) on synthetic docs
  — same numpy allocation/bandwidth profile as the real signature
  stage, i.e. the ceiling for THAT stage.

Protocol per level: P worker processes, each warmed (kernel paths
touched, allocator primed), synchronized start via Barrier, fixed work
per process (weak scaling — aggregate throughput = P·work/max-wall).
``reps`` repetitions, best-per-level (steal bursts only ever depress a
rep). Usage::

    python scripts/host_calibration.py N_CORES FOURN_CORES [reps]

Prints one JSON line: per-level aggregate throughput for both probes
and ``ceiling_E = (agg_4N / agg_N) / 4`` — the number the measured
pipeline E should be compared against on this host.
"""

from __future__ import annotations

import json
import os
import sys
import time
from multiprocessing import Barrier, Process, Queue

DOCS_PER_PROC = 1500
ALU_ITERS = 20000


def _alu_worker(q, bar, cpu) -> None:
    import numpy as np

    _pin(cpu)

    a = np.arange(4096, dtype=np.uint64)
    for _ in range(200):  # warm
        a = a * np.uint64(0x9E3779B97F4A7C15) + np.uint64(1)
    bar.wait()
    t0 = time.perf_counter()
    for _ in range(ALU_ITERS):
        a = a * np.uint64(0x9E3779B97F4A7C15) + np.uint64(1)
        a ^= a >> np.uint64(29)
    q.put(time.perf_counter() - t0)


def _kernel_worker(q, bar, seed0: int, cpu: int) -> None:
    import random

    _pin(cpu)

    from dedup_spark.functions.shingles import (
        MinHasher,
        batch_minhash_simhash,
        batch_token_shingle_sets,
    )

    docs = []
    for i in range(seed0, seed0 + DOCS_PER_PROC):
        rng = random.Random(i)
        docs.append(" ".join(f"tok{rng.randrange(5000)}" for _ in range(400)))
    hasher = MinHasher(128)
    batch_minhash_simhash(batch_token_shingle_sets(docs[:50], 4), hasher)  # warm
    bar.wait()
    t0 = time.perf_counter()
    batch_minhash_simhash(batch_token_shingle_sets(docs, 4), hasher)
    q.put(time.perf_counter() - t0)


def _pin(cpu: int) -> None:
    """No-op placeholder kept for experiment parity: per-cpu pinning was
    measured and rejected — this VM's vCPUs vary ~1.6x in delivered
    throughput (hypervisor mapping), so a pinned probe measures WHICH
    cores it landed on, not the host's parallel ceiling. The Spark
    levels are likewise unpinned (see bench_scaling.run_level)."""


def _run_level(probe: str, nprocs: int) -> float:
    """One rep: aggregate units/sec at ``nprocs`` synchronized workers."""
    q: Queue = Queue()
    bar = Barrier(nprocs)
    if probe == "alu":
        procs = [
            Process(target=_alu_worker, args=(q, bar, j)) for j in range(nprocs)
        ]
        units = nprocs * ALU_ITERS
    else:
        procs = [
            Process(target=_kernel_worker, args=(q, bar, j * DOCS_PER_PROC, j))
            for j in range(nprocs)
        ]
        units = nprocs * DOCS_PER_PROC
    for p in procs:
        p.start()
    walls = [q.get() for _ in procs]
    for p in procs:
        p.join()
    return units / max(walls)


def calibrate(n_cores: int, four_n: int, reps: int = 3) -> dict:
    out: dict = {"n_cores": n_cores, "four_n_cores": four_n, "reps": reps}
    for probe in ("alu", "kernel"):
        lo = max(_run_level(probe, n_cores) for _ in range(reps))
        hi = max(_run_level(probe, four_n) for _ in range(reps))
        out[probe] = {
            "agg_at_N": round(lo, 1),
            "agg_at_4N": round(hi, 1),
            "ceiling_E": round((hi / lo) / 4.0, 3),
        }
    return out


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    m = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    print(json.dumps(calibrate(n, m, reps)))
