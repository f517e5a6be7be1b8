"""Bench harness: headline pipeline stages at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "files_per_sec": ...}

Stage queries are the engine's real phases, not toy scans:
  exact      — scan → sha256 → hash groupBy → dup-set stats
  signatures — shingle → MinHash(128) + SimHash64 pandas-UDF kernels
  candidates — LSH band self-join ∪ SimHash Hamming probing
  verify_cc  — tiered verification + connected components
  keep_plan  — token-set clusters → keep-selection window → action plan
  compare    — hash anti join + cross-source spanning sets

Timing policy: the stage suite runs $SPARK_GRAFT_BENCH_REPEATS passes
(default 3) and the headline is the per-stage MINIMUM — the same
min-wall policy BENCH_scaling.json uses (adopted per round-1 ADVICE:
min isolates the engine's steady-state cost from JIT warmup and
shared-tenancy host noise, and can only under-report a co-tenant's
interference, never hide a real regression). Every pass's raw stage
walls are reported under "runs" so nothing is discarded silently, and
"host_steal_pct_of_demand" records how much CPU the hypervisor denied
this VM during the bench (steal/(busy+steal) from /proc/stat).

Steal alone is NOT sufficient weather telemetry on this class of host:
co-tenant memory-bandwidth pressure slows every memory-heavy loop
without stealing any CPU time (measured here: windows with 0.0% steal
and the signature kernel at 3-12x below its best-window throughput).
So the bench also probes the actual signature kernel (Spark-free, 8
synchronized processes) before and after the timed passes and reports
"host_kernel_frac_pre/post" — aggregate kernel throughput as a
fraction of the best-window reference in BENCH_scaling.json. Read
THOSE before comparing two benches taken in different weather windows:
a total that regressed while the kernel fraction sat at 0.6 is the
host, not the engine.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from dedup_spark.config import DedupConfig  # noqa: E402
from dedup_spark.operators.actions import build_plan  # noqa: E402
from dedup_spark.operators.compare import cross_source_duplicates, missing_in_target  # noqa: E402
from dedup_spark.operators.exact import exact_clusters  # noqa: E402
from dedup_spark.operators.select import select_kept  # noqa: E402
from dedup_spark.plans.pipeline import DedupPipeline  # noqa: E402
from dedup_spark.queries import CFG_NOSIZE, tokenset_hash  # noqa: E402
from dedup_spark.session import get_spark  # noqa: E402
from dedup_spark.sources.loader import documents_as_code_files  # noqa: E402


def run_stages(pipe: DedupPipeline, cfg: DedupConfig, files,
               holders: dict | None = None) -> dict[str, float]:
    """One full pass over the six stage queries; returns stage walls.
    ``holders`` (optional) receives the pass's ``reps`` frame so the
    caller can run UNTIMED accounting (skew metrics) afterwards."""
    timings: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        t0 = time.perf_counter()
        fn()
        timings[name] = round(time.perf_counter() - t0, 3)

    # exact stage: hash + groupBy + summary agg
    timed(
        "exact",
        lambda: exact_clusters(files, cfg, min_cluster_size=1)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("hash").alias("d"),
            F.max("cluster_size").alias("m"),
        )
        .collect(),
    )

    # signature kernels (pandas UDFs) + exact collapse: collapse()'s
    # lineage cuts are eager, so the work lands inside the timed block
    members = None
    reps = None

    def _sigs():
        nonlocal members, reps
        members, reps = pipe.collapse(files)

    timed("signatures", _sigs)

    cands = None

    def _cands():
        nonlocal cands
        cands = pipe.candidates(reps).localCheckpoint()
        cands.count()

    timed("candidates", _cands)

    def _verify_cc():
        verified = pipe.verify(
            cands, reps, content_df=files.select("file_id", "content")
        )
        clusters = pipe.cluster(members, verified)
        clusters.agg(F.countDistinct("cluster_id"), F.max("cluster_size")).collect()

    timed("verify_cc", _verify_cc)

    def _keep_plan():
        tok = files.withColumn("hash", tokenset_hash())
        clus = exact_clusters(tok, CFG_NOSIZE, min_cluster_size=2)
        plan = build_plan(select_kept(clus, "shortest_path"), action="delete")
        plan.groupBy("action").count().collect()

    timed("keep_plan", _keep_plan)

    def _compare():
        tok = files.withColumn("hash", tokenset_hash())
        src = tok.filter(F.col("repo") != "src0")
        tgt = tok.filter(F.col("repo") == "src0")
        missing_in_target(src, tgt, broadcast_target=True).count()
        half = tok.withColumn(
            "half",
            F.when(
                F.regexp_extract("repo", r"^src(\d+)$", 1).cast("int") < 10, "src"
            ).otherwise("tgt"),
        )
        cross_source_duplicates(half, source_col="half").count()

    timed("compare", _compare)
    if holders is not None:
        holders["reps"] = reps
    return timings


def _skew_summary(pipe: DedupPipeline, reps) -> dict:
    """Oversize-bucket drop accounting (pipeline.skew_metrics) — the
    'counted, never silent' guarantee, recorded per bench run so the
    dropped-bucket counts at each scale live in the artifact, not just
    in code. Runs untimed: it is accounting, not a benched stage."""
    rows = (
        pipe.skew_metrics(reps)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("buckets"), F.sum("n").alias("members"))
        .collect()
    )
    out = {
        "lsh_band": {"oversize_buckets": 0, "dropped_members": 0},
        "simhash_blockpair": {"oversize_buckets": 0, "dropped_members": 0},
    }
    for r in rows:
        out[r["source"]] = {
            "oversize_buckets": int(r["buckets"]),
            "dropped_members": int(r["members"]),
        }
    return out


def _kernel_weather() -> float | None:
    """One Spark-free signature-kernel probe at 8 synchronized workers,
    as a fraction of the best-window reference (BENCH_scaling.json
    host_calibration block). The bandwidth-sensitive complement to the
    steal counter; None if the probe or reference is unavailable."""
    try:
        from scripts.host_calibration import _run_level
        from scripts.quiet_watch import _reference

        ref = _reference().get(8)
        if not ref:
            return None
        return round(_run_level("kernel", 8) / ref, 3)
    except Exception:
        return None


def _cpu_sample() -> tuple[int, int]:
    """(busy, steal) jiffies from /proc/stat — shared-tenancy weather
    probe. Steal accrues only when this VM *wants* CPU and the host
    gives it to a co-tenant, so steal/(busy+steal) is the fraction of
    our demand the host denied during the bench."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    busy = int(parts[1]) + int(parts[2]) + int(parts[3])
    steal = int(parts[8]) if len(parts) > 8 else 0
    return busy, steal


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    spark = get_spark("dedup-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    cfg = DedupConfig()
    pipe = DedupPipeline(spark, cfg)

    files = documents_as_code_files(spark, sf_dir)
    n_files = files.count()  # warm the JVM + page cache before timing

    kw_pre = _kernel_weather()
    b0, s0 = _cpu_sample()
    holders: dict = {}
    runs = [run_stages(pipe, cfg, files, holders) for _ in range(repeats)]
    b1, s1 = _cpu_sample()
    skew = _skew_summary(pipe, holders["reps"])  # untimed accounting
    kw_post = _kernel_weather()
    demand = (b1 - b0) + (s1 - s0)
    steal_pct = round(100.0 * (s1 - s0) / demand, 1) if demand else 0.0
    timings = {name: min(r[name] for r in runs) for name in runs[0]}

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "dedup_pipeline_stages_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_dir,
                "n_files": n_files,
                "files_per_sec": round(n_files / total, 1) if total else None,
                "cpus": cpus,
                "policy": f"per-stage min over {repeats} passes",
                "host_steal_pct_of_demand": steal_pct,
                "host_kernel_frac_pre": kw_pre,
                "host_kernel_frac_post": kw_post,
                "skew": skew,
                "runs": runs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
