"""Dedup benchmark: one command, three workloads, end-to-end or traced.

    python3 perfbench/run.py --workload text-incremental --seed 1 --seconds 2 --trace 0

Run from the repository root. One run starts one Spark session
(``local[2]``, 8 shuffle partitions, a pinned and pre-touched 1 GB
driver heap), generates the workload's inputs from ``--seed`` (timed,
three times: ``setup_s``) with one untimed warm-up op after the first
set-up, then:

- ``--trace 0``: runs ops back to back until ``--seconds`` have passed
  and at least the workload's ``min_ops`` ran, and reports the
  end-to-end metrics as medians over the ops (the times over the ops
  that ran with little host steal);
- ``--trace 1``: runs one untraced op, then the same op traced layer by
  layer, and reports the per-layer metrics, the layers' coverage of the
  traced wall and the tracing overhead.

Every op's output is checked (planted recall 1.0, cluster count and plan
rows equal to the warm-up's). The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the samples behind the medians. Everything the run writes lives
under ``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from probes import JvmHeap, ProcessTree, StatusStore, Tracer, host_steal_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# Two task threads on the 4-CPU host: with local[4] the task threads,
# their Python workers, JIT and GC threads oversubscribe the CPUs and
# run-to-run spread of files_per_s and cpu_s doubled (README.md).
MASTER = "local[2]"
MODALITIES = ("image", "audio", "video", "blob")
GENERIC = ("wall_s", "task_s", "shuffle_write_mb", "rows_out", "stages", "failed_tasks")
# An op during which the hypervisor gave more than this many CPU-seconds
# per second of wall to other guests is not clean: its times say more
# about the host than about the program (README.md, "Host steal").
STEAL_SHARE = 0.15


def per_layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def start_spark(work: str):
    from dedup_spark.session import get_spark

    conf = {
        # a fixed, pre-touched heap: the JVM's resident set holds all of
        # it from the start, so lazy heap growth cannot creep from op to
        # op (README.md, "Memory")
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": (
            f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
        ),
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    spark = get_spark("perfbench", master=MASTER, shuffle_partitions=8, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(os.path.join(HERE, "inputs.py"))
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, spark, workload, work: str):
        self.spark = spark
        self.wl = workload
        self.work = work
        self.tree = ProcessTree(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.heap = JvmHeap(spark)
        self.status = StatusStore(spark)
        self.attempted = self.failed = 0
        self.expected: dict | None = None
        self.log: list[dict] = []

    def setup(self) -> dict:
        """Sets up ``SETUP_REPS`` times, each into a fresh directory, with
        the untimed warm-up op right after the first set-up. The warm-up
        records the expected outputs; the later set-ups then run on a JVM
        that has compiled most of the op's code, and give the JIT more
        time before the first timed op."""
        times, info = [], {}
        for rep in range(SETUP_REPS):
            if rep:
                shutil.rmtree(f"{self.work}/setup{rep - 1}")
            t0 = time.perf_counter()
            info = self.wl.setup(f"{self.work}/setup{rep}")
            times.append(time.perf_counter() - t0)
            if rep == 0:
                t0 = time.perf_counter()
                self.op(0)
                warmup_s = time.perf_counter() - t0
        info["setup_times"] = times
        info["warmup_s"] = warmup_s
        return info

    def memory(self) -> dict:
        """Peak RSS of the op's process tree: the JVM (its pre-touched
        heap plus everything outside it) and the Python workers. The
        heap's peak use is recorded beside it."""
        rss = self.tree.peak_rss_mb()
        rec = {"jvm_rss_mb": rss.pop(self.tree.root, 0.0), "python_rss_mb": sum(rss.values())}
        rec["peak_rss_mb"] = rec["jvm_rss_mb"] + rec["python_rss_mb"]
        rec["heap_peak_mb"] = self.heap.peak_mb()
        return rec

    def op(self, i: int, tracer=None) -> dict:
        """One op, measured and checked. With a tracer, the op's layer
        calls are wrapped in spans."""
        out, group = f"{self.work}/op{i}", f"op-{i}"
        self.attempted += 1
        self.status.set_group(group)
        if tracer is not None:
            tracer.root_group = group
        self.tree.reset_peak()
        self.heap.reset_peak()
        steal0, cpu0, t0 = host_steal_s(), self.tree.cpu_s(), time.perf_counter()
        error = None
        try:
            if tracer is None:
                self.wl.op(out)
            else:
                self.wl.traced_op(out, tracer)
        except Exception:
            error = traceback.format_exc()
        rec = {
            "i": i,
            "wall_s": time.perf_counter() - t0,
            "cpu_s": self.tree.cpu_s() - cpu0,
            **self.memory(),
            # CPU time the hypervisor gave to other guests during the op
            "host_steal_s": host_steal_s() - steal0,
        }
        rec["steal_share"] = rec["host_steal_s"] / rec["wall_s"]
        self.status.set_group(None)
        m = self.status.group_metrics(group)
        rec["shuffle_mb"] = m["shuffle_write_mb"]
        if error is None:
            try:
                rec["check"] = self.wl.check(out)
                rec["ok"] = self.wl.ok(rec["check"], self.expected)
            except Exception:
                error = traceback.format_exc()
        if error is not None:
            print(error, file=sys.stderr)
            rec["ok"] = False
        if not rec["ok"]:
            self.failed += 1
            print(f"op {i} failed its check: {rec.get('check')}", file=sys.stderr)
        elif self.expected is None:
            self.expected = rec["check"]
        shutil.rmtree(out, ignore_errors=True)
        self.log.append(rec)
        return rec


def end_to_end(bench: Bench, seconds: float, info: dict) -> dict:
    """Ops back to back for ``seconds`` and at least ``min_ops`` of them.
    The times come from the ops that ran with little host steal, or from
    the least stolen op if none did. CPU, shuffle and memory come from
    the first ``min_ops`` ops whatever their steal: an op's CPU falls and
    the JVM's resident set grows with every op the JVM has run (JIT
    code, malloc arenas), so only ops at the same positions compare."""
    need, ops, t0 = bench.wl.min_ops, [], time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(ops) < need:
        ops.append(bench.op(len(bench.log)))
    clean = [o for o in ops if o["steal_share"] <= STEAL_SHARE]
    first = ops[:need]
    ops = clean or [min(ops, key=lambda o: o["steal_share"])]
    info["timed_ops"] = [o["i"] for o in ops]
    walls = [o["wall_s"] for o in ops]
    q = statistics.quantiles(walls, n=4) if len(walls) > 1 else walls * 3
    info.update(
        op_wall_s={"q1": q[0], "median": q[1], "q3": q[2], "max": max(walls), "samples": len(walls)},
        # a percentile p is supported when >= 10 samples lie beyond it
        highest_supported_percentile=(
            round(100 * (1 - 10 / len(walls)), 1) if len(walls) >= 11 else None
        ),
    )
    return {
        "files_per_s": (bench.wl.n_inputs / statistics.median(walls), "files/s"),
        "cpu_s": (statistics.median(o["cpu_s"] for o in first), "s"),
        "shuffle_mb": (statistics.median(o["shuffle_mb"] for o in first), "MB"),
        "peak_rss_mb": (statistics.median(o["peak_rss_mb"] for o in first), "MB"),
        "setup_s": (statistics.median(info["setup_times"]), "s"),
    }


def per_layer(bench: Bench, info: dict) -> tuple[dict, bool]:
    untraced = bench.op(len(bench.log))
    tracer = Tracer(bench.status)
    traced = bench.op(len(bench.log), tracer)
    # layer -> totals; a modality or a store call also counts on its own
    # (multimodal.image, checkpoint.probe)
    totals = tracer.layer_totals()
    units = per_layer_units()
    metrics = dict.fromkeys(units, 0.0)
    for name in units:
        layer, _, k = name.rpartition(".")
        if k in GENERIC and layer in totals:
            metrics[name] = float(totals[layer].get(k, 0))

    def per(num, den, scale=1.0):
        return num / den * scale if den else 0.0

    t = totals.get
    if t("exact"):
        metrics["exact.us_per_file"] = per(t("exact")["task_s"], bench.wl.n_inputs, 1e6)
    if t("signatures"):
        metrics["signatures.us_per_doc"] = per(t("signatures")["task_s"], t("signatures")["rows_out"], 1e6)
    if t("checkpoint"):
        probe, save = t("checkpoint.probe"), t("checkpoint.save")
        metrics.update({
            "checkpoint.hit_ratio": per(probe["hit_rows"], probe["rows_out"]),
            "checkpoint.probe_s": probe["wall_s"],
            "checkpoint.save_s": save["wall_s"],
            "checkpoint.bytes_written_mb": save["bytes_written_mb"],
            "checkpoint.files_written": float(save["files_written"]),
            "checkpoint.bytes_read_mb": t("checkpoint")["input_mb"],
            "checkpoint.store_bytes_per_row": bench.wl.last_store["store_bytes_per_row"],
        })
    if t("candidates"):
        c = t("candidates")
        raw = c.get("raw_pairs", c["rows_out"])
        metrics.update({
            "candidates.raw_pairs": float(raw),
            "candidates.distinct_pairs": float(c["rows_out"]),
            "candidates.distinct_ratio": per(c["rows_out"], raw),
        })
    if t("verify"):
        v = t("verify")
        pairs_in = metrics["candidates.distinct_pairs"]
        metrics.update({
            "verify.pairs_in": pairs_in,
            "verify.pairs_passed": float(v["rows_out"]),
            "verify.pass_ratio": per(v["rows_out"], pairs_in),
            "verify.us_per_pair": per(v["task_s"], pairs_in, 1e6),
        })
    if t("cc"):
        # from the convergence checksums (workloads._cc_patches)
        c = t("cc")
        metrics.update({
            "cc.edges": float(c["edges"]),
            "cc.strategy": 1.0 if c["star"] else 0.0,
            "cc.rounds": float(c["rounds"]),
        })
    if t("multimodal"):
        for m in MODALITIES:
            mt = t(f"multimodal.{m}", {})
            metrics[f"multimodal.{m}.us_per_asset"] = per(mt.get("task_s", 0), mt.get("rows_out", 0), 1e6)
        metrics["multimodal.retry_rows"] = float(t("multimodal").get("retry_rows", 0))
        metrics["multimodal.fallback_ratio"] = per(t("multimodal").get("fallback_rows", 0), bench.wl.n_inputs)
    top = [x for name, x in totals.items() if "." not in name]
    metrics.update({
        "trace.wall_s": traced["wall_s"],
        "trace.untraced_wall_s": untraced["wall_s"],
        "trace.overhead_s": traced["wall_s"] - untraced["wall_s"],
        "trace.coverage": tracer.covered_wall() / traced["wall_s"],
        "trace.spill_mb": sum(x.get("spill_mb", 0) for x in top),
    })
    n_clusters = [(o.get("check") or {}).get("n_clusters") for o in (untraced, traced)]
    info["n_clusters"] = dict(zip(("untraced", "traced"), n_clusters))
    same = n_clusters[0] is not None and n_clusters[0] == n_clusters[1]
    info["spans"] = [
        {k: s.get(k) for k in ("layer", "parent", "wall", "rows_out", "extra")} for s in tracer.spans
    ]
    return {k: (v, units[k]) for k, v in metrics.items()}, same


def run(args, work: str) -> dict:
    from workloads import WORKLOADS

    spark = start_spark(work)
    try:
        bench = Bench(spark, WORKLOADS[args.workload](spark, args.seed), work)
        info = bench.setup()
        same = True
        if args.trace:
            metrics, same = per_layer(bench, info)
        else:
            metrics = end_to_end(bench, args.seconds, info)
        info["ops"] = [{k: v for k, v in o.items() if k != "check"} for o in bench.log]
        info["expected"] = bench.expected
        store = getattr(bench.wl, "last_store", {})
        info["store"] = store
        # end-to-end figures that can be zero, so they carry no bound
        info["unbounded_metrics"] = {
            "ops_failed": {"value": bench.failed / bench.attempted, "unit": "fraction"},
            "store_bytes_per_row": {"value": store.get("store_bytes_per_row", 0.0), "unit": "B"},
        }
    finally:
        stop_spark(spark)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "info": info}, default=str))
    return {
        "correct": bench.failed == 0 and same,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("text-full", "text-incremental", "media-mixed"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dedup_spark", "plans", "pipeline.py")):
        print("perfbench: run from a checkout that holds the dedup_spark package", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    # temp files, the package zip shipped to workers and shuffle files
    # stay inside the checkout; no JVM writes /tmp/hsperfdata_*
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
