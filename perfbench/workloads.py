"""The three workloads: set-up, one op, the op's output check, and the
traced op.

An op is what a user runs: the real public entry points, reading the
generated input table and writing every output table to disk
(``DedupPipeline.run`` + ``DedupPipeline.plan`` for text,
``media_near_dup_clusters`` for media). The traced op runs the same
entry points while :func:`patched` wraps the layer functions they
call, so each layer's output is forced inside its own span.
"""

from __future__ import annotations

import os
import shutil
from contextlib import ExitStack, contextmanager
from unittest import mock

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs

STORE_FILE_MB = 1.1  # upper bound of one store file (hash bloom filter ~1 MB)


def _force(df: DataFrame, span: dict) -> DataFrame:
    """Materialize ``df`` inside the current span and count its rows."""
    df = df.localCheckpoint(eager=True)
    span["rows_out"] = span.get("rows_out", 0) + df.count()
    return df


@contextmanager
def patched(patches: list[tuple[object, str, object]]):
    """Replace attributes for the duration of a traced op."""
    with ExitStack() as stack:
        for obj, name, value in patches:
            stack.enter_context(mock.patch.object(obj, name, value))
        yield


def _spanned(tracer, layer: str, fn, force: bool = True, extra=None):
    """``fn`` inside a span of ``layer``; its output is forced in the
    span, and ``extra(args, kwargs, out)`` adds counters to the span."""

    def wrapper(*args, **kwargs):
        with tracer.span(layer) as span:
            out = fn(*args, **kwargs)
            if force:
                out = _force(out, span)
            if extra is not None:
                span["extra"].update(extra(args, kwargs, out))
            return out

    return wrapper


def _cc_patches(tracer, cfg) -> list:
    """Records ``connected_components``' convergence checksums in its
    span. The first checksum counts the distinct u != v edges, which
    decide the strategy; on the star path every further checksum ends
    one round. No extra Spark job."""
    import dedup_spark.operators.cc as cc

    checksum = cc._checksum

    def recorded(edges):
        out = checksum(edges)
        span = tracer.current()
        if span is not None and span["layer"] == "cc":
            e = span["extra"]
            if "edges" in e:
                e["rounds"] += 1
            else:
                e.update(edges=out[0], star=int(out[0] > cfg.cc_smallgraph_threshold), rounds=0)
        return out

    return [(cc, "_checksum", recorded)]


class TextFull:
    """Cold ``run()`` + ``plan()`` over the synthetic code corpus."""

    name = "text-full"
    n_files = 2000
    min_ops = 3  # timed ops per run (after the warm-up)

    def __init__(self, spark: SparkSession, seed: int):
        from dedup_spark.config import DedupConfig

        self.spark = spark
        self.seed = seed
        self.cfg = DedupConfig(shuffle_partitions=8)

    @property
    def n_inputs(self) -> int:
        return self.n_files

    def setup(self, work: str) -> dict:
        info = inputs.write_text_inputs(self.spark, self.n_files, self.seed, work)
        self.input = info["input"]
        self.truth = pq.read_table(info["truth"]).to_pandas()
        return info

    def pipeline(self):
        from dedup_spark.plans.pipeline import DedupPipeline

        return DedupPipeline(self.spark, self.cfg)

    def op(self, out: str, pipe=None) -> None:
        pipe = pipe or self.pipeline()
        pipe.run(self.input).write.parquet(f"{out}/clusters")
        pipe.plan(self.spark.read.parquet(f"{out}/clusters")).write.parquet(f"{out}/plan")

    def check(self, out: str) -> dict:
        """Planted-pair recall, cluster count and plan rows. Planted
        pairs are every exact copy and every near copy with at most two
        rewritten tokens (Jaccard >= 0.92; a third rewrite takes a
        256-token doc below the 0.9 threshold) paired with its original.
        Read with pyarrow: the check adds no Spark jobs."""
        cl = pq.read_table(f"{out}/clusters", columns=["path", "cluster_id"]).to_pandas()
        m = self.truth.merge(cl, on="path")
        cid = m.set_index("_id")["cluster_id"]
        planted = m[(m["_id"] != m["_orig"]) & (~m["_is_near"] | (m["_n_mut"] <= 2))]
        found = (planted["cluster_id"].to_numpy() == cid.loc[planted["_orig"]].to_numpy()).sum()
        return {
            "rows": len(m),
            "n_clusters": int(cl["cluster_id"].nunique()),
            "plan_rows": pq.read_table(f"{out}/plan", columns=["file_id"]).num_rows,
            "recall": found / len(planted),
        }

    def ok(self, got: dict, expected: dict | None) -> bool:
        if got["recall"] != 1.0 or got["rows"] != self.n_inputs:
            return False
        return expected is None or all(got[k] == expected[k] for k in ("n_clusters", "plan_rows"))

    # ---- traced op ----------------------------------------------------
    def traced_op(self, out: str, tracer) -> None:
        import dedup_spark.plans.pipeline as pl

        pipe = self.pipeline()
        orig_candidates = pipe.candidates

        def candidates(reps, dedupe=True):
            # the raw LSH ∪ SimHash multiset is counted on its way into
            # the distinct, in the same job
            from pyspark.sql import Observation

            obs = Observation("raw_pairs")
            raw = orig_candidates(reps, dedupe=False).observe(obs, F.count(F.lit(1)).alias("n"))
            with tracer.span("candidates") as span:
                pairs = _force(raw.distinct() if dedupe else raw, span)
                span["extra"]["raw_pairs"] = obs.get["n"]
            return pairs

        patches = [
            (pl, "with_content_hash", _spanned(tracer, "exact", pl.with_content_hash)),
            (pl, "with_signatures", _spanned(tracer, "signatures", pl.with_signatures)),
            (pl, "connected_components", _spanned(tracer, "cc", pl.connected_components)),
            (pipe, "load", _spanned(tracer, "sources", pipe.load)),
            # run()'s lineage cuts: the fused hash window that collapses
            # exact copies, and the representatives it keeps
            (pipe, "_cut", _spanned(tracer, "exact", pipe._cut, force=False)),
            (pipe, "candidates", candidates),
            (pipe, "verify", _spanned(tracer, "verify", pipe.verify)),
            (pipe, "cluster", _spanned(tracer, "cluster", pipe.cluster)),
            (pipe, "plan", _spanned(tracer, "plan", pipe.plan)),
        ]
        patches += _cc_patches(tracer, self.cfg) + self.store_patches(pipe, tracer)
        with patched(patches):
            self.op(out, pipe)

    def store_patches(self, pipe, tracer) -> list:
        return []


class TextIncremental(TextFull):
    """``run()`` with ``cache_path`` over a store seeded from 95% of
    the files: 95% of rows hit, 5% are signed and saved as one new
    generation, which is removed again after the op."""

    name = "text-incremental"
    n_files = 60
    seeded_pct = 95

    def setup(self, work: str) -> dict:
        from dedup_spark.checkpoint import SignatureStore
        from dedup_spark.functions.signatures import with_signatures
        from dedup_spark.operators.exact import with_content_hash
        from dedup_spark.sources.loader import prepare_code_files

        info = super().setup(work)
        files = self.spark.read.parquet(self.input)
        # exactly the files whose path hashes lowest are seeded, so every
        # seed leaves the same number of rows to sign fresh
        key = F.xxhash64("path", F.lit(self.seed))
        self.n_seeded = self.n_files * self.seeded_pct // 100
        cut = files.select(key.alias("k")).orderBy("k").offset(self.n_seeded).first()["k"]
        in_seed = key < cut
        need = self.n_seeded * STORE_FILE_MB * 1024 * 1024 * 2 + 2 * 1024**3
        free = shutil.disk_usage(work).free
        if free < need:
            raise RuntimeError(f"{free / 1024**3:.1f} GB free; seeding needs {need / 1024**3:.1f} GB")
        self.store_path = f"{work}/store"
        self.cfg = self.cfg.with_(cache_path=self.store_path)
        store = SignatureStore(self.spark, self.store_path, self.cfg)
        seed_files = prepare_code_files(files.filter(in_seed), self.cfg)
        store.save(with_signatures(with_content_hash(seed_files, self.cfg), self.cfg))
        info["store_bytes"], info["store_files"] = inputs.dir_bytes_files(f"{self.store_path}/data")
        info["n_seeded"] = self.n_seeded
        return info

    def _snapshot(self) -> set[str]:
        return {
            f"data/{e}" for e in os.listdir(f"{self.store_path}/data")
        } | {f"_metrics/{e}" for e in os.listdir(f"{self.store_path}/_metrics")} | {
            e for e in os.listdir(self.store_path) if e.startswith("_staged_")
        }

    @contextmanager
    def restored_store(self):
        """Removes whatever the op added to the store (its generation,
        its metrics row, a failed save's staging directory), so every op
        starts from the seeded state without copying the store."""
        fresh_rows = self.n_inputs - self.n_seeded
        need = fresh_rows * STORE_FILE_MB * 1024 * 1024 * 2 + 1024**3
        if shutil.disk_usage(self.store_path).free < need:
            raise RuntimeError("not enough free disk for the op's store generation")
        before = self._snapshot()
        try:
            yield
        finally:
            for rel in self._snapshot() - before:
                path = f"{self.store_path}/{rel}"
                shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)

    def op(self, out: str, pipe=None) -> None:
        with self.restored_store():
            super().op(out, pipe)
            self._store_check()

    def _store_check(self) -> None:
        """Read the op's own store entries before they are removed: the
        save must hold exactly the unseeded rows, with the seeded rows
        counted as reused."""
        gens = os.listdir(f"{self.store_path}/data")
        latest_gen = max(gens, key=lambda g: int(g.split("=")[1]))
        # pyarrow, not Spark: the read adds no job to the timed op
        metrics = pq.read_table(f"{self.store_path}/_metrics").to_pandas().sort_values("ts").iloc[-1]
        data_bytes, _ = inputs.dir_bytes_files(f"{self.store_path}/data")
        gen_bytes, gen_files = inputs.dir_bytes_files(f"{self.store_path}/data/{latest_gen}")
        self.last_store = {
            "gen": latest_gen,
            "n_rows": int(metrics["n_rows"]),
            "n_reused": int(metrics["n_reused"]),
            "store_bytes_per_row": data_bytes / self.n_inputs,
            "gen_bytes": gen_bytes,
            "gen_files": gen_files,
        }

    def ok(self, got: dict, expected: dict | None) -> bool:
        s = self.last_store
        fresh = self.n_inputs - self.n_seeded
        return (
            super().ok(got, expected)
            and s["n_rows"] == fresh
            and s["n_reused"] == self.n_seeded
            and s["gen"] == "gen=1"
        )

    def store_patches(self, pipe, tracer) -> list:
        store = pipe.store

        def hits(args, kwargs, out):
            return {"hit_rows": out.filter(F.col("cache_hit")).count()}

        def written(args, kwargs, out):
            gen_bytes, gen_files = inputs.dir_bytes_files(f"{self.store_path}/data/gen=1")
            return {"bytes_written_mb": gen_bytes / 1024**2, "files_written": gen_files}

        probe = _spanned(tracer, "checkpoint.probe", store.with_cached_signatures, extra=hits)
        save = _spanned(tracer, "checkpoint.save", store.save, force=False, extra=written)
        return [(store, "with_cached_signatures", probe), (store, "save", save)]


class MediaMixed:
    """``media_near_dup_clusters`` over image, audio, video and
    undecodable assets in planted 3-carrier groups plus singletons."""

    name = "media-mixed"
    n_groups = 40
    min_ops = 2

    def __init__(self, spark: SparkSession, seed: int):
        from dedup_spark.config import DedupConfig

        self.spark = spark
        self.seed = seed
        self.cfg = DedupConfig(shuffle_partitions=8)

    @property
    def n_inputs(self) -> int:
        return self.n_groups * inputs.GROUP

    def setup(self, work: str) -> dict:
        info = inputs.write_media_inputs(self.spark, self.n_groups, self.seed, work)
        self.input = info["input"]
        return info

    def op(self, out: str, pipe=None) -> None:
        from dedup_spark.operators.multimodal import media_near_dup_clusters

        media_near_dup_clusters(self.spark.read.parquet(self.input), self.cfg).write.parquet(
            f"{out}/clusters"
        )

    def check(self, out: str) -> dict:
        """Every planted group lands in one cluster; every asset has
        exactly one row."""
        cl = pq.read_table(f"{out}/clusters", columns=["asset_id", "modality", "cluster_id"]).to_pandas()
        gid = cl["asset_id"] // inputs.GROUP
        planted = cl[(gid % 10).map(inputs.MEDIA_LAYOUT) != "single"]
        per_group = planted.groupby(planted["asset_id"] // inputs.GROUP)["cluster_id"].nunique()
        return {
            "rows": len(cl),
            "distinct_assets": int(cl["asset_id"].nunique()),
            "n_clusters": int(cl["cluster_id"].nunique()),
            "recall": float((per_group == 1).mean()),
            "modalities": cl["modality"].value_counts().to_dict(),
        }

    def ok(self, got: dict, expected: dict | None) -> bool:
        if got["recall"] != 1.0 or not got["rows"] == got["distinct_assets"] == self.n_inputs:
            return False
        if len(got["modalities"]) != 4:  # every branch non-empty
            return False
        return expected is None or got["n_clusters"] == expected["n_clusters"]

    def traced_op(self, out: str, tracer) -> None:
        import dedup_spark.operators.cc as cc
        import dedup_spark.operators.multimodal as mm
        import dedup_spark.operators.simhash_join as sj

        def retry_rows(args, kwargs, out):
            # rows fed to the audio path that sniff as video: the
            # video->audio retry
            return {
                "retry_rows": args[0].filter(mm.kind_from_magic_col(F.col("payload")) == "video").count()
            }

        def blob_rows(args, kwargs, out):
            return {"fallback_rows": args[0].count()}

        patches = [
            (mm, "image_phash", _spanned(tracer, "multimodal.image", mm.image_phash)),
            (mm, "audio_fingerprint", _spanned(tracer, "multimodal.audio", mm.audio_fingerprint, extra=retry_rows)),
            (mm, "video_fingerprint", _spanned(tracer, "multimodal.video", mm.video_fingerprint)),
            (mm, "binary_near_dup_clusters", _spanned(tracer, "multimodal.blob", mm.binary_near_dup_clusters, extra=blob_rows)),
            (cc, "connected_components", _spanned(tracer, "cc", cc.connected_components)),
            (sj, "simhash_candidate_pairs", _spanned(tracer, "candidates", sj.simhash_candidate_pairs)),
        ] + _cc_patches(tracer, self.cfg)
        with patched(patches):
            self.op(out)


WORKLOADS = {w.name: w for w in (TextFull, TextIncremental, MediaMixed)}
