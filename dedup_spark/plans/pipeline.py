"""DedupPipeline — the engine API (SURVEY §7.5), orchestrating
load → edges (collapse → candidates → verify) → cluster → plan →
report. ``run()`` is ``cluster(*edges(files))``: edges first, then
assembly, so a caller that merges graphs (the media orchestrator's
byte-shingle assets) takes ``edges()`` alone.

Scale-critical design point: the fuzzy stage (signatures onward) runs on
**exact-duplicate representatives only** (one row per distinct sha256).
Identical files share every band, so a set of N identical files would
otherwise form an N-sized LSH mega-bucket; collapsing first makes the
fuzzy input proportional to distinct contents and removes the worst skew
source before any shuffle. Fuzzy labels propagate back to all members
through the exact-representative mapping — two files are in the same
final cluster iff their contents are exact-equal OR their
representatives land in one similarity component (exact ∪ fuzzy union,
reference treats these as two pipelines both emitting DuplicateSets,
/root/reference/src/main.rs:250-376 + media path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedup_spark.checkpoint import SignatureStore, lineage_cut
from dedup_spark.config import DedupConfig
from dedup_spark.functions.signatures import with_signatures
from dedup_spark.operators.cc import attach_labels, connected_components
from dedup_spark.operators.exact import with_content_hash, with_exact_rep
from dedup_spark.operators.lsh import lsh_candidate_pairs
from dedup_spark.operators.report import duplicate_report
from dedup_spark.operators.select import select_kept
from dedup_spark.operators.simhash_join import simhash_candidate_pairs
from dedup_spark.operators.verify import verify_pairs
from dedup_spark.sources.loader import load_code_files, prepare_code_files


class DedupPipeline:
    def __init__(self, spark: SparkSession, config: DedupConfig | None = None):
        self.spark = spark
        self.config = config or DedupConfig()
        self.store = (
            SignatureStore(spark, self.config.cache_path, self.config)
            if self.config.cache_path
            else None
        )

    def _cut(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """Lineage cut honoring config.checkpoint_mode (local vs
        reliable — see checkpoint.lineage_cut)."""
        return lineage_cut(df, self.config, eager=eager)

    # ---- stages -----------------------------------------------------
    def load(self, source: str) -> DataFrame:
        return load_code_files(self.spark, source, self.config)

    def signatures(self, files: DataFrame) -> DataFrame:
        """hash + minhash + simhash per row, reusing the checkpoint when
        configured (J2 compute-where-null)."""
        hashed = with_content_hash(files, self.config)
        if self.store is None:
            return with_signatures(hashed, self.config)
        probed = self.store.with_cached_signatures(hashed)
        hits = probed.filter(F.col("cache_hit"))
        misses = probed.filter(~F.col("cache_hit")).drop(
            "minhash", "simhash", "n_shingles", "cache_hit"
        )
        fresh = with_signatures(misses, self.config).withColumn("cache_hit", F.lit(False))
        sigs = hits.unionByName(fresh)
        return sigs

    def collapse(self, files: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Signatures, the store save, and the exact collapse:
        ``(members, reps)``. ``members`` is every file with its
        ``exact_rep`` (min file_id of its hash group) and no signature
        arrays — the frame cluster assembly labels; ``reps`` is one row
        per distinct content hash (the min file_id), with signatures —
        the frame the fuzzy stage runs on."""
        sigs = self.signatures(files)
        if self.store is not None:
            sigs = self._cut(sigs)  # compute once: reused by save + downstream
            n_reused = sigs.filter(F.col("cache_hit")).count()
            # append ONLY the fresh rows — the store is generational
            # (O(batch) saves); cache hits are already in older gens
            self.store.save(sigs.filter(~F.col("cache_hit")), n_reused=n_reused)
            sigs = sigs.drop("cache_hit")
        # content stays behind in ``files``: every downstream window,
        # join, and checkpoint moves only ids + signatures; verification
        # re-attaches the body for the (small) surviving pair set. sigs
        # feeds the candidate joins AND the final cluster assembly —
        # without a cut, Catalyst re-runs the signature UDF per branch.
        # One shuffle by hash yields both the representative rank and
        # exact_rep; reps then derives from the cut frame by a filter.
        sigs = self._cut(with_exact_rep(sigs.drop("content"), ["hash"], "file_id"))
        # reps is re-materialized even though it is "just a filter":
        # candidates + verify scan it ~6 times, and the filtered frame
        # is both smaller (distinct contents only) and the only carrier
        # of the heavy signature arrays — repeated consumers must hit
        # the small blocks, not re-scan the full frame's.
        reps = self._cut(sigs.filter(F.col("_rn") == 1).drop("_rn", "exact_rep"))
        # cluster assembly never touches the signature arrays — drop
        # them before the exact_rep join + cluster_size window so those
        # shuffles move ~150B rows, not 128-int minhash payloads
        return sigs.drop("_rn", "minhash", "simhash", "n_shingles"), reps

    def candidates(self, reps: DataFrame, dedupe: bool = True) -> DataFrame:
        """LSH ∪ SimHash candidate pairs over representatives, deduped
        ONCE at the union.

        The dedup placement is measured, not guessed: near-duplicate
        docs collide in most of the 32 LSH bands, so the union is a
        ~30×-inflated multiset (2.18M rows for 46,991 true pairs at
        400k files) — but the rows are 16-byte (id_a, id_b) keys. The
        alternative (dedup AFTER verify's tier-1/2 prune) cannot skip
        this shuffle, because the prune consumes est_jaccard/hamming,
        which require attaching the 128-int minhash + simhash arrays
        to every PAIR row first — i.e. the inflation would ride the
        two wide signature-attach joins instead of one narrow
        distinct. A/B at local[8]/400k: dedup-first 34-39s vs
        dedup-after-prune 47-54s for candidates+verify, identical
        output (bit-identity test in test_candidates.py). At 10^12
        files the narrow shuffle is ~35 GB where the attached multiset
        would be ~2 TB.

        ``dedupe=False`` exposes the raw multiset (tests, collision
        metrics). With ``same_lang_only`` the F7 gate drops cross-lang
        pairs (reference: cross-kind similarity is 0,
        /root/reference/src/media_dedup.rs:392-418)."""
        mh = lsh_candidate_pairs(reps, self.config, dedupe=False)
        # simhash pairs arrive hamming-verified INSIDE the join stage
        # (false block-pair collisions die in codegen, never shuffled —
        # see simhash_candidate_pairs); the union's distinct is the
        # only pair shuffle for both sources
        pairs = mh.union(
            simhash_candidate_pairs(reps, self.config, dedupe=False).select("id_a", "id_b")
        )
        if dedupe:
            pairs = pairs.distinct()
        if self.config.same_lang_only and "lang" in reps.columns:
            # reps-sized side: never broadcast (see attach_pair_signatures)
            lang = reps.select("file_id", "lang").hint("merge")
            pairs = (
                pairs.join(
                    lang.withColumnsRenamed({"file_id": "id_a", "lang": "lang_a"}), "id_a"
                )
                .join(
                    lang.withColumnsRenamed({"file_id": "id_b", "lang": "lang_b"}), "id_b"
                )
                .filter(F.col("lang_a") == F.col("lang_b"))
                .select("id_a", "id_b")
            )
        return pairs

    def verify(
        self, pairs: DataFrame, reps: DataFrame, content_df: DataFrame | None = None
    ) -> DataFrame:
        return verify_pairs(pairs, reps, self.config, content_df=content_df)

    def skew_metrics(self, reps: DataFrame) -> DataFrame:
        """Buckets the frequency caps dropped — the 'counted, never
        silent' side of the skew guards: one row per over-cap LSH band
        bucket or SimHash block-pair value, with its member count.
        Feed to the metrics sink alongside the checkpoint lineage rows.
        """
        from dedup_spark.operators.lsh import band_keys, oversize_buckets
        from dedup_spark.operators.simhash_join import simhash_blockpair_keys

        cap = self.config.band_bucket_cap
        lsh_over = oversize_buckets(
            band_keys(reps, self.config), ["band_id", "band_hash"], cap
        ).select(
            F.lit("lsh_band").alias("source"),
            F.col("band_id").cast("long").alias("key_id"),
            F.col("band_hash").cast("long").alias("key_val"),
            F.col("n"),
        )
        sh_keys = simhash_blockpair_keys(
            reps.select("file_id", "simhash"), self.config.simhash_radius
        )
        sh_over = oversize_buckets(sh_keys, ["block_id", "block_val"], cap).select(
            F.lit("simhash_blockpair").alias("source"),
            F.col("block_id").cast("long").alias("key_id"),
            F.col("block_val").cast("long").alias("key_val"),
            F.col("n"),
        )
        return lsh_over.unionByName(sh_over)

    def edges(self, files: DataFrame) -> tuple[DataFrame, DataFrame]:
        """The graph before assembly: ``(members, verified)`` —
        ``collapse()``'s members (with ``exact_rep``) and the ``(id_a,
        id_b)`` representative pairs that passed ``verify()``."""
        members, reps = self.collapse(files)
        content = files.select("file_id", "content")
        return members, self.verify(self.candidates(reps), reps, content_df=content)

    def cluster(self, members: DataFrame, verified_pairs: DataFrame) -> DataFrame:
        """Assembly of ``edges()``: exact ∪ fuzzy cluster assignment.

        Representatives are re-labeled by connected components over
        verified similarity pairs; final cluster_id = component label of
        the member's ``exact_rep`` (defaults to the representative
        itself — singleton or exact-only cluster)."""
        return attach_labels(members, connected_components(verified_pairs, config=self.config))

    # ---- end-to-end ---------------------------------------------------
    def run(self, source: str | DataFrame, min_cluster_size: int = 1) -> DataFrame:
        """``cluster(*edges(files))`` of ``source`` (a path, a files
        frame or a raw code table), then ``min_cluster_size``."""
        if isinstance(source, str):
            files = self.load(source)
        elif "file_id" in source.columns:
            files = source
        else:
            files = prepare_code_files(source, self.config)
        clusters = self.cluster(*self.edges(files))
        if min_cluster_size > 1:
            clusters = clusters.filter(F.col("cluster_size") >= min_cluster_size)
        return clusters

    def plan(self, clusters: DataFrame, strategy: str | None = None) -> DataFrame:
        from dedup_spark.operators.actions import build_plan

        selected = select_kept(clusters, strategy or self.config.keep_strategy)
        return build_plan(selected, action="delete")

    def report(self, clusters: DataFrame) -> DataFrame:
        return duplicate_report(clusters.filter(F.col("cluster_size") >= 2), "cluster_id")
