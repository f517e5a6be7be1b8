"""Candidate-pair verification (M5; reference threshold gate
/root/reference/src/media_dedup.rs:658-660).

Three tiers, cheapest first, each pruning the next tier's input:

1. MinHash signature agreement (estimated Jaccard) — JVM-side
   zip_with/aggregate, whole-stage codegen.
2. SimHash Hamming distance ≤ radius — JVM-side bit_count(xor).
3. Content verification — exact token-shingle Jaccard plus suffix-
   automaton LCS containment in one Arrow-batched mapInPandas pass (only pairs
   surviving tier 1/2 pay the Python cost; content is joined in at this
   point only, never carried through the band shuffle).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from dedup_spark.config import DedupConfig
from dedup_spark.functions.signatures import minhash_agreement

_VERIFY_SCHEMA = StructType(
    [
        StructField("jaccard", DoubleType(), False),
        StructField("containment", DoubleType(), True),
    ]
)


def make_content_verify(config: DedupConfig):
    """Exact shingle Jaccard always; suffix-automaton LCS containment
    only for pairs Jaccard does NOT already admit (containment pairs —
    truncated/extended copies — carry low Jaccard but LCS ≈ 1.0; pairs
    above the similarity threshold pass regardless, so the O(len)
    Python automaton is skipped for them — it is the most expensive
    kernel in the pipeline). Skipped rows emit containment = null.

    Returns a ``mapInPandas`` function over (id_b, id_a, est_jaccard,
    hamming, content_a, content_b) batches that keeps only the pairs
    passing the gate, as (id_b, id_a, est_jaccard, hamming, jaccard,
    containment, sim) — the kernel and the pass filter in one Python
    evaluation per pair.
    """
    k, unit, norm = config.shingle_k, config.shingle_unit, config.normalize
    threshold = config.similarity_threshold
    c_threshold = config.containment_threshold

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from dedup_spark.functions.lcs import containment_score
        from dedup_spark.functions.shingles import shingle_set

        for pdf in batches:
            # one doc participates in many pairs: memoize its shingle
            # set for the batch (keyed by the string object's content)
            cache: dict[str, np.ndarray] = {}

            def sh(text: str) -> np.ndarray:
                s = cache.get(text)
                if s is None:
                    s = cache[text] = shingle_set(text, k, unit, norm)
                return s

            jac, cont = [], []
            for a, b in zip(pdf["content_a"], pdf["content_b"]):
                a = a or ""
                b = b or ""
                sa, sb = sh(a), sh(b)
                if sa.shape[0] == 0 or sb.shape[0] == 0:
                    j = 0.0
                else:
                    inter = np.intersect1d(sa, sb).shape[0]
                    j = inter / (sa.shape[0] + sb.shape[0] - inter)
                jac.append(j)
                cont.append(None if j >= threshold else containment_score(a, b))
            passed = np.array(
                [j >= threshold or (c is not None and c >= c_threshold)
                 for j, c in zip(jac, cont)],
                dtype=bool,
            )
            out = pdf[["id_b", "id_a", "est_jaccard", "hamming"]].assign(
                jaccard=jac, containment=cont, sim=jac
            )
            yield out[passed]

    return verify


def attach_pair_signatures(
    pairs: DataFrame, sig_df: DataFrame, cols: list[str], id_col: str = "file_id"
) -> DataFrame:
    """Join per-side columns onto (id_a, id_b) pairs with _a/_b suffixes.

    The side frames are CORPUS-sized (one row per distinct content —
    signature arrays, or the document bodies themselves), so the joins
    carry an explicit MERGE hint: measured at 200k-1.6M synthetic
    files, Catalyst's size estimate for these checkpoint-derived
    frames lands under the broadcast threshold and AQE picks
    BroadcastHashJoin — at 1.6M files the ~1.2 GB driver-side build
    collect aborts the job on spark.driver.maxResultSize, and at the
    north-star scale it would mean broadcasting the corpus. Sort-merge
    shuffles both sides on the id (the plan a 10^12-file run needs),
    spills gracefully, and AQE's skew split still applies."""
    a = sig_df.select(
        F.col(id_col).alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in cols]
    ).hint("merge")
    b = sig_df.select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in cols]
    ).hint("merge")
    return pairs.join(a, "id_a").join(b, "id_b")


def verify_pairs(
    pairs: DataFrame,
    sig_df: DataFrame,
    config: DedupConfig,
    id_col: str = "file_id",
    content_df: DataFrame | None = None,
) -> DataFrame:
    """Score candidate pairs and keep those passing the similarity gate.

    Output: (id_a, id_b, est_jaccard, hamming, jaccard, containment,
    sim) — ``sim`` is the decision score, the exact shingle Jaccard. A
    pair passes when ``sim >= similarity_threshold`` OR (containment
    pass) ``containment >= containment_threshold``.

    ``content_df`` (id_col, content) lets callers keep ``content`` OUT
    of the signature frame (and out of every window/checkpoint
    upstream): the ~KB content column is joined in here, only for pairs
    that survive the cheap signature prune — at corpus scale that is
    the difference between shuffling every document's body through the
    pipeline and shuffling ~the candidate set's. Defaults to ``sig_df``
    (which then must carry ``content``).
    """
    joined = attach_pair_signatures(pairs, sig_df, ["minhash", "simhash"], id_col)
    scored = joined.withColumn(
        "est_jaccard",
        minhash_agreement(F.col("minhash_a"), F.col("minhash_b"), config.minhash_n),
    ).withColumn(
        "hamming", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    )
    # tier-1/2 prune before the expensive content pass: a pair must look
    # plausible on at least one cheap signal to earn LCS verification.
    # The floor sits well below the similarity threshold because
    # containment pairs (truncated/extended copies) legitimately carry
    # J ≈ 0.7 while LCS containment ≈ 1.0 — pruning at the threshold
    # would drop them before the containment gate can admit them.
    floor = min(0.5, config.similarity_threshold * 0.6)
    plausible = (F.col("est_jaccard") >= F.lit(floor)) | (
        F.col("hamming") <= F.lit(config.simhash_radius + 8)
    )
    # Idempotence guard: verify accepts a pair MULTISET (callers that
    # skip candidates()' union distinct, e.g. per-source metrics) and
    # still emits each pair once. Every scored column is a
    # deterministic function of the pair, so key-only dropDuplicates
    # is exact; on the normal pre-deduped path this is a ~n_verified
    # narrow shuffle (trivial). NOTE the main dedup deliberately does
    # NOT live here: the tier-1/2 prune above consumes est_jaccard/
    # hamming, so any multiset reaching this point already paid the
    # wide signature-attach joins per duplicate row — see
    # DedupPipeline.candidates for the A/B that pinned dedup at the
    # union. Signature arrays are dropped first — this exchange moves
    # ~32-byte rows, not 128-int minhash payloads.
    scored = (
        scored.filter(plausible)
        .drop("minhash_a", "minhash_b", "simhash_a", "simhash_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    src = content_df if content_df is not None else sig_df
    scored = attach_pair_signatures(scored, src, ["content"], id_col)
    # One Python pass scores each pair AND applies the pass filter: a
    # UDF column read by a separate filter is evaluated twice (Catalyst
    # pushes the filter's copy below any exchange placed between them).
    # The pass runs on the content join's own partitions; an explicit
    # repartition first would shuffle every ~KB content row once more.
    fields = {f.name: f for f in scored.schema.fields}
    schema = StructType(
        [fields["id_b"], fields["id_a"], fields["est_jaccard"], fields["hamming"],
         *_VERIFY_SCHEMA.fields, StructField("sim", DoubleType(), False)]
    )
    return scored.mapInPandas(make_content_verify(config), schema)
