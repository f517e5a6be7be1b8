"""SimHash Hamming-ball probing join (reference H2/H3 at scale).

The reference's media matcher compares 64-bit perceptual hashes with a
Hamming-distance threshold: similarity = (64-d)/64, default 90% ⇔ d ≤ 6
(/root/reference/src/media_dedup.rs:354-377). Comparing all pairs is
O(n²); the scale rewrite is **block-pair Hamming probing**: split the
hash into radius+2 blocks; at most ``radius`` blocks carry an error,
so every in-radius pair agrees exactly on ≥1 of the C(b,2)
concatenated block-pair values — an equi-self-join on those keys,
then exact ``bit_count(xor) ≤ radius`` verification in whole-stage
codegen. Recall is 1.0 by construction (before frequency caps):
probing is a covering design, not a sketch.

Schemes rejected on the way here, for the record: naive exact single
blocks (8-bit value space → bucket sizes O(n/256) → quadratic pair
explosion at 10^5+ rows) and one-bit-flip multi-index probing (4×16-bit
blocks, exact recall, but 68 probe keys/row vs 28 here).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.functions.signatures import hamming_distance64


def simhash_blockpair_keys(
    df: DataFrame, radius: int, id_col: str = "file_id", by: tuple[str, ...] = ()
) -> DataFrame:
    """Block-PAIR probe keys: split the 64-bit hash into radius+2 blocks
    (8 blocks for radius 6); by pigeonhole at most ``radius`` blocks
    carry an error, so ≥2 blocks are error-free and every true pair
    agrees exactly on at least one of the C(b,2) concatenated
    block-pair values. One equi-key per pair of blocks — for radius 6:
    28 keys/row of ≥16-bit value space, vs 68 keys/row for the
    one-bit-flip multi-index scheme, with no flip enumeration at all.
    The ``by`` columns ride along on every key row.

    The C(b,2) key structs are ONE SQL expression (``F.expr`` of an
    ``array(named_struct(...), ...)``): every PySpark Column call is a
    py4j round trip, so composing the same ``CreateNamedStruct`` array
    from Column calls costs ~3.6k of them per build, and a media op
    builds the keys twice. The string costs a few dozen.
    """
    nblocks = radius + 2
    width = 64 // nblocks  # last block takes the remaining high bits
    widths = [width] * (nblocks - 1) + [64 - width * (nblocks - 1)]
    offsets = [width * i for i in range(nblocks)]

    def block(i: int) -> str:
        mask = (1 << widths[i]) - 1
        return f"(shiftrightunsigned(simhash, {offsets[i]}) & {mask})"

    structs = [
        f"named_struct('block_id', {pair_id}, 'block_val', "
        f"(shiftleft({block(i)}, {widths[j]}) | {block(j)}))"
        for pair_id, (i, j) in enumerate(combinations(range(nblocks), 2))
    ]
    keys = F.expr("array(" + ", ".join(structs) + ")")
    # simhash rides along (8 bytes/key row): the candidate self-join
    # verifies hamming INSIDE the join stage, so false block-pair
    # collisions die in codegen instead of becoming shuffled pairs
    return (
        df.filter(F.col("simhash").isNotNull())
        .select(id_col, "simhash", *by, F.explode(keys).alias("blk"))
        .select(
            id_col,
            "simhash",
            *by,
            F.col("blk.block_id").alias("block_id"),
            F.col("blk.block_val").alias("block_val"),
        )
    )


def simhash_candidate_pairs(
    sig_df: DataFrame,
    config: DedupConfig,
    id_col: str = "file_id",
    dedupe: bool = True,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """(id_a, id_b, hamming) pairs within the Hamming radius — distinct
    unless the caller dedupes at a downstream union (``dedupe=False``).

    ``by`` columns join the bucket key, so only rows equal on them can
    pair, and ``band_bucket_cap`` counts each ``by`` group's members
    separately — one join over several independent signature sets
    (the media orchestrator's modalities) gives each set exactly the
    pairs and cap drops it would get alone. With the default ``()``
    the bucket key is ``(block_id, block_val)`` alone.

    Self-join on block-pair keys (exact recall by pigeonhole — see
    ``simhash_blockpair_keys``); hot key values above
    ``band_bucket_cap`` are dropped (skew guard — counted by oversize
    metrics upstream, mirroring the LSH cap).

    The hamming verification happens INSIDE the pair-expansion stage:
    each key row carries its 8-byte simhash, and
    ``bit_count(a xor b) <= radius`` runs in the same
    whole-stage-codegen projection as the bucket explode — so a false
    block-pair collision (two dissimilar docs agreeing on one 16-bit
    key, the overwhelmingly common case on real corpora where simhash
    bits are biased by shared token distributions) costs two ALU ops
    and is gone. Measured on the 400k synthetic corpus: 21.7M raw
    block-pair collisions → ~50k in-radius pairs; verifying after a
    distinct (the previous design) shuffled all 21.7M and then joined
    signatures back onto them — the single dominant cost of the whole
    pipeline, deleted by moving the filter inline.

    Physical shape mirrors the LSH path (``lsh.pairs_from_keys``): ONE
    groupBy of the key stream collects each bucket's (id, simhash)
    members, the cap filter drops oversize buckets, and a double
    explode emits C(m,2) pairs — measured 1.6× faster than the
    equivalent capped self-join (one shuffle of the 8.6M-row key
    stream instead of a count-groupBy + broadcast-anti + join), with a
    bit-identical pair set.
    """
    keys = simhash_blockpair_keys(
        sig_df.select(F.col(id_col), F.col("simhash"), *by),
        config.simhash_radius,
        id_col,
        by,
    )
    # each id appears at most once per (block_id, block_val) bucket, so
    # collect_list is safe (and cheaper than collect_set); buckets above
    # the frequency cap are dropped — counted by skew_metrics upstream
    buckets = keys.groupBy(*by, "block_id", "block_val").agg(
        F.collect_list(
            F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh"))
        ).alias("members")
    )
    ok = buckets.filter(
        (F.size("members") >= 2) & (F.size("members") <= config.band_bucket_cap)
    )
    out = (
        ok.select(F.explode("members").alias("a"), "members")
        .select("a", F.explode("members").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("hamming", hamming_distance64(F.col("a.sh"), F.col("b.sh")))
        .filter(F.col("hamming") <= config.simhash_radius)
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "hamming"
        )
    )
    return out.distinct() if dedupe else out
