"""MinHash-LSH candidate generation (the scale rewrite of reference J3).

The reference compares all same-kind pairs in a nested loop
(/root/reference/src/media_dedup.rs:644-668) — O(n²), single-threaded.
The standard LSH rewrite (north_rule): split each n-element MinHash
signature into b bands of r rows, hash each band, and only documents
colliding on (band_id, band_hash) become candidate pairs. At the default
b=32, r=4 (``DedupConfig``): P(candidate | J=0.9) = 1-(1-0.9^4)^32
≈ 1-1.5e-15, and ≈ 0.9998 at J=0.7, so containment pairs still reach
verification — far above the 0.99 recall target at the 0.9 threshold.

Scale/skew posture:
- band hashing is JVM-side (``hash`` over array slices inside
  whole-stage codegen) — the signature never crosses back into Python.
- pair expansion is a single groupBy per band key with an explicit
  bucket cap: buckets larger than ``band_bucket_cap`` (boilerplate
  headers, empty-ish files) are dropped and *counted* — never silently —
  instead of exploding into O(cap²)+ pairs. The exact-duplicate stage
  runs first and collapses identical contents to one representative, so
  a mega-bucket of N identical files never reaches LSH in the first
  place.
- residual skew in the pair-dedup shuffle is left to AQE skew handling
  (enabled in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig


def band_keys(df: DataFrame, config: DedupConfig, id_col: str = "file_id") -> DataFrame:
    """Explode each MinHash signature into b (band_id, band_hash) keys.

    The b band structs are ONE SQL expression: every Column-API call
    (``F.struct``, ``F.hash``, ``F.slice``, ...) is a py4j round trip,
    ~1.9k per build at b=32, while ``F.expr`` has the JVM parse the same
    ``CreateNamedStruct`` array in a few.
    """
    b, r = config.lsh_bands, config.lsh_rows
    structs = [
        f"named_struct('band_id', {i}, 'band_hash', hash(slice(minhash, {i * r + 1}, {r})))"
        for i in range(b)
    ]
    bands = F.expr("array(" + ", ".join(structs) + ")")
    return (
        df.filter(F.col("minhash").isNotNull())
        .select(id_col, F.explode(bands).alias("band"))
        .select(id_col, F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash"))
    )


def pairs_from_keys(
    keys: DataFrame,
    key_cols: list[str],
    cap: int,
    id_col: str = "file_id",
    dedupe: bool = True,
) -> DataFrame:
    """Generic bucket→pairs expansion (bucket form, mirroring
    ``simhash_join.simhash_candidate_pairs``'s physical shape).

    Precondition: each id appears at most ONCE per bucket — true for
    LSH band keys (one key per (doc, band_id)) and SimHash block-pair
    keys (one key per (doc, block_id)). That makes ``collect_list``
    safe, skipping ``collect_set``'s per-bucket hash-dedup; and the
    ``id_a < id_b`` orientation filter makes any per-bucket
    ``sort_array`` unnecessary (pair identity does not depend on list
    order). The previous ``sort_array(collect_set(...))`` form paid
    both for nothing — measured 1.6× slower on the SimHash path when
    that path made the same change.

    One groupBy collects each bucket's ids (bounded: buckets above
    ``cap`` are dropped — counted by ``oversize_buckets`` upstream,
    never silent); pairs are generated JVM-side by a double explode
    with ``a < b``. Distinct unless the caller dedupes downstream.
    """
    buckets = keys.groupBy(*key_cols).agg(F.collect_list(id_col).alias("ids"))
    ok = buckets.filter((F.size("ids") >= 2) & (F.size("ids") <= cap))
    pairs = (
        ok.select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # callers that union several candidate sources dedupe ONCE,
    # downstream of the cheap verify prune (dedupe=False) — near-
    # identical docs collide in most bands, so an inner distinct here
    # would shuffle the same inflated pair set again for nothing, and
    # the post-prune set is far smaller.
    return pairs.distinct() if dedupe else pairs


def oversize_buckets(keys: DataFrame, key_cols: list[str], cap: int, id_col: str = "file_id") -> DataFrame:
    """The buckets the cap dropped — surfaced for metrics (never silent)."""
    return (
        keys.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cap)
    )


def lsh_candidate_pairs(
    sig_df: DataFrame, config: DedupConfig, id_col: str = "file_id", dedupe: bool = True
) -> DataFrame:
    """MinHash-LSH candidate pairs: (id_a, id_b), distinct unless the
    caller dedupes at a downstream union."""
    keys = band_keys(sig_df, config, id_col)
    return pairs_from_keys(
        keys, ["band_id", "band_hash"], config.band_bucket_cap, id_col, dedupe=dedupe
    )
