"""Exact-duplicate stage (reference stages 1-3 + C1).

Reference pipeline (/root/reference/src/file_utils.rs:364-644):
walk → group by size (A1) → keep size groups >1 (F4) → hash members
(H1) → group by hash (A2) → emit sets with >=2 files (A3/F5).

Spark shape: one declarative plan — window-count size prefilter, sha2,
hash groupBy. Catalyst does partial/final aggregation; the size
prefilter is the reference's candidate-pruning optimization, kept as an
optional stage (it saves the hash UDF cost only when the hash is
expensive; sha2 is cheap, so it is measured, not assumed — SURVEY §4).

Scale notes: no collect_list of members in the hot path — cluster id is
``min(file_id) over (partition by hash)``, an aggregation, not an array
build. Group arrays only materialize in the report sink at bounded size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.functions.hashing import content_hash


def with_content_hash(df: DataFrame, config: DedupConfig, out_col: str = "hash") -> DataFrame:
    """H1: append the configured content hash column."""
    return df.withColumn(out_col, content_hash("content", config.algorithm))


def size_prefilter(df: DataFrame, size_col: str = "size") -> DataFrame:
    """A1+F4: keep only rows whose size occurs more than once.

    Window count over the size key — no group arrays are built
    (reference builds HashMap<u64, Vec<PathBuf>>; at 10^12 rows the Vec
    is the thing that must not exist).
    """
    w = Window.partitionBy(size_col)
    return (
        df.withColumn("_size_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_size_n") > 1)
        .drop("_size_n")
    )


def exact_clusters(
    df: DataFrame,
    config: DedupConfig,
    min_cluster_size: int = 2,
    hash_col: str = "hash",
) -> DataFrame:
    """C1: assign cluster membership by content-hash equality.

    Returns the input rows + ``hash`` + ``cluster_id`` (= min file_id in
    the hash group) + ``cluster_size``, filtered to clusters with
    >= min_cluster_size members (F5; pass 1 to keep singletons).
    """
    hashed = df if hash_col in df.columns else with_content_hash(df, config, hash_col)
    if config.size_prefilter and min_cluster_size > 1:
        hashed = size_prefilter(hashed)
    w = Window.partitionBy(hash_col)
    out = hashed.withColumn("cluster_id", F.min("file_id").over(w)).withColumn(
        "cluster_size", F.count(F.lit(1)).over(w)
    )
    if min_cluster_size > 1:
        out = out.filter(F.col("cluster_size") >= min_cluster_size)
    return out


def with_exact_rep(df: DataFrame, keys, id_col: str) -> DataFrame:
    """The exact collapse shared by the text engine and the media
    signature graph: ONE shuffle over ``keys`` yields both ``_rn``
    (1 on the group's min-id row, the representative the fuzzy stage
    runs on) and ``exact_rep`` (the group's min id, which every member
    carries to take its representative's label — see
    ``cc.attach_labels``)."""
    w = Window.partitionBy(*keys).orderBy(id_col)
    return df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "exact_rep", F.first(id_col).over(w)
    )


def exact_cluster_summary(clusters: DataFrame, hash_col: str = "hash") -> DataFrame:
    """A3 summary: one row per duplicate set (hash, size, n_files,
    cluster_id). The reference's DuplicateSet minus the member array.
    """
    return clusters.groupBy(hash_col).agg(
        F.first("size").alias("size"),
        F.count(F.lit(1)).alias("n_files"),
        F.min("file_id").alias("cluster_id"),
    )
