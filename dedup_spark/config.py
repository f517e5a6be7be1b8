"""Pipeline configuration.

Semantic source: the reference CLI/config surface
(/root/reference/src/lib.rs:40-226, /root/reference/src/config.rs:26-114).
Field-by-field mapping:

- ``algorithm``        <- ``--algorithm`` (src/lib.rs:105-106; default xxhash
                          there, sha256 here per BASELINE.json input_hint).
- ``include/exclude``  <- rclone-style filter rules
                          (src/file_utils.rs:113-227).
- ``parallel``         <- ``--parallel`` (src/file_utils.rs:516-519) →
                          ``spark.sql.shuffle.partitions`` guidance.
- ``similarity_threshold`` <- ``--media-similarity`` 0-100
                          (src/media_dedup.rs:92-101, default 90).
- ``keep_strategy``    <- SelectionStrategy (src/file_utils.rs:971-990).
- ``cache_*``          <- FileCache (src/file_cache.rs:80-116).

The signature config (shingle k, minhash n/b/r, simhash radius) is *ours*
(north_rule); frozen defaults define the "matched config" for the recall
fixture.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

HASH_ALGORITHMS = ("sha256", "md5", "sha1", "crc32", "xxhash64", "fnv1a", "blake3")

KEEP_STRATEGIES = (
    "shortest_path",   # src/file_utils.rs:1008-1015 (min path length)
    "longest_path",    # src/file_utils.rs:1016-1023
    "newest_modified",  # src/file_utils.rs:1024-1031
    "oldest_modified",  # src/file_utils.rs:1032-1039
)


@dataclass(frozen=True)
class DedupConfig:
    # --- exact stage ---
    algorithm: str = "sha256"          # canonical per-row invariant hash
    size_prefilter: bool = True        # A1: group-by-size candidate pruning
    min_content_len: int = 1           # F3: non-empty filter

    # --- path filter rules (F2) ---
    include: tuple[str, ...] = ()      # glob patterns; if any, path must match one
    exclude: tuple[str, ...] = ()      # glob patterns; exclude wins
    skip_hidden: bool = True           # F1

    # --- shingling / signatures (frozen recall config) ---
    shingle_k: int = 5                 # k-gram width (tokens) for minhash shingles
    shingle_unit: str = "token"        # "token" | "char"
    normalize: bool = True             # lowercase + whitespace collapse before shingling
    minhash_n: int = 128               # signature length
    lsh_bands: int = 32                # b — (1/b)^(1/r) ≈ 0.42 curve midpoint:
    lsh_rows: int = 4                  #   P(candidate) ≥ 0.9998 at J ≥ 0.7, so
    #                                      containment pairs (J≈0.7, LCS≈1.0)
    #                                      still reach verification; r; b*r == minhash_n
    simhash_radius: int = 6            # == reference 90% of 64 bits (media_dedup.rs:370-373)
    # NOTE: there is deliberately no block-layout knob — candidate probing
    # derives its radius+2 block-pair split from simhash_radius alone
    # (operators/simhash_join.py); a separate field would be dead config.

    # --- candidate generation / skew ---
    band_bucket_cap: int = 512         # drop LSH buckets larger than this (skew guard)
    same_lang_only: bool = False       # F7 gate: only same-lang files compared
    #                                    (reference: similarity across media kinds
    #                                    is 0, src/media_dedup.rs:392-418)

    # --- verification ---
    similarity_threshold: float = 0.9  # reference --media-similarity 90/100
    containment_threshold: float = 0.9  # LCS/min-len for containment pairs

    # --- clustering ---
    cc_max_iterations: int = 20
    # Edge sets at or below this collapse in ONE union-find task
    # (operators/cc.py) instead of ~5 driver-round star iterations;
    # larger graphs use the log-round star loop. 1M edges ≈ seconds in
    # one task and well inside executor memory; the threshold is the
    # serial-latency vs single-task-size trade.
    cc_smallgraph_threshold: int = 1_000_000

    # --- selection / actions ---
    keep_strategy: str = "shortest_path"
    lang_preference: tuple[str, ...] = ()  # W3 format-preference analog

    # --- checkpoint / resume (J2/S5/S6) ---
    cache_path: str | None = None      # parquet dir (Iceberg table when available)
    # Lineage-cut durability for multi-stage frames and CC iterations:
    # "local"    — localCheckpoint: executor-memory/disk blocks, NO
    #              replication. Fastest; right for single-host runs and
    #              tests, but one executor loss kills the job.
    # "reliable" — checkpoint() to checkpoint_dir (HDFS/S3 on a real
    #              cluster): survives executor loss; the job resumes
    #              from the last cut instead of recomputing from scratch
    #              (north_rule "resumable from checkpoint"). Costs one
    #              extra materialization per cut.
    checkpoint_mode: str = "local"
    checkpoint_dir: str | None = None  # required-ish for "reliable" (tmp fallback)

    # --- execution ---
    shuffle_partitions: int | None = None

    def __post_init__(self) -> None:
        if self.algorithm not in HASH_ALGORITHMS:
            raise ValueError(f"unknown algorithm {self.algorithm!r}; one of {HASH_ALGORITHMS}")
        if self.keep_strategy not in KEEP_STRATEGIES:
            raise ValueError(f"unknown keep_strategy {self.keep_strategy!r}")
        if self.lsh_bands * self.lsh_rows != self.minhash_n:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) must equal minhash_n ({self.minhash_n})"
            )
        if not 0.0 <= self.similarity_threshold <= 1.0:
            raise ValueError("similarity_threshold must be in [0,1]")
        if self.checkpoint_mode not in ("local", "reliable"):
            raise ValueError(
                f"unknown checkpoint_mode {self.checkpoint_mode!r}; 'local' or 'reliable'"
            )

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)


#: The frozen config used by the recall fixture ("matched shingle/signature
#: config" in BASELINE.json). Changing it invalidates expected-pair fixtures.
RECALL_CONFIG = DedupConfig()


# --- TOML config source (reference S8: .deduprc, src/config.rs:26-114) -----

#: reference TOML key → DedupConfig field (+ value transform). The
#: reference expresses similarity as 0-100 (--media-similarity,
#: src/media_dedup.rs:92-101); ours is a 0-1 fraction.
_TOML_KEYS = {
    "algorithm": ("algorithm", str),
    "include": ("include", lambda v: tuple(v)),
    "exclude": ("exclude", lambda v: tuple(v)),
    "skip_hidden": ("skip_hidden", bool),
    "media_similarity": ("similarity_threshold", lambda v: float(v) / 100.0),
    "similarity_threshold": ("similarity_threshold", float),
    "keep_strategy": ("keep_strategy", str),
    "cache_location": ("cache_path", str),
    "parallel": ("shuffle_partitions", int),
    "shingle_k": ("shingle_k", int),
    "minhash_n": ("minhash_n", int),
    "lsh_bands": ("lsh_bands", int),
    "lsh_rows": ("lsh_rows", int),
    "simhash_radius": ("simhash_radius", int),
}


def config_from_toml(text: str, base: DedupConfig | None = None, **overrides) -> DedupConfig:
    """Build a config from `.deduprc`-style TOML, with explicit kwargs
    winning over file values (the reference merges file defaults UNDER
    explicit CLI args — Cli::apply_config, src/lib.rs:268-352).
    Unknown keys are ignored, as serde's defaults do."""
    import tomllib

    data = tomllib.loads(text)
    kw: dict = {}
    for key, value in data.items():
        if key in _TOML_KEYS:
            field_name, conv = _TOML_KEYS[key]
            kw[field_name] = conv(value)
    kw.update(overrides)
    return (base or DedupConfig()).with_(**kw) if (base or kw) else DedupConfig()


def load_config(path: str, **overrides) -> DedupConfig:
    with open(path, encoding="utf-8") as f:
        return config_from_toml(f.read(), **overrides)
