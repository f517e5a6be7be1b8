"""M4 candidate generation: LSH banding (J3 rewrite) and SimHash
Hamming-ball probing — recall-by-construction properties and the
skew/bucket-cap guard.
"""

import pytest
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.functions.signatures import with_signatures
from dedup_spark.operators.lsh import band_keys, lsh_candidate_pairs, oversize_buckets
from dedup_spark.operators.simhash_join import simhash_candidate_pairs

CFG = DedupConfig()


@pytest.fixture(scope="module")
def sig_df(spark):
    base = "\n".join(f"var_{i} = worker_{i}.process(stream_{i}, {i * 7})" for i in range(40))
    near = base.replace("var_20", "renamed_20", 1)
    far = " ".join(f"unrelated_{i} token_{i}" for i in range(60))
    rows = [(1, base), (2, base), (3, near), (4, far), (5, "tiny")]
    df = spark.createDataFrame(rows, "file_id long, content string")
    return with_signatures(df, CFG).cache()


def test_band_key_count(sig_df):
    keys = band_keys(sig_df, CFG)
    per_doc = keys.groupBy("file_id").count().collect()
    # 'tiny' has no shingles → null minhash → no keys
    assert {r["file_id"]: r["count"] for r in per_doc} == {1: 32, 2: 32, 3: 32, 4: 32}


def test_identical_docs_always_candidates(sig_df):
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sig_df, CFG).collect()}
    assert (1, 2) in pairs


def test_near_docs_candidates_far_docs_not_guaranteed(sig_df):
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sig_df, CFG).collect()}
    assert (1, 3) in pairs  # one-token edit over many shingles
    # far doc shares no shingles with base → cannot share a band
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_bucket_cap_drops_mega_bucket(spark):
    # 40 identical signatures → every band bucket has 40 members
    sig = list(range(128))
    rows = [(i, sig) for i in range(40)]
    df = spark.createDataFrame(rows, "file_id long, minhash array<int>")
    cfg_small = CFG.with_(band_bucket_cap=10)
    assert lsh_candidate_pairs(df, cfg_small).count() == 0
    over = oversize_buckets(band_keys(df, cfg_small), ["band_id", "band_hash"], 10)
    assert over.count() == cfg_small.lsh_bands  # all 32 buckets flagged, not silent
    # with a roomy cap all C(40,2) pairs emerge
    assert lsh_candidate_pairs(df, CFG).count() == 40 * 39 // 2


def test_simhash_pairs_within_radius(spark):
    rows = [
        (1, 0),
        (2, 0b111),          # distance 3 → candidate + verified
        (3, (1 << 7) - 1),   # distance 7 → dropped by radius-6 filter
        (4, -1),             # distance 64
    ]
    df = spark.createDataFrame(rows, "file_id long, simhash long")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_candidate_pairs(df, CFG).collect()}
    assert pairs.get((1, 2)) == 3
    assert (1, 3) not in pairs
    assert (1, 4) not in pairs
    assert (2, 3) in pairs  # distance 4


def test_simhash_pigeonhole_guarantee(spark):
    # any pair within radius MUST collide on >=1 block: exhaustively
    # verify for a scatter of 6-bit perturbations
    import random

    rng = random.Random(9)
    base = rng.getrandbits(63)
    rows = [(0, base)]
    for i in range(1, 30):
        flipped = base
        for b in rng.sample(range(64), 6):
            flipped ^= 1 << b
        # map to signed 64-bit
        if flipped >= 1 << 63:
            flipped -= 1 << 64
        rows.append((i, flipped))
    df = spark.createDataFrame(rows, "file_id long, simhash long")
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_candidate_pairs(df, CFG).select("id_a", "id_b").collect()}
    for i in range(1, 30):
        assert (0, i) in pairs, f"pair (0,{i}) lost despite distance<=6"


def _pairs_reference_form(keys, key_cols, cap, id_col="file_id"):
    """The pre-round-3 sort_array(collect_set) pair expansion — kept
    here as the independent reference the bucket form must match
    bit-for-bit (same pattern as the UF-vs-star CC identity test)."""
    buckets = keys.groupBy(*key_cols).agg(
        F.sort_array(F.collect_set(id_col)).alias("ids"), F.count(F.lit(1)).alias("n")
    )
    ok = buckets.filter((F.col("n") >= 2) & (F.col("n") <= cap))
    return (
        ok.select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


@pytest.mark.parametrize("cap", [2, 10, 512])
def test_bucket_form_matches_reference_form(sig_df, cap):
    from dedup_spark.operators.lsh import pairs_from_keys

    keys = band_keys(sig_df, CFG)
    new = {
        (r["id_a"], r["id_b"])
        for r in pairs_from_keys(keys, ["band_id", "band_hash"], cap).collect()
    }
    ref = {
        (r["id_a"], r["id_b"])
        for r in _pairs_reference_form(keys, ["band_id", "band_hash"], cap).collect()
    }
    assert new == ref


def test_pair_dedup_placement_bit_identical(spark):
    """Verified pairs from the RAW candidate multiset (candidates with
    dedupe=False — verify's post-prune key dedup must then absorb the
    band-collision multiplicity) must be bit-identical to verifying
    the normal pre-deduped candidate set: the dedup placement is a
    pure physical choice, never a semantic one."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.operators.verify import verify_pairs
    from dedup_spark.plans.pipeline import DedupPipeline

    base = "\n".join(f"fn_{i} = mod_{i}.call(arg_{i}, {i * 3})" for i in range(30))
    rows = []
    for fam in range(6):
        fam_base = base.replace("mod_0", f"fam{fam}_mod", 1)
        rows.append((fam * 10, "r", f"p{fam}a", "c", "py", fam_base))
        rows.append((fam * 10 + 1, "r", f"p{fam}b", "c", "py", fam_base.replace("fn_5", "renamed", 1)))
        rows.append((fam * 10 + 2, "r", f"p{fam}c", "c", "py", fam_base))  # exact dup
    df = spark.createDataFrame(
        rows, "file_id long, repo string, path string, commit string, lang string, content string"
    )
    cfg = DedupConfig()
    pipe = DedupPipeline(spark, cfg)
    _, reps = pipe.collapse(df)
    raw = pipe.candidates(reps, dedupe=False)
    assert raw.count() > raw.distinct().count()  # the multiset is real
    content = df.select("file_id", "content")

    def key(r):
        return (r["id_a"], r["id_b"], round(r["sim"], 9), round(r["est_jaccard"], 9), r["hamming"])

    v_raw = sorted(key(r) for r in verify_pairs(raw, reps, cfg, content_df=content).collect())
    v_pre = sorted(
        key(r) for r in verify_pairs(raw.distinct(), reps, cfg, content_df=content).collect()
    )
    assert v_raw == v_pre and len(v_raw) == len({(a, b) for a, b, *_ in v_raw})


def test_verify_runs_the_content_kernel_once(spark):
    """The content kernel is ONE Python node in the executed plan, with
    the pass filter inside it: a UDF column read by a separate filter
    ran it twice per pair."""
    from dedup_spark.operators.verify import verify_pairs
    from dedup_spark.plans.pipeline import DedupPipeline

    base = "\n".join(f"fn_{i} = mod_{i}.call(arg_{i}, {i * 3})" for i in range(30))
    rows = [
        (1, "r", "a", "c", "py", base),
        (2, "r", "b", "c", "py", base.replace("fn_5", "renamed", 1)),
        (3, "r", "c", "c", "py", base.replace("fn_", "gn_")),
    ]
    df = spark.createDataFrame(
        rows, "file_id long, repo string, path string, commit string, lang string, content string"
    )
    pipe = DedupPipeline(spark, CFG)
    _, reps = pipe.collapse(df)
    verified = verify_pairs(
        pipe.candidates(reps), reps, CFG, content_df=df.select("file_id", "content")
    )
    assert verified.columns == [
        "id_b", "id_a", "est_jaccard", "hamming", "jaccard", "containment", "sim"
    ]
    assert [(r["id_a"], r["id_b"]) for r in verified.collect()] == [(1, 2)]
    # the adaptive plan, once run, prints its final plan then its initial one
    plan = verified._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    python_nodes = [
        line for line in plan.splitlines()
        if any(n in line for n in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"))
    ]
    assert len(python_nodes) == 1, plan


def test_same_lang_gate(spark):
    from dedup_spark.config import DedupConfig
    from dedup_spark.plans.pipeline import DedupPipeline

    rows = [
        (1, "py", "def main return none for i in range len args print i x y z"),
        (2, "py", "def main return none for i in range len args print i x y q"),
        (3, "go", "def main return none for i in range len args print i x y z"),
    ]
    df = spark.createDataFrame(rows, "file_id long, lang string, content string")
    base = DedupConfig()
    pipe_open = DedupPipeline(spark, base)
    sigs = pipe_open.signatures(df.withColumn("content", df.content))
    open_pairs = {
        (r["id_a"], r["id_b"]) for r in pipe_open.candidates(sigs).collect()
    }
    assert (1, 3) in open_pairs  # identical content, different lang

    pipe_gated = DedupPipeline(spark, base.with_(same_lang_only=True))
    gated_pairs = {
        (r["id_a"], r["id_b"]) for r in pipe_gated.candidates(sigs).collect()
    }
    assert all(
        not (a == 1 and b == 3) and not (a == 3 and b == 2) for a, b in gated_pairs
    )
    assert (1, 2) in gated_pairs  # same-lang near-identical pair survives
