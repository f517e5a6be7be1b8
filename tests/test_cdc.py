"""Content-defined chunking dedup: kernel vs brute force, the CDC
shift-resistance property (the reason the technique exists), and the
Spark operator end-to-end against planted shifted near-copies."""

from __future__ import annotations

import numpy as np
import pytest

from dedup_spark.functions.shingles import (
    _BASE,
    _mix,
    cdc_chunk_hashes,
    doc_token_hashes,
)


def _words(seed: int, n: int) -> list[str]:
    rng = np.random.default_rng(seed)
    return [f"w{rng.integers(0, 50000)}" for _ in range(n)]


def test_kernel_matches_brute_force():
    text = " ".join(_words(1, 400))
    h, lens = cdc_chunk_hashes(text, 16)
    tok = doc_token_hashes(text)
    segs: list[list[int]] = []
    cur: list[int] = []
    for x in tok:
        cur.append(int(x))
        if int(x) % 16 == 0:
            segs.append(cur)
            cur = []
    if cur:
        segs.append(cur)
    assert [int(n) for n in lens] == [len(s) for s in segs]
    ref = []
    with np.errstate(over="ignore"):
        for s in segs:
            acc = np.uint64(0)
            p = np.uint64(1)
            for x in s:  # Horner in uint64 so products wrap mod 2^64
                acc = acc + np.uint64(x) * p
                p = p * _BASE
            ref.append(int(_mix(np.array([acc], dtype=np.uint64))[0]))
    assert [int(v) for v in h] == ref
    assert int(lens.sum()) == tok.shape[0]


def test_cdc_shift_resistance():
    """The defining property: an insertion disturbs only the chunk it
    lands in — fixed-size blocking would lose every block after it."""
    words = _words(2, 600)
    h0, _ = cdc_chunk_hashes(" ".join(words), 16)
    distinct0 = set(int(v) for v in h0)
    for mutated in (
        ["PREFIX"] + words,                      # prefix insertion
        words[:300] + ["MID"] + words[300:],     # mid insertion
        words[:450] + words[451:],               # deletion
    ):
        h1, _ = cdc_chunk_hashes(" ".join(mutated), 16)
        shared = distinct0 & set(int(v) for v in h1)
        assert len(shared) >= len(distinct0) - 2, len(shared)


def test_edge_cases():
    assert cdc_chunk_hashes("", 16)[0].shape == (0,)
    assert cdc_chunk_hashes("   \n\t  ", 16)[0].shape == (0,)
    h, lens = cdc_chunk_hashes("one", 16)
    assert h.shape == (1,) and int(lens[0]) == 1
    # identical text → identical inventory, any modulus
    for m in (4, 16, 64):
        a, la = cdc_chunk_hashes("alpha beta gamma delta " * 40, m)
        b, lb = cdc_chunk_hashes("alpha beta gamma delta " * 40, m)
        assert np.array_equal(a, b) and np.array_equal(la, lb)


def test_cdc_near_dup_pairs_spark(spark):
    """Planted shifted near-copy (a 600-token doc with one header
    token prepended) is found at Jaccard >= 0.5; an unrelated doc is
    not; chunk inventory totals match the token counts."""
    from dedup_spark.operators.cdc import cdc_chunks, cdc_near_dup_pairs

    base = _words(7, 600)
    rows = [
        (1, " ".join(base)),
        (2, " ".join(["LICENSE-HEADER"] + base)),
        (3, " ".join(_words(8, 600))),
        (4, ""),  # empty doc → no chunks, no pairs
    ]
    df = spark.createDataFrame(rows, "file_id long, content string")
    inv = cdc_chunks(df).collect()
    by_doc: dict[int, int] = {}
    for r in inv:
        by_doc[r["file_id"]] = by_doc.get(r["file_id"], 0) + r["n_tokens"]
    assert by_doc[1] == 600 and by_doc[2] == 601 and 4 not in by_doc
    pairs = cdc_near_dup_pairs(df, threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.8  # one disturbed chunk of ~25
    # determinism across shuffles
    again = cdc_near_dup_pairs(df.repartition(7), threshold=0.5).collect()
    assert sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in again) == sorted(
        (r["id_a"], r["id_b"], r["jaccard"]) for r in pairs
    )


def test_cdc_hot_key_cap_counts_drops(spark):
    """max_doc_freq drops boilerplate chunks from the join side only
    — pairs sharing nothing but the hot chunk fall away, per-doc
    totals stay exact (the documented LSH-cap trade)."""
    from dedup_spark.operators.cdc import cdc_near_dup_pairs

    boiler = " ".join(_words(9, 40))
    rows = [(i, boiler + " " + " ".join(_words(100 + i, 200)))
            for i in range(1, 7)]
    df = spark.createDataFrame(rows, "file_id long, content string")
    exact = cdc_near_dup_pairs(df, threshold=0.05).collect()
    capped = cdc_near_dup_pairs(df, threshold=0.05, max_doc_freq=3).collect()
    assert len(exact) == 15  # all C(6,2) pairs share the boilerplate
    assert len(capped) < len(exact)
