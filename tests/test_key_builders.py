"""The LSH band keys and SimHash block-pair keys are built as one SQL
expression each. Their rows must equal a plain-Python computation of the
same keys, and building the candidate frames must stay a few hundred
JVM calls."""

from __future__ import annotations

import random
from itertools import combinations

import pytest
from py4j import protocol
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.operators.lsh import band_keys, lsh_candidate_pairs
from dedup_spark.operators.simhash_join import (
    simhash_blockpair_keys,
    simhash_candidate_pairs,
)

CFG = DedupConfig()
SCHEMA = "file_id long, minhash array<int>, simhash long, modality string"
U64 = (1 << 64) - 1


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >> 63 else v


def _rows():
    rng = random.Random(20261019)
    n = CFG.minhash_n
    rows = []
    for i in range(40):
        mh = [rng.randrange(-(1 << 31), 1 << 31) for _ in range(n)]
        # every other simhash has its top bit set (a negative long)
        sh = _signed64(rng.getrandbits(64) | ((i % 2) << 63))
        rows.append((i, mh, sh, ("image", "audio")[i % 2]))
    rows += [
        (100, [-1] * n, -1, "image"),  # all-ones
        (101, [0] * n, 0, "audio"),  # zero
        (102, [-(1 << 31)] * n, -(1 << 63), "image"),  # only the top bit
        (103, None, None, "audio"),  # no signature: no keys
    ]
    return rows


@pytest.fixture(scope="module")
def sig_df(spark):
    return spark.createDataFrame(_rows(), SCHEMA).cache()


def test_band_keys_equal_python_slices_under_spark_hash(spark, sig_df):
    b, r = CFG.lsh_bands, CFG.lsh_rows
    # the slicing and band ids are computed here; the hash of each
    # slice is Spark's own ``hash`` (Murmur3, seed 42)
    slices = [
        (fid, i, mh[i * r : (i + 1) * r])
        for fid, mh, _sh, _m in _rows()
        if mh is not None
        for i in range(b)
    ]
    expected = sorted(
        tuple(row)
        for row in spark.createDataFrame(slices, "file_id long, band_id int, s array<int>")
        .select("file_id", "band_id", F.hash("s").alias("band_hash"))
        .collect()
    )
    got = sorted(tuple(row) for row in band_keys(sig_df, CFG).collect())
    assert len(got) == b * (len(_rows()) - 1)
    assert got == expected


def _python_blockpair_keys(radius: int, by: bool):
    nblocks = radius + 2
    width = 64 // nblocks
    widths = [width] * (nblocks - 1) + [64 - width * (nblocks - 1)]
    offsets = [width * i for i in range(nblocks)]

    def block(u: int, i: int) -> int:
        return (u >> offsets[i]) & ((1 << widths[i]) - 1)

    out = []
    for fid, _mh, sh, modality in _rows():
        if sh is None:
            continue
        u = sh & U64
        for pid, (i, j) in enumerate(combinations(range(nblocks), 2)):
            val = _signed64(((block(u, i) << widths[j]) | block(u, j)) & U64)
            out.append((fid, sh, *((modality,) if by else ()), pid, val))
    return sorted(out)


@pytest.mark.parametrize("radius", [6, 3, 0])
@pytest.mark.parametrize("by", [False, True])
def test_blockpair_keys_equal_python(sig_df, radius, by):
    cols = ("modality",) if by else ()
    got = sorted(
        tuple(row)
        for row in simhash_blockpair_keys(sig_df, radius, by=cols).collect()
    )
    assert got == _python_blockpair_keys(radius, by)


def test_candidate_frames_cost_few_jvm_calls(spark, sig_df, monkeypatch):
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    # py4j also releases dropped Python proxies through send_command,
    # whenever the garbage collector gets to them; those are not calls
    # the builders make
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    calls = []

    def counting(command, *args, **kwargs):
        if not command.startswith(release):
            calls.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    lsh = lsh_candidate_pairs(sig_df, CFG)
    sh = simhash_candidate_pairs(sig_df, CFG)
    monkeypatch.undo()
    # building, not running: one SQL expression per key array keeps this
    # in the low hundreds; composing the same keys from Column calls
    # costs over 5,000
    assert len(calls) <= 400, len(calls)
    assert lsh.count() >= 0 and sh.count() >= 0
