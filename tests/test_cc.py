"""M6 connected components: chains, triangles, multiple components,
deterministic min-id labels, convergence on long chains within the
iteration budget. Every case runs through BOTH physical strategies —
the single-task union-find (small graphs) and the large/small-star
loop (forced via cc_smallgraph_threshold=0) — which must be
bit-identical.
"""

import pytest
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.operators.cc import connected_components

STAR_CFG = DedupConfig(cc_smallgraph_threshold=0)  # force the star loop
UF_CFG = DedupConfig()  # small graphs take the union-find path

CONFIGS = [pytest.param(UF_CFG, id="union_find"), pytest.param(STAR_CFG, id="star_loop")]


def _labels(spark, edges, cfg):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {r["node"]: r["cluster_id"] for r in connected_components(df, config=cfg).collect()}


@pytest.mark.parametrize("cfg", CONFIGS)
def test_single_pair(spark, cfg):
    assert _labels(spark, [(5, 9)], cfg) == {5: 5, 9: 5}


@pytest.mark.parametrize("cfg", CONFIGS)
def test_triangle_and_chain(spark, cfg):
    got = _labels(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)], cfg)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


@pytest.mark.parametrize("cfg", CONFIGS)
def test_long_chain_converges(spark, cfg):
    n = 64
    got = _labels(spark, [(i, i + 1) for i in range(n)], cfg)
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_star_loop_raises_when_not_converged(spark):
    """cc_max_iterations bounds the star loop, and running out of
    rounds raises instead of returning unconverged labels."""
    cfg = DedupConfig(cc_smallgraph_threshold=0, cc_max_iterations=1)
    with pytest.raises(RuntimeError, match="did not converge"):
        _labels(spark, [(i, i + 1) for i in range(64)], cfg)


@pytest.mark.parametrize("cfg", CONFIGS)
def test_duplicate_and_reversed_edges(spark, cfg):
    got = _labels(spark, [(2, 1), (1, 2), (2, 3), (3, 2)], cfg)
    assert got == {1: 1, 2: 1, 3: 1}


@pytest.mark.parametrize("cfg", CONFIGS)
def test_self_loops_ignored(spark, cfg):
    got = _labels(spark, [(1, 1), (1, 2)], cfg)
    assert got == {1: 1, 2: 1}


@pytest.mark.parametrize("cfg", CONFIGS)
def test_star_already(spark, cfg):
    got = _labels(spark, [(1, 2), (1, 3), (1, 4)], cfg)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


@pytest.mark.parametrize("cfg", CONFIGS)
def test_merge_two_stars(spark, cfg):
    # two stars bridged by one edge must fuse into one component
    edges = [(1, 2), (1, 3), (10, 11), (10, 12), (3, 12)]
    got = _labels(spark, edges, cfg)
    assert set(got.values()) == {1}
    assert len(got) == 6


def test_paths_bit_identical_on_random_graph(spark):
    """Both strategies must produce identical assignments on a larger
    random-ish graph (many components, varied shapes)."""
    edges = []
    for base in range(0, 3000, 30):  # 100 components of 30 nodes
        shape = (base // 30) % 3
        ids = list(range(base, base + 30))
        if shape == 0:  # chain
            edges += [(a, b) for a, b in zip(ids, ids[1:])]
        elif shape == 1:  # star
            edges += [(ids[0], x) for x in ids[1:]]
        else:  # ring + chord
            edges += [(a, b) for a, b in zip(ids, ids[1:])] + [(ids[-1], ids[0]), (ids[5], ids[20])]
    uf = _labels(spark, edges, UF_CFG)
    star = _labels(spark, edges, STAR_CFG)
    assert uf == star
    assert len({v for v in uf.values()}) == 100
