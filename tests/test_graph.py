"""BFS closure semantics on hand-built graphs: min-depth, cycle safety,
multi-seed, depth cap."""

from __future__ import annotations

from ai_metadata_lineage_pyspark_spark.operators.graph import bfs_closure, prepare_edges


def closure_dict(spark, edges, seeds, two_hop=False, **kw):
    e = prepare_edges(spark.createDataFrame(edges, ["src", "dst"]), two_hop=two_hop)
    s = spark.createDataFrame([(x,) for x in seeds], ["seed"])
    rows = bfs_closure(e, s, **kw).collect()
    return {(r.seed, r.node): r.depth for r in rows}


def test_min_depth_on_diamond(spark):
    # a->b->d and a->c->d plus shortcut a->d: d must be reported at depth 1.
    got = closure_dict(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d")], ["a"])
    assert got == {("a", "b"): 1, ("a", "c"): 1, ("a", "d"): 1}


def test_cycle_terminates_and_excludes_nothing(spark):
    got = closure_dict(spark, [("a", "b"), ("b", "c"), ("c", "a")], ["a"], max_depth=10)
    # seed is re-reached through the cycle but already known at depth 0 ->
    # closure reports only b and c.
    assert got == {("a", "b"): 1, ("a", "c"): 2}


def test_multi_seed_independent_closures(spark):
    got = closure_dict(spark, [("a", "b"), ("x", "y"), ("y", "b")], ["a", "x"])
    assert got == {("a", "b"): 1, ("x", "y"): 1, ("x", "b"): 2}


def test_depth_cap(spark):
    chain = [(str(i), str(i + 1)) for i in range(6)]
    got = closure_dict(spark, chain, ["0"], max_depth=3)
    assert set(got.values()) == {1, 2, 3}
    assert ("0", "4") not in got


def test_reliable_checkpoint_path_same_closure(spark, monkeypatch):
    """SPARK_GRAFT_RELIABLE_CKPT=1 swaps every iter_checkpoint to a
    reliable on-disk DataFrame.checkpoint (the cluster deploy setting);
    closure results must be identical to the localCheckpoint default."""
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"), ("x", "y")]
    base = closure_dict(spark, edges, ["a", "x"])
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CKPT", "1")
    durable = closure_dict(spark, edges, ["a", "x"])
    assert durable == base == {
        ("a", "b"): 1, ("a", "c"): 2, ("a", "d"): 1, ("x", "y"): 1,
    }


import pytest as _pytest


@_pytest.mark.parametrize(
    "name", ["event_chain_closure", "neardup_components", "pagerank_trade_network"]
)
def test_reliable_checkpoint_parity_registry_iteratives(spark, sf_dir, monkeypatch, name):
    """CI exercise of the cluster deploy switch (r11, verdict #6): every
    registry operator that cuts iterative lineage via session.iter_checkpoint
    — BFS closure, label propagation, pagerank — must produce BIT-identical
    results under SPARK_GRAFT_RELIABLE_CKPT=1 (reliable on-disk
    DataFrame.checkpoint) as under the localCheckpoint default. A checkpoint
    is a materialization boundary, not a computation: any divergence means
    round state leaked into values."""
    from ai_metadata_lineage_pyspark_spark.registry import all_queries

    fn = all_queries()[name].fn
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CKPT", raising=False)
    local = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CKPT", "1")
    durable = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert durable == local and len(local) > 0


def test_two_hop_rounds_match_one_hop_rounds(spark):
    # a path keeps its two-hop list (|e2| = |edges| - 1), and expanding by
    # 1 and 2 hops per round finds the same min depths, odd cap included
    edges = [(str(i), str(i + 1)) for i in range(9)] + [("0", "5"), ("7", "2")]
    e = prepare_edges(spark.createDataFrame(edges, ["src", "dst"]), two_hop=True)
    assert e.two_hop is not None
    for depth in (3, 6):
        assert closure_dict(spark, edges, ["0", "6"], two_hop=True, max_depth=depth) == (
            closure_dict(spark, edges, ["0", "6"], max_depth=depth)
        )


def test_hub_graph_falls_back_to_one_hop(spark):
    # 12 writers -> hub -> 12 readers: 24 edges but 144 two-hop pairs, past
    # the size guard, so the two-hop list is dropped and rounds take 1 hop
    edges = (
        [(f"w{i:02d}", "hub") for i in range(12)]
        + [("hub", f"r{i:02d}") for i in range(12)]
        + [("r00", "tail")]
    )
    e = prepare_edges(spark.createDataFrame(edges, ["src", "dst"]), two_hop=True)
    assert e.two_hop is None
    seeds = ["w00", "w07", "hub"]
    got = closure_dict(spark, edges, seeds, two_hop=True)
    assert got == closure_dict(spark, edges, seeds)
    assert got[("w00", "tail")] == 3 and got[("hub", "r05")] == 1
