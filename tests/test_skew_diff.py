"""Tests for snapshot diff / top-k (C18/C19) and connected components."""

import random

import pytest

from trident_spark.pipeline import diff


def test_triple_diff(spark):
    cols = "subj string, pred string, obj_lexical string, obj_kind string, obj_datatype string, obj_lang string"
    old = spark.createDataFrame(
        [("s1", "p", "o1", "iri", None, None), ("s2", "p", "o2", "iri", None, None)], cols)
    new = spark.createDataFrame(
        [("s1", "p", "o1", "iri", None, None), ("s3", "p", "o3", "iri", None, None)], cols)
    changes = {(r["subj"], r["change"]) for r in diff.triple_diff(new, old).collect()}
    assert changes == {("s3", "added"), ("s2", "removed")}


def test_top_hubs(spark):
    t = spark.createDataFrame(
        [("hub", "p", "x")] * 9 + [("s", "p", "y")],
        "subj string, pred string, obj_lexical string",
    )
    top = diff.top_hubs(t, k=1).collect()
    assert top[0]["subj"] == "hub" and top[0]["degree"] == 9


def _union_find_labels(edges) -> dict[int, int]:
    """Ground truth: node → min node id of its component, by union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _random_graph():
    rng = random.Random(9)
    return [(rng.randint(0, 120), rng.randint(0, 120)) for _ in range(150)]


def _hub_and_chains_graph():
    """A high-degree hub, several chains, cliques and isolated self-loops
    in one graph."""
    rng = random.Random(42)
    edges = [(0, i) for i in range(1, 40)]                      # hub star
    base = 1000
    for c in range(5):                                          # chains
        n = rng.randint(5, 25)
        edges += [(base + i, base + i + 1) for i in range(n)]
        base += 100
    for c in range(5):                                          # cliques
        members = [5000 + c * 50 + i for i in range(rng.randint(3, 6))]
        edges += [(a, b) for i, a in enumerate(members)
                  for b in members[i + 1:]]
    edges += [(9001, 9001), (9002, 9002)]                       # self-loops
    rng.shuffle(edges)
    return edges


@pytest.mark.parametrize("graph", [_random_graph, _hub_and_chains_graph],
                         ids=["random", "hub_and_chains"])
def test_cc_matches_union_find(spark, graph):
    from trident_spark.pipeline import cc

    edges = graph()
    df = spark.createDataFrame(edges, "src long, dst long")
    labels = {r["node"]: r["component"]
              for r in cc.connected_components(df).collect()}
    assert labels == _union_find_labels(edges)


def _chain(spark, n: int = 200):
    return spark.createDataFrame([(i, i + 1) for i in range(n)],
                                 "src long, dst long")


def test_cc_star_long_chain(spark, monkeypatch):
    from trident_spark.pipeline import cc

    # a 200-node chain: diameter 200, label propagation would need 200
    # rounds; star converges in O(log^2 n)
    monkeypatch.setattr(cc, "MAX_ITER", 15)
    labels = {r["node"]: r["component"]
              for r in cc.connected_components(_chain(spark)).collect()}
    assert set(labels.values()) == {0}
    assert len(labels) == 201


def test_cc_raises_when_not_converged(spark, monkeypatch):
    """One round cannot turn a 200-node chain into stars: CC must raise,
    not return the unconverged least(node, min neighbour) labels."""
    from trident_spark.pipeline import cc

    monkeypatch.setattr(cc, "MAX_ITER", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        cc.connected_components(_chain(spark))


def test_cc_self_loop_only_node_keeps_own_id(spark):
    from trident_spark.pipeline import cc

    edges = spark.createDataFrame([(1, 2), (7, 7)], "src long, dst long")
    labels = {r["node"]: r["component"]
              for r in cc.connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 7: 7}
