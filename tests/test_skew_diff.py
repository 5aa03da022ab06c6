"""Tests for snapshot diff / top-k (C18/C19) and connected components."""

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


def test_cc_star_matches_labelprop_random(spark):
    import random

    from trident_spark.pipeline import cc

    rng = random.Random(9)
    edges = [(rng.randint(0, 120), rng.randint(0, 120)) for _ in range(150)]
    df = spark.createDataFrame(edges, "src long, dst long")
    star = {r["node"]: r["component"]
            for r in cc.connected_components_star(df).collect()}
    prop = {r["node"]: r["component"]
            for r in cc.connected_components_labelprop(df).collect()}
    assert star == prop


def test_cc_star_long_chain(spark):
    from trident_spark.pipeline import cc

    # a 200-node chain: diameter 200, label propagation would need 200
    # rounds; star converges in O(log^2 n)
    df = spark.createDataFrame([(i, i + 1) for i in range(200)],
                               "src long, dst long")
    labels = {r["node"]: r["component"]
              for r in cc.connected_components_star(df, max_iter=15).collect()}
    assert set(labels.values()) == {0}
    assert len(labels) == 201


def test_cc_self_loop_only_node_keeps_own_id(spark):
    from trident_spark.pipeline import cc

    edges = spark.createDataFrame([(1, 2), (7, 7)], "src long, dst long")
    labels = {r["node"]: r["component"]
              for r in cc.connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 7: 7}


def test_cc_star_matches_labelprop_hub_and_chains(spark):
    """r6: the restructured star rounds (window-m, explode symmetrize,
    one-shot convergence test) against label propagation on a nastier
    mix: a high-degree hub, several chains, cliques, and isolated
    self-loops in one graph."""
    import random

    from trident_spark.pipeline import cc

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
    df = spark.createDataFrame(edges, "src long, dst long")
    star = {r["node"]: r["component"]
            for r in cc.connected_components_star(df).collect()}
    # ground truth by union-find (NOT labelprop: its default 20 rounds
    # cannot close the 25-node chains, and it drops self-loop-only nodes
    # — both gaps surfaced when this test first ran against it)
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
    truth = {n: find(n) for n in parent}
    assert star == truth
