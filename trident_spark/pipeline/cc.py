"""Connected components on DataFrames (C13): canonicalization of sameAs
clusters.

``connected_components`` alternates **large-star/small-star** (Kiveris et
al., "Connected Components in MapReduce and Beyond"): it converges in
O(log² n) rounds *independent of graph diameter*, the right asymptotics for
web-scale graphs with long sameAs chains.  Each half-round is a window min
over the hash(u)-partitioned symmetric edge set — no collect_list, so hub
nodes cause no single-task blowup.  Each round truncates lineage with
localCheckpoint (SURVEY.md §4.3) and ends with a star check; a graph that
is not a union of stars after ``MAX_ITER`` rounds raises instead of
returning wrong labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MAX_ITER = 50


def _symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected view, deduped, hash-partitioned by ``u``.

    Both directions come from ONE explode (not a self-union, which would
    duplicate the upstream subtree in every per-round plan and balloon
    analysis time across CC iterations).  The explicit ``repartition("u")``
    is the round's ONE exchange: the following dropDuplicates clusters on
    (u, v) — satisfied by the hash(u) partitioning (subset rule) — and the
    star round's window partitions on u alone, so neither inserts a
    further shuffle."""
    u, v = F.col(src), F.col(dst)
    both = edges.select(
        F.explode(F.array(
            F.struct(u.alias("u"), v.alias("v")),
            F.struct(v.alias("u"), u.alias("v")),
        )).alias("_e")
    ).select("_e.u", "_e.v")
    return (
        both.where(F.col("u") != F.col("v"))
        .repartition(F.col("u"))
        .dropDuplicates(["u", "v"])
    )


def _star_round(sym: DataFrame, large: bool) -> DataFrame:
    """One large-star (connect strictly-larger neighbours to the min) or
    small-star (connect smaller-or-equal neighbours and self to the min).

    m(u) = min(u ∪ N(u)) comes from a window over the symmetric edge set —
    a per-partition sort instead of the former groupBy(min)+join pair, so
    the half-round adds ZERO exchanges on top of :func:`_symmetrize`'s one
    (the input is already hash(u)-partitioned).  The moved edge (v, m) and
    the keep edge (u, m) are emitted by one conditional explode so the
    input subtree appears once in the plan.  Output edges are directed
    (child → parent) and may repeat; the next _symmetrize dedups."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("u")
    u, v, m = F.col("u"), F.col("v"), F.col("m")
    j = sym.withColumn("m", F.least(u, F.min("v").over(w)))
    moved = v > u if large else v <= u
    keep = F.struct(u.alias("u"), m.alias("v"))
    out = j.select(
        F.explode(
            F.when(moved, F.array(F.struct(v.alias("u"), m.alias("v")), keep))
            .otherwise(F.array(keep))
        ).alias("_e")
    ).select("_e.u", "_e.v")
    return out.where(F.col("u") != F.col("v"))


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src long, dst long) → labels(node long, component long);
    component = min node id of the connected component (deterministic).

    Raises RuntimeError if the rounds have not converged after MAX_ITER."""
    # materialize the input exactly once: BOTH the iteration loop and the
    # final nodes frame reference it — without this checkpoint the labels
    # join at the end re-runs whatever upstream pipeline produced `edges`
    base = edges.select("src", "dst").localCheckpoint(eager=True)
    cur = _symmetrize(base)
    # nodes come from the raw edges so self-loop-only nodes (filtered out of
    # the symmetrized edge set) still receive their own-id label
    nodes = (
        base.select(F.col("src").alias("node"))
        .union(base.select(F.col("dst").alias("node")))
        .distinct()
    )
    for _ in range(MAX_ITER):
        cur = _symmetrize(_star_round(cur, large=True), "u", "v")
        cur = _symmetrize(_star_round(cur, large=False),
                          "u", "v").localCheckpoint(eager=True)
        # converged ⟺ the symmetric set is a union of min-centered stars:
        # every node either sees only larger neighbours (a centre) or has
        # exactly one, smaller, neighbour (a leaf).  A node with a smaller
        # neighbour AND degree > 1 violates that; zero violations means the
        # next rounds would be no-ops, so stop NOW — one tiny aggregation
        # on the checkpointed set instead of a full confirm iteration
        # (the former signature-equality check always ran one extra round).
        converged = (
            cur.groupBy("u")
            .agg(F.min("v").alias("nmin"), F.count("*").alias("deg"))
            .where((F.col("nmin") < F.col("u")) & (F.col("deg") > 1))
            .isEmpty()
        )
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {MAX_ITER} rounds")
    # converged: a symmetric star — every member's sole neighbour is the
    # component minimum, and the minimum's neighbours are the members, so
    # component(n) = least(n, min neighbour) for every node
    labels = (
        cur.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("nmin"))
        .select("node", F.least(F.col("node"), F.col("nmin")).alias("component"))
    )
    # minima label themselves; isolated self-loop nodes keep their own id
    return (
        nodes.join(labels, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )


def rewrite_triples(triples: DataFrame, labels: DataFrame) -> DataFrame:
    """Rewrite subj/obj ids to their canonical component representative.

    Left joins against the (small) label table; unlabeled terms (no sameAs
    evidence) keep their own id.  Broadcast when the cluster map is small —
    Spark's AQE will pick broadcast automatically below the threshold.
    """
    sub_map = labels.select(F.col("node").alias("subj_id"),
                            F.col("component").alias("subj_canon"))
    obj_map = labels.select(F.col("node").alias("obj_id"),
                            F.col("component").alias("obj_canon"))
    return (
        triples.join(sub_map, "subj_id", "left")
        .join(obj_map, "obj_id", "left")
        .select(
            F.coalesce("subj_canon", "subj_id").alias("subj_id"),
            "pred_id",
            F.coalesce("obj_canon", "obj_id").alias("obj_id"),
            *[c for c in triples.columns if c not in ("subj_id", "pred_id", "obj_id")],
        )
    )
