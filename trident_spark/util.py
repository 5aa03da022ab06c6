"""Small shared utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def subject_chunk_key(df: DataFrame, keys: list[str], chunk_size: int,
                      hash_cols: list[str]) -> DataFrame:
    """Add a ``_chunk`` column splitting each ``keys``-group into
    ``ceil(n / chunk_size)`` hash-assigned chunks.

    The serializers group by subject (Turtle ``;`` blocks, RDF/XML
    ``rdf:Description``), so a hub subject with 10^7 triples would
    otherwise build one giant array + string in ONE task at scale.
    Grouping by (subject, _chunk) instead emits several blocks per hub —
    legal in every supported syntax (repeated blocks about one subject
    merge) — bounding per-task state at ``chunk_size`` rows.

    One extra shuffle (the window count over ``keys``) beyond the group
    agg itself; normal subjects (n ≤ chunk_size) land in a single chunk,
    so output is unchanged wherever chunking doesn't trigger."""
    from pyspark.sql import Window

    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    n_chunks = F.greatest(F.lit(1), F.ceil(n / F.lit(chunk_size)))
    h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit(""))
                     for c in hash_cols])
    return df.withColumn("_chunk", F.pmod(h, n_chunks))


# Logical operators whose presence means the frame's partitioning is already
# governed by spark.sql.shuffle.partitions / AQE — repartitioning on top of
# them is at best redundant and at worst (via the old .rdd partition probe)
# forced a second execution of every upstream query stage.
_SHUFFLE_NODES = frozenset({
    "Aggregate", "Join", "Sort", "Repartition", "RepartitionByExpression",
    "Deduplicate", "Distinct", "Except", "Intersect", "Window",
    "RebalancePartitions", "FlatMapGroupsInPandas", "CoGroup",
    "FlatMapGroupsInPandasWithState", "FlatMapGroupsInArrow",
})

# Driver-originated leaves are already sliced to defaultParallelism
# (parallelize/range) or carry their checkpointed partitioning (LogicalRDD)
_PARALLEL_LEAVES = frozenset({"LogicalRDD", "LocalRelation", "Range",
                              "OneRowRelation"})


def _plan_node_names(jplan, out: set[str]) -> None:
    out.add(jplan.nodeName())
    children = jplan.children()
    for i in range(children.size()):
        _plan_node_names(children.apply(i), out)


def _file_splits(files: list[str]) -> int | None:
    """Best-effort split count for a scan: parquet row groups per local
    file (a 10 GB single file with 100 row groups scans as ~100 tasks —
    repartitioning it would REDUCE parallelism and add a shuffle).
    Returns None when unknowable cheaply (remote scheme, not parquet)."""
    total = 0
    for f in files:
        if f.startswith("file:"):
            f = f[len("file:"):]
            while f.startswith("//"):
                f = f[1:]
        elif "://" in f:
            return None  # remote: no cheap row-group probe
        if f.endswith(".parquet"):
            try:
                import pyarrow.parquet as pq

                total += pq.ParquetFile(f).metadata.num_row_groups
            except Exception:  # noqa: BLE001 — unreadable → unknown
                return None
        else:
            total += 1  # non-parquet (text/json): splittable by bytes,
            # but a single file may still be one task worst-case
    return total


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition iff the plan would otherwise run on too few tasks.

    Single-file parquet inputs (one row group) scan as ONE task; any
    Python-kernel stage downstream would run single-threaded.  The shuffle
    this inserts is tiny relative to the Arrow-hop work it parallelizes.
    Real multi-file corpora already have enough splits and skip the shuffle.

    The decision is ANALYSIS-ONLY — no ``df.rdd`` probe.  With AQE enabled,
    converting a shuffle-bearing DataFrame to an RDD compiles (and partly
    executes) its query stages, so the old partition-count probe both
    double-executed the upstream plan and read AQE's post-coalesce count
    (often 1 for small data), triggering a pointless extra shuffle — the
    round-3 kg_turtle_roundtrip/kg_rdfstar_reify bench regressions.
    Operator detection walks the analyzed plan tree's node names (NOT its
    string rendering, which false-positives on data containing words like
    'Sort').

    Decision table:

    - plan contains a shuffle operator (aggregate/join/distinct/...) →
      as-is: shuffle.partitions / AQE already set the parallelism, and at
      100 TB those knobs — not a blanket ``repartition(32)`` — are the
      right control.
    - plan contains a driver-originated leaf (LogicalRDD / LocalRelation /
      Range) → as-is: parallelize/range slices to defaultParallelism and
      checkpointed RDDs keep their partitioning.
    - narrow plan over ≥ ``target`` input files, or over local parquet
      whose total ROW-GROUP count reaches the target → as-is (enough
      real splits; one row group = one task regardless of byte-ranges).
    - otherwise → ``repartition(target)``: a narrow round-robin shuffle
      of the rows about to cross the Arrow boundary anyway.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    names: set[str] = set()
    _plan_node_names(df._jdf.queryExecution().analyzed(), names)
    if names & _SHUFFLE_NODES or names & _PARALLEL_LEAVES:
        return df
    files = df.inputFiles()
    if len(files) >= target:
        return df
    splits = _file_splits(files)
    if splits is not None and splits >= target:
        return df
    return df.repartition(target)
