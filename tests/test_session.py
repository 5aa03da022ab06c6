"""get_spark: the session-wide static settings every entry point gets.

Spark's generated-code cache is an LRU; a working set of plans larger than
it misses on every repeat.  The codegen test counts compiles through
Spark's own ``CodegenMetrics`` counter across a repeated working set.
"""

import os

import pytest
from pyspark.sql import SparkSession


def _compiles(spark) -> int:
    """Classes the JVM's Catalyst code generator has compiled so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_working_set_compiles_once(spark):
    """A pass over distinct point queries compiles more classes than
    Spark's default cache (100) holds; running the same queries again
    reuses every compiled class."""
    from trident_spark.pipeline.kg import dedup_triples, encode_triples
    from trident_spark.query.sparql import query_encoded

    n = 64
    rows = [("http://a/1", None, "test", f"http://codegen/s{i}",
             "http://codegen/p", f"v{i}", "literal", None, None)
            for i in range(n)]
    lexical = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, source string, subj string, "
              "pred string, obj_lexical string, obj_kind string, "
              "obj_datatype string, obj_lang string")
    terms, edges = encode_triples(lexical)
    edges = dedup_triples(edges).localCheckpoint(eager=True)
    terms = terms.localCheckpoint(eager=True)
    # each constant is a distinct term id, inlined into its own classes
    queries = [f"SELECT ?o WHERE {{ <http://codegen/s{i}> "
               f"<http://codegen/p> ?o }}" for i in range(n)]

    def run_all():
        before = _compiles(spark)
        for i, q in enumerate(queries):
            assert [r[0] for r in query_encoded(edges, terms, q).collect()] \
                == [f"v{i}"]
        return _compiles(spark) - before

    first = run_all()
    assert first > 100, f"working set of {first} classes fits Spark's default"
    assert run_all() == 0


@pytest.fixture
def builder_options(monkeypatch):
    """get_spark() returns the options it set on the builder instead of
    starting a session; no SPARK_* override is set."""
    for var in ("SPARK_GRAFT_CPUS", "SPARK_MASTER"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    from trident_spark.session import get_spark

    return get_spark


def test_default_cores_follow_cpu_affinity(monkeypatch, builder_options):
    """Pinned to 2 of 4 host CPUs, the session runs local[2] with 2
    shuffle partitions, not the host's 4."""
    monkeypatch.setattr(os, "cpu_count", lambda: 4)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1},
                        raising=False)
    options = builder_options()
    assert options["spark.master"] == "local[2]"
    assert options["spark.sql.shuffle.partitions"] == "2"


def test_default_cores_fall_back_to_cpu_count(monkeypatch, builder_options):
    monkeypatch.setattr(os, "cpu_count", lambda: 3)
    monkeypatch.delattr(os, "sched_getaffinity", raising=False)
    assert builder_options()["spark.master"] == "local[3]"
