"""End-to-end pipeline tests on the deterministic synthetic corpus:
P/R vs independently-derived golden triples, text invariant, N-Triples
round-trip, skolemization determinism, connected components, resume."""

import importlib.util
import sys
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from trident_spark.pipeline import build_kg
from trident_spark.pipeline import cc, extract_stage, kg, lineage, sinks
from trident_spark.pipeline.alias_dict import alias_dict_df
from trident_spark.pipeline.catalog import Sink
from trident_spark.pipeline.pages import expected_triples_df, pages_df

REPO = Path(__file__).resolve().parents[1]
N_PAGES = 300


@pytest.fixture(scope="module")
def corpus(spark):
    pages = pages_df(spark, N_PAGES, partitions=4).cache()
    expected = expected_triples_df(spark, N_PAGES, partitions=4).cache()
    pages.count(), expected.count()
    return pages, expected


@pytest.fixture(scope="module")
def result(spark, corpus):
    pages, _ = corpus
    return build_kg(pages, alias_dict=alias_dict_df(spark))


def test_text_invariant(result):
    assert extract_stage.text_invariant_violations(result.page_results).count() == 0


def test_precision_recall(corpus, result):
    _, expected = corpus
    key = ["subj", "pred", "obj_lexical", "obj_kind"]
    got = (
        result.skolemized
        .where(F.col("source") != "linking")  # golden covers extraction only
        .where(~F.col("subj").startswith(kg.SKOLEM_PREFIX))
        .where(F.col("obj_kind") != "blank")
        .select(*key).distinct()
    )
    exp = expected.select(*key).distinct()
    n_got, n_exp = got.count(), exp.count()
    n_match = got.join(exp, key).count()
    precision = n_match / n_got
    recall = n_match / n_exp
    assert precision >= 0.95, f"precision {precision:.4f}"
    assert recall >= 0.95, f"recall {recall:.4f}"


def test_latest_capture_wins(spark, corpus):
    pages, _ = corpus
    deduped = extract_stage.latest_capture(pages)
    assert deduped.groupBy("url").count().where("count > 1").count() == 0
    assert deduped.count() < pages.count()  # some urls repeat by design


def test_skolemization_deterministic(spark, corpus):
    pages, _ = corpus
    r1 = kg.skolemize(extract_stage.raw_triples(extract_stage.extract_pages(pages)))
    r2 = kg.skolemize(extract_stage.raw_triples(extract_stage.extract_pages(pages)))
    assert r1.exceptAll(r2).count() == 0
    assert r2.exceptAll(r1).count() == 0
    # no unskolemized blank labels survive
    assert r1.where(F.col("subj").startswith("_:")).count() == 0
    assert r1.where(F.col("obj_kind") == "blank").count() == 0


def test_term_ids_no_collisions(result):
    assert kg.assert_no_id_collisions(result.skolemized) == 0


_XSD = "http://www.w3.org/2001/XMLSchema#"


def _skolemized(spark, rows):
    """Lexical triple rows as the skolemized frame encode_triples takes."""
    return spark.createDataFrame(rows, kg.TRIPLE_SCHEMA).select(
        "*", F.lit("http://a/1").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit("test").alias("source"))


def test_assert_no_id_collisions_counts_a_collision(spark, monkeypatch):
    """Two IRIs that hash to one id are one collision; the spellings of
    one term ("x"@en, "x"@EN) are none."""
    sk = _skolemized(spark, [
        ("http://x/a", "http://p/k", "x", "literal", None, "en"),
        ("http://x/a", "http://p/k", "x", "literal", None, "EN")])
    assert kg.assert_no_id_collisions(sk) == 0
    monkeypatch.setattr(kg, "term_id",
                        lambda kind, lex, dt=None, lang=None: F.when(
                            kind == "iri", F.lit(1)).otherwise(F.lit(2)))
    assert kg.assert_no_id_collisions(sk) == 1


def test_encode_triples_stores_one_spelling_per_id(spark):
    """"x" and "x"^^xsd:string are one term, and so are "x"@en-US and
    "x"@EN-us: one dictionary row each, the same at any shuffle
    partitioning, with an xsd:string datatype stored as absent."""
    rows = [("http://x/a", "http://p/k", "x", "literal", None, None),
            ("http://x/b", "http://p/k", "x", "literal", _XSD + "string",
             None),
            ("http://x/c", "http://p/k", "x", "literal", None, "en-US"),
            ("http://x/d", "http://p/k", "x", "literal", None, "EN-us")]
    sk = _skolemized(spark, rows + rows[::-1])
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    seen = []
    try:
        for n in ("1", "7"):
            spark.conf.set(key, n)
            terms, _ = kg.encode_triples(sk.repartition(int(n)))
            lits = sorted(tuple(r) for r in terms.where(
                "kind = 'literal'").collect())
            assert terms.groupBy("term_id").count().where(
                "count > 1").count() == 0
            seen.append(lits)
    finally:
        spark.conf.set(key, before)
    assert seen[0] == seen[1]
    assert {r[1:] for r in seen[0]} == {("literal", "x", None, None),
                                        ("literal", "x", None, "EN-us")}


@pytest.mark.parametrize("kind, lex, dt, lang", [
    ("literal", "x", None, None),
    ("literal", "x", _XSD + "string", None),
    ("literal", "42", _XSD + "integer", None),
    ("literal", "x", None, "en-US"),
    ("literal", "x", None, "EN-us"),
    ("literal", "x", None, "ar--rtl"),
    ("iri", "http://x/a", None, None),
    ("blank", "_:b1", None, None),
])
def test_golden_tid_mirrors_term_id(spark, kind, lex, dt, lang):
    """golden._tid hashes every term as kg.term_id does, so the build
    golden follows the id function."""
    from trident_spark.pipeline.golden import _tid

    row = spark.createDataFrame([(kind, lex, dt, lang)],
                                "k string, l string, d string, g string")
    got = row.select(kg.term_id(F.col("k"), F.col("l"), F.col("d"),
                                F.col("g"))).first()[0]
    assert got == _tid(kind, lex, dt, lang)


def test_triples_reference_terms(result):
    # every id in triples resolves in the term table (pre-CC ids rewritten to
    # component minima are also term ids because components are term nodes)
    ids = (
        result.triples.select(F.col("subj_id").alias("id"))
        .union(result.triples.select("pred_id"))
        .union(result.triples.select("obj_id"))
        .distinct()
    )
    missing = ids.join(result.terms, ids.id == result.terms.term_id, "left_anti")
    assert missing.count() == 0


def test_entity_linking_links_orgs(result):
    links = result.same_as.where(F.col("obj_lexical").contains("/org/"))
    assert links.count() > 0
    # ambiguous aliases resolved to exactly one candidate per mention
    dup = result.same_as.groupBy("subj", "obj_lexical").count()
    assert dup.where("count > 1").count() == 0


def test_connected_components_small_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    labels = {r["node"]: r["component"]
              for r in cc.connected_components(edges).collect()}
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == 10


def test_ntriples_roundtrip(result):
    nt = sinks.to_ntriples(result.skolemized)
    back = sinks.from_ntriples(nt)
    cols = ["subj", "pred", "obj_lexical", "obj_kind", "obj_datatype", "obj_lang"]
    orig = result.skolemized.select(*cols).distinct()
    rt = back.select(*cols).distinct()
    assert orig.exceptAll(rt).count() == 0, "triples lost in round-trip"
    assert rt.exceptAll(orig).count() == 0, "triples gained in round-trip"


def test_lineage_resume(spark, corpus):
    pages, _ = corpus
    lin = lineage.compute_lineage(pages.limit(100), "extract")
    assert lin.count() <= lineage.N_BUCKETS
    remaining = lineage.resume_filter(pages, lin, "extract")
    # the 100 recorded pages' buckets are filtered out, so the filter keeps
    # a strict subset
    assert remaining.count() < pages.count()
    done_buckets = {r["bucket"] for r in lin.collect()}
    left = lineage.with_bucket(remaining).select("bucket").distinct().collect()
    assert all(r["bucket"] not in done_buckets for r in left)


def test_sink_read_of_missing_table_raises_analysis_exception(spark, tmp_path):
    """`run_pipeline --resume` treats exactly this error as "first run"."""
    with pytest.raises(AnalysisException):
        Sink(spark, str(tmp_path)).read("lineage")


def _run_script(spark, monkeypatch, name, *args):
    """Run ``scripts/<name>.py`` main() in this process, on the shared
    session, which it may neither replace nor stop."""
    import trident_spark.session

    monkeypatch.setattr(trident_spark.session, "get_spark", lambda **_: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    monkeypatch.setattr(sys, "argv", [f"{name}.py", *args])
    spec = importlib.util.spec_from_file_location(
        name, REPO / "scripts" / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    module.main()


def test_resume_propagates_lineage_read_errors(spark, tmp_path, monkeypatch):
    """Only a missing lineage table means "build everything": any other
    read failure must stop a --resume run before it appends a full rebuild
    onto the existing tables (CLAUDE.md rule 11)."""
    read = Sink.read

    def failing_read(self, table):
        if table == "lineage":
            raise OSError("lineage unreadable")
        return read(self, table)

    monkeypatch.setattr(Sink, "read", failing_read)
    out = tmp_path / "kg"
    with pytest.raises(OSError, match="lineage unreadable"):
        _run_script(spark, monkeypatch, "run_pipeline", "--synthetic", "20",
                    "--output", str(out), "--resume")
    assert not out.exists()


@pytest.fixture(scope="module")
def synthetic_kg(spark, tmp_path_factory):
    """A ``run_pipeline.py --synthetic 20`` output directory."""
    out = tmp_path_factory.mktemp("cli") / "kg"
    with pytest.MonkeyPatch.context() as mp:
        _run_script(spark, mp, "run_pipeline", "--synthetic", "20",
                    "--output", str(out))
    return out


_UNION = ("PREFIX schema: <https://schema.org/> SELECT ?s ?n WHERE { "
          "{ ?s a schema:Person } UNION { ?s a schema:Organization } "
          "?s schema:name ?n }")


def _cli_rows(spark, monkeypatch, capsys, kg_dir):
    import json
    from collections import Counter

    capsys.readouterr()
    _run_script(spark, monkeypatch, "run_query", "--kg", str(kg_dir),
                "--query", _UNION, "--limit", "100000")
    out = capsys.readouterr().out.splitlines()
    return Counter((r["s"], r["n"]) for r in map(json.loads, out))


def test_run_query_cli_answers_over_warehouse(spark, monkeypatch, capsys,
                                              synthetic_kg):
    """The CLI answers from the warehouse tables with the rows the lexical
    engine gives over the decoded warehouse graph."""
    from collections import Counter

    from trident_spark.query.sparql import query

    got = _cli_rows(spark, monkeypatch, capsys, synthetic_kg)
    dec = kg.decode_triples(spark.read.parquet(str(synthetic_kg / "triples")),
                            spark.read.parquet(str(synthetic_kg / "terms")))
    want = Counter(tuple(r) for r in query(dec, _UNION).collect())
    assert got == want and got


def test_run_query_cli_reads_ntriples_without_warehouse(
        spark, monkeypatch, capsys, synthetic_kg, tmp_path):
    """A KG directory holding only the N-Triples export is parsed."""
    import shutil
    from collections import Counter

    from trident_spark.query.sparql import query

    shutil.copytree(synthetic_kg / "ntriples", tmp_path / "ntriples")
    got = _cli_rows(spark, monkeypatch, capsys, tmp_path)
    lex = sinks.from_ntriples(spark.read.text(str(tmp_path / "ntriples"))
                              .withColumnRenamed("value", "line"))
    want = Counter(tuple(r) for r in query(lex, _UNION).collect())
    assert got == want and got


def test_turtle_serialization(spark):
    rows = [
        ("http://x/alice", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "https://schema.org/Person", "iri", None, None),
        ("http://x/alice", "https://schema.org/name", "Alice", "literal", None, None),
        ("http://x/alice", "https://schema.org/age", "30", "literal",
         "http://www.w3.org/2001/XMLSchema#integer", None),
        ("http://x/alice", "https://schema.org/bio", "hi", "literal", None, "en"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj_lexical string, obj_kind string, "
              "obj_datatype string, obj_lang string")
    blocks = [r["block"] for r in sinks.to_turtle(df).collect()]
    assert len(blocks) == 1
    b = blocks[0]
    assert b.startswith("<http://x/alice> ")
    assert "rdf:type schema:Person" in b
    assert 'schema:name "Alice"' in b
    assert 'schema:age "30"^^xsd:integer' in b
    assert 'schema:bio "hi"@en' in b
    assert b.rstrip().endswith(".")
    assert "@prefix schema:" in sinks.turtle_header()


def test_literal_lang_normalization(spark):
    rows = [
        ("http://x/a", "https://schema.org/bio", "hallo", "literal", None, "EN-us"),
        ("http://x/a", "https://schema.org/bio", "qapla", "literal", None, "i-klingon"),
        ("http://x/a", "https://schema.org/bio", "x", "literal", None, "not_a_tag"),
        ("http://x/a", "https://schema.org/name", "A", "literal", None, None),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj_lexical string, obj_kind string, "
              "obj_datatype string, obj_lang string")
    out = {r["obj_lexical"]: r["obj_lang"]
           for r in kg.normalize_literal_langs(df).collect()}
    assert out == {"hallo": "en-US", "qapla": "tlh", "x": None, "A": None}


def test_full_pipeline_matches_python_golden(spark):
    """build_kg (extract → link → CC → encode → dedup) must reproduce the
    independent pure-Python golden (pipeline/golden.py) exactly."""
    from trident_spark.pipeline import build_kg
    from trident_spark.pipeline.alias_dict import alias_dict_df
    from trident_spark.pipeline.golden import full_pipeline_golden_ids
    from trident_spark.pipeline.pages import pages_df

    result = build_kg(pages_df(spark, 120), alias_dict=alias_dict_df(spark))
    got = sorted((r[0], r[1], r[2]) for r in
                 result.triples.select("subj_id", "pred_id", "obj_id").collect())
    assert got == full_pipeline_golden_ids(120)


def test_python_xxhash64_matches_spark(spark):
    from pyspark.sql import functions as F

    from trident_spark.util_xxhash import spark_xxhash64

    rows = [("", None), ("a", "b"), ("k" * 31, "v" * 40),
            ("iri", "https://schema.org/name"), ("ünïcødé ✓", "x")]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select(F.xxhash64("a", "b").alias("h2"),
                    F.xxhash64("a").alias("h1")).collect()
    for (a, b), r in zip(rows, got):
        assert r["h2"] == spark_xxhash64(a, b)
        assert r["h1"] == spark_xxhash64(a)
    longs = [0, 1, -5, 2**62, -(2**62)]
    dfl = spark.createDataFrame([(x,) for x in longs], "x long")
    for x, r in zip(longs, dfl.select(F.xxhash64("x").alias("h")).collect()):
        assert r["h"] == spark_xxhash64(x)


def test_sink_parquet_roundtrip(spark, tmp_path):
    sink = Sink(spark, str(tmp_path))
    df = spark.range(5).withColumnRenamed("id", "x")
    sink.write(df, "t", mode="overwrite")
    sink.write(df, "t", mode="append")
    assert sink.read("t").count() == 10


def test_sink_iceberg_api_calls(spark, monkeypatch):
    """The Iceberg path can't run in the sandbox (no runtime jar); verify
    the DataFrameWriterV2 call sequence with a recording stub instead."""
    calls = []

    class FakeWriterV2:
        def __init__(self, ident):
            self.ident = ident

        def partitionedBy(self, *cols):
            calls.append(("partitionedBy", self.ident, len(cols)))
            return self

        def create(self):
            calls.append(("create", self.ident))

        def append(self):
            calls.append(("append", self.ident))

        def overwritePartitions(self):
            calls.append(("overwritePartitions", self.ident))

        def createOrReplace(self):
            calls.append(("createOrReplace", self.ident))

    df = spark.range(1)
    # patch the CONCRETE classes (Spark 4 routes through subclasses)
    monkeypatch.setattr(type(df), "writeTo",
                        lambda self, ident: FakeWriterV2(ident))
    exists = {"v": False}
    monkeypatch.setattr(type(spark.catalog), "tableExists",
                        lambda self, ident: exists["v"])

    sink = Sink(spark, "/unused", table_format="iceberg", catalog="kg")
    sink.write(df, "triples", partition_by=["bucket"])      # first: create
    exists["v"] = True
    sink.write(df, "triples")                               # then: append
    sink.write(df, "triples", mode="overwrite_partitions")  # idempotent rerun
    assert calls == [
        ("partitionedBy", "kg.kg.triples", 1),
        ("create", "kg.kg.triples"),
        ("append", "kg.kg.triples"),
        ("overwritePartitions", "kg.kg.triples"),
    ]


def test_sink_iceberg_requires_catalog(spark):
    with pytest.raises(ValueError):
        Sink(spark, "/x", table_format="iceberg")


def test_link_entities_independent_of_partitioning(result):
    """The same skolemized frame gives the same sameAs rows, provenance
    (url, warc_ts) included, whatever its partitioning: each (subject,
    alias) keeps its first capture, not whichever arrives first."""
    from trident_spark.pipeline.alias_dict import alias_dict_df
    from trident_spark.pipeline.linking import link_entities

    skolemized = result.skolemized.where(F.col("source") != "linking")
    alias = alias_dict_df(skolemized.sparkSession)
    one = sorted(map(tuple, link_entities(
        skolemized.repartition(1), alias).collect()))
    seven = sorted(map(tuple, link_entities(
        skolemized.repartition(7, "url"), alias).collect()))
    assert one and one == seven


def test_link_entities_hand_built_dictionary(spark):
    """Linking over a hand-built dictionary, expected rows written from the
    rule: score = 0.7 + 0.3*prior, admitted at score >= 0.5 (a null or NaN
    prior never), top-1 per (subject, lower(trim(mention))) by score desc
    then IRI asc, provenance = the earliest (warc_ts, url) capture."""
    import datetime as dt

    from trident_spark.pipeline.linking import SAME_AS, link_entities

    name = "https://schema.org/name"
    works = "https://trident-spark.dev/svo/works_for"
    t1, t2 = dt.datetime(2020, 1, 1), dt.datetime(2020, 2, 1)
    nan = float("nan")
    alias = spark.createDataFrame([
        ("Acme", "kb:acme-b", 0.6),          # tied on prior with acme-a
        ("acme ", "kb:acme-a", 0.6),
        ("ACME", "kb:acme-c", 0.3),
        ("nullco", "kb:nullco", None),        # null prior: never links
        ("nanco", "kb:nanco", nan),           # NaN prior: never links
        ("mixed", "kb:mixed-a", None),
        ("mixed", "kb:mixed-b", nan),
        ("mixed", "kb:mixed-c", 0.1),
        ("lowco", "kb:lowco", -1.0),          # score 0.4 < 0.5
    ], "alias string, canonical_iri string, prior double")
    rows = [
        # s1: case and whitespace variants of one mention, over two
        # captures; the later capture has the smaller url
        ("s1", name, "Acme", "literal", "http://b/", t1),
        ("s1", name, "  ACME ", "literal", "http://a/", t2),
        ("s1", works, "acme", "literal", "http://c/", t2),
        # s2: one mention captured twice at the same time: url breaks it
        ("s2", works, "Acme", "literal", "http://z/", t1),
        ("s2", works, "Acme", "literal", "http://y/", t1),
        ("s3", name, "nullco", "literal", "http://a/", t1),
        ("s3", name, "nanco", "literal", "http://a/", t1),
        ("s3", name, "Mixed", "literal", "http://a/", t1),
        ("s3", name, "lowco", "literal", "http://a/", t1),
        # not mentions: an IRI object, a non-mention predicate
        ("s4", name, "acme", "iri", "http://a/", t1),
        ("s4", "https://schema.org/jobTitle", "acme", "literal",
         "http://a/", t1),
    ]
    skolemized = spark.createDataFrame(
        rows, "subj string, pred string, obj_lexical string, "
              "obj_kind string, url string, warc_ts timestamp")
    got = sorted(tuple(r) for r in link_entities(skolemized, alias).collect())
    assert got == [
        ("s1", SAME_AS, "kb:acme-a", "iri", "http://b/", t1, 0.7 + 0.3 * 0.6),
        ("s2", SAME_AS, "kb:acme-a", "iri", "http://y/", t1, 0.7 + 0.3 * 0.6),
        ("s3", SAME_AS, "kb:mixed-c", "iri", "http://a/", t1, 0.7 + 0.3 * 0.1),
    ]
