"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``   — flagship: full KG pipeline over sf0.001 documents
  (documents → pages with embedded JSON-LD → extract → skolemize → encode)
  answering a two-pattern BGP join.
- ``queries()``      — the KG system end to end: the pipeline (extraction,
  linking, connected components, dictionary encoding), the SPARQL 1.1/1.2
  surface incl. graph-scoped Update and the function library, RDF 1.2
  triple terms, Turtle/TriG/N-Quads/JSON-LD/RDF-XML round-trips, top-k hubs
  and snapshot diff, plus the RFC 3987 IRI and BCP 47 language-tag
  conformance suites.  At most 50 entries — the driver verifies only the
  first 50 — and every entry has a DuckDB oracle.
- ``extra_queries()``/``extra_oracle_sql()`` — test-only mirrors outside
  the window (the single-vector conformance queries and single-feature
  SPARQL/round-trip queries the suites consolidate), oracle-checked by the
  local bit-faithful mirror.
- ``oracle_sql()``   — DuckDB equivalents, column names aligned 1:1.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# ---------------------------------------------------------------------------
# shared bits
# ---------------------------------------------------------------------------

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SCHEMA = "https://schema.org/"
DOC_BASE = "https://docs.trident-spark.dev"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_DOC_TRIPLES_CACHE: dict[tuple[str, str], DataFrame] = {}
_DISTINCT_TRIPLES_CACHE: dict[tuple[str, str], DataFrame] = {}


def _doc_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → pages → extract → skolemize: lexical triples.

    Materialized once per (session, sf_dir) via localCheckpoint: the KG
    queries reference the triples frame 2-3x per plan (self-joins) and the
    driver runs ~25 of them back to back — without this, every reference
    re-runs the Python extraction over the whole corpus.  Extraction is
    deterministic (content-hashed ids), so caching cannot change results.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _DOC_TRIPLES_CACHE.get(key)
    if hit is not None:
        return hit
    from trident_spark.pipeline import extract_stage, kg
    from trident_spark.pipeline.docs_to_pages import docs_to_page_results

    raw = extract_stage.raw_triples(
        docs_to_page_results(_read(spark, sf_dir, "documents")))
    out = kg.skolemize(raw).localCheckpoint(eager=True)
    _DOC_TRIPLES_CACHE[key] = out
    return out


def _distinct_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 6-column triples, materialized once per (session, sf_dir)
    like :func:`_doc_triples`: five serializer/stat queries start from this
    exact frame, and the distinct is a full shuffle of the text-bearing
    literals — without the checkpoint each of them re-pays it."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _DISTINCT_TRIPLES_CACHE.get(key)
    if hit is not None:
        return hit
    out = (
        _doc_triples(spark, sf_dir)
        .select("subj", "pred", "obj_lexical", "obj_kind", "obj_datatype", "obj_lang")
        .distinct()
        .localCheckpoint(eager=True)
    )
    _DISTINCT_TRIPLES_CACHE[key] = out
    return out


def _doc_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc triples as quads: the capture url is the graph term."""
    return _doc_triples(spark, sf_dir).select(
        "subj", "pred", "obj_lexical", "obj_kind", "obj_datatype",
        "obj_lang", F.col("url").alias("graph"),
    )


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG over sf0.001 documents, BGP join (?d provider ?o .
    ?o name ?n) — exactly the oracle-checked q_kg_bgp_provider, ordered."""
    return q_kg_bgp_provider(spark, "/root/testdata/sf0.001").orderBy("doc")


# ---------------------------------------------------------------------------
# conformance-vector queries (golden values as the oracle)
# ---------------------------------------------------------------------------


def _values_sql(rows: list[tuple], cols: tuple) -> str:
    def q(v) -> str:
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return f"CAST({v} AS BIGINT)"
        return "'" + str(v).replace("'", "''") + "'"

    values = ", ".join("(" + ", ".join(q(v) for v in row) + ")" for row in rows)
    return f"SELECT * FROM (VALUES {values}) AS t({', '.join(cols)})"


def _iri_resolve_vectors():
    from trident_spark.conformance import ABNORMAL_RESOLUTION, NORMAL_RESOLUTION

    merged = {**NORMAL_RESOLUTION, **ABNORMAL_RESOLUTION}
    return sorted(merged.items())


def _iri_normalize_vectors():
    from trident_spark.conformance import HOST_NORMALIZE_CASES, NORMALIZE_CASES

    return [(i, e) for i, e in NORMALIZE_CASES + HOST_NORMALIZE_CASES if i]


def _iri_to_uri_vectors():
    from trident_spark.conformance import TO_URI_CASES

    return list(TO_URI_CASES)


def _langtag_vectors():
    from trident_spark.conformance import LANGTAG_NORMALIZE_OK

    return list(LANGTAG_NORMALIZE_OK)


def q_iri_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trident_spark.functions.iri_funcs import iri_resolve

    base = "http://a/b/c/d;p?q"
    df = spark.createDataFrame(
        [(base, rel) for rel, _ in _iri_resolve_vectors()], "base string, rel string"
    )
    return df.select("rel", iri_resolve("base", "rel")["value"].alias("resolved"))


def q_iri_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trident_spark.functions.iri_funcs import iri_normalize

    df = spark.createDataFrame(
        [(i,) for i, _ in _iri_normalize_vectors()], "input string"
    )
    return df.select("input", iri_normalize("input")["value"].alias("normalized"))


def q_iri_to_uri(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trident_spark.functions.iri_funcs import iri_to_uri

    df = spark.createDataFrame([(i,) for i, _ in _iri_to_uri_vectors()], "input string")
    return df.select("input", iri_to_uri("input")["value"].alias("uri"))


def q_langtag_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trident_spark.functions.langtag_funcs import langtag_normalize

    df = spark.createDataFrame([(t,) for t, _ in _langtag_vectors()], "tag string")
    return df.select("tag", langtag_normalize("tag")["tag"].alias("canonical"))


def _uri_to_iri_vectors():
    from trident_spark.conformance import FROM_URI_CASES

    return [(u, e) for u, e, err in FROM_URI_CASES if not err]


def q_uri_to_iri(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trident_spark.functions.iri_funcs import uri_to_iri

    df = spark.createDataFrame([(u,) for u, _ in _uri_to_iri_vectors()], "input string")
    return df.select("input", uri_to_iri("input")["value"].alias("iri"))


def _relativize_vectors():
    from trident_spark.conformance import RELATIVIZE_CASES

    return list(RELATIVIZE_CASES)


def q_iri_relativize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trident_spark.functions.iri_funcs import iri_relativize

    df = spark.createDataFrame(
        [(b, t) for b, t, _ in _relativize_vectors()], "base string, target string"
    )
    return df.select(
        "base", "target", iri_relativize("base", "target")["value"].alias("rel")
    )


def _langtag_parse_vectors():
    from trident_spark.conformance import LANGTAG_PARSE_OK

    return list(LANGTAG_PARSE_OK)


def q_langtag_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trident_spark.functions.langtag_funcs import langtag_parse

    df = spark.createDataFrame([(t,) for t, _ in _langtag_parse_vectors()], "tag string")
    return df.select("tag", langtag_parse("tag")["tag"].alias("wellformed"))


def q_iri_parse_wellformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-exact storage of valid IRI-references (reference Ref contract:
    the stored string is exactly the input, iri/iri.go:71-84)."""
    from trident_spark.conformance import PARSE_VALID_REFS
    from trident_spark.functions.iri_funcs import iri_parse

    df = spark.createDataFrame([(v,) for v in PARSE_VALID_REFS], "input string")
    p = iri_parse("input")
    return df.select("input", p["iri"].alias("stored"),
                     p["error"].isNull().alias("valid"))


def q_iri_reject_invalid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trident_spark.conformance import PARSE_INVALID_REFS
    from trident_spark.functions.iri_funcs import iri_parse

    df = spark.createDataFrame([(v,) for v in PARSE_INVALID_REFS], "input string")
    return df.select(
        "input", iri_parse("input")["error"].isNotNull().alias("rejected"))


def q_langtag_reject_invalid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rejection tables for both modes: Parse (well-formedness) and
    ParseAndNormalize (registry validity)."""
    from trident_spark.conformance import (
        LANGTAG_NORMALIZE_INVALID, LANGTAG_PARSE_INVALID,
    )
    from trident_spark.functions.langtag_funcs import (
        langtag_normalize, langtag_parse,
    )

    p = spark.createDataFrame(
        [(t, "parse") for t in LANGTAG_PARSE_INVALID], "tag string, mode string"
    ).select("tag", "mode", langtag_parse("tag")["error"].isNotNull().alias("rejected"))
    v = spark.createDataFrame(
        [(t, "normalize") for t in LANGTAG_NORMALIZE_INVALID], "tag string, mode string"
    ).select("tag", "mode",
             langtag_normalize("tag")["error"].isNotNull().alias("rejected"))
    return p.unionByName(v)


def q_langtag_extlang_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trident_spark.conformance import EXTLANG_FORM_CASES
    from trident_spark.functions.langtag_funcs import langtag_to_extlang

    df = spark.createDataFrame([(t,) for t, _ in EXTLANG_FORM_CASES], "tag string")
    return df.select("tag", langtag_to_extlang("tag")["tag"].alias("extlang_form"))


# ---------------------------------------------------------------------------
# consolidated conformance suites — the driver verifies at most 50 queries,
# so the 11 single-purpose vector queries above are union'd into two frames
# (one per kernel family) carrying every vector with a suite label.  The
# individual queries stay registered in extra_queries() and keep their
# oracle rows in the local bit-faithful mirror (tests/test_entry_contract.py).
# ---------------------------------------------------------------------------


def q_iri_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every IRI kernel conformance vector in one frame: RFC 3986 §5.4
    resolution, syntax-based + host normalization, IRI↔URI (RFC 3987 §3.1/
    §3.6), relativization round-trips, and byte-exact parse/reject tables
    (reference contract: iri/iri.go + iri/resolve.go + iri/normalize.go)."""
    from trident_spark.conformance import PARSE_INVALID_REFS, PARSE_VALID_REFS
    from trident_spark.functions.iri_funcs import (
        iri_normalize, iri_parse, iri_relativize, iri_resolve, iri_to_uri,
        uri_to_iri,
    )

    base = "http://a/b/c/d;p?q"
    frames = []
    res = spark.createDataFrame(
        [(base, rel) for rel, _ in _iri_resolve_vectors()],
        "base string, rel string",
    )
    frames.append(res.select(
        F.lit("resolve").alias("suite"), F.col("rel").alias("input"),
        iri_resolve("base", "rel")["value"].alias("output")))
    norm = spark.createDataFrame(
        [(i,) for i, _ in _iri_normalize_vectors()], "input string")
    frames.append(norm.select(
        F.lit("normalize").alias("suite"), "input",
        iri_normalize("input")["value"].alias("output")))
    touri = spark.createDataFrame(
        [(i,) for i, _ in _iri_to_uri_vectors()], "input string")
    frames.append(touri.select(
        F.lit("to_uri").alias("suite"), "input",
        iri_to_uri("input")["value"].alias("output")))
    fromuri = spark.createDataFrame(
        [(u,) for u, _ in _uri_to_iri_vectors()], "input string")
    frames.append(fromuri.select(
        F.lit("from_uri").alias("suite"), "input",
        uri_to_iri("input")["value"].alias("output")))
    rel = spark.createDataFrame(
        [(b, t) for b, t, _ in _relativize_vectors()],
        "base string, target string",
    )
    frames.append(rel.select(
        F.lit("relativize").alias("suite"),
        F.concat_ws(" ", "base", "target").alias("input"),
        iri_relativize("base", "target")["value"].alias("output")))
    pv = spark.createDataFrame([(v,) for v in PARSE_VALID_REFS], "input string")
    p = iri_parse("input")
    frames.append(pv.select(
        F.lit("parse").alias("suite"), "input",
        F.when(p["error"].isNull(), p["iri"])
        .otherwise(F.lit("REJECTED")).alias("output")))
    pi = spark.createDataFrame(
        [(v,) for v in PARSE_INVALID_REFS], "input string")
    p2 = iri_parse("input")
    frames.append(pi.select(
        F.lit("reject").alias("suite"), "input",
        F.when(p2["error"].isNotNull(), F.lit("REJECTED"))
        .otherwise(p2["iri"]).alias("output")))
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def _iri_conformance_oracle() -> str:
    from trident_spark.conformance import PARSE_INVALID_REFS, PARSE_VALID_REFS

    rows = [("resolve", rel, exp) for rel, exp in _iri_resolve_vectors()]
    rows += [("normalize", i, e) for i, e in _iri_normalize_vectors()]
    rows += [("to_uri", i, e) for i, e in _iri_to_uri_vectors()]
    rows += [("from_uri", u, e) for u, e in _uri_to_iri_vectors()]
    rows += [("relativize", f"{b} {t}", e) for b, t, e in _relativize_vectors()]
    rows += [("parse", v, v) for v in PARSE_VALID_REFS]
    rows += [("reject", v, "REJECTED") for v in PARSE_INVALID_REFS]
    return _values_sql(rows, ("suite", "input", "output"))


def q_langtag_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every BCP 47 conformance vector in one frame: Parse well-formedness,
    ParseAndNormalize canonicalization (RFC 5646 §4.5), both rejection
    tables, and ToExtlangForm (reference: langtag/langtag.go)."""
    from trident_spark.conformance import (
        EXTLANG_FORM_CASES, LANGTAG_NORMALIZE_INVALID, LANGTAG_PARSE_INVALID,
    )
    from trident_spark.functions.langtag_funcs import (
        langtag_normalize, langtag_parse, langtag_to_extlang,
    )

    frames = []
    norm = spark.createDataFrame(
        [(t,) for t, _ in _langtag_vectors()], "input string")
    frames.append(norm.select(
        F.lit("normalize").alias("suite"), "input",
        langtag_normalize("input")["tag"].alias("output")))
    par = spark.createDataFrame(
        [(t,) for t, _ in _langtag_parse_vectors()], "input string")
    frames.append(par.select(
        F.lit("parse").alias("suite"), "input",
        langtag_parse("input")["tag"].alias("output")))
    rp = spark.createDataFrame(
        [(t,) for t in LANGTAG_PARSE_INVALID], "input string")
    pp = langtag_parse("input")
    frames.append(rp.select(
        F.lit("reject_parse").alias("suite"), "input",
        F.when(pp["error"].isNotNull(), F.lit("REJECTED"))
        .otherwise(pp["tag"]).alias("output")))
    rn = spark.createDataFrame(
        [(t,) for t in LANGTAG_NORMALIZE_INVALID], "input string")
    nn = langtag_normalize("input")
    frames.append(rn.select(
        F.lit("reject_normalize").alias("suite"), "input",
        F.when(nn["error"].isNotNull(), F.lit("REJECTED"))
        .otherwise(nn["tag"]).alias("output")))
    ex = spark.createDataFrame(
        [(t,) for t, _ in EXTLANG_FORM_CASES], "input string")
    frames.append(ex.select(
        F.lit("extlang").alias("suite"), "input",
        langtag_to_extlang("input")["tag"].alias("output")))
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def _langtag_conformance_oracle() -> str:
    from trident_spark.conformance import (
        EXTLANG_FORM_CASES, LANGTAG_NORMALIZE_INVALID, LANGTAG_PARSE_INVALID,
    )

    rows = [("normalize", t, e) for t, e in _langtag_vectors()]
    rows += [("parse", t, e) for t, e in _langtag_parse_vectors()]
    rows += [("reject_parse", t, "REJECTED") for t in LANGTAG_PARSE_INVALID]
    rows += [("reject_normalize", t, "REJECTED")
             for t in LANGTAG_NORMALIZE_INVALID]
    rows += [("extlang", t, e) for t, e in EXTLANG_FORM_CASES]
    return _values_sql(rows, ("suite", "input", "output"))


# ---------------------------------------------------------------------------
# KG pipeline queries (oracle reconstructs triples from documents in SQL)
# ---------------------------------------------------------------------------


def q_kg_doc_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _distinct_triples(spark, sf_dir).select(
        "subj", "pred", "obj_lexical", "obj_kind",
        F.coalesce("obj_datatype", F.lit("")).alias("obj_datatype"),
    )


_KG_TRIPLES_ORACLE = f"""
WITH base AS (
  SELECT '{DOC_BASE}/doc/' || doc_id AS doc,
         '{DOC_BASE}/org/' || source AS org,
         text, lang, source, n_chars
  FROM documents
), t AS (
  SELECT doc AS subj, '{RDF_TYPE}' AS pred,
         '{SCHEMA}TextDigitalDocument' AS obj_lexical, 'iri' AS obj_kind,
         '' AS obj_datatype FROM base
  UNION ALL
  SELECT doc, '{SCHEMA}text', text, 'literal', '' FROM base
  UNION ALL
  SELECT doc, '{SCHEMA}inLanguage', lang, 'literal', '' FROM base
  UNION ALL
  SELECT doc, '{SCHEMA}characterCount', CAST(n_chars AS VARCHAR), 'literal',
         '{XSD_INT}' FROM base
  UNION ALL
  SELECT doc, '{SCHEMA}provider', org, 'iri', '' FROM base
  UNION ALL
  SELECT DISTINCT org, '{RDF_TYPE}', '{SCHEMA}Organization', 'iri', '' FROM base
  UNION ALL
  SELECT DISTINCT org, '{SCHEMA}name', source, 'literal', '' FROM base
)
SELECT DISTINCT subj, pred, obj_lexical, obj_kind, obj_datatype FROM t
"""


def q_kg_predicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _distinct_triples(spark, sf_dir)
        .groupBy(F.col("pred").alias("predicate"))
        .agg(F.count("*").alias("n"))
    )


_KG_PRED_STATS_ORACLE = f"""
WITH counts AS (
  SELECT '{RDF_TYPE}' AS predicate,
         (SELECT COUNT(*) FROM documents) + (SELECT COUNT(DISTINCT source) FROM documents) AS n
  UNION ALL SELECT '{SCHEMA}text', COUNT(*) FROM documents
  UNION ALL SELECT '{SCHEMA}inLanguage', COUNT(*) FROM documents
  UNION ALL SELECT '{SCHEMA}characterCount', COUNT(*) FROM documents
  UNION ALL SELECT '{SCHEMA}provider', COUNT(*) FROM documents
  UNION ALL SELECT '{SCHEMA}name', COUNT(DISTINCT source) FROM documents
)
SELECT predicate, n FROM counts
"""


def q_kg_bgp_provider(spark: SparkSession, sf_dir: str) -> DataFrame:
    triples = _distinct_triples(spark, sf_dir)
    provider = triples.where(F.col("pred") == SCHEMA + "provider").select(
        F.col("subj").alias("doc"), F.col("obj_lexical").alias("org")
    )
    name = triples.where(F.col("pred") == SCHEMA + "name").select(
        F.col("subj").alias("org"), F.col("obj_lexical").alias("org_name")
    ).distinct()
    return provider.join(name, "org").select("doc", "org_name")


_KG_BGP_ORACLE = f"""
SELECT '{DOC_BASE}/doc/' || doc_id AS doc, source AS org_name FROM documents
"""


def q_kg_sparql_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's proposed g.Query(sparql) surface (README.md:94-120):
    a two-pattern BGP compiled to DataFrame joins."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        SELECT ?doc ?org_name WHERE {
            ?doc schema:provider ?org .
            ?org schema:name ?org_name .
        }
        """,
    )


_KG_SPARQL_SCOPE_ORACLE = f"""
SELECT '{DOC_BASE}/doc/' || doc_id AS doc, source AS n FROM documents
"""


def q_kg_sparql_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict SPARQL §18.2 bottom-up filter scoping (r5): a FILTER inside
    a plain nested group reads enclosing-group variables as UNBOUND.
    Leg 1's FILTER(!BOUND(?doc)) is therefore TRUE — the subgroup passes
    whole and joins normally (a lenient post-join evaluation would see
    ?doc bound and return ZERO rows, so this query discriminates).  Leg
    2's FILTER(?n = ?doc) is an expression error → false → empty leg.
    The union equals exactly the plain provider→name join."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        SELECT ?doc ?n WHERE {
            { ?doc schema:provider ?org .
              { ?org schema:name ?n . FILTER(!BOUND(?doc)) } }
            UNION
            { ?doc schema:provider ?org .
              { ?org schema:name ?n . FILTER(?n = ?doc) } }
        }
        """,
    )


def q_kg_sparql_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL: every typed subject, with its schema:name when one exists
    (docs have no name → null → coalesced to '' for dtype-stable hashing).

    r5: a second variant joins a LATER pattern on the OPTIONAL-introduced
    variable — SPARQL §8.3/§10.2 compatibility semantics: an org row
    (?name bound) equi-joins its own name; a doc row (?name unbound) is
    compatible with EVERY org name and ?name re-binds (the classic W3C
    optional-then-join shape SQL left-join null semantics gets wrong).
    Both variants union into one frame, tagged by ``shape``."""
    from trident_spark.query.sparql import query

    res = query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        SELECT ?s ?t ?name WHERE {
            ?s a ?t .
            OPTIONAL { ?s schema:name ?name }
        }
        """,
    ).select("s", "t", F.coalesce("name", F.lit("")).alias("name"))
    rejoin = query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        SELECT ?s ?t ?name WHERE {
            ?s a ?t .
            OPTIONAL { ?s schema:name ?name }
            ?org schema:name ?name .
        }
        """,
    ).select("s", "t", F.col("name"))
    return (res.withColumn("shape", F.lit("optional"))
            .unionByName(rejoin.withColumn("shape", F.lit("rejoin")))
            .distinct())


_KG_SPARQL_OPTIONAL_ORACLE = f"""
SELECT DISTINCT '{DOC_BASE}/doc/' || doc_id AS s,
       '{SCHEMA}TextDigitalDocument' AS t, '' AS name, 'optional' AS shape
FROM documents
UNION ALL
SELECT DISTINCT '{DOC_BASE}/org/' || source, '{SCHEMA}Organization', source,
       'optional'
FROM documents
UNION ALL
-- rejoin: orgs keep their own name (bound side of the compatibility
-- join); docs (?name unbound) re-bind to every org name
SELECT DISTINCT '{DOC_BASE}/org/' || source, '{SCHEMA}Organization', source,
       'rejoin'
FROM documents
UNION ALL
SELECT DISTINCT '{DOC_BASE}/doc/' || d.doc_id, '{SCHEMA}TextDigitalDocument',
       o.source, 'rejoin'
FROM documents d CROSS JOIN (SELECT DISTINCT source FROM documents) o
"""


def q_kg_sparql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregates + GROUP BY over the graph: subjects per rdf:type."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        """
        SELECT ?t (COUNT(?s) AS ?n) WHERE {
            ?s <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ?t .
        } GROUP BY ?t
        """,
    )


_KG_SPARQL_AGG_ORACLE = f"""
SELECT '{SCHEMA}TextDigitalDocument' AS t, COUNT(*) AS n FROM documents
UNION ALL
SELECT '{SCHEMA}Organization', COUNT(DISTINCT source) FROM documents
"""


def q_kg_sparql_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION of two disjoint type patterns."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        SELECT DISTINCT ?x WHERE {
            { ?x a schema:Organization } UNION { ?x a schema:TextDigitalDocument }
        }
        """,
    )


_KG_SPARQL_UNION_ORACLE = f"""
SELECT DISTINCT '{DOC_BASE}/org/' || source AS x FROM documents
UNION
SELECT '{DOC_BASE}/doc/' || doc_id FROM documents
"""


def q_kg_sparql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property path: ?doc schema:provider/schema:name ?org_name — the
    sequence path compiles to the same join as the 2-pattern BGP, so the
    BGP oracle applies."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        SELECT ?doc ?org_name WHERE {
            ?doc schema:provider/schema:name ?org_name .
            ?doc a schema:TextDigitalDocument .
        }
        """,
    ).distinct()


def q_kg_sparql_minus_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES (inline data) narrows the type, MINUS (anti join) drops every
    subject that has a schema:name — i.e. the docs (orgs are named).
    The data block carries UNDEF in both positions (SPARQL 1.1 §10.2):
    an UNDEF ?m rides along unbound, and an UNDEF ?t row is compatible
    with every type binding — so each doc solves twice, once with ?m
    unbound and once with ?m = "anytype"."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        SELECT DISTINCT ?s ?m WHERE {
            ?s a ?t .
            VALUES (?t ?m) { (schema:TextDigitalDocument UNDEF)
                             (UNDEF "anytype")
                             (schema:Organization "org") }
            MINUS { ?s schema:name ?n }
        }
        """,
    )


_KG_SPARQL_MINUS_VALUES_ORACLE = f"""
SELECT DISTINCT s, m FROM (
  SELECT '{DOC_BASE}/doc/' || doc_id AS s, CAST(NULL AS VARCHAR) AS m
  FROM documents
  UNION ALL
  SELECT '{DOC_BASE}/doc/' || doc_id, 'anytype' FROM documents
) t
"""


def q_kg_sparql_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER EXISTS correlated on ?d: docs whose provider's name starts
    with "src1" (11 of the 20 sources) — compiles to a left-semi join."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        SELECT ?d WHERE {
            ?d a schema:TextDigitalDocument .
            FILTER EXISTS {
                ?d schema:provider ?org .
                ?org schema:name ?n .
                FILTER(STRSTARTS(?n, "src1"))
            }
        }
        """,
    ).distinct()


_KG_SPARQL_EXISTS_ORACLE = f"""
SELECT DISTINCT '{DOC_BASE}/doc/' || doc_id AS d FROM documents
WHERE source LIKE 'src1%'
"""


def q_kg_sparql_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING: providers with more than 10 English docs."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        SELECT ?org (COUNT(?d) AS ?n) WHERE {
            ?d schema:provider ?org ;
               schema:inLanguage "en" .
        } GROUP BY ?org HAVING(COUNT(?d) > 10)
        """,
    )


_KG_SPARQL_HAVING_ORACLE = f"""
SELECT '{DOC_BASE}/org/' || source AS org, COUNT(*) AS n FROM documents
WHERE lang = 'en' GROUP BY source HAVING COUNT(*) > 10
"""


def q_kg_sparql_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIND: computed label column (CONCAT + UCASE, JVM-side expressions)."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        SELECT DISTINCT ?label WHERE {
            ?org a schema:Organization ; schema:name ?n .
            BIND(CONCAT("ORG:", UCASE(?n)) AS ?label)
        }
        """,
    )


_KG_SPARQL_BIND_ORACLE = """
SELECT DISTINCT 'ORG:' || UPPER(source) AS label FROM documents
"""


def q_kg_sparql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery: inner GROUP BY aggregation joined to the outer pattern."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        SELECT ?org ?n WHERE {
            ?org a schema:Organization .
            { SELECT ?org (COUNT(?d) AS ?n) WHERE {
                ?d schema:provider ?org } GROUP BY ?org }
        }
        """,
    ).distinct()


_KG_SPARQL_SUBQUERY_ORACLE = f"""
SELECT '{DOC_BASE}/org/' || source AS org, COUNT(*) AS n FROM documents
GROUP BY source
"""


def q_kg_sparql_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASK query form: single-row boolean DataFrame."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        ASK { ?d schema:inLanguage "en" }
        """,
    )


_KG_SPARQL_ASK_ORACLE = """
SELECT (COUNT(*) > 0) AS ask FROM documents WHERE lang = 'en'
"""


def q_kg_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTRUCT query form: reversed provider edges as a new graph, with
    object term kinds recovered from the source graph's term dictionary.
    r5: the output carries full literal term identity (obj_datatype /
    obj_lang) — the second template triple constructs a lang-tagged
    constant, so metadata propagation is oracle-checked too."""
    from trident_spark.query.sparql import construct

    return construct(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        CONSTRUCT { ?org schema:published ?d .
                    ?d schema:note "indexed"@en }
        WHERE { ?d schema:provider ?org }
        """,
    )


_KG_SPARQL_CONSTRUCT_ORACLE = f"""
SELECT DISTINCT '{DOC_BASE}/org/' || source AS subj,
       '{SCHEMA}published' AS pred,
       '{DOC_BASE}/doc/' || doc_id AS obj_lexical,
       'iri' AS obj_kind,
       CAST(NULL AS VARCHAR) AS obj_datatype,
       CAST(NULL AS VARCHAR) AS obj_lang
FROM documents
UNION ALL
SELECT DISTINCT '{DOC_BASE}/doc/' || doc_id, '{SCHEMA}note',
       'indexed', 'literal', NULL, 'en'
FROM documents
"""


def q_kg_rdfstar_reify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF 1.2 triple terms: annotate every provider edge with its document
    (rdf:reifies + schema:about pair per triple, reifier = content-hashed
    blank node), then serialize to N-Triples 1.2 and parse back — the
    oracle reconstructs the reification graph in SQL, so a divergence in
    rendering, hashing, or the triple-term parser all go red."""
    from trident_spark.pipeline import rdfstar, sinks

    prov = _distinct_triples(spark, sf_dir).where(
        F.col("pred") == SCHEMA + "provider")
    reified = rdfstar.reify(
        prov.withColumn("prov_doc", F.col("subj")),
        SCHEMA + "about", "prov_doc", ann_kind="iri")
    back = sinks.from_ntriples(sinks.to_ntriples(reified))
    return back.select("subj", "pred", "obj_lexical", "obj_kind")


_KG_RDFSTAR_ORACLE = f"""
WITH p AS (
  SELECT '<<( <{DOC_BASE}/doc/' || doc_id || '> <{SCHEMA}provider> ' ||
         '<{DOC_BASE}/org/' || source || '> )>>' AS tt,
         '{DOC_BASE}/doc/' || doc_id AS doc
  FROM documents
)
SELECT '_:r' || md5(tt) AS subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies' AS pred,
       tt AS obj_lexical, 'triple' AS obj_kind FROM p
UNION ALL
SELECT '_:r' || md5(tt), '{SCHEMA}about', doc, 'iri' FROM p
"""


def q_kg_sparql_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.2 quoted-triple pattern over the reified provider edges:
    bind the embedded (doc, org) components and join the annotation —
    component extraction is pure Catalyst regexp (no Python).  r5: the
    same triple term is also bound whole (?tt) and destructured with the
    1.2 accessor builtins SUBJECT()/PREDICATE() under an isTRIPLE()
    guard, so the accessors get a hard oracle row too."""
    from trident_spark.pipeline import rdfstar
    from trident_spark.query.sparql import query

    prov = _distinct_triples(spark, sf_dir).where(
        F.col("pred") == SCHEMA + "provider")
    reified = rdfstar.reify(
        prov.withColumn("prov_doc", F.col("subj")),
        SCHEMA + "about", "prov_doc", ann_kind="iri")
    return query(
        reified,
        f"""
        SELECT ?d ?org ?noted ?p ?d2 WHERE {{
            ?r <http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies>
               <<( ?d <{SCHEMA}provider> ?org )>> .
            ?r <http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies> ?tt .
            ?r <{SCHEMA}about> ?noted .
            FILTER(isTRIPLE(?tt))
            BIND(PREDICATE(?tt) AS ?p)
            BIND(SUBJECT(?tt) AS ?d2)
        }}
        """,
    ).distinct()


_KG_SPARQL_STAR_ORACLE = f"""
SELECT DISTINCT '{DOC_BASE}/doc/' || doc_id AS d,
       '{DOC_BASE}/org/' || source AS org,
       '{DOC_BASE}/doc/' || doc_id AS noted,
       '{SCHEMA}provider' AS p,
       '{DOC_BASE}/doc/' || doc_id AS d2
FROM documents
"""


def q_kg_sparql_datatype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATATYPE() filter: typed-literal metadata carried alongside the
    lexical binding (hidden _dt_/_lang_ columns in the pattern scan)."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        f"""
        PREFIX schema: <https://schema.org/>
        SELECT ?s ?c WHERE {{
            ?s schema:characterCount ?c .
            FILTER(DATATYPE(?c) = "{XSD_INT}")
        }}
        """,
    ).distinct()


_KG_SPARQL_DATATYPE_ORACLE = f"""
SELECT '{DOC_BASE}/doc/' || doc_id AS s, CAST(n_chars AS VARCHAR) AS c
FROM documents
"""


def q_kg_sparql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 Update in immutable form: DELETE the provider edges,
    INSERT the reversed schema:published edges, return the NEW graph —
    the oracle reconstructs the whole post-update triple set."""
    from trident_spark.query.sparql import update

    return update(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        DELETE { ?d schema:provider ?org }
        INSERT { ?org schema:published ?d }
        WHERE  { ?d schema:provider ?org }
        """,
    ).select("subj", "pred", "obj_lexical", "obj_kind").distinct()


_KG_SPARQL_UPDATE_ORACLE = f"""
WITH base AS (
  SELECT '{DOC_BASE}/doc/' || doc_id AS doc,
         '{DOC_BASE}/org/' || source AS org,
         text, lang, source, n_chars
  FROM documents
), t AS (
  SELECT doc AS subj, '{RDF_TYPE}' AS pred,
         '{SCHEMA}TextDigitalDocument' AS obj_lexical, 'iri' AS obj_kind
  FROM base
  UNION ALL SELECT doc, '{SCHEMA}text', text, 'literal' FROM base
  UNION ALL SELECT doc, '{SCHEMA}inLanguage', lang, 'literal' FROM base
  UNION ALL SELECT doc, '{SCHEMA}characterCount', CAST(n_chars AS VARCHAR),
            'literal' FROM base
  UNION ALL SELECT org, '{SCHEMA}published', doc, 'iri' FROM base
  UNION ALL SELECT DISTINCT org, '{RDF_TYPE}', '{SCHEMA}Organization', 'iri'
            FROM base
  UNION ALL SELECT DISTINCT org, '{SCHEMA}name', source, 'literal' FROM base
)
SELECT DISTINCT subj, pred, obj_lexical, obj_kind FROM t
"""


# fixed Turtle doc exercising [...] property lists and (...) collections;
# generated blank labels are deterministic (salt = blake2b of the doc), so
# the oracle can carry them as literal expected rows
_EXTRA_TTL = ('@prefix s: <https://schema.org/> .\n'
              '<https://docs.trident-spark.dev/extra/1> s:author '
              '[ s:name "Ada" ; s:knows ( "b1" "b2" ) ] .')
_EXTRA_TTL_ROWS = [
    # (subj, pred, obj_lexical, obj_kind, obj_datatype) — salt 4c0ee4b3064c45114bf5d4281229395b
    ("https://docs.trident-spark.dev/extra/1", SCHEMA + "author",
     "_:g4c0ee4b3064c45114bf5d4281229395bn1", "blank", ""),
    ("_:g4c0ee4b3064c45114bf5d4281229395bn1", SCHEMA + "name", "Ada", "literal", ""),
    ("_:g4c0ee4b3064c45114bf5d4281229395bn1", SCHEMA + "knows", "_:g4c0ee4b3064c45114bf5d4281229395bn2", "blank", ""),
    ("_:g4c0ee4b3064c45114bf5d4281229395bn2", RDF_TYPE[:-4] + "first", "b1", "literal", ""),
    ("_:g4c0ee4b3064c45114bf5d4281229395bn2", RDF_TYPE[:-4] + "rest", "_:g4c0ee4b3064c45114bf5d4281229395bn3",
     "blank", ""),
    ("_:g4c0ee4b3064c45114bf5d4281229395bn3", RDF_TYPE[:-4] + "first", "b2", "literal", ""),
    ("_:g4c0ee4b3064c45114bf5d4281229395bn3", RDF_TYPE[:-4] + "rest", RDF_TYPE[:-4] + "nil",
     "iri", ""),
]


def q_kg_sparql_update_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-scoped SPARQL Update (WITH <g> DELETE/INSERT WHERE) over the
    per-document quads dataset: archive one document's graph — delete its
    triples, insert an archived marker per subject — leaving every other
    named graph untouched.  Oracle reconstructs the full post-update quad
    set in SQL."""
    from trident_spark.query.sparql import update

    quads = _doc_quads(spark, sf_dir)
    out = update(
        quads,
        f"""
        WITH <{DOC_BASE}/doc/0>
        DELETE {{ ?s ?p ?o }}
        INSERT {{ ?s <{SCHEMA}archived> "true" }}
        WHERE  {{ ?s ?p ?o }}
        """,
    )
    return out.select(
        "subj", "pred", "obj_lexical", "obj_kind", "graph").distinct()


def q_kg_turtle_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize the doc KG to Turtle and parse it back — fully distributed
    (each subject block + @prefix header is a self-contained document row).
    A fixed document with blank-node property lists and a collection rides
    along: parsed (from_turtle), serialized with everything else, parsed
    again — its deterministic labels are literal rows in the oracle.
    The oracle is the independent SQL reconstruction of the triples, so a
    round-trip that loses or mangles one term goes red."""
    from trident_spark.pipeline.sinks import to_turtle, turtle_header
    from trident_spark.pipeline.turtle import from_turtle

    extra = from_turtle(
        spark.createDataFrame([(_EXTRA_TTL,)], "doc string"))
    triples = _distinct_triples(spark, sf_dir).unionByName(extra)
    blocks = to_turtle(triples)
    docs = blocks.select(
        F.concat(F.lit(turtle_header() + "\n"), F.col("block")).alias("doc")
    )
    parsed = from_turtle(docs)
    return parsed.select(
        "subj", "pred", "obj_lexical", "obj_kind",
        F.coalesce("obj_datatype", F.lit("")).alias("obj_datatype"),
    ).distinct()


def q_kg_sparql_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH patterns over a quads dataset (graph = capture url): bind the
    graph term, scope to it a property-path closure inside a NESTED group
    (r4: per-graph path relations thread through nested scope
    compilation) joined with a plain pattern, count per graph —
    exercises dataset semantics (top-level patterns would see only the
    default graph) + per-graph closure + join + aggregate.  provider+
    closes in one hop here (orgs have no provider), so the SQL oracle
    stays the direct reconstruction."""
    from trident_spark.query.sparql import query

    quads = _doc_quads(spark, sf_dir)
    return query(
        quads,
        f"""
        SELECT ?g ?lang (COUNT(?s) AS ?n) WHERE {{
            GRAPH ?g {{
                {{ ?s <{SCHEMA}provider>+ ?org . }}
                ?s <{SCHEMA}inLanguage> ?lang .
            }}
        }} GROUP BY ?g ?lang
        """,
    )


_KG_SPARQL_GRAPH_ORACLE = f"""
SELECT '{DOC_BASE}/doc/' || doc_id AS g, lang, CAST(1 AS BIGINT) AS n
FROM documents
"""


def q_kg_sparql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE query form: forward description (all triples whose subject
    is a described resource) of the orgs whose name starts with 'src1'."""
    from trident_spark.query.sparql import describe

    return describe(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        DESCRIBE ?org WHERE {
            ?org schema:name ?n .
            FILTER(STRSTARTS(?n, "src1"))
        }
        """,
    )


_KG_SPARQL_DESCRIBE_ORACLE = f"""
WITH orgs AS (
  SELECT DISTINCT '{DOC_BASE}/org/' || source AS org, source
  FROM documents WHERE source LIKE 'src1%'
)
SELECT org AS subj, '{RDF_TYPE}' AS pred,
       '{SCHEMA}Organization' AS obj_lexical, 'iri' AS obj_kind FROM orgs
UNION ALL
SELECT org, '{SCHEMA}name', source, 'literal' FROM orgs
"""


def q_kg_nquads_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named graphs: serialize doc triples as N-Quads with the capture url
    as the graph term, parse back, return distinct quads.  Oracle is the
    per-document SQL reconstruction (graph = doc IRI)."""
    from trident_spark.pipeline.sinks import from_nquads, to_nquads

    quads = _doc_quads(spark, sf_dir)
    lines = to_nquads(quads, graph_col="graph")
    parsed = from_nquads(lines)
    return parsed.select(
        "subj", "pred", "obj_lexical", "obj_kind",
        F.coalesce("obj_datatype", F.lit("")).alias("obj_datatype"),
        "graph",
    ).distinct()


_KG_NQUADS_ORACLE = f"""
WITH base AS (
  SELECT '{DOC_BASE}/doc/' || doc_id AS doc,
         '{DOC_BASE}/org/' || source AS org,
         text, lang, source, n_chars
  FROM documents
), t AS (
  SELECT doc AS graph, doc AS subj, '{RDF_TYPE}' AS pred,
         '{SCHEMA}TextDigitalDocument' AS obj_lexical, 'iri' AS obj_kind,
         '' AS obj_datatype FROM base
  UNION ALL SELECT doc, doc, '{SCHEMA}text', text, 'literal', '' FROM base
  UNION ALL SELECT doc, doc, '{SCHEMA}inLanguage', lang, 'literal', '' FROM base
  UNION ALL SELECT doc, doc, '{SCHEMA}characterCount',
                   CAST(n_chars AS VARCHAR), 'literal', '{XSD_INT}' FROM base
  UNION ALL SELECT doc, doc, '{SCHEMA}provider', org, 'iri', '' FROM base
  UNION ALL SELECT doc, org, '{RDF_TYPE}', '{SCHEMA}Organization', 'iri', ''
            FROM base
  UNION ALL SELECT doc, org, '{SCHEMA}name', source, 'literal', '' FROM base
)
SELECT DISTINCT subj, pred, obj_lexical, obj_kind, obj_datatype, graph FROM t
"""

_KG_SPARQL_UPDATE_GRAPH_ORACLE = f"""
WITH allq AS ({_KG_NQUADS_ORACLE})
SELECT DISTINCT subj, pred, obj_lexical, obj_kind, graph
FROM allq WHERE graph <> '{DOC_BASE}/doc/0'
UNION ALL
SELECT DISTINCT subj, '{SCHEMA}archived', 'true', 'literal',
       '{DOC_BASE}/doc/0'
FROM allq WHERE graph = '{DOC_BASE}/doc/0'
"""


def q_kg_jsonld_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone JSON-LD documents: serialize the doc KG as one compact
    node object per subject, parse back with the JSON-LD reader (the same
    kernel that parses embedded ld+json), return distinct triples — the
    oracle is the independent SQL reconstruction."""
    from trident_spark.pipeline.jsonld import from_jsonld, to_jsonld

    triples = _distinct_triples(spark, sf_dir)
    parsed = from_jsonld(to_jsonld(triples))
    return parsed.select(
        "subj", "pred", "obj_lexical", "obj_kind",
        F.coalesce("obj_datatype", F.lit("")).alias("obj_datatype"),
    ).distinct()


def q_kg_trig_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TriG (named-graph Turtle): serialize the per-document quads as
    `<g> { block }` chunks, parse back with the TriG reader, return
    distinct quads — the oracle is the same independent per-document SQL
    reconstruction the N-Quads round-trip uses."""
    from trident_spark.pipeline.sinks import to_trig, turtle_header
    from trident_spark.pipeline.turtle import from_trig

    quads = _doc_quads(spark, sf_dir)
    chunks = to_trig(quads)
    docs = chunks.select(
        F.concat(F.lit(turtle_header() + "\n"), F.col("chunk")).alias("doc"))
    parsed = from_trig(docs)
    return parsed.select(
        "subj", "pred", "obj_lexical", "obj_kind",
        F.coalesce("obj_datatype", F.lit("")).alias("obj_datatype"),
        "graph",
    ).distinct()


def q_kg_jsonld_quads_roundtrip(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """JSON-LD dataset documents: the per-document quads serialized as
    {"@id": g, "@graph": [node]} shards, parsed back with the dataset
    reader — same independent SQL reconstruction oracle as N-Quads."""
    from trident_spark.pipeline.jsonld import (
        from_jsonld_quads, to_jsonld_quads,
    )

    quads = _doc_quads(spark, sf_dir)
    parsed = from_jsonld_quads(to_jsonld_quads(quads))
    return parsed.select(
        "subj", "pred", "obj_lexical", "obj_kind",
        F.coalesce("obj_datatype", F.lit("")).alias("obj_datatype"),
        "graph",
    ).distinct()


def q_kg_quads_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union suite of the three named-graph round-trips (window
    consolidation, r4): the same per-document quads serialized+parsed
    via N-Quads lines, TriG `<g> { block }` chunks, and JSON-LD dataset
    documents; each leg keeps its standalone mirror in extra_queries()."""
    nq = q_kg_nquads_roundtrip(spark, sf_dir) \
        .withColumn("suite", F.lit("nquads"))
    tg = q_kg_trig_roundtrip(spark, sf_dir) \
        .withColumn("suite", F.lit("trig"))
    jq = q_kg_jsonld_quads_roundtrip(spark, sf_dir) \
        .withColumn("suite", F.lit("jsonld"))
    return nq.unionByName(tg).unionByName(jq)


_KG_QUADS_ROUNDTRIP_ORACLE = f"""
WITH rt AS ({_KG_NQUADS_ORACLE})
SELECT subj, pred, obj_lexical, obj_kind, obj_datatype, graph,
       'nquads' AS suite FROM rt
UNION ALL
SELECT subj, pred, obj_lexical, obj_kind, obj_datatype, graph,
       'trig' AS suite FROM rt
UNION ALL
SELECT subj, pred, obj_lexical, obj_kind, obj_datatype, graph,
       'jsonld' AS suite FROM rt
"""


def q_kg_rdfxml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF/XML (the dominant legacy dump format): serialize the doc KG as
    one self-contained single-line document per subject, parse back with
    the strict RDF/XML reader, return distinct triples — the oracle is
    the independent SQL reconstruction, so a divergence in XML escaping,
    QName splitting, or the parser goes red."""
    from trident_spark.pipeline.rdfxml import from_rdfxml, to_rdfxml

    triples = _distinct_triples(spark, sf_dir)
    parsed = from_rdfxml(to_rdfxml(triples))
    return parsed.select(
        "subj", "pred", "obj_lexical", "obj_kind",
        F.coalesce("obj_datatype", F.lit("")).alias("obj_datatype"),
    ).distinct()


def q_kg_text_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extracted text must round-trip byte-identically per url."""
    from trident_spark.pipeline.docs_to_pages import docs_to_page_results

    results = docs_to_page_results(_read(spark, sf_dir, "documents"))
    return results.agg(
        F.count("*").alias("n_pages"),
        F.sum(F.when(F.col("text_ok"), 0).otherwise(1)).alias("n_violations"),
    )


_KG_TEXT_INVARIANT_ORACLE = (
    "SELECT COUNT(*) AS n_pages, 0 AS n_violations FROM documents"
)


# ---------------------------------------------------------------------------
# KG analytics: top-k hubs, snapshot diff, full pipeline
# ---------------------------------------------------------------------------


def q_kg_top_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most-connected subjects of the doc KG (C18 top-k)."""
    from trident_spark.pipeline.diff import top_hubs

    return top_hubs(_distinct_triples(spark, sf_dir), k=10)


_KG_TOP_HUBS_ORACLE = f"""
SELECT '{DOC_BASE}/doc/' || doc_id AS subj, 5 AS degree
FROM documents ORDER BY subj ASC LIMIT 10
"""


def q_kg_triple_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (C19): triples removed when dropping half the corpus."""
    from trident_spark.pipeline.diff import triple_diff

    docs = _read(spark, sf_dir, "documents")
    half = docs.where(F.col("doc_id") % 2 == 0)
    from trident_spark.pipeline import extract_stage, kg
    from trident_spark.pipeline.docs_to_pages import docs_to_page_results

    def triples_of(d):
        return kg.skolemize(
            extract_stage.raw_triples(docs_to_page_results(d))
        )

    # the full-corpus side is exactly the cached extraction — only the
    # half-corpus side needs a fresh Python pass
    return triple_diff(triples_of(half), _doc_triples(spark, sf_dir)).select(
        "subj", "pred", "obj_lexical", "obj_kind",
        F.coalesce("obj_datatype", F.lit("")).alias("obj_datatype"),
        "change",
    )


_KG_TRIPLE_DIFF_ORACLE = f"""
WITH odd AS (
  SELECT '{DOC_BASE}/doc/' || doc_id AS doc,
         '{DOC_BASE}/org/' || source AS org,
         text, lang, source, n_chars
  FROM documents WHERE doc_id % 2 = 1
), gone AS (  -- orgs whose every document is odd disappear entirely
  SELECT '{DOC_BASE}/org/' || source AS org, source
  FROM documents GROUP BY source
  HAVING COUNT(*) FILTER (WHERE doc_id % 2 = 0) = 0
), t AS (
  SELECT doc AS subj, '{RDF_TYPE}' AS pred,
         '{SCHEMA}TextDigitalDocument' AS obj_lexical, 'iri' AS obj_kind,
         '' AS obj_datatype FROM odd
  UNION ALL SELECT doc, '{SCHEMA}text', text, 'literal', '' FROM odd
  UNION ALL SELECT doc, '{SCHEMA}inLanguage', lang, 'literal', '' FROM odd
  UNION ALL SELECT doc, '{SCHEMA}characterCount', CAST(n_chars AS VARCHAR),
                   'literal', '{XSD_INT}' FROM odd
  UNION ALL SELECT doc, '{SCHEMA}provider', org, 'iri', '' FROM odd
  UNION ALL SELECT org, '{RDF_TYPE}', '{SCHEMA}Organization', 'iri', '' FROM gone
  UNION ALL SELECT org, '{SCHEMA}name', source, 'literal', '' FROM gone
)
SELECT DISTINCT subj, pred, obj_lexical, obj_kind, obj_datatype,
       'removed' AS change
FROM t
"""


def q_kg_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline incl. linking + connected components on the synthetic
    web corpus (pages synthesized deterministically per north rule).

    Oracle: an independent pure-Python reimplementation of the same
    semantics (spec-derived triples, linking rules, union-find CC,
    pure-Python Spark-compatible xxhash64 ids) — pipeline/golden.py —
    emitted as a VALUES table, covering C11-C14 end-to-end."""
    from trident_spark.pipeline import build_kg
    from trident_spark.pipeline.alias_dict import alias_dict_df
    from trident_spark.pipeline.pages import pages_df

    pages = pages_df(spark, 200)
    result = build_kg(pages, alias_dict=alias_dict_df(spark))
    return result.triples.select("subj_id", "pred_id", "obj_id")


def _kg_full_pipeline_oracle() -> str:
    from trident_spark.pipeline.golden import full_pipeline_golden_ids

    return _values_sql(full_pipeline_golden_ids(200),
                       ("subj_id", "pred_id", "obj_id"))


def q_kg_sparql_bind_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery (inner GROUP BY aggregation) joined to the outer pattern,
    plus BIND computing a label from an outer binding — one driver row
    covering both features."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        SELECT DISTINCT ?label ?n WHERE {
            ?org a schema:Organization ; schema:name ?nm .
            { SELECT ?org (COUNT(?d) AS ?n) WHERE {
                ?d schema:provider ?org } GROUP BY ?org }
            BIND(CONCAT("ORG:", UCASE(?nm)) AS ?label)
        }
        """,
    )


_KG_SPARQL_BIND_SUBQUERY_ORACLE = """
SELECT 'ORG:' || UPPER(source) AS label, COUNT(*) AS n
FROM documents GROUP BY source
"""


def q_kg_sparql_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 function library end-to-end: STR/UCASE/SUBSTR/REPLACE/
    STRAFTER/STRBEFORE/IF/COALESCE/IN/sameTerm/arithmetic/TIMEZONE (r5:
    xsd:dayTimeDuration lexical — Z, +05:30 and -04:00 offsets) in FILTER
    and BIND, every value independently recomputed by the DuckDB oracle."""
    from trident_spark.query.sparql import query

    return query(
        _distinct_triples(spark, sf_dir),
        """
        PREFIX schema: <https://schema.org/>
        SELECT DISTINCT ?doc ?langU ?srcnum ?sizeclass ?nlen ?nmh ?tzd WHERE {
            ?doc schema:provider ?org ;
                 schema:inLanguage ?lang ;
                 schema:characterCount ?n .
            ?org schema:name ?nm .
            FILTER(sameTerm(?lang, ?lang) && isNUMERIC(?n) &&
                   ?nm IN ("src1", "src2", "src3", "src4"))
            BIND(UCASE(STR(?lang)) AS ?langU)
            BIND(REPLACE(STRAFTER(?nm, "src"), "1", "9") AS ?srcnum)
            BIND(IF(?n * 2 >= 1000, "big",
                    COALESCE(STRBEFORE(?nm, "rc"), "small")) AS ?sizeclass)
            BIND(STRLEN(?nm) - 1 AS ?nlen)
            BIND(MD5(?nm) AS ?nmh)
            BIND(TIMEZONE(CONCAT("2024-03-01T12:00:00",
                 IF(?nm = "src1", "Z",
                    IF(?nm = "src2", "+05:30", "-04:00")))) AS ?tzd)
        }
        """,
    ).withColumn("nlen", F.col("nlen").cast("long"))


_KG_SPARQL_FUNCTIONS_ORACLE = f"""
SELECT DISTINCT '{DOC_BASE}/doc/' || doc_id AS doc,
       UPPER(lang) AS langU,
       REPLACE(substr(source, 4), '1', '9') AS srcnum,
       CASE WHEN n_chars * 2 >= 1000 THEN 'big' ELSE 's' END AS sizeclass,
       CAST(length(source) - 1 AS BIGINT) AS nlen,
       md5(source) AS nmh,
       CASE WHEN source = 'src1' THEN 'PT0S'
            WHEN source = 'src2' THEN 'PT5H30M'
            ELSE '-PT4H' END AS tzd
FROM documents
WHERE source IN ('src1', 'src2', 'src3', 'src4')
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-verified set — kept ≤50 entries so every row gets a hard
    CORRECTNESS check (the driver verifies at most the first 50).  Queries
    that were consolidated into a suite live in extra_queries() and are
    oracle-checked by the local bit-faithful mirror
    (tests/test_entry_contract.py)."""
    return {
        # --- KG pipeline + SPARQL surface ---
        "kg_doc_triples": q_kg_doc_triples,
        "kg_predicate_stats": q_kg_predicate_stats,
        "kg_sparql_bgp": q_kg_sparql_bgp,
        "kg_sparql_optional": q_kg_sparql_optional,
        "kg_sparql_agg_having": q_kg_sparql_having,
        "kg_sparql_union": q_kg_sparql_union,
        "kg_sparql_path": q_kg_sparql_path,
        "kg_sparql_minus_values": q_kg_sparql_minus_values,
        "kg_sparql_exists": q_kg_sparql_exists,
        "kg_sparql_bind_subquery": q_kg_sparql_bind_subquery,
        "kg_sparql_functions": q_kg_sparql_functions,
        "kg_sparql_ask": q_kg_sparql_ask,
        "kg_sparql_construct": q_kg_sparql_construct,
        "kg_rdfstar_reify": q_kg_rdfstar_reify,
        "kg_sparql_star": q_kg_sparql_star,
        "kg_sparql_graph": q_kg_sparql_graph,
        "kg_sparql_describe": q_kg_sparql_describe,
        "kg_sparql_datatype": q_kg_sparql_datatype,
        "kg_sparql_update": q_kg_sparql_update,
        "kg_sparql_update_graph": q_kg_sparql_update_graph,
        "kg_turtle_roundtrip": q_kg_turtle_roundtrip,
        "kg_quads_roundtrip": q_kg_quads_roundtrip,
        "kg_jsonld_roundtrip": q_kg_jsonld_roundtrip,
        "kg_rdfxml_roundtrip": q_kg_rdfxml_roundtrip,
        "kg_text_invariant": q_kg_text_invariant,
        "kg_top_hubs": q_kg_top_hubs,
        "kg_triple_diff": q_kg_triple_diff,
        "kg_full_pipeline": q_kg_full_pipeline,
        # --- RFC conformance (consolidated per kernel family) ---
        "iri_conformance": q_iri_conformance,
        "langtag_conformance": q_langtag_conformance,
    }


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Oracle-checked locally (tests/test_entry_contract.py runs the same
    bit-faithful canonicalization as the driver) but kept out of the
    driver's 50-query window: the per-vector conformance queries now
    consolidated into {iri,langtag}_conformance, the single-purpose SPARQL
    queries consolidated into agg_having / bind_subquery, and the
    single-format named-graph round-trips behind kg_quads_roundtrip."""
    return {
        "iri_resolve_rfc3986": q_iri_resolve,
        "iri_normalize_rfc3986": q_iri_normalize,
        "iri_to_uri_rfc3987": q_iri_to_uri,
        "uri_to_iri_rfc3987": q_uri_to_iri,
        "iri_relativize": q_iri_relativize,
        "langtag_normalize_rfc5646": q_langtag_normalize,
        "langtag_parse_rfc5646": q_langtag_parse,
        "iri_parse_wellformed": q_iri_parse_wellformed,
        "iri_reject_invalid": q_iri_reject_invalid,
        "langtag_reject_invalid": q_langtag_reject_invalid,
        "langtag_extlang_form": q_langtag_extlang_form,
        "kg_bgp_provider": q_kg_bgp_provider,
        "kg_nquads_roundtrip": q_kg_nquads_roundtrip,
        "kg_trig_roundtrip": q_kg_trig_roundtrip,
        "kg_jsonld_quads_roundtrip": q_kg_jsonld_quads_roundtrip,
        "kg_sparql_agg": q_kg_sparql_agg,
        "kg_sparql_scope": q_kg_sparql_scope,
        "kg_sparql_having": q_kg_sparql_having,
        "kg_sparql_bind": q_kg_sparql_bind,
        "kg_sparql_subquery": q_kg_sparql_subquery,
    }


def _iri_parse_wellformed_oracle() -> str:
    from trident_spark.conformance import PARSE_VALID_REFS

    return _values_sql([(v, v, True) for v in PARSE_VALID_REFS],
                       ("input", "stored", "valid"))


def _reject_oracle_iri() -> str:
    from trident_spark.conformance import PARSE_INVALID_REFS

    return _values_sql([(v, True) for v in PARSE_INVALID_REFS],
                       ("input", "rejected"))


def _reject_oracle_langtag() -> str:
    from trident_spark.conformance import (
        LANGTAG_NORMALIZE_INVALID, LANGTAG_PARSE_INVALID,
    )

    rows = [(t, "parse", True) for t in LANGTAG_PARSE_INVALID]
    rows += [(t, "normalize", True) for t in LANGTAG_NORMALIZE_INVALID]
    return _values_sql(rows, ("tag", "mode", "rejected"))


def _extlang_oracle() -> str:
    from trident_spark.conformance import EXTLANG_FORM_CASES

    return _values_sql(list(EXTLANG_FORM_CASES), ("tag", "extlang_form"))


def oracle_sql() -> dict[str, str]:
    return {
        "kg_doc_triples": _KG_TRIPLES_ORACLE,
        "kg_predicate_stats": _KG_PRED_STATS_ORACLE,
        "kg_sparql_bgp": _KG_BGP_ORACLE,
        "kg_sparql_optional": _KG_SPARQL_OPTIONAL_ORACLE,
        "kg_sparql_agg_having": _KG_SPARQL_HAVING_ORACLE,
        "kg_sparql_union": _KG_SPARQL_UNION_ORACLE,
        "kg_sparql_path": f"SELECT DISTINCT doc, org_name FROM ({_KG_BGP_ORACLE}) b",
        "kg_sparql_minus_values": _KG_SPARQL_MINUS_VALUES_ORACLE,
        "kg_sparql_exists": _KG_SPARQL_EXISTS_ORACLE,
        "kg_sparql_bind_subquery": _KG_SPARQL_BIND_SUBQUERY_ORACLE,
        "kg_sparql_functions": _KG_SPARQL_FUNCTIONS_ORACLE,
        "kg_sparql_ask": _KG_SPARQL_ASK_ORACLE,
        "kg_sparql_construct": _KG_SPARQL_CONSTRUCT_ORACLE,
        "kg_rdfstar_reify": _KG_RDFSTAR_ORACLE,
        "kg_sparql_star": _KG_SPARQL_STAR_ORACLE,
        "kg_sparql_graph": _KG_SPARQL_GRAPH_ORACLE,
        "kg_sparql_describe": _KG_SPARQL_DESCRIBE_ORACLE,
        "kg_sparql_datatype": _KG_SPARQL_DATATYPE_ORACLE,
        "kg_sparql_update": _KG_SPARQL_UPDATE_ORACLE,
        "kg_sparql_update_graph": _KG_SPARQL_UPDATE_GRAPH_ORACLE,
        # round-trip must reproduce the same independent reconstruction,
        # plus the fixed [...]/(...) document's deterministic triples
        "kg_turtle_roundtrip": (
            f"SELECT * FROM ({_KG_TRIPLES_ORACLE}) base UNION ALL "
            + _values_sql(_EXTRA_TTL_ROWS,
                          ("subj", "pred", "obj_lexical", "obj_kind",
                           "obj_datatype"))),
        "kg_quads_roundtrip": _KG_QUADS_ROUNDTRIP_ORACLE,
        "kg_jsonld_roundtrip": _KG_TRIPLES_ORACLE,
        "kg_rdfxml_roundtrip": _KG_TRIPLES_ORACLE,
        "kg_text_invariant": _KG_TEXT_INVARIANT_ORACLE,
        "kg_top_hubs": _KG_TOP_HUBS_ORACLE,
        "kg_triple_diff": _KG_TRIPLE_DIFF_ORACLE,
        "kg_full_pipeline": _kg_full_pipeline_oracle(),
        "iri_conformance": _iri_conformance_oracle(),
        "langtag_conformance": _langtag_conformance_oracle(),
    }


def extra_oracle_sql() -> dict[str, str]:
    """Oracles for extra_queries() — exercised by the local mirror only."""
    return {
        "iri_resolve_rfc3986": _values_sql(_iri_resolve_vectors(), ("rel", "resolved")),
        "iri_normalize_rfc3986": _values_sql(_iri_normalize_vectors(), ("input", "normalized")),
        "iri_to_uri_rfc3987": _values_sql(_iri_to_uri_vectors(), ("input", "uri")),
        "uri_to_iri_rfc3987": _values_sql(_uri_to_iri_vectors(), ("input", "iri")),
        "iri_relativize": _values_sql(_relativize_vectors(), ("base", "target", "rel")),
        "langtag_normalize_rfc5646": _values_sql(_langtag_vectors(), ("tag", "canonical")),
        "langtag_parse_rfc5646": _values_sql(_langtag_parse_vectors(), ("tag", "wellformed")),
        "iri_parse_wellformed": _iri_parse_wellformed_oracle(),
        "iri_reject_invalid": _reject_oracle_iri(),
        "langtag_reject_invalid": _reject_oracle_langtag(),
        "langtag_extlang_form": _extlang_oracle(),
        "kg_bgp_provider": _KG_BGP_ORACLE,
        "kg_nquads_roundtrip": _KG_NQUADS_ORACLE,
        "kg_trig_roundtrip": _KG_NQUADS_ORACLE,
        "kg_jsonld_quads_roundtrip": _KG_NQUADS_ORACLE,
        "kg_sparql_agg": _KG_SPARQL_AGG_ORACLE,
        "kg_sparql_scope": _KG_SPARQL_SCOPE_ORACLE,
        "kg_sparql_having": _KG_SPARQL_HAVING_ORACLE,
        "kg_sparql_bind": _KG_SPARQL_BIND_ORACLE,
        "kg_sparql_subquery": _KG_SPARQL_SUBQUERY_ORACLE,
    }
