"""KG materialization: raw triples → skolemized, dictionary-encoded
terms + triples tables (the pair *is* the graph, README.md:73-83
generalized to DataFrames).

Everything in this module is pure Catalyst (no Python UDFs): skolemization,
term-id hashing, dedup and stats are all whole-stage-codegen expressions, so
this is the cheap half of the pipeline at 100 TB.

Determinism: term ids are ``xxhash64(kind, lexical, datatype, lang)`` — a
pure function of content — so retries, resumes and independent runs assign
identical ids (SURVEY.md §4.3: never ``monotonically_increasing_id``).
Blank nodes are skolemized with sha2(url|warc_ts|label), making them stable
per capture (north_star: "deterministic url+warc_ts hashing").

One RDF term, one id (RDF 1.1 Concepts §3.3): :func:`term_id` hashes an
``xsd:string`` datatype as absent (a simple literal *is* an xsd:string
literal) and the language tag case-folded (tags compare
case-insensitively), so ``"x"``/``"x"^^xsd:string`` and ``"x"@en``/
``"x"@EN`` share an id, and a query that compares ids compares terms.
The dictionary stores each id once, in the least of its spellings
(:func:`one_row_per_id`), with tags kept as written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SKOLEM_PREFIX = "https://trident-spark.dev/.well-known/genid/"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

# the lexical triple frame every parser returns and ``decode_triples``
# rebuilds; a quads frame adds ", graph string"
TRIPLE_SCHEMA = (
    "subj string, pred string, obj_lexical string, obj_kind string, "
    "obj_datatype string, obj_lang string"
)


def _skolem(url_col, ts_col, label_col):
    return F.concat(
        F.lit(SKOLEM_PREFIX),
        F.sha2(
            F.concat_ws("|", url_col, F.date_format(ts_col, "yyyy-MM-dd'T'HH:mm:ss"), label_col),
            256,
        ),
    )


def skolemize(raw: DataFrame) -> DataFrame:
    """Replace blank-node labels (``_:bN``) with deterministic IRIs (C10)."""
    subj_is_blank = F.col("subj").startswith("_:")
    obj_is_blank = F.col("obj_kind") == "blank"
    return raw.select(
        "url",
        "warc_ts",
        F.when(subj_is_blank, _skolem(F.col("url"), F.col("warc_ts"), F.col("subj")))
        .otherwise(F.col("subj"))
        .alias("subj"),
        "pred",
        F.when(obj_is_blank, _skolem(F.col("url"), F.col("warc_ts"), F.col("obj_lexical")))
        .otherwise(F.col("obj_lexical"))
        .alias("obj_lexical"),
        F.when(obj_is_blank, F.lit("iri")).otherwise(F.col("obj_kind")).alias("obj_kind"),
        "obj_datatype",
        "obj_lang",
        "source",
    )


def normalize_literal_langs(skolemized: DataFrame) -> DataFrame:
    """Canonicalize literal language tags per RFC 5646 §4.5 (kernel A28).

    Valid tags are replaced by their canonical form (``EN-us`` → ``en-US``,
    ``i-klingon`` → ``tlh``); invalid tags are dropped to null (an RDF
    literal with a bogus langtag is worse than a plain literal).

    Note: Spark evaluates Python UDFs in a separate ArrowEvalPython node
    before any when()-gating, so every row crosses the Arrow boundary; the
    per-batch cost is still O(distinct tags) because the UDF dedups its
    batch internally (langtag_funcs._langtag_udf).
    """
    from trident_spark.functions.langtag_funcs import langtag_normalize

    # RDF 1.2 base direction rides on the tag as `--ltr`/`--rtl` (the
    # N-Triples 1.2 surface form): canonicalize the tag part, re-attach
    # the direction.  A malformed direction suffix leaves '--' inside the
    # tag handed to the kernel, which rejects it → null, same as any
    # other bogus tag.
    lang = F.col("obj_lang")
    direction = F.regexp_extract(lang, "--(ltr|rtl)$", 1)
    base = F.regexp_replace(lang, "--(ltr|rtl)$", "")
    norm = langtag_normalize(base)["tag"]
    return skolemized.withColumn(
        "obj_lang",
        F.when(lang.isNull(), F.lit(None).cast("string"))
        .when((direction != "") & norm.isNotNull(),
              F.concat(norm, F.lit("--"), direction))
        .when(direction != "", F.lit(None).cast("string"))
        .otherwise(norm),
    )


def subject_kind(col):
    """Kind of a subject (or graph name) term: an unskolemized ``_:``
    label is a blank node, the kind the object slot records for it, so a
    blank node has one term id in every slot."""
    return F.when(col.startswith("_:"), F.lit("blank")).otherwise(F.lit("iri"))


def term_id(kind_col, lexical_col, datatype_col=None, lang_col=None):
    """Deterministic 64-bit id of an RDF term: ``xxhash64`` of its kind,
    lexical form, datatype with ``xsd:string`` as absent, and language
    tag lowercased (absent = "").  Two spellings of one term get one id."""
    empty = F.lit("")
    return F.xxhash64(
        kind_col,
        lexical_col,
        empty if datatype_col is None
        else F.coalesce(F.nullif(datatype_col, F.lit(XSD_STRING)), empty),
        empty if lang_col is None else F.coalesce(F.lower(lang_col), empty),
    )


def term_columns(kind, lexical, datatype=None, lang=None) -> dict:
    """A term's dictionary row as Columns (term_id, kind, lexical,
    datatype, lang), its datatype canonical: ``xsd:string`` is absent."""
    null = F.lit(None).cast("string")
    dt = null if datatype is None else F.nullif(datatype, F.lit(XSD_STRING))
    return {"term_id": term_id(kind, lexical, datatype, lang), "kind": kind,
            "lexical": lexical, "datatype": dt,
            "lang": null if lang is None else lang}


def one_row_per_id(terms: DataFrame) -> DataFrame:
    """``terms`` with each ``term_id`` once: of the spellings one id has
    (``"x"@en``/``"x"@EN``), the least (kind, lexical, datatype, lang), so
    any partitioning keeps the same row."""
    least = F.min(F.struct("kind", "lexical", "datatype", "lang"))
    return terms.groupBy("term_id").agg(least.alias("t")).select(
        "term_id", "t.*")


def _slot_terms() -> dict[str, dict]:
    """The subject, predicate and object of a skolemized row as
    :func:`term_columns`."""
    subj = F.col("subj")
    return {"subj": term_columns(subject_kind(subj), subj),
            "pred": term_columns(F.lit("iri"), F.col("pred")),
            "obj": term_columns(F.col("obj_kind"), F.col("obj_lexical"),
                                F.col("obj_datatype"), F.col("obj_lang"))}


def _term_rows(skolemized: DataFrame) -> DataFrame:
    """Every subject, predicate and object of ``skolemized`` as a
    dictionary row, one per slot of each triple."""
    subj, pred, obj = [skolemized.select(*[c.alias(n) for n, c in t.items()])
                       for t in _slot_terms().values()]
    return subj.unionByName(pred).unionByName(obj)


def encode_triples(skolemized: DataFrame) -> tuple[DataFrame, DataFrame]:
    """→ (terms, triples): dictionary-encoded edge list + term table (C14).

    ids are content hashes, so the triples side needs **no join** with the
    dictionary — both sides compute the same hash expression (shuffle-free
    encoding; the only shuffle here is :func:`one_row_per_id`'s).
    """
    triples = skolemized.select(
        *[t["term_id"].alias(f"{slot}_id")
          for slot, t in _slot_terms().items()],
        "url", "warc_ts", "source")
    return one_row_per_id(_term_rows(skolemized)), triples


def decode_triples(triples: DataFrame, terms: DataFrame) -> DataFrame:
    """Inverse of :func:`encode_triples` for querying: join the edge ids
    back through the dictionary, rebuilding the 6-column lexical frame
    the lexical SPARQL engine consumes.  Three hash joins on the terms
    table (subjects/predicates are always IRIs post-skolemize, so only
    the object position carries kind/datatype/lang).

    ``sparql.query_encoded`` answers as ``query`` does over this frame
    without building it; ``kgbench`` builds it as the query workload's
    lexical frame.  The warehouse tables hold the CANONICAL
    (entity-linked, CC-rewritten) KG, while the ntriples export is the
    assertion-level record (linking as explicit owl:sameAs); parsing the
    export would answer over a different graph.

    Inner joins are safe here BY CONSTRUCTION: encode_triples derives the
    term table and the edge ids from the same rows in one pass, so every
    edge id has a dictionary row (the round-trip test counts both sides).
    A hand-built warehouse with dangling ids would silently drop triples —
    run a count parity check first if the tables come from elsewhere."""
    t = terms.select("term_id", "lexical", "kind", "datatype", "lang")
    return (
        triples
        .join(t.select(F.col("term_id").alias("subj_id"),
                       F.col("lexical").alias("subj")), "subj_id")
        .join(t.select(F.col("term_id").alias("pred_id"),
                       F.col("lexical").alias("pred")), "pred_id")
        .join(t.select(F.col("term_id").alias("obj_id"),
                       F.col("lexical").alias("obj_lexical"),
                       F.col("kind").alias("obj_kind"),
                       F.col("datatype").alias("obj_datatype"),
                       F.col("lang").alias("obj_lang")), "obj_id")
        .select("subj", "pred", "obj_lexical", "obj_kind",
                "obj_datatype", "obj_lang")
    )


def dedup_triples(triples: DataFrame) -> DataFrame:
    """RDF graphs are sets: distinct (s,p,o), keeping the earliest capture.

    Provenance is the min over (warc_ts, url) *pairs* — aggregating the two
    columns independently could fabricate a (url, ts) combination that never
    existed, breaking joins back to page_results/lineage.
    """
    first = F.min(F.struct("warc_ts", "url")).alias("first_capture")
    return (
        triples.groupBy("subj_id", "pred_id", "obj_id")
        .agg(first, F.count("*").alias("n_mentions"))
        .select(
            "subj_id", "pred_id", "obj_id",
            F.col("first_capture.url").alias("url"),
            F.col("first_capture.warc_ts").alias("warc_ts"),
            "n_mentions",
        )
    )


def assert_no_id_collisions(skolemized: DataFrame) -> int:
    """Safety check: the number of term ids that :func:`encode_triples`
    would give to more than one term (an xxhash64 collision), counted
    over ``skolemized``'s rows before the dictionary keeps one per id."""
    term = F.struct("kind", "lexical", "datatype", F.lower("lang"))
    return (
        _term_rows(skolemized).groupBy("term_id")
        .agg(F.countDistinct(term).alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
