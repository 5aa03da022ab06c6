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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SKOLEM_PREFIX = "https://trident-spark.dev/.well-known/genid/"

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
    """Deterministic 64-bit id from canonical term content."""
    empty = F.lit("")
    return F.xxhash64(
        kind_col,
        lexical_col,
        empty if datatype_col is None else F.coalesce(datatype_col, empty),
        empty if lang_col is None else F.coalesce(lang_col, empty),
    )


def encode_triples(skolemized: DataFrame) -> tuple[DataFrame, DataFrame]:
    """→ (terms, triples): dictionary-encoded edge list + term table (C14).

    ids are content hashes, so the triples side needs **no join** with the
    dictionary — both sides compute the same hash expression (shuffle-free
    encoding; the only shuffles here are the two dropDuplicates).
    """
    with_ids = skolemized.select(
        "url",
        "warc_ts",
        "source",
        term_id(subject_kind(F.col("subj")), F.col("subj")).alias("subj_id"),
        term_id(F.lit("iri"), F.col("pred")).alias("pred_id"),
        term_id(
            F.col("obj_kind"), F.col("obj_lexical"), F.col("obj_datatype"), F.col("obj_lang")
        ).alias("obj_id"),
        "subj", "pred", "obj_lexical", "obj_kind", "obj_datatype", "obj_lang",
    )

    subj_terms = with_ids.select(
        F.col("subj_id").alias("term_id"), subject_kind(F.col("subj")).alias("kind"),
        F.col("subj").alias("lexical"),
        F.lit(None).cast("string").alias("datatype"),
        F.lit(None).cast("string").alias("lang"),
    )
    pred_terms = with_ids.select(
        F.col("pred_id").alias("term_id"), F.lit("iri").alias("kind"),
        F.col("pred").alias("lexical"),
        F.lit(None).cast("string").alias("datatype"),
        F.lit(None).cast("string").alias("lang"),
    )
    obj_terms = with_ids.select(
        F.col("obj_id").alias("term_id"), F.col("obj_kind").alias("kind"),
        F.col("obj_lexical").alias("lexical"),
        F.col("obj_datatype").alias("datatype"), F.col("obj_lang").alias("lang"),
    )
    terms = subj_terms.unionByName(pred_terms).unionByName(obj_terms).dropDuplicates(
        ["term_id"]
    )

    triples = with_ids.select(
        "subj_id", "pred_id", "obj_id", "url", "warc_ts", "source"
    )
    return terms, triples


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


def assert_no_id_collisions(terms: DataFrame) -> int:
    """Safety check: xxhash64 collision across distinct lexical forms."""
    return (
        terms.groupBy("term_id")
        .agg(F.countDistinct("kind", "lexical", "datatype", "lang").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
