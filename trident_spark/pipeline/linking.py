"""Entity linking: mention literals → canonical KB IRIs (C11-C12).

Candidates join on the normalized alias key, ``lower(trim(alias)) =
lower(trim(mention))``, so every candidate matches its mention exactly and
its score, ``0.7 + 0.3·prior``, is a property of the dictionary row alone.
Linking therefore scores and filters the small dictionary once, broadcast-
joins it against the mention rows, and takes one ``groupBy`` per
(subject, alias key): the top candidate (score desc, then IRI asc) and the
first capture (min ``(warc_ts, url)``), so the output does not depend on
partitioning.

The output is a set of owl:sameAs edges feeding canonicalization (cc.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from trident_spark.pipeline.kg import term_id

SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"
KB_PREFIX = "https://kb.trident-spark.dev/entity/"
MIN_SCORE = 0.5

# predicates whose literal objects are entity mentions worth linking
MENTION_PREDICATES = (
    "https://schema.org/name",
    "https://trident-spark.dev/svo/works_for",
    "https://trident-spark.dev/svo/born_in",
    "https://trident-spark.dev/svo/located_in",
    "https://schema.org/homeLocation",
)

_KEY = ["mention_subj", "alias_key"]


def _mention_rows(skolemized: DataFrame) -> DataFrame:
    """Literal objects of mention-bearing predicates, one row per capture."""
    return skolemized.where(
        (F.col("obj_kind") == "literal")
        & F.col("pred").isin(*MENTION_PREDICATES)
    ).select(
        F.col("subj").alias("mention_subj"),
        F.lower(F.trim(F.col("obj_lexical"))).alias("alias_key"),
        "url",
        "warc_ts",
    )


def extract_mentions(skolemized: DataFrame) -> DataFrame:
    """→ distinct mentions (mention_subj, alias_key)."""
    return _mention_rows(skolemized).select(*_KEY).distinct()


def link_entities(skolemized: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """→ sameAs edges (subj term, canonical IRI), one per linked mention.

    alias_dict(alias string, canonical_iri string, prior double) must be
    small enough to broadcast (an alias table is O(10^7) rows ≪ the corpus).
    A row links at score ``0.7 + 0.3·prior >= MIN_SCORE``; a null or NaN
    prior never links.
    """
    score = F.lit(0.7) + F.col("prior").cast("double") * F.lit(0.3)
    # Spark orders NaN above every double, so NaN >= MIN_SCORE holds
    cands = alias_dict.select(
        F.lower(F.trim(F.col("alias"))).alias("alias_key"),
        "canonical_iri",
        score.alias("score"),
    ).where((F.col("score") >= MIN_SCORE) & ~F.isnan("score"))
    top = (
        _mention_rows(skolemized)
        .join(F.broadcast(cands), "alias_key")
        .groupBy(*_KEY)
        .agg(
            F.min(F.struct((-F.col("score")).alias("neg_score"),
                           "canonical_iri")).alias("top"),
            F.min(F.struct("warc_ts", "url")).alias("first"),
        )
    )
    return top.select(
        F.col("mention_subj").alias("subj"),
        F.lit(SAME_AS).alias("pred"),
        F.col("top.canonical_iri").alias("obj_lexical"),
        F.lit("iri").alias("obj_kind"),
        F.col("first.url").alias("url"),
        F.col("first.warc_ts").alias("warc_ts"),
        (-F.col("top.neg_score")).alias("score"),
    )


def same_as_triples(same_as: DataFrame) -> DataFrame:
    """sameAs edges in the skolemized-triple schema, so they join the graph
    (and their canonical IRIs enter the term dictionary)."""
    return same_as.select(
        "url",
        "warc_ts",
        "subj",
        "pred",
        "obj_lexical",
        "obj_kind",
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit("linking").alias("source"),
    )


def same_as_id_edges(same_as: DataFrame) -> DataFrame:
    """sameAs IRI pairs → (src_id, dst_id) long edges for cc.py."""
    return same_as.select(
        term_id(F.lit("iri"), F.col("subj")).alias("src"),
        term_id(F.lit("iri"), F.col("obj_lexical")).alias("dst"),
    )
