"""RDF 1.2 triple terms (RDF-star) as DataFrame transforms.

The reference targets "RDF 1.2 and SPARQL 1.2" (/root/reference/README.md:
33-34).  This module implements the RDF 1.2 WD data model, where a triple
term ``<<( s p o )>>`` is a first-class *object* term (never a subject) and
statement-about-statement goes through a reifier:

    _:r rdf:reifies <<( :doc schema:provider :org )>> .
    _:r prov:value  "annotation" .

Representation: the existing lexical-triples schema is unchanged — triple
terms are rows with ``obj_kind = 'triple'`` whose ``obj_lexical`` holds the
canonical N-Triples 1.2 rendering of the embedded triple.  Storing the
rendered form keeps serialization a pure projection (zero extra shuffle,
each line independent) and makes nesting free: a reification of a
reification just embeds the already-canonical object string.  Component
IRIs keep their spelling (no IRI-to-URI conversion), so a component is
the same term as the asserted triple's.

Scale notes: ``reify`` is a per-row projection (no shuffle, whole-stage
codegen); reifier ids are content-hashed (md5 of the rendered triple) so
they are deterministic and reproducible across partitionings and runs —
the same property the pipeline's skolemizer relies on.

Querying annotations: SPARQL 1.2 quoted-triple patterns
(``?r rdf:reifies <<( ?s ?p ?o )>>``, ``sparql.query``/``query_encoded``)
read the triple terms of the term dictionary and bind their components.
Turtle annotation syntax (``{| ... |}``) is parsed by ``pipeline/turtle.py``
but not written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from trident_spark.pipeline.sinks import _render_object, _render_subject

RDF_REIFIES = "http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies"


def _bracket(col) -> F.Column:
    return F.concat(F.lit("<"), col, F.lit(">"))


def triple_term() -> F.Column:
    """Render (subj, pred, obj_*) columns as a canonical triple term
    ``<<( <s> <p> o )>>`` — the lexical form stored under
    ``obj_kind = 'triple'``."""
    return F.concat_ws(
        " ",
        F.lit("<<("),
        _render_subject(F.col("subj"), _bracket),
        _bracket(F.col("pred")),
        _render_object(_bracket),
        F.lit(")>>"),
    )


def reifier_id() -> F.Column:
    """Deterministic content-hashed reifier blank node for the current row's
    triple: the same triple always gets the same reifier (idempotent
    re-runs, stable diffs), distinct triples collide only on md5."""
    return F.concat(F.lit("_:r"), F.md5(triple_term()))


def reify(skolemized: DataFrame, ann_pred: str, ann_value_col: str,
          ann_kind: str = "literal") -> DataFrame:
    """Annotate every input triple: emit the RDF 1.2 reification pair

        _:r rdf:reifies <<( s p o )>> .
        _:r <ann_pred>  <value> .

    ``ann_value_col`` names an input column carrying the annotation value
    (per-row provenance, confidence, timestamps, ...).  Output is a lexical
    triples frame (2 rows per input row), unioned column-compatibly with
    the asserted graph.
    """
    if ann_kind not in ("literal", "iri"):
        raise ValueError(f"ann_kind must be literal|iri, got {ann_kind!r}")
    rid = reifier_id().alias("subj")
    quoted = skolemized.select(
        rid,
        F.lit(RDF_REIFIES).alias("pred"),
        triple_term().alias("obj_lexical"),
        F.lit("triple").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
    )
    annotation = skolemized.select(
        rid,
        F.lit(ann_pred).alias("pred"),
        F.col(ann_value_col).cast("string").alias("obj_lexical"),
        F.lit(ann_kind).alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
    )
    # reification is a set of statements: distinct collapses repeated
    # (triple, annotation) pairs exactly like the asserted graph's dedup
    return quoted.union(annotation).distinct()
