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
reification just embeds the already-canonical object string.

Scale notes: ``reify`` is a per-row projection (no shuffle, whole-stage
codegen except the rare non-ASCII IRI fallback); reifier ids are
content-hashed (md5 of the rendered triple) so they are deterministic and
reproducible across partitionings and runs — the same property the
pipeline's skolemizer relies on.  ``unquote`` is one Arrow hop.

Scope (documented, not silent): Turtle annotation syntax (``{| ... |}``)
and SPARQL 1.2 quoted-triple patterns are not implemented; querying
annotations goes through :func:`unquote`, which turns triple-term objects
back into component columns that join against the asserted graph.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from trident_spark.pipeline.sinks import (
    _render_iri,
    _render_object,
    _render_subject,
    parse_ntriples_line,
)

RDF_REIFIES = "http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies"


def triple_term() -> F.Column:
    """Render (subj, pred, obj_*) columns as a canonical triple term
    ``<<( <s> <p> o )>>`` — the lexical form stored under
    ``obj_kind = 'triple'``."""
    return F.concat_ws(
        " ",
        F.lit("<<("),
        _render_subject(F.col("subj")),
        _render_iri(F.col("pred")),
        _render_object(),
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


def unquote(triples: DataFrame) -> DataFrame:
    """Rows with ``obj_kind = 'triple'`` → the embedded triple's components
    (``q_subj/q_pred/q_obj_lexical/q_obj_kind/q_obj_datatype/q_obj_lang``),
    keyed by the outer subject (the reifier).  One Arrow hop; rows whose
    object is not a triple term are dropped."""

    def run(iterator):
        cols = ["subj"] + [f"q_{c}" for c in
                           ("subj", "pred", "obj_lexical", "obj_kind",
                            "obj_datatype", "obj_lang")]
        for pdf in iterator:
            rows = []
            sel = pdf[pdf["obj_kind"] == "triple"]
            for subj, lex in zip(sel["subj"], sel["obj_lexical"]):
                inner = parse_triple_term(lex)
                if inner:
                    rows.append((subj, *inner))
            yield pd.DataFrame(rows, columns=cols)

    schema = ("subj string, q_subj string, q_pred string, "
              "q_obj_lexical string, q_obj_kind string, "
              "q_obj_datatype string, q_obj_lang string")
    return triples.mapInPandas(run, schema)


def parse_triple_term(lexical: str):
    """``<<( <s> <p> o )>>`` → (s, p, o_lexical, o_kind, o_dt, o_lang), or
    None if malformed.  Nested triple terms parse one level (the inner
    object comes back as its canonical lexical with kind 'triple')."""
    s = lexical.strip()
    if not (s.startswith("<<(") and s.endswith(")>>")):
        return None
    body = s[3:-3].strip()
    if body.startswith("<<("):
        return None  # triple terms cannot be subjects (RDF 1.2)
    # nested object: split off "<s> <p>" prefix, keep the rest verbatim
    parsed = parse_ntriples_line(body + " .")
    if parsed is not None:
        return parsed
    # fall back for nested triple-term objects: locate the inner "<<("
    k = body.find("<<(")
    if k == -1 or not body.endswith(")>>"):
        return None
    head = parse_ntriples_line(body[:k].strip() + ' "" .')
    if head is None:
        return None
    return (head[0], head[1], body[k:], "triple", None, None)
