"""Standalone JSON-LD document reader/serializer.

The reference plans "RDF format parsers and serializers" generally
(/root/reference/README.md:30-37); the JSON-LD *extraction* kernel
(kernels/extract.py:_jsonld_node — @context/@vocab/CURIEs, @graph,
@id/@type, value objects with @type/@language, @list, type coercion)
already parses embedded ``<script type="application/ld+json">`` payloads.
This module exposes the same kernel for whole JSON-LD *documents* and adds
the inverse: one compact node object per subject, so an RDF frame can ship
as newline-of-JSON documents and come back identical.

Distribution model mirrors pipeline/turtle.py: one document per DataFrame
row, parsed in one Arrow hop (mapInPandas).  Generated blank labels are
salted with a digest of the document — deterministic per document,
collision-free when many documents land in one DataFrame.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from trident_spark.pipeline.kg import TRIPLE_SCHEMA

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

def parse_jsonld(text: str, base_url: str = "",
                 vocab: str | None = None) -> list[tuple]:
    """One JSON-LD document (object or array of objects) → lexical triple
    tuples.  ``vocab`` is the default vocabulary for bare terms when the
    document declares no ``@context`` (the HTML-embedded extractor uses
    schema.org; standalone documents default to none, so bare keys without
    a context are dropped exactly like unknown CURIEs)."""
    from trident_spark.kernels import extract as X

    data = json.loads(text)
    ctx = X._Ctx(base_url)
    # salt GENERATED labels at the source (doc-authored _:labels stay
    # verbatim, so serialized frames round-trip)
    salt = hashlib.blake2b(text.encode("utf-8"), digest_size=16).hexdigest()
    counter = {"n": 0}

    def new_bnode() -> str:
        counter["n"] += 1
        return f"_:j{salt}n{counter['n']}"

    ctx.new_bnode = new_bnode
    out: list = []
    for item in X._as_list(data):
        if isinstance(item, dict):
            X._jsonld_node(item, ctx, vocab, {}, out)
    return [(t.subj, t.pred, t.obj_lexical, t.obj_kind, t.obj_datatype,
             t.obj_lang) for t in out]


def from_jsonld(docs: DataFrame, doc_col: str = "doc", base_url: str = "",
                vocab: str | None = None) -> DataFrame:
    """docs(doc string) — one JSON-LD document per row → parsed triples."""

    def run(iterator):
        cols = ["subj", "pred", "obj_lexical", "obj_kind",
                "obj_datatype", "obj_lang"]
        for pdf in iterator:
            rows: list[tuple] = []
            for text in pdf[doc_col]:
                if text:
                    rows.extend(parse_jsonld(text, base_url, vocab))
            yield pd.DataFrame(rows, columns=cols)

    from trident_spark.util import ensure_parallelism

    return ensure_parallelism(docs).mapInPandas(run, TRIPLE_SCHEMA)


def _node_dict(subj: str, pos) -> dict:
    """One subject's property structs → a compact JSON-LD node object."""
    node: dict = {"@id": subj}
    types = sorted({p["obj_lexical"] for p in pos
                    if p["pred"] == RDF_TYPE and p["obj_kind"] == "iri"})
    if types:
        node["@type"] = types
    by_pred: dict[str, list] = {}
    for p in pos:
        if p["pred"] == RDF_TYPE and p["obj_kind"] == "iri":
            continue
        by_pred.setdefault(p["pred"], []).append(p)
    for pred in sorted(by_pred):
        vals = []
        for p in by_pred[pred]:
            kind = p["obj_kind"]
            if kind in ("iri", "blank"):
                vals.append({"@id": p["obj_lexical"]})
            elif kind == "literal":
                if p["obj_lang"]:
                    lang = p["obj_lang"]
                    # RDF 1.2 base direction (`tag--dir` lang form) →
                    # JSON-LD 1.1 @direction
                    if "--" in lang:
                        lang, _, direction = lang.partition("--")
                        vals.append({"@value": p["obj_lexical"],
                                     "@language": lang,
                                     "@direction": direction})
                    else:
                        vals.append({"@value": p["obj_lexical"],
                                     "@language": lang})
                elif p["obj_datatype"]:
                    vals.append({"@value": p["obj_lexical"],
                                 "@type": p["obj_datatype"]})
                else:
                    vals.append(p["obj_lexical"])
            else:
                raise ValueError(
                    f"cannot serialize obj_kind {kind!r} to JSON-LD")
        vals.sort(key=lambda v: json.dumps(v, sort_keys=True))
        node[pred] = vals
    return node


def to_jsonld(triples: DataFrame) -> DataFrame:
    """Lexical triples → one compact JSON-LD node object per subject
    (``doc`` string rows; keys and value lists sorted → deterministic).

    rdf:type IRI objects render as ``@type``; IRI/blank objects as
    ``{"@id": …}``; literals as bare strings or ``@value`` objects with
    ``@type``/``@language``.  ``obj_kind='triple'`` has no JSON-LD form
    in this subset and raises."""
    grouped = triples.groupBy("subj").agg(
        F.collect_list(F.struct("pred", "obj_lexical", "obj_kind",
                                "obj_datatype", "obj_lang")).alias("pos"))

    def render(iterator):
        for pdf in iterator:
            docs = [json.dumps(_node_dict(subj, pos), sort_keys=True,
                               ensure_ascii=False)
                    for subj, pos in zip(pdf["subj"], pdf["pos"])]
            yield pd.DataFrame({"doc": docs})

    return grouped.mapInPandas(render, "doc string")


def to_jsonld_quads(quads: DataFrame) -> DataFrame:
    """Quads → JSON-LD dataset documents (``doc`` string rows).

    Default-graph rows (NULL graph) render as plain node objects; named
    graphs as ``{"@id": <graph>, "@graph": [<node>]}`` — one document
    per (graph, subject), so per-task state stays bounded by a subject's
    triples exactly like ``to_jsonld``, and a graph of any size shards
    across tasks.  Re-parsing with ``from_jsonld_quads`` yields the
    identical quad set (JSON-LD datasets merge @graph blocks)."""
    grouped = quads.groupBy("graph", "subj").agg(
        F.collect_list(F.struct("pred", "obj_lexical", "obj_kind",
                                "obj_datatype", "obj_lang")).alias("pos"))

    def render(iterator):
        for pdf in iterator:
            docs = []
            for graph, subj, pos in zip(pdf["graph"], pdf["subj"],
                                        pdf["pos"]):
                node = _node_dict(subj, pos)
                if graph is not None:
                    node = {"@id": graph, "@graph": [node]}
                docs.append(json.dumps(node, sort_keys=True,
                                       ensure_ascii=False))
            yield pd.DataFrame({"doc": docs})

    return grouped.mapInPandas(render, "doc string")


def parse_jsonld_quads(text: str, base_url: str = "",
                       vocab: str | None = None) -> list[tuple]:
    """One JSON-LD dataset document → lexical QUAD tuples.

    Top-level (or top-array) objects of the shape ``{"@id": g,
    "@graph": [...]}`` with no other properties put their contents in
    named graph ``g``; a bare ``{"@graph": [...]}`` wrapper and plain
    node objects are the default graph (NULL), per JSON-LD dataset
    semantics.  Named-graph nodes carrying additional properties also
    assert those in the default graph.  Nested ``@graph`` keys inside a
    named graph are flattened into that graph (this subset does not
    model graphs-within-graphs, which RDF datasets cannot express)."""
    from trident_spark.kernels import extract as X

    data = json.loads(text)
    ctx = X._Ctx(base_url)
    salt = hashlib.blake2b(text.encode("utf-8"), digest_size=16).hexdigest()
    counter = {"n": 0}

    def new_bnode() -> str:
        counter["n"] += 1
        return f"_:j{salt}n{counter['n']}"

    ctx.new_bnode = new_bnode
    rows: list[tuple] = []

    def emit(items, graph: str | None) -> None:
        out: list = []
        for item in X._as_list(items):
            if isinstance(item, dict):
                X._jsonld_node(item, ctx, vocab, {}, out)
        rows.extend((t.subj, t.pred, t.obj_lexical, t.obj_kind,
                     t.obj_datatype, t.obj_lang, graph) for t in out)

    for item in X._as_list(data):
        if not isinstance(item, dict):
            continue
        body = item.get("@graph")
        gid = item.get("@id")
        other = set(item) - {"@graph", "@id", "@context"}
        # re-wrap the body with the item's @context (and without @id) so
        # the kernel folds the context but mints no wrapper subject
        wrapper = {k: item[k] for k in ("@context", "@graph") if k in item}
        if body is not None and isinstance(gid, str):
            g = ctx.to_iri(gid) if not gid.startswith("_:") else gid
            emit([wrapper], g or gid)
            if other:  # properties besides @id/@graph → default graph
                emit([{k: v for k, v in item.items() if k != "@graph"}],
                     None)
        elif body is not None and not other:  # bare/ctx @graph wrapper
            emit([wrapper], None)
        else:
            emit([item], None)
    return rows


def from_jsonld_quads(docs: DataFrame, doc_col: str = "doc",
                      base_url: str = "",
                      vocab: str | None = None) -> DataFrame:
    """docs(doc string) — one JSON-LD dataset document per row → quads
    (NULL graph = default graph)."""

    def run(iterator):
        cols = ["subj", "pred", "obj_lexical", "obj_kind",
                "obj_datatype", "obj_lang", "graph"]
        for pdf in iterator:
            rows: list[tuple] = []
            for text in pdf[doc_col]:
                if text:
                    rows.extend(parse_jsonld_quads(text, base_url, vocab))
            yield pd.DataFrame(rows, columns=cols)

    from trident_spark.util import ensure_parallelism

    return ensure_parallelism(docs).mapInPandas(
        run, TRIPLE_SCHEMA + ", graph string")
