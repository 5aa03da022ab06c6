"""User-facing Graph API mirroring the reference's proposed surface.

The reference plans (``/root/reference/README.md:60-120``)::

    g := trident.NewGraph()
    g.Add(rdf.NewTriple(picasso, name, rdf.NewLiteral("Pablo Picasso")))
    turtle, _ := g.Serialize(trident.Turtle)
    results, _ := g.Query(`SELECT ?name WHERE { ?artist foaf:name ?name }`)
    for results.Next() { ... solution["name"].Value() ... }

This module is the Spark-native equivalent: terms are lightweight value
objects, the graph is an immutable wrapper over the pipeline's lexical
triples DataFrame (every ``add``/``update`` returns a NEW graph — snapshot
semantics, matching how the pipeline materializes to Iceberg), queries run
on the SPARQL engine (``query/sparql.py``), and serialization reuses the
distributed writers.  ``solutions()`` gives the reference's
iterate-a-solution-mapping ergonomics for small results; at scale you keep
the DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

from trident_spark.pipeline.kg import TRIPLE_SCHEMA


# ---------------------------------------------------------------------------
# Terms (reference rdf.NewIRI / NewLiteral / NewLiteralWithDatatype /
# NewLiteralWithLang / NewBlankNode)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Term:
    lexical: str
    kind: str                      # 'iri' | 'literal' | 'blank'
    datatype: str | None = None
    lang: str | None = None

    def value(self) -> str:
        """The reference's ``term.Value()``: the lexical form."""
        return self.lexical

    def is_iri(self) -> bool:
        return self.kind == "iri"

    def is_literal(self) -> bool:
        return self.kind == "literal"

    def is_blank(self) -> bool:
        return self.kind == "blank"


def new_iri(value: str) -> Term:
    """Validated IRI term (reference rdf.NewIRI: parse must succeed)."""
    from trident_spark.kernels import iri as K

    return Term(K.parse_iri(value).iri, "iri")


def new_literal(value: str) -> Term:
    return Term(value, "literal")


def new_literal_with_datatype(value: str, datatype: str) -> Term:
    return Term(value, "literal", datatype=datatype)


def new_literal_with_lang(value: str, lang: str) -> Term:
    """Language-tagged literal; the tag is validated/canonicalized per
    BCP 47 (reference langtag kernel)."""
    from trident_spark.kernels import langtag as L

    return Term(value, "literal", lang=L.normalize(lang).tag)


def new_blank(label: str) -> Term:
    lbl = label if label.startswith("_:") else f"_:{label}"
    return Term(lbl, "blank")


@dataclass(frozen=True)
class Triple:
    subj: Term
    pred: Term
    obj: Term

    def row(self) -> tuple:
        return (self.subj.lexical, self.pred.lexical, self.obj.lexical,
                self.obj.kind, self.obj.datatype, self.obj.lang)


def new_triple(subj: Term, pred: Term, obj: Term) -> Triple:
    if subj.kind == "literal":
        raise ValueError("a literal cannot be a subject")
    if pred.kind != "iri":
        raise ValueError("predicates must be IRIs")
    return Triple(subj, pred, obj)


# ---------------------------------------------------------------------------
# Graph
# ---------------------------------------------------------------------------


class Graph:
    """Immutable RDF graph over a lexical-triples DataFrame.

    ``add``/``add_all``/``update`` return a NEW Graph (snapshot
    semantics); the underlying DataFrame is always a set of triples
    (duplicates collapse on access)."""

    def __init__(self, df: DataFrame):
        self._df = df

    # -- construction -------------------------------------------------------

    @classmethod
    def empty(cls, spark: SparkSession) -> "Graph":
        """The reference's trident.NewGraph()."""
        return cls(spark.createDataFrame([], TRIPLE_SCHEMA))

    @classmethod
    def from_dataframe(cls, df: DataFrame) -> "Graph":
        return cls(df.select(*TRIPLE_SCHEMA.replace(" string", "")
                             .split(", ")))

    @classmethod
    def parse(cls, spark: SparkSession, text: str,
              fmt: str = "turtle") -> "Graph":
        """One document string → Graph (distributed parsers underneath)."""
        docs = spark.createDataFrame([(text,)], "doc string")
        if fmt == "turtle":
            from trident_spark.pipeline.turtle import from_turtle
            return cls(from_turtle(docs))
        if fmt == "ntriples":
            from trident_spark.pipeline.sinks import from_ntriples
            lines = spark.createDataFrame(
                [(l,) for l in text.splitlines()], "line string")
            return cls(from_ntriples(lines))
        if fmt == "jsonld":
            from trident_spark.pipeline.jsonld import from_jsonld
            return cls(from_jsonld(docs))
        if fmt == "rdfxml":
            from trident_spark.pipeline.rdfxml import from_rdfxml
            return cls(from_rdfxml(docs))
        raise ValueError(f"unknown format {fmt!r}")

    # -- mutation (immutable: returns a new Graph) --------------------------

    def add(self, triple: Triple) -> "Graph":
        return self.add_all([triple])

    def add_all(self, triples: Iterable[Triple]) -> "Graph":
        spark = self._df.sparkSession
        rows = [t.row() for t in triples]
        return Graph(self._df.unionByName(
            spark.createDataFrame(rows, TRIPLE_SCHEMA)))

    def update(self, sparql: str) -> "Graph":
        """SPARQL 1.1 Update → the post-update graph."""
        from trident_spark.query.sparql import update
        return Graph(update(self._distinct(), sparql))

    # -- access -------------------------------------------------------------

    def _distinct(self) -> DataFrame:
        return self._df.distinct()

    def to_df(self) -> DataFrame:
        return self._distinct()

    def __len__(self) -> int:
        return self._distinct().count()

    def triples(self) -> Iterator[Triple]:
        """Iterate triples without materializing the graph on the driver
        (toLocalIterator streams one partition at a time)."""
        for r in self._distinct().toLocalIterator():
            yield Triple(
                Term(r["subj"],
                     "blank" if r["subj"].startswith("_:") else "iri"),
                Term(r["pred"], "iri"),
                Term(r["obj_lexical"], r["obj_kind"],
                     r["obj_datatype"], r["obj_lang"]))

    # -- query --------------------------------------------------------------

    def query(self, sparql: str) -> DataFrame:
        """SELECT/ASK → DataFrame (the scale-native result form)."""
        from trident_spark.query.sparql import query
        return query(self._distinct(), sparql)

    def _term_dictionary(self) -> DataFrame:
        """Distinct (lexical → kind, datatype, lang) over every term
        position.  Ambiguous lexical forms resolve iri > blank > literal
        (rank-min, deterministic tiebreak on the full struct)."""
        from pyspark.sql import functions as F

        df = self._distinct()
        subj_kind = F.when(F.col("subj").startswith("_:"),
                           F.lit("blank")).otherwise(F.lit("iri"))
        null_s = F.lit(None).cast("string")
        terms = (
            df.select(F.col("subj").alias("lexical"),
                      subj_kind.alias("kind"),
                      null_s.alias("datatype"), null_s.alias("lang"))
            .unionByName(df.select(
                F.col("pred").alias("lexical"), F.lit("iri").alias("kind"),
                null_s.alias("datatype"), null_s.alias("lang")))
            .unionByName(df.select(
                F.col("obj_lexical").alias("lexical"),
                F.col("obj_kind").alias("kind"),
                F.col("obj_datatype").alias("datatype"),
                F.col("obj_lang").alias("lang")))
        )
        rank = (F.when(F.col("kind") == "iri", 0)
                .when(F.col("kind") == "blank", 1).otherwise(2))
        return (
            terms.groupBy("lexical")
            .agg(F.min(F.struct(rank.alias("_r"), "kind", "datatype",
                                "lang")).alias("t"))
            .select("lexical", "t.kind", "t.datatype", "t.lang")
        )

    def solutions(self, sparql: str) -> Iterator[dict[str, Term]]:
        """The reference's results iteration: one {var: Term} mapping per
        solution.  Term kinds/lang/datatypes are recovered DISTRIBUTEDLY —
        each projected column left-joins the graph's term dictionary on
        the lexical form (iri beats literal for ambiguous forms; values
        produced by expressions default to plain literals) — and rows
        stream through ``toLocalIterator``, so neither the graph nor the
        full result set is ever materialized on the driver."""
        from pyspark.sql import functions as F

        sol = self.query(sparql)
        out_cols = sol.columns
        dic = self._term_dictionary()
        for var in out_cols:
            d = dic.select(
                F.col("lexical").alias(f"_lex_{var}"),
                F.col("kind").alias(f"_kind_{var}"),
                F.col("datatype").alias(f"_dt_{var}"),
                F.col("lang").alias(f"_lang_{var}"))
            sol = sol.join(
                d, sol[var].cast("string") == d[f"_lex_{var}"], "left")
        for row in sol.toLocalIterator():
            out = {}
            for var in out_cols:
                v = row[var]
                if v is None:
                    continue
                kind = row[f"_kind_{var}"] or "literal"
                out[var] = Term(str(v), kind, row[f"_dt_{var}"],
                                row[f"_lang_{var}"])
            yield out

    def ask(self, sparql: str) -> bool:
        from trident_spark.query.sparql import ask
        return ask(self._distinct(), sparql)

    def construct(self, sparql: str) -> "Graph":
        from trident_spark.query.sparql import construct
        # construct() returns the full 6-column lexical frame incl. the
        # template's datatype/lang metadata — pass it through verbatim
        # (nulling it here would silently strip @lang/^^dt from every
        # constructed literal at the public API)
        return Graph(construct(self._distinct(), sparql).select(
            "subj", "pred", "obj_lexical", "obj_kind",
            "obj_datatype", "obj_lang"))

    # -- serialization ------------------------------------------------------

    def serialize(self, fmt: str = "turtle") -> str:
        """Whole graph → one document string.  The document is inherently
        one driver-side Python string, but rows arrive through a
        DISTRIBUTED sort + ``toLocalIterator`` — never a whole-graph
        ``collect`` (executors sort and spill; the driver holds one
        partition of rendered text at a time plus the growing result).
        For file output at scale use the pipeline/sinks.py writers.
        UTF-8 binary sort order equals code-point order, so output is
        byte-identical to the former driver-side ``sorted()``."""
        from trident_spark.pipeline import sinks

        df = self._distinct()

        def _stream(frame, col):
            return (r[col] for r in frame.orderBy(col).toLocalIterator())

        if fmt == "turtle":
            header = sinks.turtle_header()
            return header + "\n\n" + "\n".join(
                _stream(sinks.to_turtle(df), "block"))
        if fmt == "ntriples":
            return "\n".join(_stream(sinks.to_ntriples(df), "line"))
        if fmt == "jsonld":
            from trident_spark.pipeline.jsonld import to_jsonld
            return "[" + ",\n".join(_stream(to_jsonld(df), "doc")) + "]"
        if fmt == "rdfxml":
            from trident_spark.pipeline.rdfxml import to_rdfxml
            return "\n".join(_stream(to_rdfxml(df), "doc"))
        raise ValueError(f"unknown format {fmt!r}")
