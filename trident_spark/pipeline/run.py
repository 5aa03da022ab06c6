"""End-to-end KG build: pages → (terms, triples, same_as, lineage).

The one-call orchestrator used by tests, bench and __spark_entry__.
Every stage returns DataFrames; nothing is collected driver-side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from trident_spark.pipeline import cc, extract_stage, kg, linking


@dataclass
class KGResult:
    page_results: DataFrame  # per-page status (text_ok, page_error)
    skolemized: DataFrame  # lexical triples after skolemization
    same_as: DataFrame  # entity-linking edges
    terms: DataFrame  # dictionary-encoded term table
    # deduped (subj_id, pred_id, obj_id) edges: a set, which
    # sparql.query_encoded's id scans do not re-deduplicate
    triples: DataFrame
    labels: DataFrame | None  # connected-component labels


def build_kg(pages: DataFrame, alias_dict: DataFrame | None = None) -> KGResult:
    # after extraction: the window shuffles narrow rows (url, ts, triples),
    # never the html blobs — the decision that matters at 100TB
    page_results = extract_stage.latest_capture(extract_stage.extract_pages(pages))
    raw = extract_stage.raw_triples(page_results)
    # extraction (the expensive Arrow hop) feeds linking, CC and encoding;
    # materialize it once.  On a production run this boundary is a table
    # write (lineage stage output), not an in-memory persist.
    skolemized = kg.normalize_literal_langs(kg.skolemize(raw)).persist(
        StorageLevel.MEMORY_AND_DISK)

    same_as = None
    labels = None
    if alias_dict is not None:
        # materialize the sameAs edges once: they are referenced by the
        # triples union (hence by every encode_triples projection), by the
        # CC edge set AND returned to the caller — unmaterialized, the
        # broadcast join + groupBy re-executes per reference in the final job
        same_as = linking.link_entities(
            skolemized, alias_dict).localCheckpoint(eager=True)
        # sameAs assertions are triples too: union them in so the canonical
        # KB IRIs become dictionary terms before CC rewrites edge ids
        skolemized = skolemized.unionByName(linking.same_as_triples(same_as))
        labels = cc.connected_components(linking.same_as_id_edges(same_as))

    terms, triples = kg.encode_triples(skolemized)
    if labels is not None:
        triples = cc.rewrite_triples(triples, labels)
    triples = kg.dedup_triples(triples)

    return KGResult(
        page_results=page_results,
        skolemized=skolemized,
        same_as=same_as,
        terms=terms,
        triples=triples,
        labels=labels,
    )
