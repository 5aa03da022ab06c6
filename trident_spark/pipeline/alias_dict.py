"""Deterministic entity-linking alias dictionary (FIXTURES.md §1).

Built from the same name inventories as the synthetic corpus, so linking has
real hits; several aliases map to 2-3 candidates, so linking must pick the
top-1 per alias (score 0.7 + 0.3·prior, ties by IRI).  ~O(100) rows here; a production dictionary is O(10^7)
but still broadcastable.
"""

from __future__ import annotations

from trident_spark.pipeline.linking import KB_PREFIX
from trident_spark.pipeline.pages import CITIES, FIRST, LAST, ORGS, _slug

ALIAS_SCHEMA = "alias string, canonical_iri string, prior double"


def alias_rows() -> list[tuple[str, str, float]]:
    rows: list[tuple[str, str, float]] = []
    for org in ORGS:
        iri = KB_PREFIX + "org/" + _slug(org)
        rows.append((org.lower(), iri, 0.9))
        first_word = org.split()[0].lower()
        # ambiguous short alias: first word maps to the org AND a city-like
        # decoy entity, forcing score-based disambiguation
        rows.append((first_word, iri, 0.6))
        rows.append((first_word, KB_PREFIX + "other/" + first_word, 0.2))
    for city in CITIES:
        rows.append((city.lower(), KB_PREFIX + "place/" + _slug(city), 0.8))
    for first in FIRST:
        for last in LAST[:4]:  # subset: some persons stay unlinked
            name = f"{first} {last}"
            rows.append((name.lower(), KB_PREFIX + "person/" + _slug(name), 0.7))
    return rows


def alias_dict_df(spark):
    return spark.createDataFrame(alias_rows(), ALIAS_SCHEMA)
