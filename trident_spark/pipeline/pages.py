"""Deterministic synthetic `pages` corpus (BASELINE.json input_hint shape).

Schema: pages(url string, warc_ts timestamp, html binary, text string,
lang string).  Every page is a pure function of (page_id, seed), so
generation is embarrassingly parallel (mapInPandas over spark.range) and
reproducible at any scale — the sandbox stand-in for the Common-Crawl Iceberg
table.  Alongside each page we derive its *expected* triples from the spec
(not from the extractor), giving an independent golden set for P/R.

Skew design (FIXTURES.md): ~10% of pages reference hub objects
(schema.org/Person type IRI, one Wikipedia IRI) to create realistic hot keys;
~5% are malformed; a few urls repeat with different warc_ts for the
latest-capture window; hrefs/@ids are relative so extraction must resolve.
"""

from __future__ import annotations

import datetime as dt
import json
import random

from trident_spark.kernels import extract as X
from trident_spark.kernels import iri as K
from trident_spark.pipeline.kg import TRIPLE_SCHEMA

SCHEMA = X.SCHEMA_ORG
RDF_TYPE = X.RDF_TYPE
WIKI_HUB = "https://en.wikipedia.org/wiki/Acme_Corporation"

FIRST = ["Alice", "Bob", "Carol", "David", "Erin", "Frank", "Grace", "Henry",
         "Iris", "Jack", "Karen", "Liam", "Mona", "Nils", "Olga", "Paul"]
LAST = ["Johnson", "Smith", "Garcia", "Kim", "Muller", "Rossi", "Tanaka",
        "Novak", "Silva", "Dubois", "Larsen", "Kowalski"]
ORGS = ["Acme Corp", "Globex", "Initech", "Umbrella Labs", "Hooli",
        "Stark Industries", "Wayne Enterprises", "Tyrell Corp"]
CITIES = ["Berlin", "Paris", "Tokyo", "Oslo", "Lisbon", "Prague", "Toronto",
          "Melbourne", "Nairobi", "Montevideo"]
JOBS = ["engineer", "journalist", "teacher", "architect", "biologist",
        "composer", "historian", "designer"]
LANGS = ["en", "EN-us", "de-DE", "fr", "SR-LATN-rs", "zh-min-nan",
         "i-klingon", "pt-BR", "en_US", "ja", "es-419", "is-Latn"]
DOMAINS = ["example.org", "news.example.com", "wiki.example.net",
           "blog.example.io", "Data.Example.COM:80"]

EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


def _slug(s: str) -> str:
    return s.lower().replace(" ", "-")


def gen_page(page_id: int, seed: int = 42) -> dict:
    """Pure function (page_id, seed) → page row + expected golden triples."""
    rng = random.Random((seed << 32) ^ page_id)

    # ~2% of urls repeat under a different capture timestamp; the domain is
    # a function of base_id so the repeated capture really shares the url
    base_id = page_id - 1 if (page_id % 50 == 1 and page_id > 1) else page_id
    domain = DOMAINS[base_id % len(DOMAINS)]
    url = f"http://{domain}/articles/{base_id}/index.html"
    norm_url = K.normalize(url)
    warc_ts = EPOCH + dt.timedelta(seconds=page_id * 61 + rng.randint(0, 3600))
    lang = rng.choice(LANGS)

    person = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
    org = rng.choice(ORGS)
    city = rng.choice(CITIES)
    job = rng.choice(JOBS)
    is_hub = page_id % 10 == 0  # hub pages reference the Wikipedia IRI
    malformed = page_id % 20 == 7  # ~5% malformed / empty structured data

    person_ref = f"../people/{_slug(person)}#me"  # relative — must be resolved
    person_iri = K.normalize(K.resolve(norm_url, person_ref).iri)
    org_ref = f"/orgs/{_slug(org)}"
    org_iri = K.normalize(K.resolve(norm_url, org_ref).iri)

    expected: list[tuple] = []
    body_parts: list[str] = []

    fmt = rng.random()
    use_jsonld = fmt < 0.7
    use_rdfa = 0.25 < fmt < 0.55 or fmt >= 0.9
    use_microdata = 0.45 < fmt < 0.8

    if use_jsonld and not malformed:
        node = {
            "@context": "https://schema.org",
            "@id": person_ref,
            "@type": "Person",
            "name": person,
            "jobTitle": job,
            "worksFor": {"@id": org_ref, "@type": "Organization", "name": org},
        }
        if is_hub:
            node["sameAs"] = {"@id": WIKI_HUB}
        body_parts.append(
            '<script type="application/ld+json">' + json.dumps(node) + "</script>"
        )
        expected += [
            (person_iri, RDF_TYPE, SCHEMA + "Person", "iri", None, None),
            (person_iri, SCHEMA + "name", person, "literal", None, None),
            (person_iri, SCHEMA + "jobTitle", job, "literal", None, None),
            (person_iri, SCHEMA + "worksFor", org_iri, "iri", None, None),
            (org_iri, RDF_TYPE, SCHEMA + "Organization", "iri", None, None),
            (org_iri, SCHEMA + "name", org, "literal", None, None),
        ]
        if is_hub:
            expected.append(
                (person_iri, SCHEMA + "sameAs", WIKI_HUB, "iri", None, None))
    elif use_jsonld and malformed:
        body_parts.append('<script type="application/ld+json">{broken json'
                          "</script>")

    if use_rdfa:
        body_parts.append(
            f'<div vocab="https://schema.org/" about="{person_ref}" typeof="Person">'
            f'<span property="name">{person}</span> lives in '
            f'<span property="homeLocation">{city}</span>.'
            f"</div>"
        )
        expected += [
            (person_iri, RDF_TYPE, SCHEMA + "Person", "iri", None, None),
            (person_iri, SCHEMA + "name", person, "literal", None, None),
            (person_iri, SCHEMA + "homeLocation", city, "literal", None, None),
        ]

    if use_microdata:
        body_parts.append(
            f'<div itemscope itemtype="https://schema.org/Organization" itemid="{org_ref}">'
            f'<span itemprop="name">{org}</span>'
            f'<a itemprop="url" href="{org_ref}">homepage</a>'
            f"</div>"
        )
        expected += [
            (org_iri, RDF_TYPE, SCHEMA + "Organization", "iri", None, None),
            (org_iri, SCHEMA + "name", org, "literal", None, None),
            (org_iri, SCHEMA + "url", org_iri, "iri", None, None),
        ]

    # plain-text paragraph with SVO-extractable sentences
    sentence = f"{person} works for {org}. {person} was born in {city}."
    body_parts.append(f"<p>{sentence}</p>")
    mention = X.SVO_NS + "mention/" + X._mention_slug(person)
    expected += [
        (mention, X.SVO_NS + "works_for", org, "literal", None, None),
        (mention, X.SVO_NS + "born_in", city, "literal", None, None),
    ]

    title = f"Article {page_id}"
    html = (
        "<!DOCTYPE html><html><head>"
        f"<title>{title}</title>"
        '<meta charset="utf-8">'
        "</head><body>"
        f"<h1>{title}</h1>" + "".join(body_parts) + "</body></html>"
    )
    if malformed and not use_jsonld:
        html = html.replace("</body></html>", "<div><span>")  # broken tail

    text = X.extract_text(X.parse_html(html))

    return {
        "page_id": page_id,
        "url": url,
        "warc_ts": warc_ts,
        "html": html.encode("utf-8"),
        "text": text,
        "lang": lang,
        "expected": [(url,) + t for t in expected],
    }


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)
EXPECTED_SCHEMA = "url string, " + TRIPLE_SCHEMA


def pages_df(spark, n_pages: int, seed: int = 42, partitions: int | None = None):
    """Distributed deterministic generation: one page per id."""
    import pandas as pd

    def gen(iterator):
        for pdf in iterator:
            rows = [gen_page(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(
                [
                    {k: r[k] for k in ("url", "warc_ts", "html", "text", "lang")}
                    for r in rows
                ]
            )

    rng = spark.range(1, n_pages + 1, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, PAGES_SCHEMA)


def expected_triples_df(spark, n_pages: int, seed: int = 42,
                        partitions: int | None = None):
    import pandas as pd

    cols = ["url", "subj", "pred", "obj_lexical", "obj_kind",
            "obj_datatype", "obj_lang"]

    def gen(iterator):
        for pdf in iterator:
            rows = []
            for i in pdf["id"]:
                rows.extend(gen_page(int(i), seed)["expected"])
            yield pd.DataFrame(rows, columns=cols)

    rng = spark.range(1, n_pages + 1, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, EXPECTED_SCHEMA)
