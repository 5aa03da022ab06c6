"""Deterministic documents→page-results adapter: renders each row of the
driver's ``documents`` table as a page with embedded JSON-LD and extracts
it, so the full KG pipeline runs over driver-provided parquet AND its
output is exactly reconstructable in ANSI SQL (the DuckDB oracle in
__spark_entry__.py reproduces every emitted triple from the documents
columns — a true end-to-end correctness gate).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame

DOC_BASE = "https://docs.trident-spark.dev"


def doc_html(doc_id: int, text: str, lang: str, source: str, n_chars: int) -> str:
    """Render one document as a page with JSON-LD (@id relative → the
    extraction has to resolve it against the page url)."""
    node = {
        "@context": "https://schema.org",
        "@id": "",  # the page itself
        "@type": "TextDigitalDocument",
        "text": text,
        "inLanguage": lang,
        "characterCount": int(n_chars),
        "provider": {
            "@id": f"/org/{source}",
            "@type": "Organization",
            "name": source,
        },
    }
    return (
        "<!DOCTYPE html><html><head><title>doc</title>"
        '<script type="application/ld+json">' + json.dumps(node) + "</script>"
        "</head><body><p>" + text + "</p></body></html>"
    )


def docs_to_page_results(docs: DataFrame) -> DataFrame:
    """Docs → extraction results in one Arrow hop: each document is
    rendered as a page, its text extracted for the invariant column, and
    the page run through the extraction kernel, with no JVM round trip of
    the rendered HTML between those steps.  Output:
    extract_stage.PAGE_RESULT_SCHEMA."""
    from trident_spark.kernels.extract import extract_page, extract_text, parse_html
    from trident_spark.pipeline.extract_stage import PAGE_RESULT_SCHEMA
    from trident_spark.util import ensure_parallelism

    def run(iterator):
        for pdf in iterator:
            urls, tss, errs, oks, triples_col = [], [], [], [], []
            for doc_id, _text, lang, source, n_chars in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"], pdf["n_chars"]
            ):
                html = doc_html(int(doc_id), _text, lang, source, int(n_chars))
                url = f"{DOC_BASE}/doc/{int(doc_id)}"
                # the text a crawl would store beside the page
                page_text = extract_text(parse_html(html))
                triples, extracted, err = extract_page(html, url)
                urls.append(url)
                tss.append(pd.Timestamp("2025-01-01", tz="UTC")
                           + pd.Timedelta(seconds=int(doc_id)))
                errs.append(err)
                oks.append(extracted == page_text)
                triples_col.append(triples)
            yield pd.DataFrame({
                "url": urls, "warc_ts": tss, "page_error": errs,
                "text_ok": oks, "triples": triples_col,
            })

    return ensure_parallelism(
        docs.select("doc_id", "text", "lang", "source", "n_chars")
    ).mapInPandas(run, PAGE_RESULT_SCHEMA)
