"""Distributed triple extraction: pages DataFrame → raw triples DataFrame.

One ``mapInPandas`` pass per page does HTML parse + all four extractors +
the text invariant check, emitting a single row per page with the triples as
an array — exploded afterwards in pure Catalyst.  Crossing the Arrow boundary
once per page (not once per triple per extractor) is the scale decision: at
10^12 documents the Python cost is one DOM parse per page and the shuffle
that follows operates on exploded, already-narrow rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from trident_spark.kernels.extract import extract_page, extract_text, parse_html

PAGE_RESULT_SCHEMA = (
    "url string, warc_ts timestamp, page_error string, text_ok boolean, "
    "triples array<struct<subj:string, pred:string, obj_lexical:string, "
    "obj_kind:string, obj_datatype:string, obj_lang:string, source:string>>"
)

def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → per-page extraction results.

    ``text_ok`` asserts the byte-identical extracted-text invariant
    (BASELINE.json input_hint) against the input ``text`` column.
    """
    import pandas as pd

    def run(iterator):
        for pdf in iterator:
            errs, oks, triples_col = [], [], []
            for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                triples, extracted, err = extract_page(html, url)
                errs.append(err)
                oks.append(extracted == text)
                triples_col.append(triples)  # NamedTuples — Arrow-compatible
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "page_error": errs,
                    "text_ok": oks,
                    "triples": triples_col,
                }
            )

    cols = ["url", "warc_ts", "html", "text"]
    return pages.select(*cols).mapInPandas(run, PAGE_RESULT_SCHEMA)


def raw_triples(page_results: DataFrame) -> DataFrame:
    """Explode per-page triple arrays into one row per triple (Catalyst)."""
    return (
        page_results
        .where(F.col("page_error").isNull())
        .select("url", "warc_ts", F.explode("triples").alias("t"))
        .select("url", "warc_ts", "t.*")
    )


def text_invariant_violations(page_results: DataFrame) -> DataFrame:
    """Pages whose extracted text differs from the stored text column."""
    return page_results.where(~F.col("text_ok")).select("url", "warc_ts")


def latest_capture(df: DataFrame) -> DataFrame:
    """Keep only the most recent warc_ts per url (C20 as-of window).

    Scale note: apply this AFTER extraction (on narrow per-page rows), not
    on the raw pages table — a window over pages would shuffle every html
    blob across the cluster; post-extraction it only moves url + triples.
    build_kg orders it that way.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
