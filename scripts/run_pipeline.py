#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (north rule):

    # package the library
    python scripts/package.py                      # → dist/trident_spark.zip

    # run at N executors
    spark-submit --py-files dist/trident_spark.zip \\
        --master yarn --num-executors 250 --executor-cores 4 \\
        scripts/run_pipeline.py \\
        --input  s3://corpus/pages/          \\
        --output s3://kg/run1/               \\
        --resume                              # anti-join completed buckets

    # re-run at 4N executors with the same input for the scaling datapoint
    spark-submit ... --num-executors 1000 ...

Sandbox usage (local[N] stand-in):

    python scripts/run_pipeline.py --synthetic 10000 --output /tmp/kg
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages table path (parquet/iceberg)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic pages instead of reading input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--resume", action="store_true",
                    help="skip buckets already recorded in <output>/lineage")
    ap.add_argument("--no-linking", action="store_true")
    ap.add_argument("--table-format", choices=("parquet", "iceberg"),
                    default="parquet",
                    help="iceberg requires --catalog and the Iceberg "
                         "runtime jar on the cluster classpath")
    ap.add_argument("--export", action="append", default=[],
                    choices=("nquads", "turtle", "trig", "jsonld", "rdfxml"),
                    help="also write the KG in this RDF text format "
                         "(repeatable; N-Triples is always written)")
    ap.add_argument("--catalog", help="Iceberg catalog name (see "
                    "trident_spark.pipeline.catalog for the spark-submit "
                    "--conf incantation)")
    args = ap.parse_args()

    from trident_spark.pipeline import build_kg, lineage
    from trident_spark.pipeline.catalog import Sink
    from trident_spark.pipeline.alias_dict import alias_dict_df
    from trident_spark.pipeline.pages import pages_df
    from trident_spark.pipeline.sinks import to_ntriples
    from trident_spark.session import get_spark

    spark = get_spark(app_name="trident-spark-kg")
    out = args.output.rstrip("/")
    sink = Sink(spark, out, table_format=args.table_format,
                catalog=args.catalog)

    if args.synthetic:
        pages = pages_df(spark, args.synthetic)
    else:
        pages = spark.read.parquet(args.input)

    if args.resume:
        from pyspark.errors import AnalysisException

        # Only a missing lineage table (first run; parquet and Iceberg
        # both report it as AnalysisException) means "build everything".
        # Any other failure must stop the run: a full rebuild appended
        # onto the existing tables would duplicate every row.
        try:
            lin = sink.read("lineage")
        except AnalysisException:
            pass
        else:
            pages = lineage.resume_filter(pages, lin, "triples")
            print(f"resume: {pages.count()} pages remain", file=sys.stderr)

    alias = None if args.no_linking else alias_dict_df(spark)
    t0 = time.monotonic()
    result = build_kg(pages, alias_dict=alias)

    # fresh runs overwrite; only --resume appends (incremental buckets).
    # A blind append on a re-run into an existing output dir would silently
    # duplicate every triple — exact-2x duplication, invisible to counts
    # unless compared against DISTINCT.
    mode = "append" if args.resume else "overwrite"
    sink.write(result.terms, "terms", mode=mode)
    sink.write(result.triples, "triples", mode=mode)
    to_ntriples(result.skolemized).write.mode(mode).text(f"{out}/ntriples")
    if args.export:
        from pyspark.sql import functions as F

        from trident_spark.pipeline import sinks
        from trident_spark.pipeline.jsonld import to_jsonld

        skol = result.skolemized
        quads = skol.withColumn("graph", F.col("url"))
        for fmt in set(args.export):
            if fmt == "nquads":
                frame = sinks.to_nquads(quads, graph_col="graph")
            elif fmt == "turtle":
                # prefixes={} → full IRIs, so every part file is a valid
                # standalone document without an @prefix header
                frame = sinks.to_turtle(skol, prefixes={}) \
                    .withColumnRenamed("block", "line")
            elif fmt == "trig":
                frame = sinks.to_trig(quads, prefixes={}) \
                    .withColumnRenamed("chunk", "line")
            elif fmt == "rdfxml":
                # single-line documents (LF escaped as &#10;): each output
                # line is one complete standalone RDF/XML document
                from trident_spark.pipeline.rdfxml import to_rdfxml
                frame = to_rdfxml(skol).withColumnRenamed("doc", "line")
            else:
                frame = to_jsonld(skol).withColumnRenamed("doc", "line")
            frame.write.mode(mode).text(f"{out}/{fmt}")
    sink.write(lineage.compute_lineage(result.skolemized, "triples"),
               "lineage", mode=mode)

    n_triples = sink.read("triples").count()
    n_bad = result.page_results.where("NOT text_ok").count()
    elapsed = time.monotonic() - t0
    print(json.dumps({
        "triples_total": n_triples,
        "text_invariant_violations": n_bad,
        "elapsed_sec": round(elapsed, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
