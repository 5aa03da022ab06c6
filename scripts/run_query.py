"""SPARQL over a built KG output directory, from spark-submit.

    spark-submit --py-files dist/trident_spark.zip scripts/run_query.py \
        --kg /tmp/kg --query 'SELECT ?s ?o WHERE { ?s <...provider> ?o }'

Queries the warehouse tables (``query_encoded`` over the persisted
terms/triples dictionary, the canonical entity-linked KG).  The N-Triples
export (the assertion-level record, with linking as explicit owl:sameAs
statements) is parsed only when the warehouse tables are absent.  Results
print as JSON lines (--limit rows) or write to --output as parquet.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kg", required=True, help="run_pipeline.py output dir")
    ap.add_argument("--query", required=True, help="SPARQL SELECT/ASK")
    ap.add_argument("--output", help="write results as parquet instead of "
                                     "printing")
    ap.add_argument("--limit", type=int, default=50,
                    help="rows to print when no --output (default 50)")
    args = ap.parse_args()

    from pyspark.errors import AnalysisException

    from trident_spark.query.sparql import query, query_encoded
    from trident_spark.session import get_spark

    spark = get_spark(app_name="trident-spark-query")
    kg = args.kg.rstrip("/")

    # AnalysisException: the kg dir lacks terms/triples parquet (an
    # N-Triples-only export)
    try:
        edges = spark.read.parquet(f"{kg}/triples")
        terms = spark.read.parquet(f"{kg}/terms")
    except AnalysisException:
        from trident_spark.pipeline.sinks import from_ntriples

        df = query(from_ntriples(spark.read.text(f"{kg}/ntriples")
                                 .withColumnRenamed("value", "line")),
                   args.query)
    else:
        df = query_encoded(edges, terms, args.query)

    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"rows": spark.read.parquet(args.output).count()}))
    else:
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
    spark.stop()


if __name__ == "__main__":
    main()
