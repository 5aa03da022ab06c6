"""The reference's golden vectors re-expressed as DataFrame assertions:
build a DataFrame of (input, expected), run the Arrow-batched kernel UDF,
assert zero mismatching rows (SURVEY.md §5.2)."""

import pytest
from pyspark.sql import functions as F

from tests.test_iri_kernel import (
    ABNORMAL_RESOLUTION,
    BASE,
    NORMAL_RESOLUTION,
    NORMALIZE_CASES,
    TO_URI_CASES,
)
from tests.test_langtag_kernel import NORMALIZE_OK, PARSE_OK
from trident_spark.functions.iri_funcs import (
    iri_normalize,
    iri_parse,
    iri_resolve,
    iri_to_uri,
)
from trident_spark.functions.langtag_funcs import langtag_normalize, langtag_parse


def test_iri_resolve_df(spark):
    rows = [(BASE, rel, exp) for rel, exp in
            {**NORMAL_RESOLUTION, **ABNORMAL_RESOLUTION}.items()]
    df = spark.createDataFrame(rows, "base string, rel string, expected string")
    out = df.withColumn("r", iri_resolve("base", "rel"))
    bad = out.where(
        F.col("r.error").isNotNull() | (F.col("r.value") != F.col("expected"))
    )
    assert bad.count() == 0, bad.collect()


def test_iri_normalize_df(spark):
    rows = [(i, e) for i, e in NORMALIZE_CASES if i]
    df = spark.createDataFrame(rows, "input string, expected string")
    out = df.withColumn("r", iri_normalize("input"))
    bad = out.where(F.col("r.value") != F.col("expected"))
    assert bad.count() == 0, bad.collect()


def test_iri_to_uri_df(spark):
    df = spark.createDataFrame(TO_URI_CASES, "input string, expected string")
    out = df.withColumn("r", iri_to_uri("input"))
    bad = out.where(F.col("r.value") != F.col("expected"))
    assert bad.count() == 0, bad.collect()


def test_iri_parse_components_df(spark):
    df = spark.createDataFrame(
        [("foo://example.com:8042/over/there?name=ferret#nose",)], "iri string"
    )
    row = df.select(iri_parse("iri").alias("p")).first()["p"]
    assert row["scheme"] == "foo"
    assert row["authority"] == "example.com:8042"
    assert row["path"] == "/over/there"
    assert row["query"] == "name=ferret"
    assert row["fragment"] == "nose"
    assert row["is_absolute"] is True
    assert row["error"] is None


def test_iri_parse_error_row(spark):
    df = spark.createDataFrame([("http://example.com/%GG",), ("http://ok.com/a",)],
                               "iri string")
    rows = {r["iri"]: r["p"] for r in df.select("iri", iri_parse("iri").alias("p")).collect()}
    assert rows["http://example.com/%GG"]["error"] is not None
    assert rows["http://ok.com/a"]["error"] is None


@pytest.mark.parametrize("udf,cases", [
    (langtag_parse, PARSE_OK),
    (langtag_normalize, NORMALIZE_OK),
])
def test_langtag_df(spark, udf, cases):
    df = spark.createDataFrame(cases, "tag string, expected string")
    out = df.withColumn("r", udf("tag"))
    bad = out.where(
        F.col("r.error").isNotNull() | (F.col("r.tag") != F.col("expected"))
    )
    assert bad.count() == 0, bad.collect()


def test_langtag_error_codes(spark):
    df = spark.createDataFrame([("en_US",), ("zz-US",)], "tag string")
    rows = {r["tag"]: r["r"] for r in
            df.select("tag", langtag_normalize("tag").alias("r")).collect()}
    assert rows["en_US"]["error"] == "ErrForbiddenChar"
    assert rows["zz-US"]["error"] == "ErrInvalidLanguage"


def test_udfs_tolerate_all_null_batches(spark):
    from trident_spark.functions.iri_funcs import iri_normalize, iri_parse

    df = spark.createDataFrame([(None,), (None,)], "iri string")
    rows = df.select(iri_parse("iri").alias("p"),
                     iri_normalize("iri").alias("n")).collect()
    assert all(r["p"]["iri"] is None and r["n"]["value"] is None for r in rows)


def test_iri_json_wire_roundtrip(spark):
    """A23 JSON wire form (ref iri/iri.go:385-403): an IRI marshals as a
    plain JSON string; unmarshalling decodes the string and re-validates
    with ParseRef (no NFC) — invalid IRIs error at unmarshal time.
    Spark-side: to_json/from_json carry the string, iri_parse is the
    validating decode."""
    rows = [("http://a.example/p?q#f",), ("rel/./path",),
            ("http://exa mple.com/",)]  # space → invalid on unmarshal
    df = spark.createDataFrame(rows, "iri string")
    wire = df.select(
        "iri",
        F.to_json(F.struct(F.col("iri").alias("v"))).alias("wire"))
    # marshal: the wire form is the JSON string of the lexical IRI
    w = {r["iri"]: r["wire"] for r in wire.collect()}
    assert w["http://a.example/p?q#f"] == '{"v":"http://a.example/p?q#f"}'
    # unmarshal: decode + validating parse
    back = wire.select(
        "iri",
        F.from_json("wire", "v string")["v"].alias("decoded"),
    ).select("iri", "decoded", iri_parse("decoded").alias("p"))
    got = {r["iri"]: r for r in back.collect()}
    ok = got["http://a.example/p?q#f"]
    assert ok["decoded"] == ok["iri"] and ok["p"]["error"] is None
    assert ok["p"]["iri"] == "http://a.example/p?q#f"
    # relative refs are valid Refs (ParseRef, not ParseIri)
    rel = got["rel/./path"]
    assert rel["p"]["error"] is None and rel["p"]["is_absolute"] is False
    # invalid-on-unmarshal: decode succeeds, validation errors
    bad = got["http://exa mple.com/"]
    assert bad["decoded"] == "http://exa mple.com/"
    assert bad["p"]["error"] is not None and bad["p"]["iri"] is None

