"""Text normalization: NFC composition, whitespace and control characters."""

from trident_spark.operators import textstats


def test_normalize_text(spark):
    rows = [
        (1, "a​word  with\t tabs\r\nand\rCRs\n\n\n\n\nend  "),
        (2, "cafe\u0301 combining"),  # e + COMBINING ACUTE -> NFC \u00e9
        (3, "bell\x07 and null\x00 controls"),
        (4, "already clean"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in textstats.normalize_text(df).collect()}
    assert out[1]["text"] == "aword with tabs\nand\nCRs\n\nend"
    assert out[1]["was_changed"] is True
    assert out[2]["text"] == "café combining"
    assert len(out[2]["text"]) == len("cafe combining")  # composed
    assert out[3]["text"] == "bell and null controls"
    assert out[4]["text"] == "already clean"
    assert out[4]["was_changed"] is False
