from __future__ import annotations

from pyreshaper_spark.operators.text import pii_scan


def test_pii_scan_crafted(spark):
    docs = spark.createDataFrame(
        [
            ("a", "contact me at foo.bar+x@example.co.uk thanks"),
            ("b", "serial 12345678 and host 10.0.0.1 here"),
            ("c", "totally clean text with no identifiers"),
            ("d", "short digits 123456 only"),  # 6 < 7: no digit run
        ],
        "doc_id string, text string",
    )
    out = {
        r["doc_id"]: (
            r["n_emails"], r["n_digit_runs"], r["n_ipv4"], r["has_pii"]
        )
        for r in pii_scan(docs).collect()
    }
    assert out == {
        "a": (1, 0, 0, True),
        "b": (0, 1, 1, True),
        "c": (0, 0, 0, False),
        "d": (0, 0, 0, False),
    }
