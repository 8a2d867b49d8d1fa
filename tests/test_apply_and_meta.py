"""HTML head metadata extraction (P2) and the rules that read it."""

from __future__ import annotations

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.functions.normalize import extract_meta_udf


def test_extract_meta(spark):
    html = (
        b'<html><head><meta charset="utf-8"><title>My Page</title>'
        b'<meta name="author" content="someone">'
        b'<meta property="og:type" content="article">'
        b"</head><body>hi</body></html>"
    )
    df = spark.createDataFrame(
        [("u1", html), ("u2", b"not html at all"), ("u3", None)],
        "url string, html binary",
    )
    got = {
        r["url"]: r["m"]
        for r in df.select("url", extract_meta_udf("html").alias("m")).collect()
    }
    assert got["u1"]["title"] == "My Page"
    assert got["u1"]["charset"] == "utf-8"
    assert got["u1"]["author"] == "someone"
    assert got["u1"]["og:type"] == "article"
    assert got["u2"] == {}
    assert got["u3"] == {}


def test_meta_feeds_policy_rules(spark):
    """more-meta rule: richer head metadata wins (exif analog)."""
    import datetime

    from py_image_dedup_spark.operators.select import select_keepers

    rows = [
        ("rich", 0.0, 100, datetime.datetime(1970, 1, 1), 10,
         {"a": "1", "b": "2"}, 0.0, "c1"),
        ("poor", 0.0, 100, datetime.datetime(1970, 1, 1), 10, {}, 0.0, "c1"),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, dist double, n_bytes long, warc_ts timestamp, "
        "n_chars long, meta map<string,string>, score double, cluster_id string",
    )
    cfg = DedupConfig(prioritization_rules=("more-meta",))
    got = {r["url"]: r["action"] for r in select_keepers(df, cfg).collect()}
    assert got == {"rich": "keep", "poor": "delete"}
