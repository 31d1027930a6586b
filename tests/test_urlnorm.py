"""Known-answer tests for URL canonicalization (crawl-pipeline stage)."""

from pyspark.sql import functions as F

from intelligent_ocr_spark.functions.urlnorm import canonical_url

CASES = [
    # (input, expected)
    ("HTTP://User:Pw@Example.COM:80/Path/Page?utm_source=x&b=2&a=1#frag",
     "http://example.com/Path/Page?a=1&b=2"),
    ("https://example.com:443/", "https://example.com/"),
    ("https://example.com", "https://example.com/"),          # empty path → /
    ("http://example.com:8080/x?gclid=1", "http://example.com:8080/x"),
    ("http://example.com:443/x", "http://example.com:443/x"),  # wrong-scheme port kept
    ("http://example.com/x?a=1&a=0", "http://example.com/x?a=0&a=1"),
    ("https://Example.com/x?fbclid=9&z=1&utm_campaign=c", "https://example.com/x?z=1"),
    ("http://example.com/UPPER/Case", "http://example.com/UPPER/Case"),  # path case kept
    ("/relative/path", "/relative/path"),                      # non-absolute passthrough
    ("mailto:x@y.z", "mailto:x@y.z"),
]


def test_canonical_url_cases(spark):
    df = spark.createDataFrame([(u,) for u, _ in CASES], "url string")
    got = [r["c"] for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    for (u, want), c in zip(CASES, got):
        assert c == want, (u, c, want)


def test_canonical_url_idempotent(spark):
    df = spark.createDataFrame([(u,) for u, _ in CASES], "url string")
    once = df.select(canonical_url(F.col("url")).alias("url"))
    twice = once.select(canonical_url(F.col("url")).alias("url"))
    assert [r["url"] for r in once.collect()] == [r["url"] for r in twice.collect()]


def test_canonical_url_is_codegen_only(spark):
    """No python UDF in the plan — the stage must run JVM-side."""
    df = spark.createDataFrame([("https://A.b/x",)], "url string")
    plan = (
        df.select(canonical_url(F.col("url")).alias("c"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

