"""URL relevance filters (F1/F2, SURVEY.md §2.2).

The reference's crawl frontier classifies candidate links into useful /
possible / useless (UrlExtractor.extractUrl,
/root/reference/src/spider/UrlExtractor.py:23-78 and
WebSpider.dealWithPossibleUrl, WebSpider.py:202-216). Crawling is out of
scope for the rebuild, but the predicates themselves are useful over any
URL column (e.g. the hrefs the extractor harvests), so they're provided
as vectorized DataFrame filters:

* F2 ``is_possible_item_url`` — startswith the baike item prefix AND the
  last path segment contains no '.' (WebSpider.py:209-214).
* F1 ``person_url_relevance`` — the reference asks HanLP whether the
  URL-decoded last segment is a single person name (nature 'nr');
  replaced by the deterministic proxy (SURVEY §7 HanLP elimination):
  decoded segment is 2-4 CJK chars. Relevance in {0,1} against the
  reference's 0.8 threshold (UrlExtractor.py:69-78).

All expressions are JVM-side (url_decode / regexp) — no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ITEM_PREFIX = "https://baike.baidu.com/item/"
RE_PERSON_NAME = "^[一-龥]{2,4}$"


def last_segment(url: Column) -> Column:
    return F.element_at(F.split(url, "/"), -1)


def is_possible_item_url(url: Column) -> Column:
    """F2: item-prefixed and last segment without '.'."""
    return url.startswith(ITEM_PREFIX) & ~last_segment(url).contains(".")


def person_url_relevance(url: Column) -> Column:
    """F1 proxy: 1 when the decoded last segment looks like a CJK person
    name, else 0 (threshold 0.8 keeps only relevance 1). try_url_decode:
    a malformed percent-escape in one href must classify as irrelevant,
    not fail the job."""
    decoded = F.try_url_decode(last_segment(url))
    return F.when(decoded.rlike(RE_PERSON_NAME), F.lit(1)).otherwise(F.lit(0))


def classify_urls(df, extra_cols: tuple = ()):
    """(url, possible, relevance, keep[, *extra_cols]) — keep mirrors the
    reference's 'useful' routing: possible AND relevance >= 0.8."""
    url = F.col("url")
    rel = person_url_relevance(url)
    possible = is_possible_item_url(url)
    return df.select(
        url.alias("url"),
        possible.alias("possible"),
        rel.alias("relevance"),
        (possible & (rel >= F.lit(0.8))).alias("keep"),
        *[F.col(c) for c in extra_cols],
    )


def seed_frontier(spark, seed_path: str, capacity: int | None = None):
    """S2 seed-file scan -> classified crawl frontier (readSeed,
    /root/reference/src/spider/WebSpider.py:46-59): read one URL per
    line, trim whitespace (the reference's readline keeps the trailing
    newline; the queue consumer strips it), classify (F1/F2). Blank
    lines are KEPT as rows (url='', keep=false): the reference enqueues
    the raw line — including a bare newline — so seq numbering and
    frontier row counts must match a seed file with blanks
    (WebSpider.py:46-59 never skips). The reference's seedQueue is
    constructed UNBOUNDED (``Queue()`` with no maxsize, WebSpider.py:38),
    so its ``full()`` check never fires and every seed is read —
    capacity here defaults to None to match; pass a value only as an
    extension. Returns (url, possible, relevance, keep, seq); appending
    it to a parquet queue table replaces the in-process Queue, and
    queue_batch-style ORDER BY seq LIMIT n is the dequeue."""
    from pyspark.sql import Window

    lines = spark.read.text(seed_path).select(
        F.trim(F.col("value")).alias("url"))
    w = Window.orderBy(F.monotonically_increasing_id())
    bounded = lines.withColumn("seq", F.row_number().over(w))
    if capacity is not None:
        bounded = bounded.where(F.col("seq") <= capacity)
    return classify_urls(bounded, extra_cols=("seq",))
