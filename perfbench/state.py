"""Mature state: a warehouse as a long crawl leaves it, built cheaply.

``commit_seen_state`` commits round 0 of a warehouse whose seen set holds
page ids [lo, hi) with exactly the rows and keys a bulk crawl of those pages
commits, and the prefilter bitmaps that crawl would build. It uses only the
program's public functions (``canonicalize_expr``, ``url_hash_expr``,
``host_expr``, ``rank_and_key``, ``distributed_bloom_update``, ``enrich``,
``Warehouse.commit_round``), so the state is one the engine produces; the
parity test in ``perfbench/tests`` holds it to a real bulk crawl.

Page urls are spelled in Spark with the same formula as ``synth.page_url``,
so a large seen set costs one ``spark.range`` pass instead of Python rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawlspark import synth
from crawlspark.canonical import canonicalize_expr, host_expr, url_hash_expr
from crawlspark.scheduler import ENRICHED_COLS, enrich
from crawlspark.seen import distributed_bloom_update, rank_and_key
from crawlspark.settings import Settings
from crawlspark.warehouse import Warehouse


def page_rows(spark: SparkSession, lo: int, hi: int, n_hosts: int) -> DataFrame:
    """(url, priority, warc_ts) of page ids [lo, hi) as ``synth`` spells them."""
    i = F.col("id")
    host = F.when(i % 5 == 0, F.lit(0)).otherwise(i % n_hosts)
    return spark.range(lo, hi).select(
        F.concat(
            F.lit("https://host"), host.cast("string"),
            F.lit(".example.org/p/"), i.cast("string"),
        ).alias("url"),
        (i % 4).cast("int").alias("priority"),
        F.timestamp_seconds(F.lit(int(synth.EPOCH.timestamp())) + i * 17).alias("warc_ts"),
    )


def commit_seen_state(
    spark: SparkSession,
    wh: Warehouse,
    settings: Settings,
    lo: int,
    hi: int,
    n_hosts: int,
    frontier: DataFrame,
) -> None:
    """Commit round 0: seen = page ids [lo, hi) fetched by one bulk round,
    the matching bloom bitmaps, and ``frontier`` (raw FRONTIER rows) as the
    work left to crawl. A ``Crawler`` on ``wh`` resumes at round 1."""
    c = settings.crawl
    if c.seen_filter != "bloom":
        raise ValueError(f"only the bloom prefilter is built, not {c.seen_filter!r}")
    rows = page_rows(spark, lo, hi, n_hosts).withColumn(
        "curl", canonicalize_expr(F.col("url"))
    )
    rows = rows.withColumn("url_hash", url_hash_expr(F.col("curl"))).withColumn(
        "chost", host_expr(F.col("curl"))
    )
    pins: list[DataFrame] = []
    # a bulk round keys every fetched row densely in crawl order
    ranked = rank_and_key(
        rows.withColumn("is_fetched", F.lit(True)),
        ["chost", "priority", "warc_ts", "curl"],
        fetched_col="is_fetched",
        keep=pins,
    )
    seen = ranked.select(
        F.col("curl").alias("url"), "url_hash", "surrogate_key",
        F.lit(0).alias("first_round"),
    )
    bloom = distributed_bloom_update(
        seen.select("url_hash"), None, c.bloom_bits, c.bloom_hashes, c.seen_buckets
    )
    wh.commit_round(
        0,
        snapshots={
            "frontier": enrich(frontier).select(*ENRICHED_COLS),
            "seen": seen,
            "bloom": bloom,
        },
    )
    for df in pins:
        df.unpersist()
