"""robots.txt ingestion: raw fetched bodies → the structured rules table the
scheduler enforces (crawlspark.scheduler robots join).

The reference has no robots handling (its seed list is curated); the
north_rule mandates per-host robots budgets, so the engine needs the
ingestion edge from raw `robots.txt` payloads (fetched like any page) to
`schemas.ROBOTS` rows. The parser implements the de-facto public standard
(original 1994 REP + RFC 9309 basics) for the subset the scheduler enforces:

* ``User-agent:`` lines select whether the following record applies — exact
  match on the agent token or ``*``. Per RFC 9309 §2.2.1, CONSECUTIVE
  ``User-agent`` lines form ONE record (a group's rules apply if ANY of its
  start-group agent lines matches); a ``User-agent`` line appearing after
  rule lines starts a NEW record. Comments and blank lines are transparent
  to grouping (RFC 9309 drops them before parsing, unlike the 1994 REP's
  blank-line record separator);
* ``Disallow:`` with a non-empty value contributes a path prefix (empty
  value = allow-all, contributes nothing);
* ``Crawl-delay:`` (non-standard but ubiquitous) keeps the LAST applicable
  value, parsed as a double (unparseable → ignored);
* ``#`` comments and blank lines are ignored; directive names are
  case-insensitive; values keep their case.

Scale shape: ONE Catalyst fold per body (aggregate over the line array with
a struct accumulator — active-section flag, collected prefixes, delay); no
Python, no explode/shuffle. A 10^10-URL crawl parses robots for ~10^7 hosts
as a pure projection of the robots-fetch join output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_robots_txt(
    df: DataFrame,
    host_col: str = "host",
    body_col: str = "body",
    user_agent: str = "*",
) -> DataFrame:
    """(host, body) → (host, disallow_prefixes, crawl_delay_s).

    A record applies when ANY ``User-agent`` line in its start group is ``*``
    or equals ``user_agent`` (case-insensitive agent match): RFC 9309 §2.2.1
    groups consecutive ``User-agent`` lines into one record, so
    ``User-agent: *\\nUser-agent: OtherBot\\nDisallow: /x`` disallows ``/x``
    for BOTH agents. A ``User-agent`` line after rule lines starts a fresh
    record (its match REPLACES the accumulator state rather than OR-ing).
    Comments, blank lines, colon-less garbage lines and ``Sitemap`` lines
    (group-independent, RFC 9309 §2.3) are transparent: they neither close a
    start group nor change state. Bodies with no applicable
    record yield an empty prefix array and NULL delay.
    """
    ua = user_agent.lower()
    lines = F.split(F.col(body_col), "\r?\n")  # CRLF bodies are the common case

    acc0 = F.struct(
        F.lit(False).alias("active"),
        F.lit(False).alias("in_ua_group"),
        F.array().cast("array<string>").alias("prefixes"),
        F.lit(None).cast("double").alias("delay"),
    )

    def fold(acc, raw):
        line = F.trim(F.element_at(F.split(raw, "#", 2), 1))
        parts = F.split(line, ":", 2)
        directive = F.lower(F.trim(F.element_at(parts, 1)))
        value = F.trim(F.element_at(parts, 2))  # NULL when no ':' present
        # comment-only / blank / colon-less lines are ignored entirely — they
        # must not break a User-agent start group (RFC 9309 strips them);
        # Sitemap lines are group-independent (RFC 9309 §2.3), so they are
        # transparent to grouping too
        ignorable = (line == "") | value.isNull() | (directive == "sitemap")
        is_ua = directive == "user-agent"
        ua_match = (F.lower(value) == ua) | (value == "*")
        new_active = (
            F.when(ignorable, acc["active"])
            # consecutive UA lines OR into the open group; a UA line after
            # rule lines starts a new record and replaces the state
            .when(is_ua, ua_match | (acc["active"] & acc["in_ua_group"]))
            .otherwise(acc["active"])
        )
        new_in_group = F.when(ignorable, acc["in_ua_group"]).otherwise(is_ua)
        add_prefix = (
            acc["active"] & (directive == "disallow") & value.isNotNull() & (value != "")
        )
        new_prefixes = F.when(
            add_prefix, F.array_append(acc["prefixes"], value)
        ).otherwise(acc["prefixes"])
        delay_val = value.try_cast("double")
        new_delay = F.when(
            acc["active"] & (directive == "crawl-delay") & delay_val.isNotNull(),
            delay_val,
        ).otherwise(acc["delay"])
        return F.struct(
            new_active.alias("active"),
            new_in_group.alias("in_ua_group"),
            new_prefixes.alias("prefixes"),
            new_delay.alias("delay"),
        )

    parsed = F.aggregate(lines, acc0, fold)
    return df.select(
        F.col(host_col).alias("host"),
        parsed["prefixes"].alias("disallow_prefixes"),
        parsed["delay"].alias("crawl_delay_s"),
    )


def robots_rules_table(
    parsed: DataFrame, default_budget: int = 8, budget_per_delay: float = 60.0
) -> DataFrame:
    """Adapt parsed rules to schemas.ROBOTS: a host's per-round budget is
    ``budget_per_delay / crawl_delay_s`` (a round models ~1 minute of
    politeness credit), floored at 1; hosts without a delay get the
    default."""
    budget = F.when(
        F.col("crawl_delay_s").isNotNull() & (F.col("crawl_delay_s") > 0),
        F.greatest(F.floor(F.lit(budget_per_delay) / F.col("crawl_delay_s")), F.lit(1)),
    ).otherwise(F.lit(default_budget))
    return parsed.select(
        "host", "disallow_prefixes", "crawl_delay_s",
        budget.cast("int").alias("max_per_round"),
    )


def robots_sitemaps(
    df: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """(host, body) → exploded (host, sitemap_url) rows from ``Sitemap:``
    directives — RFC 9309 §2.3 / sitemaps.org: the directive is independent
    of any User-agent group, its value is an absolute URL, and multiple
    directives are all kept (in body order). Completes the discovery loop
    robots → sitemap ingestion (``crawlspark.sitemap``): feed these URLs to
    the fetch edge and the bodies to ``parse_sitemap``.

    Same shape discipline as ``parse_robots_txt``: one Catalyst
    transform/filter per body, comment stripping at ``#``, case-insensitive
    directive match, colons inside the URL preserved (split limit 2). The
    only shuffle-relevant op is the explode, which is the desired output
    grain.
    """
    lines = F.split(F.col(body_col), "\r?\n")  # CRLF-safe (see parse_robots_txt)

    def extract(raw):
        line = F.trim(F.element_at(F.split(raw, "#", 2), 1))
        parts = F.split(line, ":", 2)
        directive = F.lower(F.trim(F.element_at(parts, 1)))
        value = F.trim(F.try_element_at(parts, F.lit(2)))
        return F.when(
            (directive == "sitemap") & value.isNotNull() & (value != ""), value
        )

    urls = F.filter(F.transform(lines, extract), lambda x: x.isNotNull())
    return df.select(
        F.col(host_col).alias("host"), F.explode(urls).alias("sitemap_url")
    )
