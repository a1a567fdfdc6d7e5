"""The benchmark's workloads: inputs from a seed, the settings that define
each, the expected output from ``tests/oracle_sim.py``, and the output check.

The program sees only the generated tables (pages, frontier, robots, and
for ``mature`` a committed warehouse state); the seed picks the page-id
window and the rediscovered ids.
"""

from __future__ import annotations

import importlib.util
import random
import sys
from dataclasses import dataclass, field
from pathlib import Path

from crawlspark import synth

ROOT = Path(__file__).resolve().parents[1]


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int          # fetchable pages in the crawl's id window
    n_hosts: int
    rounds: int           # rounds per crawl (a crawl may drain sooner)
    bulk: bool            # budget_override=10**9, max_retries=0 (bench.py's regime)
    seen_size: int = 0    # mature: canonical urls already in the seen set
    rediscovered: int = 0  # mature: already-seen urls put back in the frontier

    def overrides(self) -> dict:
        if self.bulk:
            return {"crawl": {"budget_override": 10**9, "max_retries": 0}}
        return {}


# why each workload, and how its sizes fit the run budget: README.md
WORKLOADS = {
    w.name: w
    for w in [
        Workload("bulk", n_pages=10_000, n_hosts=25, rounds=1, bulk=True),
        Workload("mature", n_pages=2_500, n_hosts=100, rounds=2, bulk=False,
                 seen_size=30_000, rediscovered=500),
    ]
}


def oracle_sim():
    """``tests/oracle_sim.py``, loaded by path and never modified."""
    spec = importlib.util.spec_from_file_location(
        "oracle_sim", ROOT / "tests" / "oracle_sim.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["oracle_sim"] = mod  # dataclasses look their module up here
    spec.loader.exec_module(mod)
    return mod


# -- inputs ------------------------------------------------------------------

@dataclass
class Inputs:
    page_ids: range        # fetchable pages: the crawl's new work
    old_ids: range         # mature: pages already in the seen set
    rediscovered: list[int]  # mature: old ids put back in the frontier
    frontier: list[dict]   # FRONTIER rows, rediscovered ones last
    robots: list[dict]


def frontier_rows(ids, n_hosts: int) -> list[dict]:
    """``synth.frontier_rows`` over an arbitrary id window: each page once,
    ~5% canonicalisation variants, ~2% unknown urls."""
    rows = []
    for i in ids:
        h = synth.host_of(i, n_hosts)
        base = {
            "host": f"host{h}.example.org",
            "warc_ts": synth.warc_ts(i),
            "provider": f"provider_{h % 7}",
            "discovered_round": 0,
            "retries": 0,
        }
        unknown = synth.is_unknown(i)
        url = synth.unknown_url(i, n_hosts) if unknown else synth.page_url(i, n_hosts)
        rows.append({"url": url, "priority": i % 4, **base})
        variant = synth.variant_url(i, n_hosts)
        if variant is not None and not unknown:
            rows.append({"url": variant, "priority": (i + 1) % 4, **base})
    return rows


def _blocked(i: int, n_hosts: int) -> bool:
    """synth.robots_rows disallows /p/9 on every host h with h % 10 == 3."""
    return synth.host_of(i, n_hosts) % 10 == 3 and str(i).startswith("9")


def make_inputs(wl: Workload, seed: int) -> Inputs:
    rng = random.Random(seed)
    # every id of a window [9xx_000_000, +1M) starts with 9, so synth's robots
    # rule (/p/9 disallowed on hosts h % 10 == 3) blocks the same share of
    # pages whatever the seed
    base = 900_000_000 + 1_000_000 * rng.randrange(99)
    page_ids = range(base, base + wl.n_pages)
    old_ids = range(base + wl.n_pages, base + wl.n_pages + wl.seen_size)
    # rediscovered urls are ones robots allow, so each counts as deduped
    pool = [i for i in rng.sample(old_ids, min(len(old_ids), 2 * wl.rediscovered))
            if not _blocked(i, wl.n_hosts)] if wl.rediscovered else []
    rediscovered = sorted(pool[: wl.rediscovered])
    frontier = frontier_rows(page_ids, wl.n_hosts)
    for i in rediscovered:
        h = synth.host_of(i, wl.n_hosts)
        frontier.append({
            "url": synth.page_url(i, wl.n_hosts), "host": f"host{h}.example.org",
            "priority": i % 4, "warc_ts": synth.warc_ts(i),
            "provider": f"provider_{h % 7}", "discovered_round": 0, "retries": 0,
        })
    return Inputs(page_ids, old_ids, rediscovered, frontier, synth.robots_rows(wl.n_hosts))


def write_pages(path: Path, ids, n_hosts: int) -> None:
    """Pages parquet with the columns the crawler reads (url, warc_ts, html)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = list(ids)
    pq.write_table(
        pa.table({
            "url": [synth.page_url(i, n_hosts) for i in ids],
            "warc_ts": [synth.warc_ts(i) for i in ids],
            "html": [synth.page_html(i) for i in ids],
        }),
        path,
    )


def page_units(i: int) -> int:
    """Unit rows extraction yields for page i (garbage members yield none)."""
    return sum(
        synth.n_units(i, m)
        for m in range(synth.n_members(i))
        if not synth.member_is_garbage(i, m)
    )


def page_id(curl: str) -> int:
    return int(curl.rsplit("/", 1)[1])


# -- expected output -----------------------------------------------------------

COUNTERS = ("fetched", "deduped", "robots_blocked", "retried", "failed")  # + units


@dataclass
class Expected:
    first_round: int               # engine round number of the crawl's first round
    seen_before: int               # rows already in the seen set
    log: dict[int, list[tuple]] = field(default_factory=dict)     # round -> [(round, seq, url)]
    seen: dict[int, dict[str, int]] = field(default_factory=dict)  # round -> {url: key}
    counters: dict[int, dict[str, int]] = field(default_factory=dict)

    @property
    def rounds(self) -> list[int]:
        return sorted(self.counters)


def expected(wl: Workload, inp: Inputs) -> Expected:
    """Crawl order, seen keys and counters per round, from the oracle.

    For ``mature`` the oracle runs over the new-page frontier only; the
    rediscovered rows are all deduped in the first round, and keys continue
    after the seen set's ``seen_size`` keys."""
    from crawlspark.settings import Settings

    crawl = Settings.new(overrides=wl.overrides()).crawl
    robots = {r["host"]: dict(r) for r in inp.robots}
    budget = crawl.default_host_budget
    if crawl.budget_override is not None:  # replaces every robots budget
        budget = crawl.budget_override
        for r in robots.values():
            r["max_per_round"] = None
    frontier = inp.frontier[: len(inp.frontier) - len(inp.rediscovered)]
    sim = oracle_sim().simulate(
        frontier,
        {synth.page_url(i, wl.n_hosts) for i in inp.page_ids},
        robots,
        default_budget=budget,
        max_retries=crawl.max_retries,
        max_rounds=wl.rounds,
    )
    first = 1 if wl.seen_size else 0
    exp = Expected(first_round=first, seen_before=wl.seen_size)
    fetched_round: dict[str, int] = {}
    for r, seq, url in sim.crawl_order:
        exp.log.setdefault(r + first, []).append((r + first, seq, url))
        if url in sim.seen:
            fetched_round[url] = r + first
    for url, key in sim.seen.items():
        exp.seen.setdefault(fetched_round[url], {})[url] = key + wl.seen_size
    for m in sim.metrics:
        r = m["round"] + first
        c = {k: m[k] for k in COUNTERS}
        c["units"] = sum(page_units(page_id(u)) for u in exp.seen.get(r, {}))
        exp.counters[r] = c
    exp.counters[first]["deduped"] += len(inp.rediscovered)
    return exp


def read_output(spark, wh, exp: Expected) -> tuple[list, list, int]:
    """What the crawl committed, for ``failed_rounds``: its crawl-log rows,
    the seen rows it added, and the seen-set size."""
    from pyspark.sql import functions as F

    from crawlspark import schemas

    log = [
        (r["round"], r["seq"], r["url"])
        for r in wh.read_appends(spark, "crawl_log", schemas.CRAWL_LOG)
        .filter(F.col("round") >= exp.first_round).collect()
    ]
    seen = wh.read_state(spark, "seen", schemas.SEEN)
    new_seen = [
        (r["url"], r["surrogate_key"], r["first_round"])
        for r in seen.filter(F.col("first_round") >= exp.first_round).collect()
    ]
    return log, new_seen, seen.count()


def failed_rounds(exp: Expected, results, log_rows, seen_rows, seen_total: int) -> list[int]:
    """Rounds whose counters, crawl-log slice or new seen keys differ.

    ``results``: the crawl's RoundResults; ``log_rows``: (round, seq, url)
    of the crawl's rounds; ``seen_rows``: (url, surrogate_key, first_round)
    of the seen rows the crawl added; ``seen_total``: seen-set size after it."""
    got_counters = {
        rr.round: {k: getattr(rr, k) for k in (*COUNTERS, "units")} for rr in results
    }
    got_log: dict[int, list[tuple]] = {}
    for row in sorted(log_rows):
        got_log.setdefault(row[0], []).append(tuple(row))
    got_seen: dict[int, dict[str, int]] = {}
    for url, key, first_round in seen_rows:
        got_seen.setdefault(first_round, {})[url] = key
    bad = set()
    for r in sorted(set(exp.counters) | set(got_counters)):
        if (
            got_counters.get(r) != exp.counters.get(r)
            or got_log.get(r, []) != exp.log.get(r, [])
            or got_seen.get(r, {}) != exp.seen.get(r, {})
        ):
            bad.add(r)
    want_total = exp.seen_before + sum(len(s) for s in exp.seen.values())
    if seen_total != want_total:
        bad.add(max(exp.rounds))
    return sorted(bad)
