"""The mature state must be exactly what a real bulk crawl commits.

``perfbench/state.py`` builds the ``mature`` workload's seen set and bloom
filter from public functions instead of crawling; here a real one-round
bulk crawl of the same pages is the reference. Run with
``python3 -m pytest perfbench/tests -q``.
"""

from crawlspark import schemas, synth
from crawlspark.scheduler import Crawler
from crawlspark.settings import Settings
from crawlspark.warehouse import Warehouse

from perfbench.state import commit_seen_state
from perfbench.workloads import (
    WORKLOADS, Workload, expected, failed_rounds, make_inputs, read_output,
)

# ids without a leading 9, so the synth robots rules (/p/9 disallowed on
# some hosts) block none of them and a bulk crawl fetches every page
LO, HI, N_HOSTS = 1000, 1300, 7
BULK = {"crawl": {"budget_override": 10**9, "max_retries": 0}}


def page_frontier(ids):
    return [
        {"url": synth.page_url(i, N_HOSTS), "host": f"host{synth.host_of(i, N_HOSTS)}.example.org",
         "priority": i % 4, "warc_ts": synth.warc_ts(i), "provider": "p",
         "discovered_round": 0, "retries": 0}
        for i in ids
    ]


def state_rows(spark, wh):
    seen = sorted(
        tuple(r) for r in wh.read_state(spark, "seen")
        .select("url", "url_hash", "surrogate_key", "first_round").collect()
    )
    bloom = sorted(
        (r["bucket"], bytes(r["bitmap"]), r["bits"], r["k"], r["n_buckets"])
        for r in wh.read_state(spark, "bloom").collect()
    )
    return seen, bloom


def test_built_state_equals_bulk_crawl(spark, tmp_path):
    settings = Settings.new(overrides=BULK)
    ids = range(LO, HI)
    robots = spark.createDataFrame(synth.robots_rows(N_HOSTS), schemas.ROBOTS)
    pages = spark.createDataFrame([synth.page_row(i, N_HOSTS) for i in ids], schemas.PAGES)
    frontier = spark.createDataFrame(page_frontier(ids), schemas.FRONTIER)

    crawled = Warehouse(tmp_path / "crawled")
    results = Crawler(
        spark, settings, crawled, synth.golden_fields(), pages, robots, frontier
    ).run()
    assert [r.fetched for r in results] == [len(ids)]

    built = Warehouse(tmp_path / "built")
    empty = spark.createDataFrame([], schemas.FRONTIER)
    commit_seen_state(spark, built, settings, LO, HI, N_HOSTS, empty)

    want_seen, want_bloom = state_rows(spark, crawled)
    got_seen, got_bloom = state_rows(spark, built)
    assert got_seen == want_seen
    assert sorted(k for _, _, k, _ in got_seen) == list(range(1, len(ids) + 1))
    assert got_bloom == want_bloom


def test_resumed_crawl_matches_the_oracle(spark, tmp_path):
    """The ``mature`` output check at small scale: a crawl resumed on built
    state keys new pages after the old ones, drops every rediscovered url as
    already seen, and otherwise crawls as the oracle does."""
    wl = Workload("tiny", n_pages=60, n_hosts=N_HOSTS, rounds=2, bulk=False,
                  seen_size=300, rediscovered=5)
    inp = make_inputs(wl, seed=3)
    exp = expected(wl, inp)
    settings = Settings.new(overrides=wl.overrides())
    frontier = spark.createDataFrame(inp.frontier, schemas.FRONTIER)
    robots = spark.createDataFrame(inp.robots, schemas.ROBOTS)
    pages = spark.createDataFrame(
        [synth.page_row(i, N_HOSTS) for i in inp.page_ids], schemas.PAGES
    )
    wh = Warehouse(tmp_path / "wh")
    commit_seen_state(spark, wh, settings, inp.old_ids.start, inp.old_ids.stop,
                      N_HOSTS, frontier)
    results = Crawler(
        spark, settings, wh, synth.golden_fields(), pages, robots, frontier
    ).run(max_rounds=wl.rounds)

    assert [r.round for r in results] == [1, 2]
    assert failed_rounds(exp, results, *read_output(spark, wh, exp)) == []
    assert exp.counters[1]["deduped"] >= wl.rediscovered
    # the check notices a wrong key
    log, seen, total = read_output(spark, wh, exp)
    url, key, first = seen[0]
    assert failed_rounds(exp, results, log, [(url, key + 1, first)] + seen[1:], total) == [first]


def test_inputs_are_a_function_of_the_seed():
    wl = WORKLOADS["mature"]
    a, b, c = make_inputs(wl, 7), make_inputs(wl, 7), make_inputs(wl, 8)
    assert a.frontier == b.frontier and a.rediscovered == b.rediscovered
    assert a.page_ids != c.page_ids
    assert len(a.rediscovered) == wl.rediscovered
    assert set(a.rediscovered) <= set(a.old_ids)
