"""Per-layer metrics of a traced run (``--trace 1``).

Numbers "per round" are totals over the traced crawls' rounds divided by
the number of those rounds. Spans come from ``tracing.py``; bytes and rows
from the round directories the crawl committed; Spark work from the event
log (``eventlog.py``), with jobs attributed to a traced crawl by submission
time. See README.md for which end-to-end metric each should move, and on
which workload.
"""

from __future__ import annotations

import statistics
import time

from perfbench import eventlog
from perfbench.tracing import covered

TABLES = ("frontier", "seen", "bloom", "crawl_log", "datasets", "units")
EXTRACT_SCOPES = {"MapInPandas"}
SEEN_SCOPES = {"FlatMapCoGroupsInPandas", "ArrowEvalPython"}
PARSE_SAMPLE_PAGES = 300


def _traced(ok: list[dict]) -> list[dict]:
    return [c for c in ok if c["traced"]]


def _crawl_span(c: dict):
    return c["tracer"].named("crawl")[0]


def per_layer(bench, ok: list[dict]) -> dict:
    traced = _traced(ok)
    rounds = [r for c in traced for r in c["layout"]["rounds"]]
    n = len(rounds)
    if not n:
        return {}
    fetched = sum(r["fetched"] for r in rounds)

    def spans(name: str):
        return [s for c in traced
                for s in c["tracer"].named(name, within=_crawl_span(c))]

    round_self = sum(
        c["tracer"].self_time(s) for c in traced
        for s in c["tracer"].named("scheduler.round")
    )
    out = {
        "scheduler.round_self_s": (round_self / n, "s"),
        "scheduler.rows_scanned_per_fetch": (
            sum(r["frontier_rows_in"] for r in rounds) / max(fetched, 1), "ratio"),
        "seen.snapshot_mb_per_round": (sum(r["mb"]["seen"] for r in rounds) / n, "MB"),
        "seen.bloom_mb_per_round": (sum(r["mb"]["bloom"] for r in rounds) / n, "MB"),
        "seen.rows_written_per_new_row": (
            sum(r["seen_rows"] for r in rounds) / max(fetched, 1), "ratio"),
        "seen.rank_and_key_s": (sum(s.dur for s in spans("seen.rank_and_key")) / n, "s"),
        "seen.bloom_from_rows_s": (
            sum(s.dur for s in spans("seen.bloom_from_rows")) / n, "s"),
        "extract.parse_us_per_member": (parse_us_per_member(bench), "us"),
        "extract.units_per_page": (
            sum(c["units"] for c in traced) / max(sum(c["fetched"] for c in traced), 1),
            "count"),
        "warehouse.commit_s": (sum(s.dur for s in spans("warehouse.commit")) / n, "s"),
        "warehouse.index_mb": (
            statistics.median(c["layout"]["index_mb"] for c in traced), "MB"),
        "canonical.index_build_s": (
            statistics.median(s.dur for c in traced
                              for s in c["tracer"].named("canonical.index_build")), "s"),
    }
    for t in TABLES:
        out[f"warehouse.commit_mb.{t}"] = (sum(r["mb"][t] for r in rounds) / n, "MB")
    untraced = [c["urls_per_s"] for c in ok if not c["traced"]]
    if untraced:
        base = statistics.median(untraced)
        traced_ups = statistics.median(c["urls_per_s"] for c in traced)
        out["trace.overhead_pct"] = (100.0 * (base - traced_ups) / base, "%")
    return out


def parse_us_per_member(bench) -> float:
    """Direct ``parse_abcd`` calls on the members of the workload's first
    pages: the extraction UDF's own Python cost, apart from Spark."""
    from crawlspark import synth
    from crawlspark.extract import ParseError, parse_abcd, zip_members

    fields, lpf = bench.fields, bench.settings.abcd.landing_page_field
    members = [
        blob
        for i in bench.inputs.page_ids[:PARSE_SAMPLE_PAGES]
        for _, blob, _ in zip_members(synth.page_html(i))
    ]
    passes = []
    for _ in range(3):
        t0 = time.perf_counter()
        for blob in members:
            try:
                parse_abcd(fields, lpf, blob, "proposal")
            except ParseError:  # the ~1% non-ABCD members take this path
                pass
        passes.append(time.perf_counter() - t0)
    return 1e6 * statistics.median(passes) / len(members)


def eventlog_metrics(bench, ok: list[dict]) -> dict:
    """Spark work of the traced crawls, per round, from the event log."""
    traced = _traced(ok)
    n = sum(len(c["layout"]["rounds"]) for c in traced)
    if not n:
        return {}
    [app] = [p for p in bench.eventlog_dir.iterdir()]
    jobs = eventlog.read(app)
    windows = [(s.start, s.end) for c in traced for s in [_crawl_span(c)]]
    mine = eventlog.in_windows(jobs, windows)
    tot = eventlog.totals(mine)
    busy = [(j.submit_s, j.end_s) for j in mine if j.end_s is not None]
    idle = sum(
        s.dur - covered(busy, s.start, s.end)
        for c in traced for s in c["tracer"].named("scheduler.round")
    )
    return {
        "spark.jobs_per_round": (tot["jobs"] / n, "count"),
        "spark.stages_per_round": (tot["stages"] / n, "count"),
        "spark.tasks_per_round": (tot["tasks"] / n, "count"),
        "spark.driver_idle_s_per_round": (idle / n, "s"),
        "spark.exec_run_s": (tot["run_s"] / n, "s"),
        "spark.exec_cpu_s": (tot["cpu_s"] / n, "s"),
        "spark.gc_s": (tot["gc_s"] / n, "s"),
        "spark.shuffle_read_mb": (tot["shuffle_read_mb"] / n, "MB"),
        "spark.shuffle_write_mb": (tot["shuffle_write_mb"] / n, "MB"),
        "spark.spill_mb": (tot["spill_mb"] / n, "MB"),
        "spark.scan_mb": (tot["scan_mb"] / n, "MB"),
        "extract.udf_stage_run_s": (eventlog.scope_run_s(mine, EXTRACT_SCOPES) / n, "s"),
        "seen.udf_stage_run_s": (eventlog.scope_run_s(mine, SEEN_SCOPES) / n, "s"),
    }
