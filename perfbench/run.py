#!/usr/bin/env python3
"""Crawl benchmark: one workload, end to end or per layer.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. Builds the workload's
inputs from ``--seed``, starts one Spark session on ``local[<nproc>]`` with
the engine's defaults, and crawls closed-loop, one crawl at a time, through
the public ``crawlspark`` API until ``--seconds`` of crawl time are measured
(one crawl at least). Each crawl is set up afresh (warehouse, mature state,
``Crawler``) and its output is checked against ``tests/oracle_sim.py``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log, traces the first crawl, adds an untraced one, and reports
the per-layer metrics (see README.md). The last stdout line is one JSON
object, ``{"correct", "attempted", "failed", "metrics"}``, where attempted
and failed count crawl rounds. Everything the run writes goes under ``.perfbench/``;
``.perfbench/records/`` keeps one JSON record per run (per-crawl numbers,
host steal% and load, and for traced runs the spans).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import pyarrow.parquet as pq
from pyspark import SparkContext

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

# crawlspark is the program under test; outside a full checkout this import
# fails and the benchmark exits non-zero before starting anything
from crawlspark import schemas, synth  # noqa: E402
from crawlspark.scheduler import Crawler  # noqa: E402
from crawlspark.session import get_spark  # noqa: E402
from crawlspark.settings import Settings  # noqa: E402
from crawlspark.warehouse import Warehouse  # noqa: E402
from perfbench import host, layers, state, workloads  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

WORK = ROOT / ".perfbench"
RUN_DIR = WORK / "run"
MB = 1 << 20
NPROC = len(os.sched_getaffinity(0))
SPARE_SETUPS = 2  # setups timed for setup_s, not crawled


def _isolate_scratch() -> None:
    """Keep Spark's and the JVM's scratch files inside the checkout."""
    tmp = RUN_DIR / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(RUN_DIR / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def table_round_bytes(wh_dir: Path, table: str, round_: int) -> int:
    d = wh_dir / table / f"r{round_:06d}"
    return dir_bytes(d) if d.exists() else 0


def parquet_rows(path: Path) -> int:
    if not path.exists():
        return 0
    return sum(pq.ParquetFile(p).metadata.num_rows for p in path.glob("*.parquet"))


class Bench:
    def __init__(self, wl, seed: int, trace: bool):
        self.wl, self.trace = wl, trace
        self.inputs = workloads.make_inputs(wl, seed)
        self.expected = workloads.expected(wl, self.inputs)
        pages_path = RUN_DIR / "pages.parquet"
        workloads.write_pages(pages_path, self.inputs.page_ids, wl.n_hosts)

        conf = {"spark.ui.showConsoleProgress": "false"}
        if trace:
            self.eventlog_dir = RUN_DIR / "eventlog"
            self.eventlog_dir.mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog_dir.as_uri(),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            f"perfbench-{wl.name}", master=f"local[{NPROC}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.settings = Settings.new(overrides=wl.overrides())
        self.fields = synth.golden_fields()
        self.pages = self.spark.read.parquet(str(pages_path))
        self.robots = self.spark.createDataFrame(self.inputs.robots, schemas.ROBOTS)
        self.frontier = self.spark.createDataFrame(self.inputs.frontier, schemas.FRONTIER)
        self.crawls: list[dict] = []
        self.setups: list[dict] = []
        self.peak_rss: dict | None = None

    # -- one crawl ------------------------------------------------------------
    def setup(self, wh_dir: Path):
        """A fresh warehouse (with the mature state) and crawler, timed."""
        wl, sp = self.wl, self.spark
        t0 = time.time()
        wh = Warehouse(wh_dir)
        if wl.seen_size:
            state.commit_seen_state(
                sp, wh, self.settings, self.inputs.old_ids.start,
                self.inputs.old_ids.stop, wl.n_hosts, self.frontier,
            )
        t1 = time.time()
        crawler = Crawler(
            sp, self.settings, wh, self.fields, self.pages, self.robots, self.frontier
        )
        t2 = time.time()
        self.setups.append({"setup_s": t2 - t0, "index_s": t2 - t1})
        return wh, crawler

    def crawl(self, n: int, tracer) -> dict:
        """Set up, crawl ``wl.rounds`` rounds, check the output."""
        wh_dir = RUN_DIR / f"wh{n}"
        rec: dict = {"crawl": n, "traced": tracer.full}
        with tracer.patched():
            wh, crawler = self.setup(wh_dir)
            bytes0 = dir_bytes(wh_dir)
            cpu0, window = host.cpu_seconds(), host.HostWindow()
            t0 = time.time()
            with tracer.span("crawl"):
                results = crawler.run(max_rounds=self.wl.rounds)
            t1 = time.time()
            cpu1 = host.cpu_seconds()
        rec["host"] = window.close()
        urls = sum(r.fetched + r.deduped for r in results)
        rec.update(
            self.setups[-1],
            crawl_s=t1 - t0,
            urls=urls,
            urls_per_s=urls / (t1 - t0),
            round_s=[s.dur for s in tracer.named("scheduler.round")],
            written_mb=(dir_bytes(wh_dir) - bytes0) / MB,
            warehouse_mb=dir_bytes(wh_dir) / MB,
            cpu_s_per_kurl=(cpu1 - cpu0) / (urls / 1000),
            rounds=[r.round for r in results],
            fetched=sum(r.fetched for r in results),
            units=sum(r.units for r in results),
            layout=self._layout(wh_dir, results),
        )
        rec["failed_rounds"] = workloads.failed_rounds(
            self.expected, results, *workloads.read_output(self.spark, wh, self.expected)
        )
        return rec

    def _layout(self, wh_dir: Path, results) -> dict:
        """Bytes and rows the crawl's rounds committed, per table."""
        out = {"index_mb": dir_bytes(wh_dir / "pages_idx") / MB, "rounds": []}
        for rr in results:
            r = rr.round
            prev = wh_dir / "frontier" / f"r{r - 1:06d}"
            out["rounds"].append({
                "round": r,
                "fetched": rr.fetched,
                "mb": {t: table_round_bytes(wh_dir, t, r) / MB for t in layers.TABLES},
                "seen_rows": parquet_rows(wh_dir / "seen" / f"r{r:06d}"),
                "frontier_rows_in": parquet_rows(prev) if r > 0 else len(self.inputs.frontier),
            })
        return out

    # -- the run ----------------------------------------------------------------
    def run(self, seconds: float) -> None:
        """Make ``SPARE_SETUPS`` setups, so that ``setup_s`` is a median, then
        crawl until ``seconds`` of crawl time are measured. A traced run
        traces its first crawl, placed like an untraced run's, and adds an
        untraced one after it to compare with."""
        min_crawls = 2 if self.trace else 1
        for k in range(SPARE_SETUPS):
            self.setup(RUN_DIR / f"spare{k}")
            shutil.rmtree(RUN_DIR / f"spare{k}")
        measured = 0.0
        while len(self.crawls) < min_crawls or measured < seconds:
            n = len(self.crawls)
            tracer = Tracer(full=self.trace and n % 2 == 0)
            try:
                rec = self.crawl(n, tracer)
                measured += rec["crawl_s"]
            except Exception:  # a crawl that raises fails all its rounds
                traceback.print_exc()
                rec = {"crawl": n, "traced": tracer.full, "error": True,
                       "failed_rounds": list(self.expected.rounds)}
                measured += seconds / min_crawls  # never loop on a broken engine
            rec["tracer"] = tracer
            self.crawls.append(rec)
            shutil.rmtree(RUN_DIR / f"wh{n}", ignore_errors=True)

    def stop(self) -> None:
        """Stop Spark and the JVM, and wait for every process they started
        (the JVM, the Python worker daemon and its workers) to end."""
        started = [p for p in host.tree() if p != os.getpid()]
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
        host.end_processes(started)


def median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(bench: Bench, ok: list[dict]) -> dict:
    rounds = [s for c in ok for s in c["round_s"]]
    return {
        "urls_per_s": (median([c["urls_per_s"] for c in ok]), "1/s"),
        "round_s_p50": (median(rounds), "s"),
        "setup_s": (median([s["setup_s"] for s in bench.setups]), "s"),
        "written_mb": (median([c["written_mb"] for c in ok]), "MB"),
        "warehouse_mb": (median([c["warehouse_mb"] for c in ok]), "MB"),
        "cpu_s_per_kurl": (median([c["cpu_s_per_kurl"] for c in ok]), "s"),
        # the JVM's peak is in the run record only: its heap grows with GC
        # timing more than with the crawl, wider than any bound allows
        "py_peak_rss_mb": (bench.peak_rss["python"], "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    wl = workloads.WORKLOADS[args.workload]
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    _isolate_scratch()

    started = time.time()
    bench = Bench(wl, args.seed, bool(args.trace))
    try:
        bench.run(args.seconds)
        ok = [c for c in bench.crawls if not c.get("error")]
        bench.peak_rss = host.peak_rss_mb()
        if args.trace:
            metrics = layers.per_layer(bench, ok)
        else:
            metrics = end_to_end(bench, ok)
    finally:
        bench.stop()
    if args.trace:
        metrics.update(layers.eventlog_metrics(bench, ok))

    attempted = sum(len(bench.expected.rounds) for _ in bench.crawls)
    failed = sum(len(c["failed_rounds"]) for c in bench.crawls)
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items() if v is not None
        },
    }
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "wall_s": time.time() - started, "nproc": NPROC,
        "setups": bench.setups,
        "peak_rss_mb": bench.peak_rss,
        "crawls": [
            {k: v for k, v in c.items() if k != "tracer"}
            | ({"spans": c["tracer"].to_json()} if c["tracer"].full else {})
            for c in bench.crawls
        ],
        "result": out,
    }
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    name = f"{wl.name}-seed{args.seed}-trace{args.trace}-{int(started)}.json"
    (records / name).write_text(json.dumps(record, indent=1, default=str))
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
