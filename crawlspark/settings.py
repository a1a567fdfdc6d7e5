"""Layered TOML configuration.

Mirrors the reference's settings semantics (defaults < settings file < explicit
overrides): /root/reference/src/settings.rs:73-86, schema 10-71, defaults
/root/reference/settings-default.toml:1-43 — re-expressed as dataclasses with
crawl-engine knobs (politeness budget, retry limit, bloom sizing) replacing the
Postgres/Elasticsearch connection details.
"""

from __future__ import annotations

import dataclasses
import tomllib
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any


@dataclass
class GeneralSettings:
    debug: bool = False


@dataclass
class DebugSettings:
    # the reference's debug window over the seed list
    # (src/settings.rs:56-60, src/main.rs:154-169)
    dataset_start: int | None = 0
    dataset_limit: int | None = 3


@dataclass
class AbcdSettings:
    landing_page_field: str = (
        "/DataSets/DataSet/Metadata/Description/Representation/URI"
    )


@dataclass
class CrawlSettings:
    """Knobs of the PySpark crawl loop (no reference analog: north_rule)."""

    default_host_budget: int = 8        # politeness: max fetches per host per round
    budget_override: int | None = None  # bulk/bench mode: ignore robots budgets
    max_retries: int = 1                # fetch-miss re-enqueue attempts (src/main.rs:190-203 analog)
    max_rounds: int = 64
    # seen prefilter kind and sizing below apply only to a filter that does
    # not exist yet: a committed filter keeps its own (seen.committed_filter)
    bloom_bits: int = 1 << 20           # per-bucket bloom sizing (scaled up at 10^10)
    bloom_hashes: int = 5
    # hash-range partitions of the seen prefilter: the probe cogroups each
    # batch bucket with ONLY its own bitmap row, so no task, executor or the
    # driver ever holds the whole filter (a useful bloom is 10+ GB at 10^10)
    seen_buckets: int = 32
    # seen-set prefilter kind: 'bloom' (append-only; eviction = rebuild) or
    # 'cuckoo' (deletable — re-crawl eviction is a per-bucket fingerprint
    # delete, no rebuild; see seen.PartitionedCuckoo / Crawler.evict)
    seen_filter: str = "bloom"
    cuckoo_entries: int = 1 << 14   # cuckoo buckets per hash-range partition
    cuckoo_slots: int = 4           # fingerprints per cuckoo bucket
    # opt-in frontier growth: extract outlinks from fetched pages and enqueue
    # them (canonical.extract_links_expr). Default OFF — the reference crawls
    # a fixed seed list, and the crawl-order/seen-set parity oracle
    # (tests/oracle_sim.py) models exactly that
    discover_links: bool = False
    discovered_priority: int = 1    # priority for discovered urls (seed = 0)
    # opt-in post-round curation: run the quality-gate + near-dup chain
    # (textops.curation_decisions) over the round's extracted text and append
    # per-document keep/drop verdicts to the warehouse 'curation' table.
    # Default OFF — the default crawl path stays byte-identical to the
    # reference-parity oracle
    curate: bool = False
    curate_jaccard_threshold: float = 0.8
    # opt-in crawl-trap derating: score each round's candidate URL shapes
    # (canonical.url_trap_signals) and divide a flagged host's politeness
    # budget by trap_budget_divisor (floor 1). Default OFF — same
    # oracle-parity reasoning as discover_links/curate
    trap_detect: bool = False
    trap_budget_divisor: int = 4


@dataclass
class Settings:
    general: GeneralSettings = field(default_factory=GeneralSettings)
    debug: DebugSettings = field(default_factory=DebugSettings)
    abcd: AbcdSettings = field(default_factory=AbcdSettings)
    crawl: CrawlSettings = field(default_factory=CrawlSettings)

    @classmethod
    def new(cls, path: str | Path | None = None, overrides: dict | None = None) -> "Settings":
        """Defaults < TOML file (optional) < overrides dict.

        Same layering contract as Settings::new (src/settings.rs:73-86).
        """
        data: dict[str, Any] = {}
        if path is not None:
            with open(path, "rb") as f:
                data = tomllib.load(f)
        if overrides:
            for section, kv in overrides.items():
                data.setdefault(section, {}).update(kv)
        return cls._from_dict(data)

    @classmethod
    def _from_dict(cls, data: dict[str, Any]) -> "Settings":
        kwargs = {}
        for f_ in dataclasses.fields(cls):
            section_cls = f_.default_factory  # type: ignore[union-attr]
            section_data = data.get(f_.name, {})
            known = {x.name for x in dataclasses.fields(section_cls)}
            unknown = set(section_data) - known
            if unknown:
                raise ValueError(f"unknown settings keys in [{f_.name}]: {sorted(unknown)}")
            kwargs[f_.name] = section_cls(**section_data)
        return cls(**kwargs)
