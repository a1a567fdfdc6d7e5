"""URL-seen set: partitioned prefilter + exact confirm join + dense surrogate keys.

Reference semantics being scaled out:

* ``SurrogateKey::for_id`` — first-seen-wins dense keys 1,2,3… in arrival
  order (/root/reference/src/storage/surrogate_key.rs:24-34), consulted per
  insert (/root/reference/src/storage/database_sink.rs:561-579).

Engine design (north_rule):

* identity = xxhash64(canonical url), canonicalization in canonical.py.
* exactness — the prefilter's answer is only a condition of the exact
  confirm join: a row is seen iff the join finds its canonical url in the
  seen table, and the filter can only stop a row from matching. So a false
  positive costs nothing but a join probe, and the final seen set is
  exactly the reference's (BASELINE.json:2) — provided the filter has no
  false negatives for the way it is probed. Filter-negative rows do NOT
  skip the join: the plan joins the whole batch against the whole seen
  table (``explain``: ``BroadcastHashJoin LeftOuter`` on (url_hash, url),
  ``Join condition: _maybe``).
* two filter kinds, one shape: PartitionedBloom (append-only) and
  PartitionedCuckoo (deletable) are the only code here that differs by
  kind. Both partition the key space by hash range
  (``url_hash & (n_buckets-1)``) and serialize as one
  ``(bucket, blob, *geometry)`` row per partition; one probe
  (routed_probe) and one build/update (routed_update) cogroup each batch
  bucket with only its own filter row, so no task, executor or the driver
  ever holds more than one partition, and the driver never collects or
  rebuilds the filter.
* a committed filter owns its geometry: committed_filter reads the kind,
  the bucket count and the per-partition size from the table's parquet
  footers (no Spark job), so every probe and update routes the way the
  filter was built. Settings only size a filter that does not exist yet.
* dense key assignment avoids a global single-partition sort on large
  batches: range-partitioned row_number + per-partition offset cumulative
  sum (rank_and_key; the partition-count table is tiny).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import schemas

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic second hash derived from xxhash64 (public splitmix64)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return x ^ (x >> np.uint64(31))


class _Partitioned:
    """What both filter kinds share. Keys route to partitions by
    ``hash mod n_buckets`` (the same as the ``hash & (n_buckets-1)`` the
    routed cogroups shuffle by, bucket counts being powers of two); each
    partition is one numpy array, serialized as one
    ``(bucket, blob, *geometry)`` row of the kind's ``schema``.

    A kind sets ``table`` (its warehouse table and ``crawl.seen_filter``
    name), ``schema`` and ``geometry_cols`` (its two per-partition size
    columns, in constructor order), and implements ``_blank``, ``_add``,
    ``_contains`` and ``from_rows``.
    """

    table: str
    geometry_cols: tuple[str, str]

    def __init__(self, n_buckets: int, parts: dict[int, np.ndarray] | None):
        self.n_buckets = n_buckets
        self.parts = parts or {}

    @property
    def geometry(self) -> tuple[int, int, int]:
        """Constructor arguments of an empty filter of this shape."""
        return (*(getattr(self, c) for c in self.geometry_cols), self.n_buckets)

    def _by_partition(self, hashes: np.ndarray):
        """(partition, row mask) for each partition ``hashes`` touch."""
        buckets = hashes.astype(np.int64).view(np.uint64) % np.uint64(self.n_buckets)
        for b in np.unique(buckets):
            yield int(b), buckets == b

    def _part(self, bucket: int) -> np.ndarray:
        part = self.parts.get(bucket)
        if part is None:
            part = self.parts[bucket] = self._blank()
        return part

    def add(self, hashes: np.ndarray) -> None:
        for b, sel in self._by_partition(hashes):
            self._add(self._part(b), hashes[sel])

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        out = np.zeros(len(hashes), dtype=bool)
        for b, sel in self._by_partition(hashes):
            part = self.parts.get(b)
            if part is not None:  # nothing was ever added there
                out[sel] = self._contains(part, hashes[sel])
        return out

    def to_rows(self) -> list[tuple]:
        return [(b, p.tobytes(), *self.geometry) for b, p in sorted(self.parts.items())]


class PartitionedBloom(_Partitioned):
    """Hash-range-partitioned Bloom filter over xxhash64 keys.

    k probe positions per key: (h1 + i*h2) mod bits, h2 = splitmix64(h1);
    one bitmap per partition.
    """

    table, schema, geometry_cols = "bloom", schemas.BLOOM, ("bits", "k")

    def __init__(self, bits_per_bucket: int, n_hashes: int, n_buckets: int,
                 bitmaps: dict[int, np.ndarray] | None = None):
        super().__init__(n_buckets, bitmaps)
        self.bits = bits_per_bucket
        self.k = n_hashes

    def _blank(self) -> np.ndarray:
        return np.zeros(self.bits // 8 + 1, dtype=np.uint8)

    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        h1 = hashes.astype(np.int64).view(np.uint64)
        h2 = _splitmix64(h1) | np.uint64(1)
        ks = np.arange(self.k, dtype=np.uint64)
        return ((h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(self.bits)).astype(np.int64)

    def _add(self, bm: np.ndarray, hashes: np.ndarray) -> None:
        p = self._positions(hashes).ravel()
        np.bitwise_or.at(bm, p >> 3, (1 << (p & 7)).astype(np.uint8))

    def _contains(self, bm: np.ndarray, hashes: np.ndarray) -> np.ndarray:
        p = self._positions(hashes)
        return ((bm[p >> 3] >> (p & 7)) & 1).all(axis=1)

    @classmethod
    def from_rows(cls, rows) -> "PartitionedBloom":
        bitmaps = {}
        bits = k = nb = None
        for b, blob, bits, k, nb in rows:
            bitmaps[int(b)] = np.frombuffer(bytes(blob), dtype=np.uint8).copy()
        if bits is None:
            raise ValueError("empty bloom rows")
        return cls(int(bits), int(k), int(nb), bitmaps)


def _splitmix64_int(x: int) -> int:
    """Scalar splitmix64 over a (possibly signed) 64-bit int."""
    m = 0xFFFFFFFFFFFFFFFF
    x = (x + 0x9E3779B97F4A7C15) & m
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & m
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & m
    return x ^ (x >> 31)


class PartitionedCuckoo(_Partitioned):
    """Hash-range-partitioned cuckoo filter over xxhash64 keys — the
    DELETABLE seen-set prefilter (re-crawl eviction at 10^10 URLs, where a
    Bloom filter would force a full rebuild per eviction wave).

    Public construction (Fan et al., "Cuckoo Filter: Practically Better Than
    Bloom", CoNEXT 2014): per key a 16-bit fingerprint stored in one of two
    candidate buckets of ``slots`` entries; partial-key cuckoo hashing gives
    the alternate bucket as ``i ^ hash(fp)``, so eviction chains never need
    the original key. One ``(m, slots)`` table per partition.

    Deterministic throughout (victim slot rotates by kick count, start bucket
    picked by fingerprint parity) — same input always builds the same tables.

    Set semantics: ``add`` stores ONE copy per inserted key (deduplicating
    only exact-duplicate hashes within a call) — two DISTINCT keys that
    collide on (fingerprint, candidate buckets) each keep their own stored
    copy, bounded by the 2×``slots`` joint bucket capacity, exactly as in the
    Fan et al. construction. That duplication is what makes ``delete`` exact
    for keys that were inserted: evicting one colliding key removes one copy
    and leaves the other key's copy in place (an idempotent add would share a
    single copy and a delete would orphan the survivor — a FALSE NEGATIVE).
    Deleting a key that was never added may still clear a colliding key's
    fingerprint (inherent to cuckoo filters — public caveat); callers must
    pre-filter deletions against the exact seen set, as Crawler.evict does,
    and must add each key at most once per lifetime-unless-deleted, as the
    crawl round does (only keys the exact confirm found new reach add).

    Insert placement is a per-item loop (cuckoo kicks are inherently
    sequential) over a numpy table — throughput scales with executors
    because partitions are independent; probes are fully vectorized.
    """

    table, schema, geometry_cols = "cuckoo", schemas.CUCKOO, ("m", "slots")

    def __init__(self, m: int, slots: int, n_buckets: int,
                 tables: dict[int, np.ndarray] | None = None,
                 max_kicks: int = 500):
        if m & (m - 1):
            raise ValueError(f"m must be a power of two, got {m}")
        super().__init__(n_buckets, tables)
        self.m = m
        self.slots = slots
        self.max_kicks = max_kicks

    def _blank(self) -> np.ndarray:
        return np.zeros((self.m, self.slots), dtype=np.uint16)

    def _derive(self, hashes: np.ndarray):
        """(fingerprint uint16 nonzero, i1, i2) arrays for keys."""
        h = hashes.astype(np.int64).view(np.uint64)
        fp = (_splitmix64(h) & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)
        i1 = ((h >> np.uint64(16)) & np.uint64(self.m - 1)).astype(np.int64)
        i2 = i1 ^ (_splitmix64(fp.astype(np.uint64)) & np.uint64(self.m - 1)).astype(np.int64)
        return fp, i1, i2

    def _alt(self, i: int, fp: int) -> int:
        return i ^ (_splitmix64_int(fp) & (self.m - 1))

    def _add(self, tbl: np.ndarray, hashes: np.ndarray) -> None:
        # within-call exact-hash dedup only: distinct colliding keys MUST each
        # store their own copy or delete() breaks (see class docstring)
        for f, a, c in zip(*self._derive(np.unique(hashes))):
            f, a, c = int(f), int(a), int(c)
            placed = False
            for idx in (a, c):
                free = np.flatnonzero(tbl[idx] == 0)
                if len(free):
                    tbl[idx, free[0]] = f
                    placed = True
                    break
            if placed:
                continue
            cur = a if f & 1 else c
            for kick in range(self.max_kicks):
                slot = kick % self.slots  # deterministic victim rotation
                f, tbl[cur, slot] = int(tbl[cur, slot]), f
                cur = self._alt(cur, f)
                free = np.flatnonzero(tbl[cur] == 0)
                if len(free):
                    tbl[cur, free[0]] = f
                    break
            else:
                raise RuntimeError(
                    f"cuckoo partition full after {self.max_kicks} kicks — "
                    f"raise cuckoo_entries (m={self.m}, load factor too high)"
                )

    def _contains(self, tbl: np.ndarray, hashes: np.ndarray) -> np.ndarray:
        fp, i1, i2 = self._derive(hashes)
        return (tbl[i1] == fp[:, None]).any(axis=1) | (tbl[i2] == fp[:, None]).any(axis=1)

    def delete(self, hashes: np.ndarray) -> None:
        """Remove one stored copy of each key's fingerprint (keys MUST have
        been inserted — see class docstring; absent fingerprints are no-ops)."""
        for b, sel in self._by_partition(hashes):
            tbl = self.parts.get(b)
            if tbl is None:
                continue
            for f, a, c in zip(*self._derive(hashes[sel])):
                for idx in (int(a), int(c)):
                    hit = np.flatnonzero(tbl[idx] == f)
                    if len(hit):
                        tbl[idx, hit[0]] = 0
                        break

    @classmethod
    def from_rows(cls, rows) -> "PartitionedCuckoo":
        tables = {}
        m = slots = nb = None
        for b, blob, m, slots, nb in rows:
            tables[int(b)] = (
                np.frombuffer(bytes(blob), dtype=np.uint16).reshape(int(m), int(slots)).copy()
            )
        if m is None:
            raise ValueError("empty cuckoo rows")
        return cls(int(m), int(slots), int(nb), tables)


class SeenFilter(NamedTuple):
    """A prefilter table: ``shape``, an empty filter that carries the kind
    and geometry, and ``df``, the committed ``(bucket, blob, *geometry)``
    rows (None while nothing is committed)."""

    shape: _Partitioned
    df: DataFrame | None = None


def committed_filter(spark: SparkSession, wh) -> SeenFilter | None:
    """The prefilter committed in warehouse ``wh``, shaped as it was built.

    Kind, bucket count and per-partition size come from the table's
    parquet footers (constant columns, so min == max) — no Spark job.
    None when no filter, or only an empty one, is committed. Should a
    warehouse hold both kinds, the one committed last is current.
    """
    tables = wh.manifest()["tables"]
    kinds = [k for k in (PartitionedBloom, PartitionedCuckoo) if wh.has_table(k.table)]
    if not kinds:
        return None
    kind = max(kinds, key=lambda k: max(tables[k.table]["rounds"]))
    cols = [*kind.geometry_cols, "n_buckets"]
    st = wh.state_stats(kind.table, cols)
    if st["rows"] == 0:
        return None
    if st["min"] != st["max"]:
        raise ValueError(f"{kind.table} partitions disagree on geometry: {st}")
    return SeenFilter(kind(*(st["min"][c] for c in cols)), wh.read_state(spark, kind.table))


def _routed(hashes: DataFrame, hash_col: str, n_buckets: int) -> DataFrame:
    """(bucket, h) rows: ``hash_col`` keyed by the filter partition it
    routes to."""
    if n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    return hashes.select(
        F.col(hash_col).bitwiseAND(F.lit(n_buckets - 1)).cast("int").alias("bucket"),
        F.col(hash_col).alias("h"),
    )


def routed_probe(keys: DataFrame, filt: SeenFilter, hash_col: str = "h") -> DataFrame:
    """Bucket-routed probe of a committed filter — the 10^10-URL path.

    ``keys`` (one long column ``hash_col``) is shuffled by filter partition
    and cogrouped with ONLY that partition's row, mirroring the build
    (routed_update). Returns (``hash_col``, maybe boolean); partitions with
    no row report definitely-new (nothing was ever added there).
    """
    kind, geometry = type(filt.shape), filt.shape.geometry
    blob = kind.schema.names[1]

    def probe(key, k_pdf: pd.DataFrame, f_pdf: pd.DataFrame) -> pd.DataFrame:
        h = k_pdf["h"].to_numpy(dtype=np.int64)
        maybe = np.zeros(len(h), dtype=bool)
        if len(h) and len(f_pdf):
            f = kind.from_rows([(int(key[0]), f_pdf[blob].iloc[0], *geometry)])
            maybe = f.might_contain(h)
        return pd.DataFrame({"h": h, "maybe": maybe})

    return (
        _routed(keys, hash_col, filt.shape.n_buckets).groupBy("bucket")
        .cogroup(filt.df.select("bucket", blob).groupBy("bucket"))
        .applyInPandas(probe, "h long, maybe boolean")
        .withColumnRenamed("h", hash_col)
    )


def routed_update(
    new_hashes: DataFrame,
    filt: SeenFilter,
    hash_col: str = "url_hash",
    deleted_hashes: DataFrame | None = None,
) -> DataFrame:
    """Executor-side filter build/update: one cogroup per partition.

    The driver never touches url hashes — each partition's group (this
    round's add and delete hashes, routed like the probe, cogrouped with
    the partition's committed row in ``filt.df``) is merged inside one
    Arrow-batched task. At 10^10 URLs this is one shuffle of the new hashes
    plus n_buckets tiny filter rows. Deletes (cuckoo only) apply before
    adds, so an evict+re-crawl of the same URL in one update nets present.
    Output is a ``filt.shape.schema`` frame with one row per partition
    that has state.
    """
    kind, geometry = type(filt.shape), filt.shape.geometry
    blob = kind.schema.names[1]
    if deleted_hashes is not None and not hasattr(kind, "delete"):
        raise ValueError(f"{kind.table} filters cannot delete — use seen_filter='cuckoo'")
    ops = _routed(new_hashes, hash_col, filt.shape.n_buckets).withColumn("op", F.lit(1))
    if deleted_hashes is not None:
        ops = ops.unionByName(
            _routed(deleted_hashes, hash_col, filt.shape.n_buckets).withColumn("op", F.lit(-1))
        )
    prev = filt.df
    if prev is None:
        prev = SparkSession.getActiveSession().createDataFrame([], kind.schema)

    def merge(key, ops_pdf: pd.DataFrame, prev_pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(key[0])
        f = kind(*geometry)
        if len(prev_pdf):
            f = kind.from_rows([(bucket, prev_pdf[blob].iloc[0], *geometry)])
        if len(ops_pdf):
            dels = ops_pdf.loc[ops_pdf["op"] < 0, "h"].to_numpy(dtype=np.int64)
            if len(dels):
                f.delete(dels)
            f.add(ops_pdf.loc[ops_pdf["op"] > 0, "h"].to_numpy(dtype=np.int64))
        return pd.DataFrame(f.to_rows(), columns=kind.schema.names)

    return (
        ops.groupBy("bucket")
        .cogroup(prev.select("bucket", blob).groupBy("bucket"))
        .applyInPandas(merge, kind.schema)
    )


def distributed_bloom_update(
    new_hashes: DataFrame,
    prev_bloom: DataFrame | None,
    bits: int,
    k: int,
    n_buckets: int,
    hash_col: str = "url_hash",
) -> DataFrame:
    """routed_update of a Bloom filter of the given geometry, for callers
    that size the filter themselves."""
    shape = PartitionedBloom(bits, k, n_buckets)
    return routed_update(new_hashes, SeenFilter(shape, prev_bloom), hash_col)


def split_new_vs_seen(
    batch: DataFrame,
    seen: DataFrame,
    filt: SeenFilter | None,
    hash_col: str = "url_hash",
    url_col: str | None = None,
    keep: list | None = None,
) -> DataFrame:
    """Adds ``is_seen`` boolean: exact membership of batch[hash_col] in seen.

    Every row goes through one left join against the deduplicated seen
    keys; the prefilter's answer (``_maybe``) is part of the join
    condition. A filter-positive row is confirmed or refuted by the join; a
    filter-negative row cannot match and comes out new — but it is still
    joined (the plan joins the whole batch against the whole seen table;
    routing only filter-positive hashes into the confirm is an open
    performance item).

    ``filt`` is the committed filter (committed_filter), probed
    bucket-routed with its own geometry (routed_probe) — never collected
    or broadcast. With ``None``, or no committed rows, ``_maybe`` is true
    for every row.

    With a filter the batch subtree feeds TWO consumers (the distinct probe
    keys and the join's left side), so it is persisted here; the handle is
    appended to ``keep`` for the caller to unpersist after materialization
    (without it the enrich+dedup pipeline upstream ran twice per action).

    Membership is confirmed on the canonical-URL *string*, not the 64-bit hash
    alone (at a 10^10-URL seen set the birthday bound expects ~3 xxhash64
    collisions; the reference dedups on the exact id string,
    /root/reference/src/storage/surrogate_key.rs:24-34). The hash stays the
    shuffle/bucket key; the string equality is a post-join filter.
    """
    if url_col is None:
        # CONTRACT: the auto-resolved column must hold CANONICAL urls — the
        # seen table stores canonical forms (schemas.SEEN), so confirming a
        # RAW spelling against it fails the string equality and re-crawls an
        # already-seen URL with a duplicate surrogate key. 'curl' (the
        # enrich output) always satisfies this; a bare 'url' fallback is
        # kept for batches whose url column is canonical by construction —
        # callers holding raw urls must enrich first or pass url_col
        # explicitly.
        url_col = "curl" if "curl" in batch.columns else (
            "url" if "url" in batch.columns and "url" in seen.columns else None
        )
    if filt is None or filt.df is None:
        maybe = batch.withColumn("_maybe", F.lit(True))
    else:
        batch = batch.persist()
        if keep is not None:
            keep.append(batch)
        probed = routed_probe(
            batch.select(F.col(hash_col).alias("_ph")).distinct(), filt, "_ph"
        )
        maybe = (
            batch.join(probed, F.col(hash_col) == F.col("_ph"), "left")
            # every batch hash is in probed; True only as a safe fallback
            # (keeps the row matchable by the exact confirm)
            .withColumn("_maybe", F.coalesce(F.col("maybe"), F.lit(True)))
            .drop("_ph", "maybe")
        )
    confirm_cols = [F.col(hash_col).alias("_seen_hash")]
    cond = F.col("_maybe") & (F.col(hash_col) == F.col("_seen_hash"))
    if url_col is not None:
        confirm_cols.append(F.col("url").alias("_seen_url"))
        cond = cond & (F.col(url_col) == F.col("_seen_url"))
    seen_keys = seen.select(*confirm_cols).distinct()
    joined = maybe.join(seen_keys, cond, "left")
    return joined.withColumn("is_seen", F.col("_seen_hash").isNotNull()).drop(
        "_maybe", "_seen_hash", *(["_seen_url"] if url_col is not None else [])
    )


def _cumsum_offsets(counts: DataFrame, sums: list[tuple[str, str]]) -> DataFrame:
    """Exclusive prefix sums of ``sums`` columns ordered by ``_pid``, computed
    with a triangular self-join — O(p²) pairs over a frame bounded by the
    shuffle-partition count (metadata-sized), never a global window.

    Deliberately LAZY (A/B-measured in round 3): a driver-side collect of the
    counts would pin the range boundaries with one tiny action, but that
    action serializes the ranked frame's cache fill BEFORE the round's big
    combined-counters job instead of overlapping with it — 20.2k → 17.6k
    urls/s at 16 cores on the 800k-page crawl. The lazy join's few extra tiny
    stages per consumer are cheaper than the lost overlap."""
    strictly_before = F.col("_b._pid") < F.col("_a._pid")
    a, b = counts.alias("_a"), counts.alias("_b")
    aggs = [
        F.coalesce(F.sum(F.col(f"_b.{src}")), F.lit(0)).alias(dst)
        for src, dst in sums
    ]
    return (
        a.join(b, strictly_before, "left")
        .groupBy(F.col("_a._pid").alias("_pid"))
        .agg(*aggs)
    )


def rank_and_key(
    df: DataFrame,
    order_cols: list[str],
    fetched_col: str = "is_fetched",
    key_offset: int = 0,
    keep: list | None = None,
    small_threshold: int = 100_000,
) -> DataFrame:
    """Fused global numbering by a strict total order, skew-robust: one range
    shuffle produces BOTH the crawl-order ``seq`` (dense 1-based over all
    rows) and the dense ``surrogate_key`` over the fetched subset
    (first-seen order), continuing from ``key_offset``. Over an all-true
    ``fetched_col`` the two are one dense rank, ``surrogate_key`` offset.

    ADAPTIVE (the AQE idea applied to ranking): the input is persisted and
    counted first — one job that the range path would pay anyway through its
    sampling pass. At or under ``small_threshold`` rows both numberings run
    in one single-partition window (the 4-job range machinery costs seconds
    of pure scheduling per crawl round on small batches); above it,
    range-repartition on the order columns (balanced regardless of key
    skew), then per-partition row_number + cumulative partition offsets.
    The default threshold is low because the crawl round calls this on its
    hot path, where a single-task sort of a bench-scale 800k-row batch
    would serialize the round at high core counts (Amdahl).

    Partition boundaries come from sampling and are not deterministic — but
    the output IS: ranks are fully determined by the total order, and range
    partition i always precedes partition j>i in that order. Requires the
    order to be strict (no ties), which holds for crawl batches (curl is
    unique). Both paths produce identical output (pinned by test_seen).
    """
    oc = [F.col(c).asc() for c in order_cols]
    fint = F.col(fetched_col).cast("long")
    src = df.persist()
    if keep is not None:
        keep.append(src)
    if src.count() <= small_threshold:
        w_small = Window.orderBy(*oc)
        return (
            src.withColumn("seq", F.row_number().over(w_small).cast("long"))
            .withColumn("_frn", F.sum(fint).over(w_small))
            .withColumn(
                "surrogate_key",
                F.when(
                    F.col(fetched_col),
                    (F.col("_frn") + F.lit(key_offset)).cast("long"),
                ),
            )
            .drop("_frn")
        )
    # persisted: the counts branch and the window branch MUST observe the same
    # (sampled, hence nondeterministic) range boundaries — the cache pins them
    d = (
        src.repartitionByRange(*oc)
        .sortWithinPartitions(*oc)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    if keep is not None:
        keep.append(d)
    counts = d.groupBy("_pid").agg(
        F.count("*").alias("_n"), F.sum(fint).alias("_nf")
    )
    # cumulative offsets via a triangular self-join over the TINY partition-
    # count frame (≤ n_shuffle_partitions rows): no unpartitioned window, so
    # nothing ever moves all data to a single partition
    offsets = _cumsum_offsets(counts, [("_n", "_off"), ("_nf", "_foff")])
    w_local = Window.partitionBy("_pid").orderBy(*oc)
    out = (
        d.withColumn("_rn", F.row_number().over(w_local))
        .withColumn("_frn", F.sum(fint).over(w_local))
        .join(F.broadcast(offsets), "_pid")
        .withColumn("seq", (F.col("_rn") + F.col("_off")).cast("long"))
        .withColumn(
            "surrogate_key",
            F.when(
                F.col(fetched_col),
                (F.col("_frn") + F.col("_foff") + F.lit(key_offset)).cast("long"),
            ),
        )
        .drop("_pid", "_rn", "_frn", "_off", "_foff")
    )
    return out
