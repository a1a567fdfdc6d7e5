"""Warehouse: atomic manifest commits, snapshot vs append reads, idempotency
(the Iceberg-pointer contract replacing database_sink.rs:258-284)."""

from crawlspark.warehouse import Warehouse


def test_snapshot_and_append_semantics(spark, tmp_path):
    wh = Warehouse(tmp_path / "wh")
    s0 = spark.createDataFrame([(1, "a")], ["id", "v"])
    a0 = spark.createDataFrame([(0, 10)], ["round", "n"])
    assert wh.commit_round(0, snapshots={"state": s0}, appends={"facts": a0})

    s1 = spark.createDataFrame([(2, "b")], ["id", "v"])
    a1 = spark.createDataFrame([(1, 20)], ["round", "n"])
    assert wh.commit_round(1, snapshots={"state": s1}, appends={"facts": a1})

    # snapshot: only the latest round is visible
    assert [tuple(r) for r in wh.read_state(spark, "state").collect()] == [(2, "b")]
    # append: union of all committed rounds
    assert sorted(tuple(r) for r in wh.read_appends(spark, "facts").collect()) == [
        (0, 10),
        (1, 20),
    ]
    assert wh.last_round() == 1


def test_recommit_is_noop(spark, tmp_path):
    wh = Warehouse(tmp_path / "wh")
    df = spark.createDataFrame([(1,)], ["x"])
    assert wh.commit_round(0, snapshots={"t": df})
    assert wh.commit_round(0, snapshots={"t": df}) is False
    assert wh.commit_round(0, appends={"other": df}) is False  # round is sealed


def test_partial_write_invisible_until_manifest(spark, tmp_path):
    """A crash between data write and manifest swap leaves the round
    invisible — the commit point is the manifest os.replace."""
    wh = Warehouse(tmp_path / "wh")
    df = spark.createDataFrame([(1,)], ["x"])
    wh.commit_round(0, snapshots={"t": df})
    # simulate a crashed round-1 write: directory exists, manifest not updated
    df.write.mode("overwrite").parquet(str(tmp_path / "wh" / "t" / "r000001"))
    assert wh.last_round() == 0
    assert [tuple(r) for r in wh.read_state(spark, "t").collect()] == [(1,)]
    # and the next commit_round(1) replaces the orphan atomically
    df2 = spark.createDataFrame([(2,)], ["x"])
    assert wh.commit_round(1, snapshots={"t": df2})
    assert [tuple(r) for r in wh.read_state(spark, "t").collect()] == [(2,)]


def test_write_once(spark, tmp_path):
    wh = Warehouse(tmp_path / "wh")
    wh.write_once("dim", spark.createDataFrame([("a", "b")], ["name", "hash"]))
    wh.write_once("dim", spark.createDataFrame([("x", "y")], ["name", "hash"]))
    assert [tuple(r) for r in wh.read_state(spark, "dim").collect()] == [("a", "b")]


def test_write_once_repairs_missing_manifest_entry(spark, tmp_path):
    """Crash between os.rename and _write_manifest: the data directory exists
    but the manifest doesn't name it. write_once must repair the manifest
    instead of leaving the table permanently invisible (exact-resume
    guarantee)."""
    wh = Warehouse(tmp_path / "wh")
    df = spark.createDataFrame([("a", "b")], ["name", "hash"])
    wh.write_once("dim", df)
    # simulate the crash: drop the manifest entry, keep the data dir
    m = wh.manifest()
    del m["tables"]["dim"]
    wh._write_manifest(m)
    wh.write_once("dim", df)  # repair path
    assert wh.has_table("dim")
    assert [tuple(r) for r in wh.read_state(spark, "dim").collect()] == [("a", "b")]


def test_commit_round_footer_stats(spark, tmp_path):
    """stats_cols records row count + min/max from parquet footers in the
    manifest (the reference's post-load ANALYZE analog,
    src/storage/database_sink.rs:408-489)."""
    wh = Warehouse(tmp_path / "wh")
    df = spark.createDataFrame([(k, f"u{k}") for k in range(1, 8)], ["surrogate_key", "url"])
    wh.commit_round(
        0,
        appends={"units": df.sortWithinPartitions("surrogate_key")},
        stats_cols={"units": ["surrogate_key"]},
    )
    st = wh.manifest()["tables"]["units"]["stats"]["0"]
    assert st["rows"] == 7
    assert st["min"]["surrogate_key"] == 1
    assert st["max"]["surrogate_key"] == 7
    # a state directory's row count is recorded without stats_cols
    wh.commit_round(1, snapshots={"state": df.limit(3)})
    assert wh.manifest()["tables"]["state"]["stats"]["1"] == {"rows": 3}


def test_committed_files_sorted(spark, tmp_path):
    """Sort-on-write: every committed parquet part is ordered by the sort
    key (the CLUSTER analog, S21)."""
    import pyarrow.parquet as pq

    wh = Warehouse(tmp_path / "wh")
    df = spark.createDataFrame(
        [((k * 37) % 101, f"u{k}") for k in range(101)], ["surrogate_key", "url"]
    ).repartition(4)
    wh.commit_round(0, appends={"units": df.sortWithinPartitions("surrogate_key")})
    parts = sorted((tmp_path / "wh" / "units" / "r000000").glob("*.parquet"))
    assert parts
    for p in parts:
        keys = pq.read_table(p, columns=["surrogate_key"])["surrogate_key"].to_pylist()
        assert keys == sorted(keys)


def test_concurrent_commits_serialize(tmp_path):
    """Committers racing on the manifest must not lose each other's updates
    (round-3 ADVICE): same-round racers resolve to exactly ONE winner, and
    concurrent stream_epoch registrations for different checkpoints are all
    recorded (the flock'd read-modify-write serializes them)."""
    import threading

    import pyarrow as pa

    from crawlspark.warehouse import Warehouse

    wh = Warehouse(tmp_path / "wh")
    results, errs = [], []

    def commit_same_round():
        try:
            results.append(
                Warehouse(tmp_path / "wh").commit_round(
                    1, local_appends={"t": pa.table({"x": [1]})}
                )
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=commit_same_round) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert results.count(True) == 1 and results.count(False) == 5
    m = wh.manifest()
    assert m["tables"]["t"]["rounds"] == [1] and m["last_round"] == 1

    def register(key):
        try:
            Warehouse(tmp_path / "wh").stream_epoch(key, query_id=f"q-{key}")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=register, args=(f"ck{i}",)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    epochs = wh.manifest()["stream_epochs"]
    # no registration lost to a concurrent read-modify-write
    assert sorted(epochs) == [f"ck{i}" for i in range(8)]
    assert all(epochs[k]["epoch"] == 1 for k in epochs)


def _rows(spark, wh, name):
    return sorted(tuple(r) for r in wh.read_state(spark, name).collect())


def test_read_state_is_base_union_live_deltas(spark, tmp_path):
    """A deltas= commit writes only its own rows; read_state returns the
    base ∪ the live deltas, and a snapshots= commit resets to a new base."""
    wh = Warehouse(tmp_path / "wh")

    def df(*xs):
        return spark.createDataFrame([(x,) for x in xs], ["x"])

    assert wh.commit_round(0, deltas={"t": df(1, 2, 3)})  # no base yet: it is one
    assert wh.manifest()["tables"]["t"]["live"] == [0]
    assert wh.commit_round(1, deltas={"t": df(4)})
    assert wh.manifest()["tables"]["t"]["live"] == [0, 1]
    # the delta directory holds only the round's rows
    delta_dir = tmp_path / "wh" / "t" / "r000001"
    assert [tuple(r) for r in spark.read.parquet(str(delta_dir)).collect()] == [(4,)]
    assert _rows(spark, wh, "t") == [(1,), (2,), (3,), (4,)]
    assert wh.commit_round(2, snapshots={"t": df(9)})
    assert wh.manifest()["tables"]["t"]["live"] == [2]
    assert _rows(spark, wh, "t") == [(9,)]
    assert wh.commit_round(3, deltas={"t": df(10)})
    assert wh.manifest()["tables"]["t"]["live"] == [2, 3]
    assert _rows(spark, wh, "t") == [(9,), (10,)]
    # re-committing a committed round is a no-op, deltas included
    before = wh.manifest()
    assert wh.commit_round(3, deltas={"t": df(11)}) is False
    assert wh.commit_round(2, deltas={"t": df(11)}) is False
    assert wh.manifest() == before
    assert _rows(spark, wh, "t") == [(9,), (10,)]


def test_partial_delta_write_invisible_until_manifest(spark, tmp_path):
    """A crashed delta write (directory renamed, manifest not swapped) is
    invisible, and the next commit of that round replaces it."""
    wh = Warehouse(tmp_path / "wh")
    wh.commit_round(0, snapshots={"t": spark.createDataFrame([(1,)], ["x"])})
    orphan = spark.createDataFrame([(7,), (8,)], ["x"])
    orphan.write.mode("overwrite").parquet(str(tmp_path / "wh" / "t" / "r000001"))
    assert wh.last_round() == 0
    assert _rows(spark, wh, "t") == [(1,)]
    assert wh.commit_round(1, deltas={"t": spark.createDataFrame([(2,)], ["x"])})
    assert _rows(spark, wh, "t") == [(1,), (2,)]


def test_delta_fold_rule_folds_base(spark, tmp_path):
    """16-row base + 40 one-row deltas: the union always equals everything
    committed, the deltas before the newest never hold as many rows as the
    base, and the base is folded exactly when the deltas reach its size."""
    wh = Warehouse(tmp_path / "wh")
    committed = list(range(16))
    base = spark.createDataFrame([(x,) for x in committed], ["x"])
    wh.commit_round(0, snapshots={"t": base})
    bases = []
    for r in range(1, 41):
        x = 100 + r
        committed.append(x)
        wh.commit_round(r, deltas={"t": spark.createDataFrame([(x,)], ["x"])})
        t = wh.manifest()["tables"]["t"]
        live = t["live"]
        if len(live) == 1:
            bases.append(r)
        rows = [t["stats"][str(q)]["rows"] for q in live]
        assert sum(rows[1:-1]) < rows[0], (r, live, rows)
        assert _rows(spark, wh, "t") == [(x,) for x in sorted(committed)]
    # the 17th delta finds 16 delta rows against the 16-row base: a 33-row
    # base, which the remaining 23 deltas do not reach
    assert bases == [17]
    assert t["live"] == [17, *range(18, 41)]


def test_manifest_without_live_reads_latest_round(spark, tmp_path):
    """A warehouse written before deltas existed (no ``live``, no row
    stats) reads its latest round, and the first delta commit on top of it
    treats that round as the base."""
    wh = Warehouse(tmp_path / "wh")
    wh.commit_round(0, snapshots={"t": spark.createDataFrame([(1,)], ["x"])})
    wh.commit_round(1, snapshots={"t": spark.createDataFrame([(2,), (3,)], ["x"])})
    m = wh.manifest()
    del m["tables"]["t"]["live"]
    del m["tables"]["t"]["stats"]
    wh._write_manifest(m)
    assert _rows(spark, wh, "t") == [(2,), (3,)]
    wh.commit_round(2, deltas={"t": spark.createDataFrame([(4,)], ["x"])})
    assert wh.manifest()["tables"]["t"]["live"] == [1, 2]
    assert _rows(spark, wh, "t") == [(2,), (3,), (4,)]
