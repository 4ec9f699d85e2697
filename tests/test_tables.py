"""History/state table management (SURVEY §2.1 S2/S3, §4 TTL)."""

from __future__ import annotations

import os
from datetime import date, datetime, timedelta

from pyspark.sql import functions as F

from adsb_clickhouse_spark.plans import tables

NOW = datetime(2026, 1, 15, 12, 0, 0)


def _df(spark, rows):
    return spark.createDataFrame(rows, "icao24 string, scrape_time timestamp, v int")


def test_history_day_partitioned(spark, tmp_base):
    path = os.path.join(tmp_base, "hist")
    rows = [
        ("a", NOW, 1),
        ("a", NOW - timedelta(days=1), 2),
        ("b", NOW - timedelta(days=40), 3),
    ]
    tables.append_history(_df(spark, rows), path)
    parts = sorted(e for e in os.listdir(path) if e.startswith("scrape_date="))
    assert parts == [
        "scrape_date=2025-12-06",
        "scrape_date=2026-01-14",
        "scrape_date=2026-01-15",
    ]
    # partition pruning: a date filter must not scan all partitions
    df = tables.read_history(spark, path).filter(F.col("scrape_date") == "2026-01-15")
    assert df.count() == 1


def test_history_ttl_drops_whole_partitions(spark, tmp_base):
    path = os.path.join(tmp_base, "hist")
    rows = [("a", NOW, 1), ("b", NOW - timedelta(days=40), 2)]
    tables.append_history(_df(spark, rows), path)
    dropped = tables.expire_history(spark, path, ttl_days=30, now=date(2026, 1, 15))
    assert dropped == ["scrape_date=2025-12-06"]
    assert tables.read_history(spark, path).count() == 1


def test_state_upsert_replacing_semantics(spark, tmp_base):
    path = os.path.join(tmp_base, "state")
    tables.upsert_state(_df(spark, [("a", NOW - timedelta(minutes=5), 1)]), path, ttl="1 hour", now=NOW)
    # newer row replaces
    tables.upsert_state(_df(spark, [("a", NOW, 2)]), path, ttl="1 hour", now=NOW)
    # late (older) row must NOT displace — ST2 argmax semantics
    tables.upsert_state(_df(spark, [("a", NOW - timedelta(minutes=1), 3)]), path, ttl="1 hour", now=NOW)
    out = tables.read_state(spark, path).collect()
    assert len(out) == 1 and out[0]["v"] == 2


def test_state_upsert_idempotent(spark, tmp_base):
    """Re-applying a batch (retried micro-batch) converges — exactly-once."""
    path = os.path.join(tmp_base, "state")
    batch = _df(spark, [("a", NOW, 1), ("b", NOW, 2)])
    tables.upsert_state(batch, path, ttl="1 hour", now=NOW)
    before = sorted(map(tuple, tables.read_state(spark, path).collect()))
    tables.upsert_state(batch, path, ttl="1 hour", now=NOW)
    after = sorted(map(tuple, tables.read_state(spark, path).collect()))
    assert before == after


def test_state_ttl_expires_old_keys(spark, tmp_base):
    path = os.path.join(tmp_base, "state")
    tables.upsert_state(
        _df(spark, [("live", NOW, 1), ("gone", NOW - timedelta(hours=2), 2)]),
        path, ttl="1 hour", now=NOW,
    )
    out = tables.read_state(spark, path).collect()
    assert [r["icao24"] for r in out] == ["live"]


def test_state_commit_is_versioned_snapshot_plus_pointer(spark, tmp_base):
    """The commit protocol: every upsert writes a new v_* snapshot and
    repoints _CURRENT; superseded snapshots survive the GC grace period so
    a reader holding the old pointer never loses files mid-scan."""
    path = os.path.join(tmp_base, "state")
    tables.upsert_state(_df(spark, [("a", NOW, 1)]), path, ttl=None, now=NOW)
    old_snap = tables._current_snapshot_dir(path)
    # a long-lived reader (registered view) resolves the current snapshot
    old_reader = spark.read.parquet(old_snap)
    tables.upsert_state(_df(spark, [("a", NOW + timedelta(minutes=1), 2)]), path, ttl=None, now=NOW)
    new_snap = tables._current_snapshot_dir(path)
    assert new_snap != old_snap
    # new readers see the new state; the old snapshot is still scannable
    assert tables.read_state(spark, path).collect()[0]["v"] == 2
    assert old_reader.collect()[0]["v"] == 1
    assert os.path.isdir(old_snap)  # within GC grace
    snaps = [e for e in os.listdir(path) if e.startswith("v_")]
    assert len(snaps) == 2
    # zero-grace GC removes the superseded snapshot on the next commit
    tables.upsert_state(
        _df(spark, [("a", NOW + timedelta(minutes=2), 3)]), path, ttl=None, now=NOW,
        gc_grace_s=0.0,
    )
    snaps = [e for e in os.listdir(path) if e.startswith("v_")]
    assert len(snaps) == 1


def test_state_writer_lock_serializes(tmp_base):
    path = os.path.join(tmp_base, "state")
    os.makedirs(path, exist_ok=True)
    import pytest

    with tables._WriterLock(path, timeout_s=0.2):
        with pytest.raises(TimeoutError):
            with tables._WriterLock(path, timeout_s=0.2):
                pass
    # released — can acquire again
    with tables._WriterLock(path, timeout_s=0.2):
        pass


def test_history_nested_date_major_layout(spark, tmp_base):
    """Pin the exactly-once layout: scrape_date= OUTER (TTL/pruning = one
    directory per day), batch_id= INNER (replay overwrites itself)."""
    path = os.path.join(tmp_base, "hist")
    tables.append_history(_df(spark, [("a", NOW, 1)]), path, batch_id="run1-0")
    tables.append_history(_df(spark, [("a", NOW, 2)]), path)  # ad-hoc
    day = os.path.join(path, "scrape_date=2026-01-15")
    batch_dirs = sorted(os.listdir(day))
    assert "batch_id=brun1-0" in batch_dirs
    assert any(b.startswith("batch_id=adhoc-") for b in batch_dirs)
    # no stray parquet directly in the day dir — layout is uniform
    assert not any(f.endswith(".parquet") for f in batch_dirs)
    assert tables.read_history(spark, path).count() == 2
    assert "batch_id" not in tables.read_history(spark, path).columns


def test_append_history_replay_overwrites_across_days(spark, tmp_base):
    """Exactly-once: a replayed batch rewrites its own batch_id= dirs —
    including days the crashed attempt wrote but the replay does not."""
    path = os.path.join(tmp_base, "hist")
    attempt1 = _df(spark, [("a", NOW, 1), ("b", NOW - timedelta(days=1), 2)])
    tables.append_history(attempt1, path, batch_id="r-7")
    # replay delivers a narrower batch (crash mid-append is also covered:
    # leftovers from attempt 1 in 2026-01-14 must vanish)
    replay = _df(spark, [("a", NOW, 1)])
    tables.append_history(replay, path, batch_id="r-7")
    out = tables.read_history(spark, path, dedupe=False)
    assert out.count() == 1
    assert not os.path.exists(os.path.join(path, "scrape_date=2026-01-14", "batch_id=br-7"))


def test_read_history_mixed_legacy_and_nested_layout(spark, tmp_base):
    """A table written before the exactly-once layout (flat scrape_date=
    only) keeps reading after new nested batches land beside it."""
    path = os.path.join(tmp_base, "hist")
    # legacy flat layout: files directly under scrape_date=
    (
        _df(spark, [("old", NOW - timedelta(days=2), 0)])
        .withColumn("scrape_date", F.to_date("scrape_time"))
        .write.partitionBy("scrape_date")
        .parquet(path)
    )
    tables.append_history(_df(spark, [("new", NOW, 1)]), path, batch_id="r-0")
    out = tables.read_history(spark, path)
    assert {r["icao24"] for r in out.collect()} == {"old", "new"}
    assert out.filter(F.col("scrape_date") == "2026-01-15").count() == 1


def test_compact_partition(spark, tmp_base):
    """Background-merge analogue: N per-batch dirs in a closed day collapse
    to one compact dir / target_files files; counts unchanged."""
    path = os.path.join(tmp_base, "hist")
    for i in range(3):
        tables.append_history(_df(spark, [("a", NOW, i)]), path, batch_id=f"r-{i}")
    part = "scrape_date=2026-01-15"
    day = os.path.join(path, part)
    assert len([e for e in os.listdir(day) if e.startswith("batch_id=")]) == 3
    tables.compact_partition(spark, path, part, target_files=1)
    batch_dirs = [e for e in os.listdir(day) if e.startswith("batch_id=")]
    assert len(batch_dirs) == 1 and batch_dirs[0].startswith("batch_id=compact-")
    n_files = sum(
        len([f for f in files if f.endswith(".parquet")])
        for _, _, files in os.walk(day)
    )
    assert n_files == 1
    assert tables.read_history(spark, path).count() == 3
    # other days untouched semantics: compacted day still prunes/filters
    assert (
        tables.read_history(spark, path)
        .filter(F.col("scrape_date") == "2026-01-15")
        .count()
        == 3
    )


def test_every_committed_state_snapshot_is_one_row_per_key(spark, tmp_base):
    """Readers apply only the recency filter to a state snapshot (no
    read-time argmax), which is sound only if EVERY committed snapshot is
    already unique per key — also under concurrent upserts into one path
    (the state and combined sinks run from IngestPipeline's pool) and a
    replayed batch."""
    from concurrent.futures import ThreadPoolExecutor

    path = os.path.join(tmp_base, "state")
    batches = [
        _df(
            spark,
            [
                (f"k{(b * 3 + i) % 8}", NOW - timedelta(seconds=s), b * 100 + i * 10 + s)
                for i in range(6)
                for s in (0, 5, 9)
            ],
        )
        for b in range(6)
    ]
    with ThreadPoolExecutor(max_workers=6) as pool:
        futs = [pool.submit(tables.upsert_state, b, path, ttl="1 hour", now=NOW) for b in batches]
        for f in futs:
            f.result(timeout=300)
    tables.upsert_state(batches[0], path, ttl="1 hour", now=NOW)  # replay
    snaps = sorted(e for e in os.listdir(path) if e.startswith("v_"))
    assert len(snaps) == len(batches) + 1  # all within the GC grace period
    for snap in snaps:
        df = spark.read.parquet(os.path.join(path, snap))
        n, keys = df.agg(F.count("*"), F.countDistinct("icao24")).first()
        assert n == keys > 0, snap
    assert {r["icao24"] for r in tables.read_state(spark, path).collect()} == {f"k{i}" for i in range(8)}


def test_read_state_reuses_frame_until_pointer_moves(spark, tmp_base):
    """An unchanged pointer costs no Spark job (no listing, no footer
    inference); a commit in between is visible on the next read."""
    import uuid

    sc = spark.sparkContext
    path = os.path.join(tmp_base, "state")
    tables.upsert_state(_df(spark, [("a", NOW, 1)]), path, ttl=None, now=NOW)
    first = tables.read_state(spark, path)
    group = f"read-state-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "repeated read_state")
    try:
        again = tables.read_state(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert again is first
    tables.upsert_state(_df(spark, [("a", NOW + timedelta(seconds=1), 2)]), path, ttl=None, now=NOW)
    assert [r["v"] for r in tables.read_state(spark, path).collect()] == [2]
