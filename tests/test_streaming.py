"""Scenario tests from the reference's test strategy (SURVEY §5), run
against the full streaming pipeline: file changelog source → CdcPipeline
(per-batch compaction) → sqlite sink + parquet state store + mirror.

Covers: count-parity, delete-propagation, insert-after-delete,
delete-then-reinsert-in-one-batch (SURVEY §7.3.2), replay-rebuild (ST5),
log-compaction invariant (ST4), checkpoint recovery.
"""

from __future__ import annotations

import sqlite3

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from db_integration_via_kafka_ksql_spark.operators import cdc
from db_integration_via_kafka_ksql_spark.sinks.dbapi import DbApiSink
from db_integration_via_kafka_ksql_spark.sources.changelog import (
    file_changelog_stream,
    snapshot_as_changelog,
)
from db_integration_via_kafka_ksql_spark.streaming.pipeline import CdcPipeline
from db_integration_via_kafka_ksql_spark.streaming.state import ParquetStateStore

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("title", StringType()),
        StructField("__deleted", StringType()),
        StructField("offset", LongType()),
    ]
)


def _write_file(spark, directory, rows, name):
    """One flat parquet file per feed — the file streaming source lists
    files, not nested dataset directories."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    ids, titles, deleted, offsets = zip(*rows)
    table = pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "title": pa.array(titles, pa.string()),
            "__deleted": pa.array(deleted, pa.string()),
            "offset": pa.array(offsets, pa.int64()),
        }
    )
    pq.write_table(table, f"{directory}/{name}")


class _Harness:
    def __init__(self, spark, tmp_path):
        self.spark = spark
        self.src = str(tmp_path / "chlog")
        self.db = str(tmp_path / "sink.db")
        self.mirrored = []
        self.state = ParquetStateStore(
            spark,
            str(tmp_path / "state"),
            key_cols=["id"],
            order_cols=["offset"],
            n_buckets=2,
        )
        self.sink = DbApiSink(
            connect=lambda: sqlite3.connect(self.db),
            table="movies_sink",
            key_cols=["id"],
            dialect="sqlite",
        )
        self.checkpoint = str(tmp_path / "ckpt")
        self.n = 0

    def feed(self, rows):
        self.n += 1
        _write_file(self.spark, self.src, rows, f"batch_{self.n:03d}.parquet")

    def pipeline(self):
        stream = file_changelog_stream(self.spark, self.src, SCHEMA)
        return CdcPipeline(
            source=stream,
            key_cols=["id"],
            order_cols=["offset"],
            projection=["id", "title"],  # T4 (key/order/__deleted auto-kept)
            sink=self.sink,
            state=self.state,
            mirror=lambda df: self.mirrored.append(df.collect()),
            checkpoint_dir=self.checkpoint,
            trigger_seconds=0,
            query_name="test_cdc",
        )

    def sink_rows(self):
        con = sqlite3.connect(self.db)
        con.row_factory = sqlite3.Row
        try:
            return {
                r["id"]: dict(r)
                for r in con.execute("SELECT * FROM movies_sink").fetchall()
            }
        finally:
            con.close()


@pytest.fixture
def harness(spark, tmp_path):
    return _Harness(spark, tmp_path)


def test_full_cdc_scenarios(harness, spark):
    h = harness
    # batch 1: 10 inserts (the reference's populate step)
    h.feed([(i, f"movie_{i}", "false", i) for i in range(1, 11)])
    pipe = h.pipeline()
    q = pipe.start()
    try:
        q.processAllAvailable()
        # count-parity: source keys == sink rows == state rows (README.md:133-138)
        assert len(h.sink_rows()) == 10
        assert h.state.read().count() == 10

        # batch 2: update id=1, delete id=2, insert id=11
        h.feed(
            [
                (1, "movie_1_v2", "false", 11),
                (2, "movie_2_final", "true", 12),
                (11, "movie_11", "false", 13),
            ]
        )
        q.processAllAvailable()
        rows = h.sink_rows()
        assert rows[1]["title"] == "movie_1_v2"            # upsert applied
        assert 2 not in rows                          # delete-propagation
        assert 11 in rows and len(rows) == 10
        state_ids = {r["id"] for r in h.state.read().collect()}
        assert state_ids == set(range(1, 12)) - {2}

        # batch 3: insert-after-delete (TOMBSTONE_HANDLING_GUIDE.md:197-205)
        h.feed([(2, "movie_2_reborn", "false", 14)])
        q.processAllAvailable()
        assert h.sink_rows()[2]["title"] == "movie_2_reborn"

        # batch 4: delete + re-insert of one key INSIDE one batch — offset
        # order must win (SURVEY §7.3.2)
        h.feed([(3, "x", "true", 15), (3, "movie_3_v2", "false", 16)])
        q.processAllAvailable()
        assert h.sink_rows()[3]["title"] == "movie_3_v2"

        # batch 5: the reverse — update then delete in one batch
        h.feed([(4, "doomed", "false", 17), (4, "doomed", "true", 18)])
        q.processAllAvailable()
        assert 4 not in h.sink_rows()
    finally:
        q.stop()

    # ST4 log-compaction invariant: replaying the mirrored (compacted)
    # output and keeping last-per-key == live state
    mirror_rows = [r for batch in h.mirrored for r in batch]
    mirror_df = spark.createDataFrame(mirror_rows, h.state.read().schema)
    replayed = cdc.soft_delete_filter(
        cdc.compact_latest(mirror_df, key_cols=["id"], order_cols=["offset"])
    )
    state_now = {(r["id"], r["title"]) for r in h.state.read().collect()}
    assert {(r["id"], r["title"]) for r in replayed.collect()} == state_now

    # ST5 replay-rebuild: full-log batch compaction == incremental state
    full_log = spark.read.schema(SCHEMA).parquet(h.src)
    rebuilt = ParquetStateStore(
        spark, h.state.path + "_rebuilt", key_cols=["id"], order_cols=["offset"]
    )
    rebuilt.rebuild(full_log)
    assert {
        (r["id"], r["title"]) for r in rebuilt.read().collect()
    } == state_now
    rebuilt.destroy()


def test_checkpoint_recovery(harness):
    h = harness
    h.feed([(1, "a", "false", 1), (2, "b", "false", 2)])
    q = h.pipeline().start()
    q.processAllAvailable()
    q.stop()
    assert len(h.sink_rows()) == 2

    # new data while the query is down; restart from checkpoint — only the
    # new file is processed (offsets recovered), sink converges
    h.feed([(3, "c", "false", 3), (1, "a2", "false", 4)])
    q2 = h.pipeline().start()
    q2.processAllAvailable()
    q2.stop()
    rows = h.sink_rows()
    assert len(rows) == 3 and rows[1]["title"] == "a2"


def test_projection_preserves_key_and_marker(spark):
    """T5: the projection can't lose the key/order/__deleted columns —
    the bug class the reference's PARTITION BY workaround exists for."""
    df = spark.createDataFrame([(1, "t", "false", 1)], SCHEMA)
    pipe = CdcPipeline(
        source=df,  # _transform only; never started
        key_cols=["id"],
        order_cols=["offset"],
        projection=["title"],
    )
    out = pipe._transform(df)
    assert set(out.columns) == {"id", "title", "__deleted", "offset"}


def test_snapshot_as_changelog_defaults(spark):
    snap = spark.createDataFrame([(1, "a")], ["id", "title"])
    out = snapshot_as_changelog(snap)
    row = out.first()
    assert row["__deleted"] == "false" and row["offset"] == 0


def test_pull_queries_over_state(harness, spark):
    """§3.3: pull queries (point lookup + COUNT(*)) served from the
    materialized state, not the changelog."""
    h = harness
    h.feed([(i, f"m{i}", "false", i) for i in range(1, 6)])
    q = h.pipeline().start()
    q.processAllAvailable()
    q.stop()
    state = h.state.read()
    state.createOrReplaceTempView("movies_transformed")
    point = spark.sql("SELECT title FROM movies_transformed WHERE id = 1")
    assert point.first()["title"] == "m1"
    total = spark.sql("SELECT COUNT(*) AS total FROM movies_transformed")
    assert total.first()["total"] == 5


def test_null_deleted_marker_is_live_in_state_and_sink(harness, spark):
    """A change row with a NULL `__deleted` is an update, not a delete,
    for the state and the sink alike: both keep the key at its new
    value (cdc.is_deleted: NULL means live)."""
    h = harness
    pipe = CdcPipeline(
        source=None, key_cols=["id"], order_cols=["offset"],
        sink=h.sink, state=h.state,
    )
    pipe.process_batch(
        spark.createDataFrame([(1, "a", "false", 1), (2, "b", "false", 2)], SCHEMA), 0
    )
    pipe.process_batch(spark.createDataFrame([(1, "a2", None, 3)], SCHEMA), 1)
    state = {r["id"]: r["title"] for r in h.state.read().collect()}
    sink = {k: r["title"] for k, r in h.sink_rows().items()}
    assert state == sink == {1: "a2", 2: "b"}


def test_dead_letter_rows_never_reach_state_or_sink(harness, spark):
    """K5 end-to-end: a poison record (__dead=true) at the HIGHEST offset
    must not win compaction — it goes to the dead-letter handler, and the
    good row at the lower offset lands in state and sink."""
    h = harness
    dlq = []
    # good insert at offset 1; poison record (decode failure -> NULL
    # payload) for the SAME key at offset 2
    h.feed([(1, "good", "false", 1), (1, None, "false", 2)])
    stream = file_changelog_stream(h.spark, h.src, SCHEMA)
    # widen with the __dead marker the decoder attaches
    from pyspark.sql import functions as F

    pipe = CdcPipeline(
        source=stream.withColumn("__dead", F.col("title").isNull()),
        key_cols=["id"],
        order_cols=["offset"],
        sink=h.sink,
        state=h.state,
        dead_letter=lambda df: dlq.extend(df.collect()),
        checkpoint_dir=h.checkpoint,
        trigger_seconds=0,
        query_name="test_dead_letter",
    )
    q = pipe.start()
    q.processAllAvailable()
    q.stop()
    # state kept the good row, not the NULL-payload poison
    state = {r["id"]: r for r in h.state.read().collect()}
    assert state[1]["title"] == "good"
    assert h.sink_rows()[1]["title"] == "good"
    # the poison record went to the DLQ with its provenance intact
    assert len(dlq) == 1 and dlq[0]["offset"] == 2


def test_schema_evolution_end_to_end(harness, spark):
    """S5 + K3 end-to-end: batch 2 adds a `rating` column. The pipeline
    emits a DDL history event (schema-change capture) and the sink ALTERs
    the table before merging, so old rows read NULL and new rows carry the
    value."""
    h = harness
    ddl_events = []
    pipe = CdcPipeline(
        source=None,  # driving process_batch directly (the foreachBatch path)
        key_cols=["id"],
        order_cols=["offset"],
        sink=h.sink,
        state=None,
        schema_history=ddl_events.append,
        query_name="test_evolve",
    )
    base = spark.createDataFrame(
        [(1, "m1", "false", 1)], ["id", "title", "__deleted", "offset"]
    )
    pipe.process_batch(base, 0)
    widened = spark.createDataFrame(
        [(2, "m2", 8.5, "false", 2)],
        ["id", "title", "rating", "__deleted", "offset"],
    )
    pipe.process_batch(widened, 1)
    rows = h.sink_rows()
    assert rows[1]["title"] == "m1" and rows[1]["rating"] is None
    assert rows[2]["rating"] == 8.5
    # the capture side recorded exactly one DDL event, at the right epoch
    assert len(ddl_events) == 1
    assert ddl_events[0]["added"] == ["rating"]
    assert ddl_events[0]["epoch_id"] == 1 and ddl_events[0]["removed"] == []


def test_txn_atomic_application(harness, spark):
    """S6 (provide.transaction.metadata): rows sharing a txn id apply as
    one atomic unit, txns in commit order. Two txns touch the same key —
    last txn wins; each sink call sees exactly one txn's rows."""
    h = harness
    calls = []

    class RecordingSink:
        def write_batch(self, upserts, delete_keys):
            calls.append(sorted((r["id"], r["title"]) for r in upserts.collect()))

    pipe = CdcPipeline(
        source=None,
        key_cols=["id"],
        order_cols=["offset"],
        sink=RecordingSink(),
        txn_col="txn_id",
        query_name="test_txn",
    )
    batch = spark.createDataFrame(
        [
            # txn B commits second (offsets 3-4) but appears first in the frame
            ("B", 2, "b_v2", "false", 3),
            ("B", 3, "new", "false", 4),
            # txn A commits first (offsets 1-2)
            ("A", 1, "a_v1", "false", 1),
            ("A", 2, "b_v1", "false", 2),
        ],
        ["txn_id", "id", "title", "__deleted", "offset"],
    )
    pipe.process_batch(batch, 0)
    # two atomic units, in commit order, each with only its own rows
    assert calls == [
        [(1, "a_v1"), (2, "b_v1")],
        [(2, "b_v2"), (3, "new")],
    ]


def test_txn_commit_order_is_lexicographic_over_order_cols(harness, spark):
    """Round-9 ADVICE (medium): with a multi-column envelope (Debezium
    ts_ms + LSN), a txn's commit position is the LEXICOGRAPHIC minimum
    row of its order cols — per-column independent mins would compose
    min(ts) and min(lsn) from DIFFERENT rows into a position belonging
    to no row. Here txn A's rows are (ts=1,lsn=9) and (ts=2,lsn=1):
    per-column min (1,1) would sort A before B's (1,5) and let B's write
    to the shared key win; the true first-change order is B then A, so
    A's value must be final under serial last-txn-wins."""
    calls = []

    class RecordingSink:
        def write_batch(self, upserts, delete_keys):
            calls.append(sorted((r["id"], r["title"]) for r in upserts.collect()))

    pipe = CdcPipeline(
        source=None,
        key_cols=["id"],
        order_cols=["ts", "lsn"],
        sink=RecordingSink(),
        txn_col="txn_id",
        query_name="test_txn_lex",
    )
    batch = spark.createDataFrame(
        [
            ("A", 1, "a_wins", "false", 1, 9),
            ("A", 2, "a_other", "false", 2, 1),
            ("B", 1, "b_loses", "false", 1, 5),
        ],
        ["txn_id", "id", "title", "__deleted", "ts", "lsn"],
    )
    pipe.process_batch(batch, 0)
    assert calls == [
        [(1, "b_loses")],
        [(1, "a_wins"), (2, "a_other")],
    ]


def test_txn_null_metadata_rows_are_applied(harness, spark):
    """S6 edge: Debezium snapshot events carry NULL transaction metadata.
    A NULL txn id must be applied as its own atomic unit, not silently
    dropped (an equality filter never matches NULL — the round-2 advisor
    finding: enabling txn_col on a topic holding snapshot records would
    lose the entire snapshot)."""
    calls = []

    class RecordingSink:
        def write_batch(self, upserts, delete_keys):
            calls.append(sorted((r["id"], r["title"]) for r in upserts.collect()))

    pipe = CdcPipeline(
        source=None,
        key_cols=["id"],
        order_cols=["offset"],
        sink=RecordingSink(),
        txn_col="txn_id",
        query_name="test_txn_null",
    )
    batch = spark.createDataFrame(
        [
            # snapshot rows: no txn metadata, lowest offsets → apply first
            (None, 1, "snap_v1", "false", 1),
            (None, 2, "snap_v2", "false", 2),
            # streaming txn A afterwards, updating key 1
            ("A", 1, "a_v2", "false", 3),
        ],
        ["txn_id", "id", "title", "__deleted", "offset"],
    )
    pipe.process_batch(batch, 0)
    assert calls == [
        [(1, "snap_v1"), (2, "snap_v2")],
        [(1, "a_v2")],
    ]


def test_propagation_latency_bench_plumbing(spark):
    """The bench's end-to-end latency probe (file lands in the changelog
    dir → key applied at the sink) completes and reports sane numbers.
    The latency *value* is host-dependent; here we only pin that a change
    actually propagates through the live StreamingQuery within the 60 s
    probe timeout (a timed-out probe would report ~60 s)."""
    import bench

    out = bench.propagation_latency(spark, n_probes=1, trigger_seconds=0.5)
    assert out["n_probes"] == 1
    assert 0 < out["p50_sec"] <= out["max_sec"] < 55


def test_state_store_evolves_on_added_column(spark, tmp_path):
    """S5's missing half before round 6: the MATERIALIZED STATE also
    survives an upstream ADD COLUMN. Old keys read NULL for the new
    column, the evolved batch upserts/deletes normally, and a replay of
    the evolved batch stays idempotent."""
    store = ParquetStateStore(
        spark,
        str(tmp_path / "state"),
        key_cols=["id"],
        order_cols=["offset"],
        evolve=True,
    )
    v1 = spark.createDataFrame(
        [(1, "m1", "false", 1), (2, "m2", "false", 2)],
        "id long, title string, __deleted string, offset long",
    )
    store.apply_batch(v1)
    v2 = spark.createDataFrame(
        [(2, "m2b", 8.5, "false", 3), (3, "m3", 9.0, "false", 4),
         (1, None, None, "true", 5)],
        "id long, title string, rating double, __deleted string, offset long",
    )
    store.apply_batch(v2)
    snap = {r["id"]: (r["title"], r["rating"]) for r in store.read().collect()}
    assert snap == {2: ("m2b", 8.5), 3: ("m3", 9.0)}
    store.apply_batch(v2)  # replay: keyed upsert stays idempotent
    assert {
        r["id"]: (r["title"], r["rating"]) for r in store.read().collect()
    } == snap


def test_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    """The pull-query point lookup opens ONE bucket directory and runs
    no Spark job. It is checked on I/O, not plan shape (the lookup reads
    the bucket with pyarrow, so there is no Spark scan to inspect): a
    fresh store answers with every other bucket's files moved aside, a
    warm store answers with every other bucket's files overwritten with
    garbage, both equal to the full-scan filter, and `collect()` adds no
    job to the status tracker."""
    import os
    import shutil

    path = str(tmp_path / "state")
    store = ParquetStateStore(
        spark, path, key_cols=["id"], order_cols=["offset"], n_buckets=8
    )
    rows = [(i, f"p{i}", "false", i) for i in range(1, 201)]
    store.apply_batch(
        spark.createDataFrame(
            rows, "id long, payload string, __deleted string, offset long"
        )
    )
    want = store.read().filter("id = 42").collect()
    assert len(want) == 1 and want[0]["payload"] == "p42"
    tracker = spark.sparkContext.statusTracker()
    jobs0 = set(tracker.getJobIdsForGroup())
    got = store.lookup(id=42).collect()
    assert set(tracker.getJobIdsForGroup()) == jobs0  # 0 Spark jobs
    assert got == want
    target = "__bucket=%d" % spark.read.parquet(path).filter("id = 42").first()["__bucket"]
    others = [
        os.path.join(path, d, f)
        for d in os.listdir(path)
        if d.startswith("__bucket=") and d != target
        for f in os.listdir(os.path.join(path, d))
    ]
    assert len(others) >= 7
    # warm store: a read of any other bucket's file would now fail
    for f in others:
        with open(f, "wb") as out:
            out.write(b"not a parquet file")
    assert store.lookup(id=42).collect() == want
    # fresh store (no footer seen yet): other buckets' files moved aside
    aside = tmp_path / "aside"
    aside.mkdir()
    for i, f in enumerate(others):
        shutil.move(f, aside / f"{i}.parquet")
    fresh = ParquetStateStore(
        spark, path, key_cols=["id"], order_cols=["offset"], n_buckets=8
    )
    assert fresh.lookup(id=42).collect() == want
    # miss: absent key in the pruned bucket returns empty, not error
    assert fresh.lookup(id=99999).collect() == []


def test_state_store_survives_going_empty(spark, tmp_path):
    """Deleting every key must leave a READABLE empty state (zero rows
    under partitionBy writes no files and loses the schema — regression
    from the bucket-layout change), and both read() and lookup() keep
    working; a later insert revives the partitioned layout."""
    store = ParquetStateStore(
        spark, str(tmp_path / "s"), key_cols=["id"], order_cols=["offset"],
        n_buckets=4,
    )
    schema = "id long, payload string, __deleted string, offset long"
    store.apply_batch(
        spark.createDataFrame([(1, "a", "false", 1)], schema)
    )
    store.apply_batch(
        spark.createDataFrame([(1, None, "true", 2)], schema)
    )
    assert store.read().count() == 0
    assert store.lookup(id=1).count() == 0
    store.apply_batch(
        spark.createDataFrame([(2, "b", "false", 3)], schema)
    )
    assert store.lookup(id=2).collect()[0]["payload"] == "b"


def _bucket_files(path):
    """{relpath: (inode, md5)} for every file under a state dir."""
    import hashlib
    import os

    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            rel = os.path.relpath(p, path)
            with open(p, "rb") as f:
                digest = hashlib.md5(f.read()).hexdigest()
            out[rel] = (os.stat(p).st_ino, digest)
    return out


def test_apply_batch_rewrites_only_touched_buckets(spark, tmp_path):
    """The incremental-merge contract (r10 VERDICT #1): a 1-key batch
    must leave every UNTOUCHED bucket's files byte-identical — and in
    fact the very same inodes (hard-linked carry-over, O(1) bytes) —
    while only the bucket the key hashes into is rewritten."""
    store = ParquetStateStore(
        spark, str(tmp_path / "s"), key_cols=["id"], order_cols=["offset"],
        n_buckets=8,
    )
    schema = "id long, payload string, __deleted string, offset long"
    store.apply_batch(
        spark.createDataFrame(
            [(i, f"p{i}", "false", i) for i in range(1, 201)], schema
        )
    )
    before = _bucket_files(store.path)
    assert sum(1 for rel in before if rel.endswith(".parquet")) >= 8
    store.apply_batch(
        spark.createDataFrame([(42, "p42b", "false", 1000)], schema)
    )
    after = _bucket_files(store.path)
    # exactly one bucket dir's parquet content changed
    changed_dirs = {
        rel.split("/")[0]
        for rel in (set(before) ^ set(after))
        if rel.startswith(store._BUCKET)
    } | {
        rel.split("/")[0]
        for rel in set(before) & set(after)
        if rel.startswith(store._BUCKET) and before[rel][1] != after[rel][1]
    }
    assert len(changed_dirs) == 1, changed_dirs
    # every surviving untouched file is the SAME inode (hard link), so
    # zero payload bytes were rewritten for it
    (touched,) = changed_dirs
    for rel in set(before) & set(after):
        if rel.startswith(store._BUCKET) and not rel.startswith(touched):
            assert before[rel] == after[rel], rel
    # and the merge itself is correct
    snap = {r["id"]: r["payload"] for r in store.read().collect()}
    assert snap[42] == "p42b" and len(snap) == 200 and snap[7] == "p7"


def test_apply_batch_delete_drops_only_touched_bucket(spark, tmp_path):
    """A batch that deletes every key in one bucket removes that bucket
    dir from the next version; all other buckets carry over untouched,
    and point lookups against both sides still work."""
    store = ParquetStateStore(
        spark, str(tmp_path / "s"), key_cols=["id"], order_cols=["offset"],
        n_buckets=4,
    )
    schema = "id long, payload string, __deleted string, offset long"
    ids = list(range(1, 41))
    store.apply_batch(
        spark.createDataFrame([(i, f"p{i}", "false", i) for i in ids], schema)
    )
    # find which bucket id=5 lives in, then delete EVERY key of that bucket
    bucket_of = {
        r["id"]: r["b"]
        for r in spark.read.parquet(store.path)
        .selectExpr("id", f"{store._BUCKET} as b")
        .collect()
    }
    victims = [i for i in ids if bucket_of[i] == bucket_of[5]]
    before = _bucket_files(store.path)
    store.apply_batch(
        spark.createDataFrame(
            [(i, None, "true", 100 + i) for i in victims], schema
        )
    )
    after = _bucket_files(store.path)
    gone_dir = f"{store._BUCKET}={bucket_of[5]}"
    assert not any(rel.startswith(gone_dir) for rel in after)
    for rel in before:
        if rel.startswith(store._BUCKET) and not rel.startswith(gone_dir):
            assert after.get(rel) == before[rel], rel
    assert store.read().count() == 40 - len(victims)
    assert store.lookup(id=5).count() == 0
    survivor = next(i for i in ids if i not in victims)
    assert store.lookup(id=survivor).count() == 1


def test_swap_buckets_copy_fallback_when_hardlinks_unsupported(
    spark, tmp_path, monkeypatch
):
    """Filesystems without hard links (object-store mounts) fall back to
    byte copies for untouched-bucket carry-over — results identical,
    only the O(1)-bytes property is lost."""
    import os as _os

    store = ParquetStateStore(
        spark, str(tmp_path / "s"), key_cols=["id"], order_cols=["offset"],
        n_buckets=8,
    )
    schema = "id long, payload string, __deleted string, offset long"
    store.apply_batch(
        spark.createDataFrame(
            [(i, f"p{i}", "false", i) for i in range(1, 101)], schema
        )
    )

    def no_link(src, dst):
        raise OSError("hard links not supported here")

    monkeypatch.setattr(_os, "link", no_link)
    store.apply_batch(
        spark.createDataFrame([(42, "p42b", "false", 1000)], schema)
    )
    snap = {r["id"]: r["payload"] for r in store.read().collect()}
    assert snap[42] == "p42b" and len(snap) == 100 and snap[7] == "p7"
    assert store.lookup(id=42).collect()[0]["payload"] == "p42b"


def test_rescale_buckets_preserves_state_and_pruned_lookup(spark, tmp_path):
    """rescale_buckets is the maintenance rebuild that keeps bucket size
    constant as state grows: contents identical, the bucket layout moves
    to the new count, and point lookups keep pruning (now against the
    new n)."""
    store = ParquetStateStore(
        spark, str(tmp_path / "s"), key_cols=["id"], order_cols=["offset"],
        n_buckets=4,
    )
    schema = "id long, payload string, __deleted string, offset long"
    store.apply_batch(
        spark.createDataFrame(
            [(i, f"p{i}", "false", i) for i in range(1, 101)], schema
        )
    )
    before = {r["id"]: r["payload"] for r in store.read().collect()}
    store.rescale_buckets(16)
    assert {r["id"]: r["payload"] for r in store.read().collect()} == before
    dirs = {
        n for n in __import__("os").listdir(store.path)
        if n.startswith(store._BUCKET)
    }
    assert len(dirs) == 16
    assert store.lookup(id=42).collect()[0]["payload"] == "p42"
    # incremental writes continue against the new layout
    store.apply_batch(
        spark.createDataFrame([(42, "p42b", "false", 1000)], schema)
    )
    assert store.lookup(id=42).collect()[0]["payload"] == "p42b"
    with __import__("pytest").raises(ValueError, match="n_buckets"):
        store.rescale_buckets(0)


def test_apply_batch_narrow_key_type_still_hits_right_bucket(spark, tmp_path):
    """murmur3 is type-sensitive: a batch whose key column arrives as INT
    against a LONG-keyed state must still compute the stored-type bucket
    (regression guard for the incremental path — the wrong touched set
    would leave the old version stranded in an untouched bucket)."""
    store = ParquetStateStore(
        spark, str(tmp_path / "s"), key_cols=["id"], order_cols=["offset"],
        n_buckets=8,
    )
    store.apply_batch(
        spark.createDataFrame(
            [(i, f"p{i}", "false", i) for i in range(1, 51)],
            "id long, payload string, __deleted string, offset long",
        )
    )
    store.apply_batch(
        spark.createDataFrame(
            [(42, "p42b", "false", 1000)],
            "id int, payload string, __deleted string, offset int",
        )
    )
    rows = store.read().filter("id = 42").collect()
    assert len(rows) == 1 and rows[0]["payload"] == "p42b"
    assert store.read().count() == 50
    assert store.lookup(id=42).collect()[0]["payload"] == "p42b"


# ---------------------------------------------------------------------------
# crash recovery across the state store's two-rename swap (r12 VERDICT #1)
# ---------------------------------------------------------------------------

def _md5_snapshot(path):
    """{relpath: md5} for every file under a state dir (content only —
    recovery restores the same files, inodes may legitimately move)."""
    import hashlib
    import os

    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = hashlib.md5(f.read()).hexdigest()
    return out


def _crash_store(spark, tmp_path, n_buckets=4):
    store = ParquetStateStore(
        spark, str(tmp_path / "s"), key_cols=["id"], order_cols=["offset"],
        n_buckets=n_buckets,
    )
    schema = "id long, payload string, __deleted string, offset long"
    store.apply_batch(
        spark.createDataFrame(
            [(i, f"p{i}", "false", i) for i in range(1, 41)], schema
        )
    )
    return store, schema


def test_crash_between_swap_renames_restores_full_state(
    spark, tmp_path, monkeypatch
):
    """Window 1: a crash AFTER `rename(path, __old_*)` but BEFORE
    `rename(__next_*, path)` strands the only published state at
    `__old_*`. The next entry (exists/read/apply_batch) must RESTORE it
    byte-identical — without recovery, exists() returns False and the
    next apply_batch silently replaces the whole CDC state with one
    micro-batch (silent total state loss)."""
    import os as _os

    store, schema = _crash_store(spark, tmp_path)
    before = _md5_snapshot(store.path)

    real_rename = _os.rename

    def crash_between(src, dst):
        if src == store.path:
            real_rename(src, dst)  # live -> __old_* happened ...
            raise RuntimeError("simulated crash between the two renames")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", crash_between)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.apply_batch(
            spark.createDataFrame([(7, "p7b", "false", 1000)], schema)
        )
    monkeypatch.undo()
    assert not __import__("os").path.isdir(store.path)  # the crash state

    # next trigger: exists() must see the restored pre-crash state
    assert store.exists()
    assert _md5_snapshot(store.path) == before
    assert {r["id"]: r["payload"] for r in store.read().collect()}[7] == "p7"
    # no orphan siblings survive recovery
    parent = __import__("os").path.dirname(store.path)
    orphans = [
        n for n in __import__("os").listdir(parent)
        if n.startswith(__import__("os").path.basename(store.path) + "__")
    ]
    assert orphans == [], orphans
    # the replayed batch (idempotent) now lands on the full state
    store.apply_batch(
        spark.createDataFrame([(7, "p7b", "false", 1000)], schema)
    )
    snap = {r["id"]: r["payload"] for r in store.read().collect()}
    assert snap[7] == "p7b" and len(snap) == 40 and snap[13] == "p13"


def test_crash_after_publish_sweeps_stale_old_copy(
    spark, tmp_path, monkeypatch
):
    """Window 2: a crash AFTER the publish rename but BEFORE
    `rmtree(__old_*)` leaks a full stale state copy. The next entry
    sweeps it (never restoring over the live dir) and the applied batch
    is visible."""
    import os as _os
    import shutil as _shutil

    store, schema = _crash_store(spark, tmp_path)

    real_rmtree = _shutil.rmtree

    def crash_on_old(path, *a, **kw):
        if "__old_" in str(path):
            raise RuntimeError("simulated crash before old-copy cleanup")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(_shutil, "rmtree", crash_on_old)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.apply_batch(
            spark.createDataFrame([(7, "p7b", "false", 1000)], schema)
        )
    monkeypatch.undo()

    parent = _os.path.dirname(store.path)
    base = _os.path.basename(store.path)
    assert any(n.startswith(base + "__old_") for n in _os.listdir(parent))
    # live dir won, batch applied; next entry sweeps the stale copy
    assert store.exists()
    snap = {r["id"]: r["payload"] for r in store.read().collect()}
    assert snap[7] == "p7b" and len(snap) == 40
    assert not any(n.startswith(base + "__") for n in _os.listdir(parent))


def test_crash_between_renames_in_full_rewrite_path(
    spark, tmp_path, monkeypatch
):
    """The same window-1 crash through _write_atomic (rebuild / schema
    evolution take this path) must also restore, not lose, the state."""
    import os as _os

    store, schema = _crash_store(spark, tmp_path)
    before = _md5_snapshot(store.path)

    real_rename = _os.rename

    def crash_between(src, dst):
        if src == store.path:
            real_rename(src, dst)
            raise RuntimeError("simulated crash between the two renames")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", crash_between)
    full_log = spark.createDataFrame(
        [(i, f"q{i}", "false", 100 + i) for i in range(1, 41)], schema
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.rebuild(full_log)
    monkeypatch.undo()

    assert store.exists()
    assert _md5_snapshot(store.path) == before
    store.rebuild(full_log)  # replay succeeds
    assert store.read().filter("payload = 'q7'").count() == 1


def test_destroy_does_not_resurrect_from_orphans(
    spark, tmp_path, monkeypatch
):
    """destroy() after a window-1 crash must remove BOTH the restored
    live dir and every orphan — a later exists() stays False."""
    import os as _os

    store, schema = _crash_store(spark, tmp_path)
    real_rename = _os.rename

    def crash_between(src, dst):
        if src == store.path:
            real_rename(src, dst)
            raise RuntimeError("simulated crash")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", crash_between)
    with pytest.raises(RuntimeError):
        store.apply_batch(
            spark.createDataFrame([(7, "p7b", "false", 1000)], schema)
        )
    monkeypatch.undo()
    store.destroy()
    assert not store.exists()
    parent = _os.path.dirname(store.path)
    base = _os.path.basename(store.path)
    assert not any(n.startswith(base) for n in _os.listdir(parent))


def test_apply_batch_refuses_widening_key_type(spark, tmp_path):
    """A batch whose key arrives WIDER than the stored column is a
    schema change: casting down would silently wrap overflowing keys
    into the wrong key/bucket, so apply_batch refuses (the narrowing
    direction still merges — covered by
    test_apply_batch_narrow_key_type_still_hits_right_bucket)."""
    store = ParquetStateStore(
        spark, str(tmp_path / "s"), key_cols=["id"], order_cols=["offset"],
        n_buckets=4,
    )
    store.apply_batch(
        spark.createDataFrame(
            [(i, f"p{i}", "false", i) for i in range(1, 11)],
            "id int, payload string, __deleted string, offset long",
        )
    )
    wide = spark.createDataFrame(
        [(2**33, "overflow", "false", 1000)],
        "id long, payload string, __deleted string, offset long",
    )
    with pytest.raises(ValueError, match="schema change"):
        store.apply_batch(wide)
    # the state is untouched by the refused batch
    assert store.read().count() == 10


def test_reinsert_after_delete_all_restores_partitioned_layout(
    spark, tmp_path
):
    """After a delete-all (flat empty-file layout) a reinsert must
    restore a clean hive-partitioned tree: no root-level data file may
    be carried alongside __bucket= dirs (ADVICE r12: the stale flat
    part file was hard-linked into every future version forever)."""
    import os as _os

    store = ParquetStateStore(
        spark, str(tmp_path / "s"), key_cols=["id"], order_cols=["offset"],
        n_buckets=4,
    )
    schema = "id long, payload string, __deleted string, offset long"
    store.apply_batch(
        spark.createDataFrame([(i, f"p{i}", "false", i) for i in (1, 2)], schema)
    )
    store.apply_batch(
        spark.createDataFrame(
            [(i, None, "true", 10 + i) for i in (1, 2)], schema
        )
    )
    assert store.read().count() == 0
    store.apply_batch(
        spark.createDataFrame([(3, "back", "false", 100)], schema)
    )
    root_parquet = [
        n for n in _os.listdir(store.path) if n.endswith(".parquet")
    ]
    assert root_parquet == [], root_parquet
    assert any(
        n.startswith(store._BUCKET + "=") for n in _os.listdir(store.path)
    )
    # and future incremental swaps never re-import a flat file
    store.apply_batch(
        spark.createDataFrame([(4, "more", "false", 101)], schema)
    )
    root_parquet = [
        n for n in _os.listdir(store.path) if n.endswith(".parquet")
    ]
    assert root_parquet == [], root_parquet
    assert {r["id"] for r in store.read().collect()} == {3, 4}


def test_rescale_advisory_fires_once_when_buckets_oversized(
    spark, tmp_path
):
    """The growth-rule guard: when mean bucket size exceeds the target,
    apply_batch warns (once) naming a recommended power-of-two bucket
    count that brings buckets back under target."""
    import warnings as _warnings

    store = ParquetStateStore(
        spark, str(tmp_path / "s"), key_cols=["id"], order_cols=["offset"],
        n_buckets=2, target_bucket_bytes=64,  # any real file exceeds this
    )
    schema = "id long, payload string, __deleted string, offset long"
    store.apply_batch(
        spark.createDataFrame(
            [(i, f"p{i}", "false", i) for i in range(1, 21)], schema
        )
    )
    with pytest.warns(RuntimeWarning, match="rescale_buckets"):
        store.apply_batch(
            spark.createDataFrame([(1, "p1b", "false", 100)], schema)
        )
    rec = store.recommended_buckets()
    assert rec > store.n_buckets and rec % 2 == 0
    total = store.mean_bucket_bytes() * store.n_buckets
    assert total <= rec * store.target_bucket_bytes
    # once-per-instance: the next trigger does not re-warn
    with _warnings.catch_warnings():
        _warnings.simplefilter("error", RuntimeWarning)
        store.apply_batch(
            spark.createDataFrame([(2, "p2b", "false", 101)], schema)
        )
