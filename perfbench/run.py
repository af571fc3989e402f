"""CDC replication benchmark: replay, streaming lag, Avro wire decode and
pull queries, timed from outside the engine's public CDC layers.

    python3 perfbench/run.py --workload stream_uniform --seed 1 --seconds 10 --trace 0

Every workload runs the same lifecycle on its own seeded input:

1. set-up: start the session, stage every input file (history log,
   stream files, catch-up backlog; Kafka-wire Avro records for the Avro
   workload), seed the sqlite sink, and seed the state by replaying the
   history log once on the cold JVM. Staging and sink seeding run three
   times; ``setup_s`` counts their median once.
2. lookups: a seeded sequence of ``lookup(id=...).collect()`` calls
   (hits, misses, deleted keys) from ``nproc`` closed-loop clients, each
   result checked against the oracle.
3. stream: a ``CdcPipeline`` (no processing-time trigger, no
   files-per-trigger cap) applies two primer files one batch at a
   time, so the streaming code paths are warm; then an open-loop
   thread renames the staged change files into the source directory at
   fixed due times for ``--seconds`` seconds. A file's lag runs from its
   due time to the return of ``DbApiSink.write_batch`` for the batch that
   read it.
4. catch-up: the query stops, half the backlog lands, and a restarted
   query on the same checkpoint drains it (a restart after downtime);
   then the same again for the other half.
5. replay: ``ParquetStateStore.rebuild`` of the history log into a
   scratch store, three times on the now warm engine; the median counts.
6. gate: the sink table, ``state.read()`` and a numpy compaction of the
   staged log must hold the same rows, and the dead letters must number
   the poison records injected.

Standard output ends with one JSON object holding ``correct``,
``attempted``, ``failed`` and ``metrics``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The lines before it
record the host and the run. Nothing is retried: a failed file, batch or
lookup counts in ``failed``. The exit code is 1 when the gate fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sqlite3
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, fields

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from helpers import file_batches, oracle_compact, percentile, table_diff  # noqa: E402


def _process_start() -> float:
    """The perf_counter() reading at the moment this process was created."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS = _process_start()

NPROC = len(os.sched_getaffinity(0))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
TITLES = np.array([f"title-{i:04d}" for i in range(1024)], dtype=object)
PLAIN_SCHEMA = "id long, title string, rating double, __deleted string, offset long"
WIRE_SCHEMA = "key binary, value binary, offset long, partition int"
KEY_AVRO = json.dumps(
    {"type": "record", "name": "Key", "fields": [{"name": "id", "type": "long"}]}
)
VALUE_AVRO = json.dumps(
    {
        "type": "record",
        "name": "Value",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "title", "type": ["null", "string"]},
            {"name": "rating", "type": ["null", "double"]},
            {"name": "__deleted", "type": ["null", "string"]},
        ],
    }
)
POISON = b"\xff garbage"   # no flat-record decoder parses this: a dead letter
SINK_TABLE = "cdc_sink"
SINK_COLS = ("id", "offset", "title", "rating", "__deleted")
STAGE_REPEATS = 3
REPLAYS = 3
PRIMER_FILES = 2
N_BUCKETS = 16
NO_CAP = 2**31 - 1         # maxFilesPerTrigger above any run's file count


@dataclass(frozen=True)
class Profile:
    keys: int                  # key space of the history log
    history_events: int
    zipf: float                # 0: uniform keys; else the Zipf exponent
    avro: bool                 # the stream arrives as Kafka-wire Avro records
    files_per_s: float
    events_per_file: int
    backlog_files: int
    lookups: int               # static-state pull queries
    key_space: float = 1.2     # stream keys span key_space * keys
    delete_share: float = 0.1
    poison_share: float = 0.0
    lookups_during_stream_per_s: float = 0.0


WORKLOADS = {
    # uniform keys touch every state bucket in every batch: apply_batch
    # write amplification and sink upsert volume
    "stream_uniform": Profile(
        keys=150_000, history_events=300_000, zipf=0.0, avro=False,
        files_per_s=10, events_per_file=250, backlog_files=80, lookups=160,
    ),
    # Avro decode dominates; tombstones, __deleted rewrites and poison
    # records; compaction collapses many versions of few hot keys
    "stream_avro_hot": Profile(
        keys=5_000, history_events=150_000, zipf=1.1, avro=True,
        files_per_s=10, events_per_file=250, backlog_files=80, lookups=160,
        poison_share=0.001,
    ),
    # reads alongside writes on one state path. Not a benchmark workload:
    # lookup() sweeps the writer's __staging_*/__next_* directories, so the
    # query dies within a few batches (see README.md)
    "lookup_during_stream": Profile(
        keys=50_000, history_events=200_000, zipf=0.0, avro=False,
        files_per_s=10, events_per_file=250, backlog_files=80, lookups=160,
        lookups_during_stream_per_s=4.0,
    ),
}


# -- inputs -------------------------------------------------------------------


@dataclass
class Events:
    """A changelog slice as column arrays, in offset order."""

    ids: np.ndarray
    offsets: np.ndarray
    deleted: np.ndarray
    title: np.ndarray          # index into TITLES
    rating: np.ndarray
    poison: np.ndarray         # undecodable wire value: dead-lettered, not applied
    tombstone: np.ndarray      # a delete sent as a literal-NULL value

    def __len__(self) -> int:
        return len(self.ids)

    def slice(self, lo: int, hi: int) -> Events:
        return Events(*(getattr(self, f.name)[lo:hi] for f in fields(Events)))

    @staticmethod
    def concat(parts: list[Events]) -> Events:
        return Events(
            *(np.concatenate([getattr(p, f.name) for p in parts]) for f in fields(Events))
        )


def gen_events(
    rng: np.random.Generator, prof: Profile, n: int, offset0: int, key_space: int,
    wire: bool,
) -> Events:
    if prof.zipf:
        weights = 1.0 / np.arange(1, key_space + 1) ** prof.zipf
        ids = rng.permutation(key_space)[rng.choice(key_space, n, p=weights / weights.sum())]
    else:
        ids = rng.integers(0, key_space, n)
    deleted = rng.random(n) < prof.delete_share
    poison = rng.random(n) < prof.poison_share
    half = rng.random(n) < 0.5
    return Events(
        ids=ids.astype(np.int64),
        offsets=np.arange(offset0, offset0 + n, dtype=np.int64),
        deleted=deleted,
        title=rng.integers(0, len(TITLES), n).astype(np.int32),
        rating=np.round(rng.random(n) * 10, 3),
        poison=poison & wire,
        tombstone=deleted & half & wire,
    )


def plain_table(ev: Events) -> pa.Table:
    return pa.table(
        {
            "id": ev.ids,
            "title": pa.DictionaryArray.from_arrays(pa.array(ev.title), pa.array(TITLES)),
            "rating": ev.rating,
            "__deleted": np.where(ev.deleted, "true", "false"),
            "offset": ev.offsets,
        }
    )


def wire_table(ev: Events) -> pa.Table:
    """Kafka-wire records: Avro key and value, literal-NULL tombstones,
    poison bytes where ``ev.poison``."""
    from db_integration_via_kafka_ksql_spark.functions.avro_codec import FlatRecordCodec

    kc, vc = FlatRecordCodec(KEY_AVRO), FlatRecordCodec(VALUE_AVRO)
    keys, values = [], []
    for k, d, t, r, p, tomb in zip(
        ev.ids.tolist(), ev.deleted.tolist(), ev.title.tolist(), ev.rating.tolist(),
        ev.poison.tolist(), ev.tombstone.tolist(),
    ):
        keys.append(kc.encode({"id": k}))
        if p:
            values.append(POISON)
        elif tomb:
            values.append(None)
        else:
            values.append(vc.encode({
                "id": k, "title": TITLES[t], "rating": r,
                "__deleted": "true" if d else "false",
            }))
    return pa.table(
        {
            "key": pa.array(keys, pa.binary()),
            "value": pa.array(values, pa.binary()),
            "offset": ev.offsets,
            "partition": pa.array(np.zeros(len(ev), np.int32)),
        }
    )


def oracle(ev: Events) -> dict[str, np.ndarray]:
    """Live rows after latest-per-key compaction, poison excluded."""
    ok = ~ev.poison
    out = oracle_compact(
        ev.ids[ok], ev.offsets[ok], ev.deleted[ok],
        {"title": ev.title[ok], "rating": ev.rating[ok]},
    )
    out["title"] = TITLES[out["title"]]
    return out


@dataclass
class Inputs:
    history: Events
    primer: list[Events]       # applied one batch each before the open loop
    stream: list[Events]       # one per stream file, in due order
    backlog: list[Events]
    lookup_keys: list[int]
    lookup_expect: list[tuple | None]  # (offset, title, rating) or absent

    def changelog(self) -> Events:
        return Events.concat([self.history, *self.primer, *self.stream, *self.backlog])


def make_inputs(seed: int, prof: Profile, n_stream_files: int) -> Inputs:
    rng_hist, rng_tail, rng_look = (
        np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(3)
    )
    history = gen_events(rng_hist, prof, prof.history_events, 1, prof.keys, wire=False)
    space = int(prof.keys * prof.key_space)
    per = prof.events_per_file
    n_files = PRIMER_FILES + n_stream_files + prof.backlog_files
    tail = gen_events(
        rng_tail, prof, n_files * per, prof.history_events + 1, space, wire=prof.avro
    )
    files = [tail.slice(i * per, (i + 1) * per) for i in range(n_files)]

    base = oracle(history)
    gone = np.setdiff1d(np.unique(history.ids), base["id"])
    keys = []
    for kind in rng_look.choice(3, prof.lookups, p=[0.6, 0.2, 0.2]):
        if kind == 1:
            keys.append(int(rng_look.integers(2 * space, 3 * space)))  # never written
        elif kind == 2 and len(gone):
            keys.append(int(rng_look.choice(gone)))
        else:
            keys.append(int(rng_look.choice(base["id"])))
    at = np.searchsorted(base["id"], keys)
    expect = [
        (int(base["offset"][i]), base["title"][i], float(base["rating"][i]))
        if i < len(base["id"]) and base["id"][i] == k else None
        for k, i in zip(keys, at)
    ]
    return Inputs(
        history=history,
        primer=files[:PRIMER_FILES],
        stream=files[PRIMER_FILES : PRIMER_FILES + n_stream_files],
        backlog=files[PRIMER_FILES + n_stream_files :],
        lookup_keys=keys,
        lookup_expect=expect,
    )


def stage(work: str, prof: Profile, inp: Inputs, wire_copy: bool) -> dict[str, str]:
    """Write every input file and seed the sink; returns the paths.
    ``wire_copy`` also writes the stream and the backlog as Kafka-wire
    records for the traced decode measurement."""
    d = {n: os.path.join(work, n) for n in ("history", "staged", "backlog", "source", "wire")}
    for path in d.values():
        os.makedirs(path)
    d["sink.db"] = os.path.join(work, "sink.db")
    step = 500_000
    for i in range(0, len(inp.history), step):
        pq.write_table(
            plain_table(inp.history.slice(i, i + step)),
            os.path.join(d["history"], f"part-{i // step:04d}.parquet"),
        )
    to_table = wire_table if prof.avro else plain_table
    staged = [("staged", f"primer-{i:05d}", ev) for i, ev in enumerate(inp.primer)]
    staged += [("staged", f"stream-{i:05d}", ev) for i, ev in enumerate(inp.stream)]
    staged += [("backlog", f"backlog-{i:05d}", ev) for i, ev in enumerate(inp.backlog)]
    for where, name, ev in staged:
        pq.write_table(to_table(ev), os.path.join(d[where], f"{name}.parquet"))
        if wire_copy:
            pq.write_table(wire_table(ev), os.path.join(d["wire"], f"{name}.parquet"))
    seed_sink(d["sink.db"], oracle(inp.history))
    return d


def seed_sink(db: str, rows: dict[str, np.ndarray]) -> None:
    """Create the sink table as DbApiSink would and load the replayed
    state into it."""
    from pyspark.sql import types as T

    from db_integration_via_kafka_ksql_spark.sinks import ddl

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("offset", T.LongType()),
            T.StructField("title", T.StringType()),
            T.StructField("rating", T.DoubleType()),
            T.StructField("__deleted", T.StringType()),
        ]
    )
    con = sqlite3.connect(db)
    try:
        con.execute(ddl.create_table_sql(SINK_TABLE, schema, ["id"], "sqlite"))
        con.executemany(
            f"INSERT INTO {SINK_TABLE} VALUES (?, ?, ?, ?, 'false')",
            zip(rows["id"].tolist(), rows["offset"].tolist(), rows["title"].tolist(),
                rows["rating"].tolist()),
        )
        con.commit()
    finally:
        con.close()


# -- host and process readings ---------------------------------------------


def _proc_stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def cpu_seconds() -> float:
    """CPU time of this process and every live descendant (the JVM and
    its Python workers), including what they reaped from exited children."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)] = int(_proc_stat(int(name))[1])
            except (OSError, IndexError):
                continue
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        kids = [c for c, p in parent.items() if p in frontier]
        tree += kids
        frontier = kids
    ticks = 0
    for pid in tree:
        try:
            ticks += sum(int(x) for x in _proc_stat(pid)[11:15])
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(x.split()[1]) for x in f if x.startswith("VmHWM:"))
    return total_kb / 1024


def ram_gib() -> float:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) / 2**20


def configure_env(tmp: str) -> None:
    """Host-sized, self-contained launch: a driver heap well below
    physical RAM, scratch space inside the checkout, and a PYTHONPATH
    that lets Arrow UDF workers import the engine package."""
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, int(ram_gib() // 4)))}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the launcher JVM that spark-submit runs first: no files outside the run
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("SPARK_MASTER", None)


def start_spark(work: str):
    from db_integration_via_kafka_ksql_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{NPROC}]",
        shuffle_partitions=NPROC,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file under the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# -- spans --------------------------------------------------------------------


class Recorder:
    """Batch completion times (always) and spans (when tracing), kept in
    memory until the run ends."""

    def __init__(self, tracing: bool) -> None:
        self.tracing = tracing
        self.spans: list[dict] = []
        self.batch_start: dict[int, float] = {}
        self.batch_done: dict[int, float] = {}   # epoch -> write_batch returned
        self.epoch = -1
        self._lock = threading.Lock()

    def span(self, name: str, t0: float, t1: float, **attrs) -> None:
        if self.tracing:
            with self._lock:
                self.spans.append({"name": name, "start": t0, "end": t1, **attrs})

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def state_files(path: str) -> dict[int, tuple[str, int]]:
    """inode -> (bucket dir, bytes) of every parquet file of a state."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                st = os.stat(os.path.join(root, name))
                out[st.st_ino] = (os.path.basename(root), st.st_size)
    return out


class TracedState:
    """The state store as handed to CdcPipeline: apply_batch timed, and
    its on-disk effect measured (files with new inodes were written)."""

    def __init__(self, store, rec: Recorder) -> None:
        self.store = store
        self.rec = rec

    def apply_batch(self, df) -> None:
        before = state_files(self.store.path)
        t0 = time.perf_counter()
        self.store.apply_batch(df)
        t1 = time.perf_counter()
        after = state_files(self.store.path)
        new = [v for ino, v in after.items() if ino not in before]
        total = sum(size for _b, size in after.values())
        written = sum(size for _b, size in new)
        self.rec.span(
            "state.apply", t0, t1, epoch=self.rec.epoch,
            buckets_touched=len({b for b, _s in new}), bytes_written=written,
            rewrite_fraction=written / total if total else 0.0,
        )


class TimedSink:
    """The sink as handed to CdcPipeline: records when write_batch
    returns for each batch, which ends the lag of that batch's files."""

    def __init__(self, sink, rec: Recorder) -> None:
        self.sink = sink
        self.rec = rec

    def write_batch(self, upserts, delete_keys) -> None:
        t0 = time.perf_counter()
        self.sink.write_batch(upserts, delete_keys)
        t1 = time.perf_counter()
        self.rec.batch_done[self.rec.epoch] = t1
        self.rec.span("sink.write", t0, t1, epoch=self.rec.epoch)


def counting_connection(counts: dict[str, int]) -> type[sqlite3.Connection]:
    """A sqlite connection class whose cursors add the rows each
    executemany sends to ``counts["upserted"]`` or ``counts["deleted"]``."""

    class CountingCursor(sqlite3.Cursor):
        def executemany(self, sql, rows):
            rows = list(rows)
            kind = "deleted" if sql.lstrip().upper().startswith("DELETE") else "upserted"
            counts[kind] += len(rows)
            return super().executemany(sql, rows)

    class CountingConnection(sqlite3.Connection):
        def cursor(self, factory=None):
            return super().cursor(factory or CountingCursor)

    return CountingConnection


# -- the run --------------------------------------------------------------------


@dataclass
class Run:
    args: argparse.Namespace
    prof: Profile
    spark: object
    d: dict[str, str]
    inp: Inputs
    rec: Recorder
    attempted: int = 0
    failed: int = 0
    gate: list[str] = field(default_factory=list)
    values: dict[str, float] = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)
    _mark: float = T_PROCESS

    def mark(self, phase: str) -> None:
        now = time.perf_counter()
        self.phases[phase] = now - self._mark
        self._mark = now

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


def seed_state(spark, d: dict[str, str]):
    """The state the stream applies to: one replay of the history log."""
    from db_integration_via_kafka_ksql_spark.streaming.state import ParquetStateStore

    store = ParquetStateStore(spark, d["state"], ["id"], ["offset"], n_buckets=N_BUCKETS)
    store.rebuild(spark.read.parquet(d["history"]))
    return store


def replay(r: Run) -> None:
    """Timed replays from offset 0 into a scratch store."""
    from db_integration_via_kafka_ksql_spark.streaming.state import ParquetStateStore

    scratch = ParquetStateStore(
        r.spark, r.d["replay"], ["id"], ["offset"], n_buckets=N_BUCKETS
    )
    rates = []
    for _ in range(REPLAYS):
        t0 = time.perf_counter()
        scratch.rebuild(r.spark.read.parquet(r.d["history"]))
        t1 = time.perf_counter()
        r.rec.span("state.rebuild", t0, t1)
        rates.append(len(r.inp.history) / (t1 - t0))
    r.values["replay_events_per_s"] = statistics.median(rates)
    state_bytes = sum(size for _b, size in state_files(r.d["replay"]).values())
    r.values["state_bytes_per_key"] = state_bytes / len(oracle(r.inp.history)["id"])
    scratch.destroy()


def lookup_once(store, key: int, rec: Recorder):
    """One pull query; returns (latency, rows) or (latency, exception)."""
    t0 = time.perf_counter()
    try:
        rows = store.lookup(id=key).collect()
    except Exception as e:  # a failed operation: counted, never retried
        rows = e
    t1 = time.perf_counter()
    rec.span("state.lookup", t0, t1, key=key)
    return t1 - t0, rows


def static_lookups(r: Run, store) -> None:
    """Closed loop: nproc clients, each sending its next lookup when the
    previous one returns."""
    with ThreadPoolExecutor(max_workers=NPROC) as pool:
        # untimed: the first lookups plan and compile code paths the replay
        # does not touch, and would otherwise set the tail
        warm = r.inp.lookup_keys[: 2 * NPROC]
        for _dt, rows in pool.map(lambda k: lookup_once(store, k, Recorder(False)), warm):
            r.count(not isinstance(rows, Exception))
        results = list(pool.map(lambda k: lookup_once(store, k, r.rec), r.inp.lookup_keys))
    lat = []
    for (dt, rows), key, want in zip(results, r.inp.lookup_keys, r.inp.lookup_expect):
        ok = not isinstance(rows, Exception)
        r.count(ok)
        lat.append(dt if ok else float("inf"))
        if ok:
            got = [(x["offset"], x["title"], x["rating"]) for x in rows]
            if got != ([want] if want else []):
                r.gate.append(f"lookup id={key}: got {got}, want {want}")
    r.values["lookup_p50_s"] = percentile(lat, 0.5)
    r.values["lookup_p90_s"] = percentile(lat, 0.9)


def avro_config():
    from db_integration_via_kafka_ksql_spark.sources import kafka

    return kafka.AvroChangelogConfig(
        topic="cdc", key_schema_json=KEY_AVRO, value_schema_json=VALUE_AVRO
    )


def build_pipeline(r: Run, state, sink):
    from pyspark.sql import functions as F

    from db_integration_via_kafka_ksql_spark.sources import kafka
    from db_integration_via_kafka_ksql_spark.sources.changelog import file_changelog_stream
    from db_integration_via_kafka_ksql_spark.streaming.pipeline import CdcPipeline

    dead_counts: list[int] = []
    if r.prof.avro:
        raw = file_changelog_stream(r.spark, r.d["source"], WIRE_SCHEMA, NO_CAP)
        source = kafka.decode_changelog_py(raw, avro_config()).select(
            F.col("key.id").alias("id"),
            F.col("row.title").alias("title"),
            F.col("row.rating").alias("rating"),
            "__deleted",
            "offset",
            "__dead",
        )
    else:
        source = file_changelog_stream(r.spark, r.d["source"], PLAIN_SCHEMA, NO_CAP)
    pipe = CdcPipeline(
        source=source,
        key_cols=["id"],
        order_cols=["offset"],
        sink=sink,
        state=state,
        dead_letter=(lambda df: dead_counts.append(df.count())) if r.prof.avro else None,
        checkpoint_dir=r.d["checkpoint"],
        trigger_seconds=0,  # no processing-time trigger: a batch starts on arrival
        query_name=f"perfbench_{r.args.workload}",
    )
    inner = pipe.process_batch
    sc = r.spark.sparkContext
    tracker = sc.statusTracker()

    def process_batch(df, epoch_id: int) -> None:
        r.rec.epoch = epoch_id
        t0 = r.rec.batch_start[epoch_id] = time.perf_counter()
        if not r.rec.tracing:
            inner(df, epoch_id)
            return
        group = sc.getLocalProperty("spark.jobGroup.id")
        jobs0 = set(tracker.getJobIdsForGroup(group))
        try:
            inner(df, epoch_id)
        finally:
            jobs = len(set(tracker.getJobIdsForGroup(group)) - jobs0)
            r.rec.span("pipeline.batch", t0, time.perf_counter(), epoch=epoch_id, jobs=jobs)

    pipe.process_batch = process_batch
    return pipe, dead_counts


def land_files(names, src: str, dst: str, t_first: float, rate: float, out: dict) -> None:
    """The open-loop generator: renames file i into the source directory
    at ``t_first + i / rate`` and records due and landing times."""
    out["due"] = [t_first + i / rate for i in range(len(names))]
    out["landed"] = []
    for name, due in zip(names, out["due"]):
        wait = due - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(src, name), os.path.join(dst, name))
        out["landed"].append(time.perf_counter())


def concurrent_lookups(store, keys, rate, t_first, stop, rec, out) -> None:
    """Open-loop reader: one lookup every 1/rate s from t_first until
    ``stop`` is set; latency runs from each lookup's due time."""
    i = 0
    while True:
        due = t_first + i / rate
        if stop.wait(max(0.0, due - time.perf_counter())):
            return
        _dt, rows = lookup_once(store, keys[i % len(keys)], rec)
        out.append((time.perf_counter() - due, rows))
        i += 1


def stream_and_catch_up(r: Run, store, sink) -> dict:
    """The stream and catch-up phases, then the per-file accounting."""
    from pyspark.errors import StreamingQueryException

    state = TracedState(store, r.rec) if r.rec.tracing else store
    pipe, dead_counts = build_pipeline(r, state, TimedSink(sink, r.rec))
    staged = sorted(os.listdir(r.d["staged"]))
    primer, stream = staged[:PRIMER_FILES], staged[PRIMER_FILES:]
    backlog = sorted(os.listdir(r.d["backlog"]))
    errors = []

    def settle(query) -> None:
        """Wait until the query has applied every file present, or died."""
        try:
            query.processAllAvailable()
        except StreamingQueryException as e:
            errors.append(e)

    cpu0 = cpu_seconds()
    query = pipe.start()
    for name in primer:
        os.rename(os.path.join(r.d["staged"], name), os.path.join(r.d["source"], name))
        settle(query)
    r.mark("primer")

    timeline: dict = {}
    t_first = time.perf_counter() + 0.2
    gen = threading.Thread(
        target=land_files,
        args=(stream, r.d["staged"], r.d["source"], t_first, r.prof.files_per_s, timeline),
        name="perfbench-generator",
    )
    during: list = []
    stop = threading.Event()
    reader = threading.Thread(
        target=concurrent_lookups,
        args=(store, r.inp.lookup_keys, r.prof.lookups_during_stream_per_s,
              t_first, stop, r.rec, during),
        name="perfbench-reader",
    )
    threads = [gen, reader] if r.prof.lookups_during_stream_per_s else [gen]
    for t in threads:
        t.start()
    gen.join()
    stop.set()
    for t in threads:
        t.join()
    settle(query)
    query.stop()
    r.mark("stream")

    # two restarts, each draining half of the backlog staged while down
    catchup_s = 0.0
    half = len(backlog) // 2
    for part in (backlog[:half], backlog[half:]):
        for name in part:
            os.rename(os.path.join(r.d["backlog"], name), os.path.join(r.d["source"], name))
        if errors:
            break
        t0 = time.perf_counter()
        query = pipe.start()
        settle(query)
        t1 = time.perf_counter()
        query.stop()
        r.rec.span("catchup", t0, t1)
        catchup_s += t1 - t0
    if errors:
        catchup_s = float("inf")
    r.mark("catchup")
    cpu_s = cpu_seconds() - cpu0
    r.values["catchup_events_per_s"] = len(r.inp.backlog) * r.prof.events_per_file / catchup_s

    # accounting: every file, batch and lookup attempted once, none retried
    fb = file_batches(r.d["checkpoint"])
    lags = []
    for name, due in zip(stream, timeline["due"]):
        done = r.rec.batch_done.get(fb.get(name, -1))
        lags.append(done - due if done is not None else float("inf"))
    r.values["lag_p50_s"] = percentile(lags, 0.5)
    r.values["lag_p90_s"] = percentile(lags, 0.9)
    for name in staged + backlog:
        r.count(fb.get(name, -1) in r.rec.batch_done)
    for epoch in pipe.batches_seen:
        r.count(epoch in r.rec.batch_done)
    for _lat, rows in during:
        r.count(not isinstance(rows, Exception))
    for e in errors:
        r.gate.append(f"query failed: {str(e).splitlines()[0][:300]}")
    late = [landed - due for due, landed in zip(timeline["due"], timeline["landed"])]
    return {
        "fb": fb, "timeline": timeline, "stream": stream, "dead": sum(dead_counts),
        "cpu_s": cpu_s, "late_max_s": max(late), "batches": len(pipe.batches_seen),
        "during": len(during),
        "during_failed": sum(isinstance(rows, Exception) for _l, rows in during),
    }


def check(r: Run, store, sink, dead: int) -> None:
    """The correctness gate: sink == state == oracle, row for row."""
    want = oracle(r.inp.changelog())
    tables = {}
    try:
        state = store.read().select(*SINK_COLS).sort("id").toArrow()
        tables["state"] = [state.column(c).to_numpy(zero_copy_only=False) for c in SINK_COLS]
    except Exception as e:  # an unreadable state fails the gate; the run still reports
        r.gate.append(f"state unreadable: {str(e).splitlines()[0][:300]}")
    con = sqlite3.connect(r.d["sink.db"])
    try:
        rows = con.execute(
            f"SELECT {', '.join(SINK_COLS)} FROM {SINK_TABLE} ORDER BY id"
        ).fetchall()
    finally:
        con.close()
    tables["sink"] = [np.array(c, dtype=object) for c in (list(zip(*rows)) or [()] * len(SINK_COLS))]
    for label, cols in tables.items():
        got = dict(zip(SINK_COLS, cols))
        if (got.pop("__deleted") != "false").any():
            r.gate.append(f"{label} holds rows marked deleted")
        diff = table_diff(got, want)
        if diff:
            r.gate.append(f"{label} != oracle: {diff}")
    poison = int(sum(ev.poison.sum() for ev in [*r.inp.primer, *r.inp.stream, *r.inp.backlog]))
    if dead + len(sink.dead_letter) != poison:
        r.gate.append(
            f"dead letters {dead} + {len(sink.dead_letter)} != poison records {poison}"
        )


def layer_metrics(r: Run, store, sink_rows: dict, acc: dict, session_start_s: float) -> dict:
    """Per-layer metrics of a traced run, each timed from outside."""
    from pyspark.sql import functions as F

    from db_integration_via_kafka_ksql_spark.operators import cdc
    from db_integration_via_kafka_ksql_spark.sources import kafka

    med, mean = statistics.median, statistics.fmean
    batches = r.rec.named("pipeline.batch")
    apply = {s["epoch"]: s for s in r.rec.named("state.apply")}
    write = {s["epoch"]: s for s in r.rec.named("sink.write")}

    def dur(s):
        return s["end"] - s["start"]

    self_s = [
        dur(b) - dur(apply[b["epoch"]]) - dur(write[b["epoch"]])
        for b in batches if b["epoch"] in apply and b["epoch"] in write
    ]
    fb = acc["fb"]
    landed = dict(zip(acc["stream"], acc["timeline"]["landed"]))
    wait = [
        r.rec.batch_start[fb[n]] - t for n, t in landed.items() if fb.get(n) in r.rec.batch_start
    ]
    files_per_batch: dict[int, int] = {}
    for n in acc["stream"]:
        if n in fb:
            files_per_batch[fb[n]] = files_per_batch.get(fb[n], 0) + 1

    # sources.kafka: the stream's records as Kafka wire, decoded outside the pipeline
    decoded = kafka.decode_changelog_py(
        r.spark.read.schema(WIRE_SCHEMA).parquet(r.d["wire"]), avro_config()
    )
    t0 = time.perf_counter()
    counts = decoded.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__tombstone").cast("int")).alias("tombstones"),
        F.sum(F.col("__dead").cast("int")).alias("dead"),
    ).first()
    decode_s = time.perf_counter() - t0

    # operators.cdc: compaction of the replayed log without the state write
    t0 = time.perf_counter()
    cdc.compact_latest(
        r.spark.read.parquet(r.d["history"]), key_cols=["id"], order_cols=["offset"]
    ).write.format("noop").mode("overwrite").save()
    compact_s = time.perf_counter() - t0
    keys_in_log = len(np.unique(r.inp.history.ids))
    live_keys = len(oracle(r.inp.changelog())["id"])
    state_bytes = sum(size for _b, size in state_files(store.path).values())
    jvm = r.spark.sparkContext._gateway.proc.pid
    events = (PRIMER_FILES + len(r.inp.stream) + len(r.inp.backlog)) * r.prof.events_per_file
    return {
        "session.start_s": (session_start_s, "s"),
        "state.apply_s": (med(dur(s) for s in apply.values()), "s"),
        "state.buckets_touched": (mean(s["buckets_touched"] for s in apply.values()), "count"),
        "state.bytes_written": (mean(s["bytes_written"] for s in apply.values()), "B"),
        "state.rewrite_fraction": (mean(s["rewrite_fraction"] for s in apply.values()), "ratio"),
        "state.lookup_s": (med(dur(s) for s in r.rec.named("state.lookup")), "s"),
        "state.bytes_per_key": (state_bytes / live_keys, "B"),
        "decode.s": (decode_s, "s"),
        "decode.records_per_s": (counts["n"] / decode_s, "1/s"),
        "decode.tombstones": (counts["tombstones"], "count"),
        "decode.dead_letters": (counts["dead"], "count"),
        "pipeline.batch_s": (med(dur(b) for b in batches), "s"),
        "pipeline.self_s": (med(self_s), "s"),
        "pipeline.spark_jobs_per_batch": (med(b["jobs"] for b in batches), "count"),
        "compact.rows_in": (len(r.inp.history), "count"),
        "compact.rows_out": (keys_in_log, "count"),
        "compact.versions_per_key": (len(r.inp.history) / keys_in_log, "ratio"),
        "compact.s": (compact_s, "s"),
        "sink.write_s": (med(dur(s) for s in write.values()), "s"),
        "sink.rows_upserted": (sink_rows["upserted"], "count"),
        "sink.rows_deleted": (sink_rows["deleted"], "count"),
        "sink.dead_letters": (acc["sink_dead"], "count"),
        "source.wait_s": (med(wait), "s"),
        "source.files_per_batch": (mean(files_per_batch.values()), "count"),
        "source.generator_late_max_s": (acc["late_max_s"], "s"),
        "proc.cpu_s_per_kevent": (acc["cpu_s"] / (events / 1000), "s"),
        "proc.peak_rss_mb": (peak_rss_mb([os.getpid(), jvm]), "MB"),
        "trace.lag_p50_s": (r.values["lag_p50_s"], "s"),
        "failed_op_share": (r.failed / r.attempted, "ratio"),
    }


UNITS = {
    "setup_s": "s",
    "replay_events_per_s": "1/s",
    "lag_p50_s": "s",
    "lag_p90_s": "s",
    "catchup_events_per_s": "1/s",
    "lookup_p50_s": "s",
    "lookup_p90_s": "s",
    "state_bytes_per_key": "B",
}


def run(args: argparse.Namespace) -> int:
    from db_integration_via_kafka_ksql_spark.sinks.dbapi import DbApiSink

    prof = WORKLOADS[args.workload]
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    configure_env(os.path.join(work, "tmp"))
    spark = None
    try:
        # ---- set-up ------------------------------------------------------
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_start_s = time.perf_counter() - t0
        host = {
            "nproc": NPROC,
            "ram_gib": round(ram_gib(), 2),
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }
        print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed}))
        n_files = int(round(prof.files_per_s * args.seconds))
        stage_s = []
        for k in range(STAGE_REPEATS):
            t0 = time.perf_counter()
            inp = make_inputs(args.seed, prof, n_files)
            d = stage(os.path.join(work, f"stage{k}"), prof, inp, wire_copy=bool(args.trace))
            stage_s.append(time.perf_counter() - t0)
            if k:
                shutil.rmtree(os.path.join(work, f"stage{k - 1}"))
        d["state"] = os.path.join(work, "state")
        d["replay"] = os.path.join(work, "replay")
        d["checkpoint"] = os.path.join(work, "checkpoint")
        store = seed_state(spark, d)
        r = Run(args=args, prof=prof, spark=spark, d=d, inp=inp, rec=Recorder(bool(args.trace)))
        r.mark("setup")
        # the first timed operation starts now; staging counts once
        setup_s = time.perf_counter() - T_PROCESS - sum(stage_s) + statistics.median(stage_s)

        # ---- measured phases ------------------------------------------------
        static_lookups(r, store)
        r.mark("lookups")
        sink_rows = {"upserted": 0, "deleted": 0}
        conn_cls = counting_connection(sink_rows) if args.trace else sqlite3.Connection
        sink = DbApiSink(
            connect=lambda: sqlite3.connect(d["sink.db"], factory=conn_cls),
            table=SINK_TABLE,
            key_cols=["id"],
            dialect="sqlite",
        )
        acc = stream_and_catch_up(r, store, sink)
        acc["sink_dead"] = len(sink.dead_letter)
        replay(r)
        r.mark("replay")
        check(r, store, sink, acc["dead"])
        r.mark("gate")

        if args.trace:
            metrics = layer_metrics(r, store, sink_rows, acc, session_start_s)
            out = os.path.join(WORK_ROOT, "traces")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"host": host, "workload": args.workload, "seed": args.seed,
                           "spans": r.rec.spans}, f)
        else:
            r.values["setup_s"] = setup_s
            metrics = {name: (r.values[name], unit) for name, unit in UNITS.items()}
        print(json.dumps({
            "workload": args.workload,
            "seed": args.seed,
            "failed_op_share": r.failed / r.attempted,
            "lookups_during_stream": acc["during"],
            "lookups_during_stream_failed": acc["during_failed"],
            "batches": acc["batches"],
            "generator_late_max_s": acc["late_max_s"],
            "phases_s": r.phases,
            "gate": r.gate,
        }))
        print(json.dumps({
            "correct": not r.gate,
            "attempted": r.attempted,
            "failed": r.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 1 if r.gate else 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
