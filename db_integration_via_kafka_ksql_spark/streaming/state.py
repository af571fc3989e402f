"""Materialized TABLE state: latest-value-per-key, external-state design.

The reference's queryable abstraction is the ksqlDB TABLE — RocksDB state
rebuilt by topic replay (TOMBSTONE_HANDLING_GUIDE.md:77-113). We keep the
same "log is the source of truth" stance (SURVEY §7.1) but materialize to
parquet, so scans are plain DataFrame reads, a point pull query reads one
bucket's files with pyarrow, and rebuild = batch compaction from offset 0.

Scale: state size ~ unique keys (reference documents 1-2 KB/key). The
parquet state is written partitioned-by-key-hash-bucket so the per-batch
merge (apply_changelog) shuffles only on the key, and a 100M-key state is
split across buckets instead of one file. Atomic swap via staged directory
+ rename keeps readers consistent (micro-batch boundaries are the only
commit points, mirroring ksqlDB's 2s commit interval).
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import shutil
import time
import uuid
import warnings

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType, TimestampType

from db_integration_via_kafka_ksql_spark.functions import murmur3
from db_integration_via_kafka_ksql_spark.operators import cdc
from db_integration_via_kafka_ksql_spark.streaming import swapdir

# key-cast safety: a batch key may be CAST UP to the stored type within
# its numeric family (int batch -> long state is lossless); the reverse
# is a silent wrap (long 2^33 -> int collides with 2^33-2^32) and is a
# schema change the store refuses (COVERAGE.md S5: type changes stay
# hard errors)
_INT_WIDTH = {"byte": 1, "short": 2, "integer": 3, "long": 4}
_FLOAT_WIDTH = {"float": 1, "double": 2}


def _safe_key_upcast(batch_type, state_type) -> bool:
    b, s = batch_type.typeName(), state_type.typeName()
    for family in (_INT_WIDTH, _FLOAT_WIDTH):
        if b in family and s in family:
            return family[b] <= family[s]
    return False


# a lookup that races a publish reads again, at most this many times
_LOOKUP_ATTEMPTS = 4
_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_NO_MATCH = object()


def _parquet_files(directory: str) -> list[str]:
    return [
        os.path.join(directory, n)
        for n in sorted(os.listdir(directory))
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    ]


def _read_footer(path: str | None) -> pa.Schema:
    if path is None:
        raise FileNotFoundError("the state directory holds no data file")
    return pq.read_schema(path)


def _empty(arrow_schema: pa.Schema, schema: StructType) -> pa.Table:
    # one empty chunk per column: createDataFrame fails on a nested
    # column with no chunk at all
    batch = pa.RecordBatch.from_pylist([], schema=arrow_schema)
    return pa.Table.from_batches([batch]).select(schema.fieldNames())


def _as_nullable(t):
    """Spark's asNullable on a schema's JSON: file reads declare every
    field, array element and map value nullable."""
    if isinstance(t, list):
        return [_as_nullable(x) for x in t]
    if not isinstance(t, dict):
        return t
    t = {k: v if k == "metadata" else _as_nullable(v) for k, v in t.items()}
    for flag in ("nullable", "containsNull", "valueContainsNull"):
        if flag in t:
            t[flag] = True
    return t


def _spark_schema(arrow_schema: pa.Schema, drop: str) -> StructType:
    """The Spark schema a state file was written with (its footer's row
    metadata, no Spark job), as `read()` sees it: every field nullable,
    without the ``drop`` column."""
    meta = (arrow_schema.metadata or {}).get(_ROW_METADATA)
    if meta is None:
        raise ValueError("state file footer carries no Spark row metadata")
    fields = [f for f in _as_nullable(json.loads(meta))["fields"] if f["name"] != drop]
    return StructType.fromJson({"type": "struct", "fields": fields})


def _probe(value, dtype: DataType):
    """The Python side of ``CAST(<literal> AS <stored key type>)``:
    ``value`` as a value of ``dtype``, or _NO_MATCH when no stored key
    can equal it (NULL, or a value that does not parse)."""
    if value is None:
        return _NO_MATCH
    name = dtype.typeName()
    try:
        if name in _INT_WIDTH:
            return int(value)
        if name == "boolean":
            if isinstance(value, str):
                return {"true": True, "false": False}[value.strip().lower()]
            return bool(value)
        if name == "string":
            if isinstance(value, bool):
                return "true" if value else "false"
            return str(value)
        if name == "binary":
            return value.encode() if isinstance(value, str) else bytes(value)
        if name == "date":
            if isinstance(value, str):
                return datetime.date.fromisoformat(value)
            return value.date() if isinstance(value, datetime.datetime) else value
        if name in ("timestamp", "timestamp_ntz"):
            if isinstance(value, str):
                return datetime.datetime.fromisoformat(value)
            if isinstance(value, datetime.datetime):
                return value
            return datetime.datetime.combine(value, datetime.time())
        if name == "decimal":
            return decimal.Decimal(str(value)).quantize(
                decimal.Decimal(1).scaleb(-dtype.scale), rounding=decimal.ROUND_HALF_UP
            )
        if name in _FLOAT_WIDTH:
            return float(value)
    except (ValueError, TypeError, KeyError, OverflowError, decimal.InvalidOperation):
        return _NO_MATCH
    return value


def _arrow_scalar(probe, dtype: DataType, field_type: pa.DataType) -> pa.Scalar:
    if pa.types.is_timestamp(field_type):
        # via Spark's internal microseconds: a naive datetime means the
        # same instant here as in F.lit
        micros = dtype.toInternal(probe)
        return pa.scalar(micros, pa.timestamp("us", tz=field_type.tz)).cast(field_type)
    return pa.scalar(probe, type=field_type)


def _utc_timestamps(table: pa.Table, schema: StructType) -> pa.Table:
    """pyarrow reads Spark's INT96 timestamps as naive UTC values; mark
    them UTC so createDataFrame does not shift them by the session time
    zone."""
    for i, f in enumerate(schema.fields):
        t = table.schema.field(i).type
        if isinstance(f.dataType, TimestampType) and pa.types.is_timestamp(t) and t.tz is None:
            table = table.set_column(
                i, f.name, table.column(i).cast(pa.timestamp(t.unit, tz="UTC"))
            )
    return table


class ParquetStateStore:
    """Keyed latest-state table backed by a parquet directory.

    Crash safety: every publish is the swapdir two-rename swap (stage,
    rename live -> __old_*, rename staged -> live, drop __old_*), and
    `exists`/`read`/`destroy` (hence `apply_batch`) first run swapdir
    recovery. `lookup` does not: a pull query is read-only and never
    sweeps the scratch directories of a batch being written. If a crash
    struck inside the rename window and left nothing at `path`, the
    newest `__old_*` survivor IS the last published version and is
    restored before anything else looks at the directory; stale
    `__old_*` (crash after publish, before cleanup) and
    `__staging_*`/`__next_*` scratch dirs are swept.
    Without the restore, `exists()` would return False after such a
    crash and the next apply_batch would silently reinitialize the
    entire state from one micro-batch.

    Growth rule: per-trigger write volume is |touched buckets| x mean
    bucket size, so a growing state keeps bucket size roughly constant
    by growing n_buckets (`rescale_buckets`, a deliberate full-rewrite
    maintenance job). `apply_batch` emits a RuntimeWarning when the
    mean bucket size exceeds `target_bucket_bytes` so the rescale runs
    before write amplification creeps back up.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        order_cols: list[str],
        deleted_col: str = "__deleted",
        n_buckets: int = 16,
        evolve: bool = False,
        target_bucket_bytes: int = 128 << 20,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_cols = key_cols
        self.order_cols = order_cols
        self.deleted_col = deleted_col
        self.n_buckets = n_buckets
        # evolve=True lets a batch carrying NEW columns (upstream ALTER
        # TABLE ADD COLUMN) merge into existing state: old rows read NULL
        # for the added columns (operators/cdc.align_columns)
        self.evolve = evolve
        self.target_bucket_bytes = target_bucket_bytes
        self._rescale_advised = False
        self._footer: pa.Schema | None = None  # lookup's schema cache

    _BUCKET = "__bucket"

    def _recover(self) -> None:
        """Restore-then-sweep crash recovery (see class docstring);
        idempotent and O(listdir parent) when there is nothing to do."""
        swapdir.recover(self.path, extra_prefixes=("__next_",))

    def exists(self) -> bool:
        self._recover()
        return os.path.isdir(self.path) and bool(os.listdir(self.path))

    def read(self) -> DataFrame:
        """Pull-query surface: the current materialized state (the
        physical bucket column stays internal)."""
        self._recover()
        return self.spark.read.parquet(self.path).drop(self._BUCKET)

    def _bucket_of(self, *key_exprs) -> Column:
        return F.pmod(F.hash(*key_exprs), F.lit(self.n_buckets))

    def lookup(self, **key_values) -> DataFrame:
        """Pull query: the state row of one key, read by the driver with
        no Spark job (ksqlDB's `SELECT * FROM table WHERE key = ...`,
        which RocksDB serves from its own key index).

        The key's bucket ``pmod(hash(key), n_buckets)`` is computed in
        Python (functions/murmur3.py, Spark's murmur3 with seed 42), and
        only the parquet files of ``__bucket=<b>`` are opened, by pyarrow
        with a key-equality filter. The state schema comes from a file
        footer. The answer comes back as a local DataFrame, which
        collects as a LocalTableScan. Key types with no Python hash
        (decimal, float, double, nested) are filtered the same way over
        every bucket's files.

        Read-only: no recovery runs, so a lookup never removes a writer's
        scratch directories; a lookup that races a publish (a file it
        listed is gone) reads again. n_buckets is part of the store's
        on-disk identity: change it only with `rescale_buckets`."""
        missing = [k for k in self.key_cols if k not in key_values]
        if missing:
            raise ValueError(f"lookup requires all key cols; missing {missing}")
        for attempt in range(_LOOKUP_ATTEMPTS):
            try:
                schema, table = self._point_read(key_values)
                break
            except FileNotFoundError:
                if attempt == _LOOKUP_ATTEMPTS - 1:
                    raise
                time.sleep(0.02 * (attempt + 1))
        return self.spark.createDataFrame(table, schema=schema)

    def _state_files(self, buckets: list[str]):
        """Every data file of the current version, bucket by bucket; the
        flat layout of an empty state (`_write_atomic`) keeps its file at
        the root."""
        if not buckets:
            yield from _parquet_files(self.path)
        for b in buckets:
            yield from _parquet_files(os.path.join(self.path, b))

    def _point_read(self, key_values: dict) -> tuple[StructType, pa.Table]:
        buckets = sorted(
            e for e in os.listdir(self.path) if e.startswith(f"{self._BUCKET}=")
        )
        # the footer seen last stands in for the schema until the footer
        # of a file this lookup reads anyway confirms it, so a point
        # lookup opens the files of its own bucket only
        arrow_schema = self._footer
        for _ in range(_LOOKUP_ATTEMPTS):
            if arrow_schema is None:
                arrow_schema = _read_footer(next(self._state_files(buckets), None))
            schema = _spark_schema(arrow_schema, drop=self._BUCKET)
            types = {f.name: f.dataType for f in schema.fields}
            unknown = [k for k in self.key_cols if k not in types]
            if unknown:
                raise ValueError(f"lookup: key cols {unknown} are not in the state")
            # murmur3 is TYPE-sensitive: hash(42 as int) != hash(42 as
            # long), so each literal probes as the stored column's type
            probes = [_probe(key_values[k], types[k]) for k in self.key_cols]
            if any(p is _NO_MATCH for p in probes):
                return schema, _empty(arrow_schema, schema)
            key_types = [types[k].typeName() for k in self.key_cols]
            if buckets and all(murmur3.hashable(t) for t in key_types):
                internal = [
                    int(p) if t == "boolean" else types[k].toInternal(p)
                    for k, p, t in zip(self.key_cols, probes, key_types)
                ]
                b = murmur3.bucket(internal, key_types, self.n_buckets)
                bucket_dir = os.path.join(self.path, f"{self._BUCKET}={b}")
                paths = _parquet_files(bucket_dir) if os.path.isdir(bucket_dir) else []
            else:
                paths = list(self._state_files(buckets))
            seen = _read_footer(paths[0] if paths else next(self._state_files(buckets), None))
            if seen.equals(arrow_schema, check_metadata=True):
                break
            arrow_schema = seen
        else:
            raise FileNotFoundError("the state schema changed during the lookup")
        self._footer = arrow_schema
        cond, nested = None, []
        for k, p in zip(self.key_cols, probes):
            field_type = arrow_schema.field(k).type
            try:
                if pa.types.is_nested(field_type):
                    # no Arrow equality kernel for nested values
                    nested.append((k, pa.scalar(p, type=field_type).as_py()))
                    continue
                term = pc.field(k) == _arrow_scalar(p, types[k], field_type)
            except (pa.ArrowInvalid, OverflowError, TypeError):
                return schema, _empty(arrow_schema, schema)
            cond = term if cond is None else cond & term
        table = ds.dataset(paths, schema=arrow_schema, format="parquet").to_table(
            columns=schema.fieldNames(), filter=cond
        )
        for k, want in nested:
            table = table.filter(pa.array([v == want for v in table[k].to_pylist()], pa.bool_()))
        if table.num_rows == 0:
            return schema, _empty(arrow_schema, schema)
        # one chunk: createDataFrame loses the rows of a table whose
        # first chunks are empty (one per file the filter emptied)
        return schema, _utc_timestamps(table.combine_chunks(), schema)

    @staticmethod
    def _carry(src: str, dst: str) -> None:
        """Carry an untouched file into the next state version: hard link
        (O(1) bytes) where the filesystem supports it, byte copy where it
        doesn't (object-store-backed mounts) — still correct, just loses
        the O(1) carry-over."""
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)

    def _swap_buckets(self, merged: DataFrame, touched: list[int]) -> None:
        """Publish a new state version that differs from the current one
        only in ``touched`` bucket dirs, writing O(touched) bytes.

        The merged frame (which must contain only rows hashing into
        ``touched``) is written partitioned-by-bucket to a staging dir;
        a next-version top dir is then assembled from hard links to the
        untouched bucket files (O(1) bytes each) plus the freshly staged
        touched dirs, and published with the same two-rename swap as
        `_write_atomic` — readers still only ever see a complete state
        version. A touched bucket whose keys were all deleted simply has
        no staged dir and is dropped from the next version."""
        with_bucket = merged.withColumn(
            self._BUCKET, self._bucket_of(*[F.col(c) for c in self.key_cols])
        )
        staging = f"{self.path}__staging_{uuid.uuid4().hex[:8]}"
        with_bucket.repartition(
            max(len(touched), 1), F.col(self._BUCKET)
        ).write.mode("overwrite").partitionBy(self._BUCKET).parquet(staging)
        tmp = f"{self.path}__next_{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        touched_dirs = {f"{self._BUCKET}={b}" for b in touched}
        for entry in os.listdir(self.path):
            src = os.path.join(self.path, entry)
            if entry in touched_dirs:
                continue  # superseded by the staged version (or emptied)
            if os.path.isdir(src):
                dst = os.path.join(tmp, entry)
                os.makedirs(dst)
                for name in os.listdir(src):
                    self._carry(os.path.join(src, name), os.path.join(dst, name))
            else:
                self._carry(src, os.path.join(tmp, entry))  # _SUCCESS etc.
        staged_any = False
        for entry in os.listdir(staging):
            if entry.startswith(f"{self._BUCKET}="):
                os.rename(os.path.join(staging, entry), os.path.join(tmp, entry))
                staged_any = True
        shutil.rmtree(staging)
        has_data = staged_any or any(
            e.startswith(f"{self._BUCKET}=") for e in os.listdir(tmp)
        )
        if not has_data:
            # every bucket emptied: a partition-dir-less tree would lose
            # its schema — fall back to the flat empty-write path
            shutil.rmtree(tmp)
            self._write_atomic(merged)
            return
        old = f"{self.path}__old_{uuid.uuid4().hex[:8]}"
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old)

    def _write_atomic(self, df: DataFrame) -> None:
        tmp = f"{self.path}__staging_{uuid.uuid4().hex[:8]}"
        # one directory per key-hash bucket (a 100M-key state splits into
        # n_buckets prunable pieces); repartition on the bucket puts each
        # in one task -> one file per bucket dir
        with_bucket = df.withColumn(
            self._BUCKET, self._bucket_of(*[F.col(c) for c in self.key_cols])
        )
        if with_bucket.isEmpty():
            # zero rows under partitionBy writes NO parquet files and the
            # directory loses its schema; a flat empty write keeps the
            # footer (bucket rides as an ordinary — empty — column)
            with_bucket.coalesce(1).write.mode("overwrite").parquet(tmp)
        else:
            with_bucket.repartition(
                self.n_buckets, F.col(self._BUCKET)
            ).write.mode("overwrite").partitionBy(self._BUCKET).parquet(tmp)
        old = f"{self.path}__old_{uuid.uuid4().hex[:8]}"
        if os.path.isdir(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        if os.path.isdir(old):
            shutil.rmtree(old)

    def apply_batch(self, changelog_batch: DataFrame) -> None:
        """Merge one (possibly multi-version-per-key) changelog batch:
        compact the batch, then upsert/delete against current state —
        ST1 semantics; idempotent for replays of the same batch.

        Incremental at scale: only the bucket dirs the batch's keys hash
        into are read, merged, and rewritten (`_swap_buckets`); untouched
        bucket files carry over as hard links, byte-identical. Per-trigger
        cost is O(|touched buckets|), not O(|state|) — at the reference's
        100M-key regime (TOMBSTONE_HANDLING_GUIDE.md:96-101,315-326) a
        3k-row micro-batch rewrites at most 3k/100M of the state, where a
        full rewrite would move 100-200 GB every 2 s trigger. The touched
        bucket-id collect is bounded by n_buckets (ints, not keys). A
        batch that widens the schema (evolve=True additive DDL, or a type
        promotion through the union) must retouch every file footer, so
        those rare batches fall back to the full rewrite."""
        compacted = cdc.compact_latest(
            changelog_batch, key_cols=self.key_cols, order_cols=self.order_cols
        )
        if not self.exists():
            merged = cdc.soft_delete_filter(compacted, deleted_col=self.deleted_col)
            self._write_atomic(merged.localCheckpoint())
            return
        state_df = self.spark.read.parquet(self.path)
        state_types = {
            f.name: f.dataType
            for f in state_df.schema.fields
            if f.name != self._BUCKET
        }
        # murmur3 is TYPE-sensitive (hash(42 int) != hash(42 long)), so a
        # batch whose key arrived narrower than the stored column would
        # compute the WRONG touched-bucket set and miss the state row's
        # bucket entirely — cast batch keys UP to the stored key types
        # (the same rule `lookup` applies to its literals). The opposite
        # direction — batch key WIDER than stored — is refused: casting
        # down silently wraps overflowing key values into the wrong
        # key/bucket; a widened key is a schema change and needs a
        # rebuild (the store's type-change stance, COVERAGE.md S5).
        batch_types = {f.name: f.dataType for f in compacted.schema.fields}
        for k in self.key_cols:
            if k in state_types and batch_types[k] != state_types[k]:
                if not _safe_key_upcast(batch_types[k], state_types[k]):
                    raise ValueError(
                        f"apply_batch: key column {k!r} arrived as "
                        f"{batch_types[k].simpleString()} but the state "
                        f"stores {state_types[k].simpleString()}; a "
                        "widening/type-changing key is a schema change — "
                        "rebuild the store instead of merging"
                    )
                compacted = compacted.withColumn(
                    k, F.col(k).cast(state_types[k])
                )
        if not self._has_bucket_dirs():
            # a delete-all left the state as one flat empty file (no
            # __bucket= partition dirs — see _write_atomic's empty-write
            # branch); _swap_buckets would hard-link that root data file
            # into every future version next to real partition dirs,
            # breaking the hive-partitioned layout contract forever —
            # full rewrite restores the partitioned layout
            merged = cdc.apply_changelog(
                self.read(),
                compacted,
                key_cols=self.key_cols,
                order_cols=self.order_cols,
                deleted_col=self.deleted_col,
                evolve=self.evolve,
            )
            self._write_atomic(merged.localCheckpoint())
            return
        # bounded collect: <= n_buckets distinct small ints
        touched = sorted(
            r[0]
            for r in compacted.select(
                self._bucket_of(*[F.col(c) for c in self.key_cols]).alias("b")
            )
            .distinct()
            .collect()
        )
        if not touched:
            return  # empty batch: state version unchanged
        if self.evolve and not set(compacted.columns) <= set(state_types):
            # additive schema change: every existing file needs the new
            # column in its footer — full rewrite (rare: one DDL event)
            merged = cdc.apply_changelog(
                self.read(),
                compacted,
                key_cols=self.key_cols,
                order_cols=self.order_cols,
                deleted_col=self.deleted_col,
                evolve=True,
            )
            self._write_atomic(merged.localCheckpoint())
            return
        affected = state_df.filter(
            F.col(self._BUCKET).isin([int(b) for b in touched])
        ).drop(self._BUCKET)
        merged = cdc.apply_changelog(
            affected,
            compacted,
            key_cols=self.key_cols,
            order_cols=self.order_cols,
            deleted_col=self.deleted_col,
            evolve=self.evolve,
        )
        merged_types = {f.name: f.dataType for f in merged.schema.fields}
        if merged_types != state_types:
            # the union widened a type: mixed footers across bucket files
            # would make reads schema-ambiguous — full rewrite
            merged = cdc.apply_changelog(
                self.read(),
                compacted,
                key_cols=self.key_cols,
                order_cols=self.order_cols,
                deleted_col=self.deleted_col,
                evolve=self.evolve,
            )
            self._write_atomic(merged.localCheckpoint())
            return
        self._swap_buckets(merged, touched)
        self._advise_rescale()

    def _has_bucket_dirs(self) -> bool:
        return any(
            e.startswith(f"{self._BUCKET}=") for e in os.listdir(self.path)
        )

    def mean_bucket_bytes(self) -> int:
        """Mean on-disk bytes per bucket dir (local stat walk, no Spark
        job) — the quantity the growth rule holds constant."""
        total = 0
        for root, _dirs, files in os.walk(self.path):
            for name in files:
                if name.endswith(".parquet"):
                    total += os.stat(os.path.join(root, name)).st_size
        return total // max(self.n_buckets, 1)

    def _advise_rescale(self) -> None:
        """Warn (once per instance) when mean bucket size exceeds the
        target: per-trigger write volume is |touched| x bucket size, so
        oversized buckets silently re-grow the write amplification the
        incremental apply_batch exists to avoid. The operator responds
        with `rescale_buckets(recommended_buckets())` in a maintenance
        window."""
        if self._rescale_advised:
            return
        mean = self.mean_bucket_bytes()
        if mean > self.target_bucket_bytes:
            self._rescale_advised = True
            warnings.warn(
                f"ParquetStateStore at {self.path}: mean bucket size "
                f"{mean} bytes exceeds target {self.target_bucket_bytes}; "
                f"schedule rescale_buckets({self.recommended_buckets()}) "
                "to keep per-trigger write volume bounded",
                RuntimeWarning,
                stacklevel=3,
            )

    def recommended_buckets(self) -> int:
        """Smallest power-of-two bucket count that brings the mean
        bucket back under target (power of two keeps pmod rebucketing
        splits even)."""
        n = self.n_buckets
        total = self.mean_bucket_bytes() * max(self.n_buckets, 1)
        while total > n * self.target_bucket_bytes:
            n *= 2
        return n

    def rebuild(self, full_changelog: DataFrame) -> None:
        """State recovery by full replay (ST5): one batch compaction over
        the whole log — the reference's 'reset to offset 0' procedure
        (TOMBSTONE_HANDLING_GUIDE.md:103-113)."""
        state = cdc.soft_delete_filter(
            cdc.compact_latest(
                full_changelog, key_cols=self.key_cols, order_cols=self.order_cols
            ),
            deleted_col=self.deleted_col,
        )
        self._write_atomic(state)

    def prune_below(self, min_order: int, order_col: str | None = None) -> int:
        """Drop state rows whose order column is below `min_order`; returns
        the number of rows dropped. The retention/TTL primitive (the
        log-retention analogue for stores whose rows are EVIDENCE rather
        than authoritative state — e.g. the streaming near-dup witness
        buckets, where pruning trades bounded state size for re-admitting
        duplicates older than the horizon).

        Do NOT call this on a CDC latest-state store: there every live key
        is authoritative regardless of age, and pruning would delete
        current values. Callers own that distinction (see
        StreamingNearDup.expire_witnesses)."""
        if not self.exists():
            return 0
        col = order_col or self.order_cols[0]
        current = self.read()
        kept = current.filter(f"`{col}` >= {int(min_order)}")
        dropped = current.count() - kept.count()
        if dropped:
            self._write_atomic(kept.localCheckpoint())
        return dropped

    def rescale_buckets(self, new_n_buckets: int) -> None:
        """Maintenance rebuild to a new bucket count — the operational
        knob behind the incremental apply_batch: per-trigger write volume
        is |touched buckets| x bucket size, so a growing state keeps its
        buckets at a constant target size by rescaling (the deployment
        rule the bench's state_write_amplification section demonstrates:
        100k keys / 64 buckets and 1m / 640 write the same bytes per
        trigger). n_buckets is part of the on-disk identity (lookup
        opens the directory pmod(hash, n)), so this is BY DESIGN a full
        rewrite — one range of maintenance downtime per decade of
        growth, published with the same atomic swap as every write.
        Safe against a crash at any point: the old layout stays live
        until the single publish rename."""
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n_buckets}")
        if not self.exists():
            self.n_buckets = new_n_buckets
            return
        current = self.read().localCheckpoint()
        self.n_buckets = new_n_buckets
        self._write_atomic(current)

    def destroy(self) -> None:
        # restore-then-remove: sweeping orphans FIRST means a stranded
        # __old_* can't resurrect a destroyed store at the next recover
        self._recover()
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)
