"""CdcPipeline: the whole reference pipeline as one StreamingQuery.

Reference architecture (SURVEY §3.2): Debezium → Kafka → ksqlDB TABLE
transform → JDBC upsert/delete sink, ~2 s commit cadence. Spark-native
collapse (SURVEY §7.2 Phase 3):

    readStream (kafka/file changelog)
      → projection preserving key + __deleted          (T4/T5)
      → foreachBatch:
            per-batch compaction (offset order)        (ST1/ST6)
            state-store merge  → pull-query surface    (ST1)
            sink upserts + deletes                     (K1/K2)
            optional mirrored changelog output          (ST3/ST4)
      checkpointed                                      (ST5)

Exactly-once story: checkpoint gives at-least-once micro-batches; the
sink's keyed MERGE/DELETE and the state store's apply_batch are
idempotent per batch, so replays converge — the same design the reference
reaches via Kafka offsets + JDBC PK upsert.

Scale: the only shuffle per micro-batch is the compaction groupBy(key)
with map-side partial agg (operators/cdc.py); sink writes are parallel
executor JDBC in the cluster path. Trigger default 2 s mirrors
KSQL_KSQL_COMMIT_INTERVAL_MS=2000 (docker-compose.yaml:273).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any, Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from db_integration_via_kafka_ksql_spark.operators import cdc
from db_integration_via_kafka_ksql_spark.streaming.state import ParquetStateStore


class BatchSink(Protocol):
    """Anything that can apply a compacted micro-batch (DbApiSink,
    JdbcMergeSink, or a test double)."""

    def write_batch(self, upserts: DataFrame, delete_keys: DataFrame) -> None: ...


@dataclass
class CdcPipeline:
    source: DataFrame                      # streaming changelog DataFrame
    key_cols: Sequence[str]
    order_cols: Sequence[str]
    deleted_col: str = "__deleted"
    projection: Sequence[str] | None = None            # T4: column projection
    sink: BatchSink | None = None
    state: ParquetStateStore | None = None
    mirror: Callable[[DataFrame], None] | None = None  # ST3: derived topic
    # K5 (errors.tolerance=all): undecodable records carry __dead=true and
    # MUST NOT reach compaction — a poison record at a high offset would
    # win last-per-key and upsert a NULL payload over good state. They are
    # split out first and routed to this handler (the DLQ); None drops them.
    dead_letter: Callable[[DataFrame], None] | None = None
    dead_col: str = "__dead"
    # S5 (schema-change capture): when the incoming batch schema differs
    # from the previous one, a DDL event is emitted to this handler — the
    # history-topic equivalent of Debezium's schema.history.internal.kafka
    # (reference start-source-connector.sh:85-89). The sink separately
    # auto-evolves (K3); this hook is the *capture* side, giving consumers
    # a replayable DDL log.
    schema_history: Callable[[dict[str, Any]], None] | None = None
    # S6 (transaction metadata): when set, rows carry a source-transaction
    # id (reference provide.transaction.metadata=true) and each txn is
    # compacted + applied as its own atomic unit, in commit order (min
    # order-col within the txn). None = epoch-level atomicity (default).
    txn_col: str | None = None
    checkpoint_dir: str | None = None
    trigger_seconds: float = 2.0
    query_name: str = "cdc_pipeline"
    batches_seen: list[int] = field(default_factory=list)
    _last_schema: list[tuple[str, str]] | None = field(default=None, repr=False)

    def _transform(self, df: DataFrame) -> DataFrame:
        """The ksqlDB-CTAS equivalent: projection that must carry the key
        and the soft-delete marker through (T5 — the reference's central
        'key must appear in the projection' rule)."""
        if self.projection is None:
            return df
        cols = list(self.projection)
        for required in (*self.key_cols, *self.order_cols, self.deleted_col):
            if required not in cols:
                cols.append(required)
        return df.select(*cols)

    def _capture_schema_change(self, batch_df: DataFrame, epoch_id: int) -> None:
        """S5: diff the incoming schema against the last seen one and emit
        a DDL event (the history-topic record) on change."""
        cur = [(f.name, f.dataType.simpleString()) for f in batch_df.schema.fields]
        if self._last_schema is not None and cur != self._last_schema:
            prev = dict(self._last_schema)
            now = dict(cur)
            event = {
                "epoch_id": epoch_id,
                "added": sorted(set(now) - set(prev)),
                "removed": sorted(set(prev) - set(now)),
                "retyped": sorted(
                    c for c in set(now) & set(prev) if now[c] != prev[c]
                ),
                "schema": cur,
            }
            if self.schema_history is not None:
                self.schema_history(event)
        self._last_schema = cur

    def _apply(self, batch_df: DataFrame) -> None:
        """Compact one atomic unit (a micro-batch, or one source txn) in
        offset order, split live/deleted, fan out to state/sink/mirror."""
        projected = self._transform(batch_df)
        compacted = cdc.compact_latest(
            projected, key_cols=list(self.key_cols), order_cols=list(self.order_cols)
        ).localCheckpoint()  # computed once, consumed by up to 3 outputs
        deleted = compacted.filter(cdc.is_deleted(self.deleted_col))
        live = compacted.filter(~cdc.is_deleted(self.deleted_col))
        if self.state is not None:
            self.state.apply_batch(compacted)
        if self.sink is not None:
            self.sink.write_batch(live, deleted.select(*self.key_cols))
        if self.mirror is not None:
            self.mirror(compacted)

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """One micro-batch: dead-letter split, schema-change capture, then
        atomic apply (whole batch, or per source txn when txn_col is set).
        Public so batch replays (rebuild) reuse the identical code path."""
        self.batches_seen.append(epoch_id)
        if self.dead_col in batch_df.columns:
            dead = batch_df.filter(F.col(self.dead_col) == F.lit(True))
            batch_df = batch_df.filter(
                (F.col(self.dead_col).isNull()) | (F.col(self.dead_col) == F.lit(False))
            ).drop(self.dead_col)
            if self.dead_letter is not None:
                self.dead_letter(dead)
        self._capture_schema_change(batch_df, epoch_id)
        if self.txn_col and self.txn_col in batch_df.columns:
            # commit order = first change within each txn: the
            # LEXICOGRAPHIC min of the order cols (min over a struct —
            # per-column independent mins would compose e.g. min(ts_ms)
            # and min(lsn) from DIFFERENT rows into a composite belonging
            # to no row, misordering txns under a multi-column envelope),
            # txn id as a deterministic tie-break (two txns sharing a min
            # offset would otherwise apply in arbitrary order, breaking
            # last-txn-wins reproducibility). The txn-id list is
            # driver-side but bounded by txns/batch — the same
            # serial-apply the reference's Connect sink does. A NULL txn
            # id (Debezium snapshot events ship no transaction metadata)
            # is a real group: it must be applied, not dropped, so both
            # the groupBy collect and the per-txn filter are null-safe.
            first = F.min(
                F.struct(*[F.col(c) for c in self.order_cols])
            ).alias("_first")
            txns = [
                r[0]
                for r in batch_df.groupBy(self.txn_col)
                .agg(first)
                .orderBy("_first", self.txn_col)
                .select(self.txn_col)
                .collect()
            ]
            for t in txns:
                self._apply(
                    batch_df.filter(
                        F.col(self.txn_col).eqNullSafe(F.lit(t))
                    ).drop(self.txn_col)
                )
        else:
            self._apply(batch_df)

    def start(self) -> StreamingQuery:
        writer = (
            self.source.writeStream.queryName(self.query_name)
            .foreachBatch(self.process_batch)
            .outputMode("update")
        )
        if self.checkpoint_dir:
            writer = writer.option("checkpointLocation", self.checkpoint_dir)
        if self.trigger_seconds:
            writer = writer.trigger(processingTime=f"{self.trigger_seconds} seconds")
        return writer.start()

    # -- introspection (M2/M3: SHOW QUERIES / connector status) ----------
    @staticmethod
    def active_queries(spark: Any) -> list[dict[str, Any]]:
        return [
            {"id": str(q.id), "name": q.name, "active": q.isActive}
            for q in spark.streams.active
        ]
