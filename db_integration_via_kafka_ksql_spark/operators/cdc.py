"""Changelog-materialization operators — the reference's core semantics.

Reference parity (citations into /root/reference):
- latest-state-per-key TABLE: ksql-transformations/01-movies-transform.sql:28-52,
  semantics at TOMBSTONE_HANDLING_GUIDE.md:25-33,77-113.
- delete rewrite (`__deleted="true"` row): start-source-connector.sh:96.
- tombstone pass-through (null value removes the key):
  start-source-connector.sh:95, TOMBSTONE_HANDLING_GUIDE.md:66-72.
- replay-rebuild: TOMBSTONE_HANDLING_GUIDE.md:103-113 — batch compaction over
  the full log IS the rebuild path.

Scale design (100 TB changelog):
- ``compact_latest`` uses ``max(struct(order_cols..., payload...))`` —
  an aggregation with **map-side partial combine** (verified in the
  physical plan: partial_max before the Exchange; struct max plans as
  SortAggregate since struct types aren't hash-aggregatable, but the
  partial combine still collapses each input partition to <= |distinct
  keys in partition| rows before the shuffle). On a changelog with high
  churn (many versions per key) this moves orders of magnitude less data
  than the window-function formulation
  (`row_number() OVER (PARTITION BY key ORDER BY ...)`), which must
  shuffle *every* version and sort within partitions.
- State size after compaction ~ unique keys (the reference documents
  1-2 KB/key, TOMBSTONE_HANDLING_GUIDE.md:315-326); output partitioning
  is by key hash, ready for an idempotent keyed MERGE sink.
- Skewed keys (one hot key with millions of versions) are handled by the
  partial combine: per-partition max first, then one row per partition
  per key crosses the shuffle. No salting needed for this operator.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "compact_latest",
    "soft_delete_filter",
    "apply_changelog",
    "events_as_changelog",
    "changelog_stats",
]

_LATEST = "__latest"


def compact_latest(
    changelog: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Latest record per key: ksqlDB TABLE materialization as a batch op.

    Equivalent to ``row_number() OVER (PARTITION BY key ORDER BY order DESC) = 1``
    but expressed as ``max(struct(order..., payload...))`` so Catalyst plans a
    partial-aggregating HashAggregate instead of a full shuffle+sort window.
    ``order_cols`` must be non-null and totally order versions within a key
    (Kafka offset; or (ts, event_id)).

    Output columns: key_cols + order_cols + payload_cols, one row per key.
    """
    if payload_cols is None:
        reserved = set(key_cols) | set(order_cols)
        payload_cols = [c for c in changelog.columns if c not in reserved]
    ordered_struct = F.struct(
        *[F.col(c) for c in order_cols], *[F.col(c) for c in payload_cols]
    )
    agg = changelog.groupBy(*[F.col(k) for k in key_cols]).agg(
        F.max(ordered_struct).alias(_LATEST)
    )
    out_cols: list[Column] = [F.col(k) for k in key_cols]
    out_cols += [F.col(f"{_LATEST}.{c}").alias(c) for c in (*order_cols, *payload_cols)]
    return agg.select(*out_cols)


def is_deleted(deleted_col: str) -> Column:
    """The one delete test of the CDC path: the marker reads 'true' (a
    string, as the reference keeps it, 01-movies-transform.sql:50, or a
    boolean). NULL means live, so state, sink and the delete filter
    always agree on a row with no marker."""
    return F.coalesce(
        F.col(deleted_col).cast("string") == F.lit("true"), F.lit(False)
    )


def soft_delete_filter(
    state: DataFrame,
    deleted_col: str = "__deleted",
    tombstone_col: str | None = None,
) -> DataFrame:
    """Drop keys whose latest record is a delete.

    Mirrors the sink-side delete path: `__deleted="true"` rewrite rows
    (start-source-connector.sh:96) and tombstones (null value) both remove
    the key from materialized state. Accepts string "true"/"false" (the
    reference keeps it a string, 01-movies-transform.sql:50) or boolean.
    """
    cond = ~is_deleted(deleted_col)
    if tombstone_col is not None:
        cond = cond & ~F.coalesce(F.col(tombstone_col), F.lit(False))
    return state.filter(cond)


def align_columns(
    a: DataFrame, b: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Union-of-columns schema alignment: each frame gains the other's
    missing columns as typed NULLs, in a consistent order (a's columns,
    then b's additions in b's order). Same-named columns must agree on
    type — silent coercion across a type change would corrupt state, so
    that stays a hard error. This is the state-side half of the
    reference's schema evolution story (`auto.evolve=true`,
    start-sink-connector.sh:68: the sink table gains a column; here the
    materialized state does): an upstream ALTER TABLE ADD COLUMN shows
    up as new changelog columns mid-log, and pre-evolution rows read as
    NULL — exactly what the evolved sink table reports for them."""
    at = {f.name: f.dataType for f in a.schema.fields}
    bt = {f.name: f.dataType for f in b.schema.fields}
    clash = [n for n in at.keys() & bt.keys() if at[n] != bt[n]]
    if clash:
        raise ValueError(
            f"column type changed across schema versions: "
            f"{sorted((n, str(at[n]), str(bt[n])) for n in clash)}"
        )
    order = list(a.columns) + [c for c in b.columns if c not in at]
    a2 = a.select(
        *[
            F.col(c) if c in at else F.lit(None).cast(bt[c]).alias(c)
            for c in order
        ]
    )
    b2 = b.select(
        *[
            F.col(c) if c in bt else F.lit(None).cast(at[c]).alias(c)
            for c in order
        ]
    )
    return a2, b2


def apply_changelog(
    state: DataFrame,
    changelog: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    deleted_col: str = "__deleted",
    evolve: bool = False,
) -> DataFrame:
    """Upsert-merge a new changelog batch onto existing materialized state.

    This is the batch formulation of the JDBC sink's
    `insert.mode=upsert` + `delete.enabled=true`
    (start-sink-connector.sh:61-81): new versions overwrite, deletes remove.

    Implementation: compact the incoming batch (handles multiple versions
    of one key inside the batch, in order — SURVEY §7.3.2), then take the
    batch row where present else the state row (union + compact with the
    state ranked below every batch record), and finally drop deleted keys.
    Both inputs must carry ``deleted_col``; ``state`` rows normally have it
    "false" since deleted keys aren't in state.

    Invariant (replay-rebuild, TOMBSTONE_HANDLING_GUIDE.md:103-113):
    ``apply_changelog(compact(log[:n]), log[n:]) == compact(log)`` for any
    split point n — tested in tests/test_cdc.py.

    ``evolve=True`` admits ADDITIVE schema changes between state and
    batch (upstream ALTER TABLE ADD COLUMN mid-log): both sides are
    column-aligned first (:func:`align_columns`), so pre-evolution state
    rows carry NULL for new columns. Type changes still raise.
    """
    epoch = "__epoch"
    if evolve:
        # always align: besides adding missing columns, this type-checks
        # the SHARED ones — same-named columns whose type changed would
        # otherwise silently coerce through the union below
        state, changelog = align_columns(state, changelog)
    elif set(state.columns) != set(changelog.columns):
        raise ValueError(
            f"state/changelog column mismatch: {sorted(state.columns)} "
            f"vs {sorted(changelog.columns)} (pass evolve=True to admit "
            "additive schema changes)"
        )
    cols = state.columns
    base = state.select(*cols).withColumn(epoch, F.lit(0))
    delta = changelog.select(*cols).withColumn(epoch, F.lit(1))
    merged = compact_latest(
        base.unionByName(delta),
        key_cols=key_cols,
        order_cols=[epoch, *order_cols],
    )
    return soft_delete_filter(merged, deleted_col=deleted_col).drop(epoch)


def events_as_changelog(events: DataFrame) -> DataFrame:
    """Adapt the driver's `events` table to the F2 changelog shape.

    events(event_id, ts, user_id, event_type, value, props) becomes a
    keyed changelog: key=user_id, offset=event_id (monotone, unique),
    `event_type='error'` plays the DELETE role (rewrite row with
    `__deleted='true'`). Used by the oracle-checked CDC queries so the
    semantics are verifiable against DuckDB on driver-provided data.
    """
    return events.select(
        F.col("user_id").alias("key_id"),
        F.col("event_id").alias("offset"),
        "ts",
        "event_type",
        "value",
        "props",
        F.when(F.col("event_type") == "error", F.lit("true"))
        .otherwise(F.lit("false"))
        .alias("__deleted"),
    )


def changelog_stats(changelog: DataFrame, key_col: str = "key_id") -> DataFrame:
    """Per-key changelog accounting: versions, deletes, last offset.

    Mirrors the reference's offset/count verification queries
    (the-whole-thing.sh:87-99). Pure partial-agg groupBy — scales linearly.
    """
    return changelog.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(
            F.when(F.col("__deleted") == "true", F.lit(1)).otherwise(F.lit(0))
        ).alias("n_deletes"),
        F.max("offset").alias("max_offset"),
    )


def scd2_history(
    changelog: DataFrame,
    ts_us: Column,
    key_col: str = "key_id",
    order_col: str = "offset",
    attrs: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from a changelog.

    The warehouse-side consumer of the CDC stream (the reference pipes
    its Debezium changelog into sink tables that hold only the LATEST
    row — reference: start-sink-connector.sh upsert mode; SCD2 is the
    standard extension that keeps every version): each non-delete event
    opens a version valid from its own timestamp until the next event of
    the same key (update OR delete — a delete closes the last interval
    without emitting a row); the final open interval has valid_to_us
    NULL and is_current true.

    Exactly one key-hash shuffle: a single (key, order)-windowed LEAD
    computes every interval end; everything else is scan-side. ``version``
    is the changelog offset (unique, monotone per key).

    Returns (key, version, valid_from_us, valid_to_us, is_current,
    *attrs).
    """
    from pyspark.sql.window import Window

    attrs = attrs if attrs is not None else ["event_type", "value", "props"]
    win = Window.partitionBy(key_col).orderBy("version")
    led = changelog.select(
        key_col,
        F.col(order_col).alias("version"),
        ts_us.cast("long").alias("valid_from_us"),
        "__deleted",
        *attrs,
    ).withColumn("valid_to_us", F.lead("valid_from_us").over(win))
    return led.filter(F.col("__deleted") == "false").select(
        key_col,
        "version",
        "valid_from_us",
        "valid_to_us",
        F.col("valid_to_us").isNull().alias("is_current"),
        *attrs,
    )
