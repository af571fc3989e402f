"""Kafka changelog source: keyed Avro change events with tombstones.

Reference parity (SURVEY §2.1):
- S1: topic subscribe — the capture side (Debezium) stays external; our
  engine starts at the topic, exactly like the reference's ksqlDB.
- S3: Avro key+value decode. OSS Spark has no Schema Registry client
  (SURVEY §1.4), so schemas are carried explicitly in engine config —
  mirroring the reference's hard-won "schema must exist before DDL"
  ordering (the-whole-thing.sh:23-40).
- S4: startingOffsets=earliest for full replay.
- T1-T3: Debezium envelope unwrap + delete rewrite + tombstone
  pass-through, as column expressions over the raw (key, value) frame.
- K5: permissive decode — unparseable records go to a dead-letter frame
  instead of failing the stream (errors.tolerance=all).

Tombstone discipline (SURVEY §7.3.1 — THE bug class the reference
exists to solve): the raw `value` column is kept alongside the decoded
struct; `value IS NULL` is the tombstone predicate and must be tested
BEFORE any projection that would erase the distinction. Writing back out,
a tombstone row emits key-bytes + literal NULL value (not an Avro-encoded
null), keeping the output topic log-compaction-valid (ST4).

This module needs the spark-sql-kafka-0-10 package on the classpath at
runtime (not bundled with pip pyspark; absent in this container). All
builders below construct configs/expressions lazily so importing and
unit-testing the logic needs no Kafka.

The Avro ENCODING itself is fully exercised in-container despite the
missing spark-avro jar: decode_changelog_py / write_changelog_py (bottom
of this module) run the same contracts over a pure-Python Avro binary
codec (functions/avro_codec.py) that is differentially verified against
the canonical Java Avro library bundled inside pyspark.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

import pandas as pd  # module-level so pandas_udf type hints resolve under
#                      `from __future__ import annotations` (string hints
#                      are looked up in module globals)
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from db_integration_via_kafka_ksql_spark.operators import cdc


def kafka_available(spark: SparkSession) -> bool:
    """True if the Kafka source can actually be used in this session."""
    try:
        spark.readStream.format("kafka").option(
            "kafka.bootstrap.servers", "none:0"
        ).option("subscribe", "probe").load()
        return True
    except Exception:
        return False


@dataclass
class AvroChangelogConfig:
    """Engine-carried schema config (no registry in OSS Spark)."""

    topic: str
    key_schema_json: str            # e.g. Debezium key: STRUCT{id:int}
    value_schema_json: str          # unwrapped row incl. __deleted
    bootstrap_servers: str = "localhost:9092"
    starting_offsets: str = "earliest"     # S4
    extra_options: dict[str, str] = field(default_factory=dict)


def read_stream(spark: SparkSession, cfg: AvroChangelogConfig) -> DataFrame:
    """Raw keyed changelog stream: (key binary, value binary, topic,
    partition, offset, timestamp)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", cfg.bootstrap_servers)
        .option("subscribe", cfg.topic)
        .option("startingOffsets", cfg.starting_offsets)
    )
    for k, v in cfg.extra_options.items():
        reader = reader.option(k, v)
    return reader.load()


def decode_changelog(raw: DataFrame, cfg: AvroChangelogConfig) -> DataFrame:
    """Decode Avro key/value with dead-letter tolerance, preserving
    tombstones.

    Output columns:
      key struct, row struct (null for tombstones), __tombstone boolean,
      __deleted string ('true' for delete-rewrite rows AND tombstones),
      offset, partition, __dead boolean (value present but undecodable).
    """
    from pyspark.sql.avro.functions import from_avro

    key = from_avro(F.col("key"), cfg.key_schema_json).alias("key")
    # PERMISSIVE mode: parse failures yield null columns instead of errors
    row = from_avro(
        F.col("value"), cfg.value_schema_json, {"mode": "PERMISSIVE"}
    ).alias("row")
    return classify_decoded(raw.select(key, row, "value", "offset", "partition"))


def classify_decoded(decoded: DataFrame) -> DataFrame:
    """Tombstone / delete-rewrite / dead-letter classification over an
    already-decoded frame with (key, row struct, value binary) columns.

    Split out from decode_changelog so the T2/T3/K5 logic — THE bug class
    the reference exists to solve — is testable without the Avro jar
    (tests/test_kafka_avro.py builds the decoded frame directly).

    Ordering invariant: `value IS NULL` (the tombstone predicate) is
    evaluated on the RAW bytes, before any projection that could erase
    the null/decoded distinction.
    """
    out = decoded.select(
        "key",
        "row",
        F.col("value").isNull().alias("__tombstone"),   # T3
        F.col("value"),
        "offset",
        "partition",
    )
    return out.select(
        "key",
        "row",
        "__tombstone",
        # delete rewrite (T2) OR tombstone → deleted
        F.when(F.col("__tombstone"), F.lit("true"))
        .otherwise(F.coalesce(F.col("row.__deleted"), F.lit("false")))
        .alias("__deleted"),
        # dead-letter: non-null bytes that decoded to null (K5)
        (~F.col("__tombstone") & F.col("row").isNull()).alias("__dead"),
        "offset",
        "partition",
    )


def write_changelog(
    compacted: DataFrame,
    cfg: AvroChangelogConfig,
    key_cols: Sequence[str],
    deleted_col: str = "__deleted",
) -> DataFrame:
    """Mirror a compacted batch to an output topic, tombstones intact
    (ST3/ST4): deleted keys emit (key, NULL), others (key, avro(row)).

    `key_cols` is explicit (the pipeline knows its key): deriving it by
    convention risks an empty key struct, under which every record would
    serialize to identical key bytes and log compaction on the output
    topic would collapse all rows to one.

    Returns the (key, value) frame ready for .write.format('kafka') —
    callers own the actual write so tests can inspect the frame.
    """
    key_cols = list(key_cols)
    missing = [c for c in key_cols if c not in compacted.columns]
    if not key_cols or missing:
        raise ValueError(
            f"write_changelog needs key columns present in the frame; "
            f"key_cols={key_cols}, missing={missing}, frame={compacted.columns}"
        )
    from pyspark.sql.avro.functions import to_avro

    is_del: Column = cdc.is_deleted(deleted_col)
    payload_cols = [c for c in compacted.columns if c != deleted_col]
    return compacted.select(
        to_avro(F.struct(*[F.col(c) for c in payload_cols])).alias("_all_value"),
        to_avro(F.struct(*[F.col(c) for c in key_cols])).alias("key"),
        is_del.alias("_is_del"),
    ).select(
        "key",
        # literal NULL value for tombstones — never an Avro-encoded null
        F.when(F.col("_is_del"), F.lit(None).cast("binary"))
        .otherwise(F.col("_all_value"))
        .alias("value"),
    )


# ---------------------------------------------------------------------------
# Jar-free twins: same contracts, pure-Python Avro binary codec
# (functions/avro_codec.py — public-spec implementation, differentially
# tested against the canonical Java Avro library in tests/test_kafka_avro.py).
# Use these when the spark-avro connector jar is unavailable; on a real
# cluster prefer decode_changelog/write_changelog (JVM-side, no Python hop).
# The python value path supports flat scalar records (no bytes-typed
# fields: the JSON bridge between JVM structs and the Python codec has no
# binary representation) — exactly the Debezium-unwrapped CDC row shape.
# ---------------------------------------------------------------------------


def _avro_to_spark_ddl(schema_json: str) -> str:
    """Spark DDL string for a flat Avro record schema (for from_json)."""
    import json as _json

    type_map = {
        "long": "bigint",
        "int": "int",
        "string": "string",
        "double": "double",
        "float": "float",
        "boolean": "boolean",
    }
    fields = []
    for f in _json.loads(schema_json)["fields"]:
        t = f["type"]
        if isinstance(t, list):
            t = next(b for b in t if b != "null")
        if t not in type_map:
            # the python codec itself accepts `bytes`, but this JSON-hop
            # decode path cannot round-trip raw bytes through from_json —
            # fail loudly instead of a bare KeyError
            raise ValueError(
                f"field {f['name']}: Avro type {t!r} not representable on "
                "the JSON-hop decode path (use the spark-avro jar path for "
                "bytes-typed fields)"
            )
        fields.append(f"{f['name']} {type_map[t]}")
    return ", ".join(fields)


def decode_changelog_py(
    raw: DataFrame,
    cfg: AvroChangelogConfig,
    key_serde=None,
    value_serde=None,
) -> DataFrame:
    """decode_changelog without the spark-avro jar: Arrow-batched Python
    Avro decode to JSON, struct-ified JVM-side via from_json, then the
    shared tombstone/delete/dead-letter classification.

    Decode errors yield a NULL row with the raw bytes intact, so
    classify_decoded marks them __dead (K5) — identical contract to the
    PERMISSIVE spark-avro path.

    `key_serde` / `value_serde` (sources/schema_registry.RegistrySerde)
    switch that column to registry-framed wire format: unframe, look up
    the WRITER schema by the framed id, decode, resolve into the serde's
    reader schema — so one topic can interleave messages from producers
    on different schema versions and the consumer reads them all. The
    serde ships to executors inside the UDF closure with its id→codec
    cache (schemas number in the dozens; no per-row registry work).
    """
    import json as _json

    from db_integration_via_kafka_ksql_spark.functions.avro_codec import (
        FlatRecordCodec,
    )

    key_schema = key_serde.schema_json if key_serde else cfg.key_schema_json
    value_schema = value_serde.schema_json if value_serde else cfg.value_schema_json

    def _decoder(schema_json: str, serde=None):
        codec = None if serde is not None else FlatRecordCodec(schema_json)

        def decode_series(s: pd.Series) -> pd.Series:
            out = []
            for v in s:
                if v is None:
                    out.append(None)
                    continue
                try:
                    row = (
                        serde.deserialize(bytes(v))
                        if serde is not None
                        else codec.decode(bytes(v))
                    )
                    out.append(_json.dumps(row))
                except Exception:
                    out.append(None)  # undecodable → NULL row → __dead
            return pd.Series(out, dtype=object)

        return F.pandas_udf(decode_series, "string")

    key_json = _decoder(key_schema, key_serde)(F.col("key"))
    row_json = _decoder(value_schema, value_serde)(F.col("value"))
    decoded = raw.select(
        F.from_json(key_json, _avro_to_spark_ddl(key_schema)).alias("key"),
        F.from_json(row_json, _avro_to_spark_ddl(value_schema)).alias("row"),
        "value",
        "offset",
        "partition",
    )
    return classify_decoded(decoded)


def write_changelog_py(
    compacted: DataFrame,
    cfg: AvroChangelogConfig,
    key_cols: Sequence[str],
    deleted_col: str = "__deleted",
    key_serde=None,
    value_serde=None,
) -> DataFrame:
    """write_changelog without the spark-avro jar: the same (key, value)
    output contract — tombstones as LITERAL NULL values, never an
    Avro-encoded all-null record (the byte-level distinction the
    reference's tombstone guide is about: an encoded null is one union
    byte per field, a tombstone is no bytes at all).

    `key_serde` / `value_serde` (RegistrySerde) switch that column to
    registry-framed wire format: the producer's schema id is prepended to
    every non-tombstone message, and the tombstone stays an unframed
    literal NULL (a framed null would defeat log compaction — the byte
    discipline schema_registry.frame enforces)."""
    import json as _json

    from db_integration_via_kafka_ksql_spark.functions.avro_codec import (
        FlatRecordCodec,
    )

    key_cols = list(key_cols)
    missing = [c for c in key_cols if c not in compacted.columns]
    if not key_cols or missing:
        raise ValueError(
            f"write_changelog_py needs key columns present in the frame; "
            f"key_cols={key_cols}, missing={missing}, frame={compacted.columns}"
        )
    key_schema, value_schema = cfg.key_schema_json, cfg.value_schema_json

    def _encoder(schema_json: str, serde=None):
        codec = None if serde is not None else FlatRecordCodec(schema_json)

        def encode_series(s: pd.Series) -> pd.Series:
            if serde is not None:
                return pd.Series(
                    [
                        None if j is None else serde.serialize(_json.loads(j))
                        for j in s
                    ],
                    dtype=object,
                )
            return pd.Series(
                [None if j is None else codec.encode(_json.loads(j)) for j in s],
                dtype=object,
            )

        return F.pandas_udf(encode_series, "binary")

    payload_cols = [c for c in compacted.columns if c != deleted_col]
    is_del: Column = cdc.is_deleted(deleted_col)
    return compacted.select(
        _encoder(key_schema, key_serde)(
            F.to_json(F.struct(*[F.col(c) for c in key_cols]))
        ).alias("key"),
        # tombstone: NULL json in → NULL bytes out (literal NULL value)
        _encoder(value_schema, value_serde)(
            F.when(is_del, F.lit(None).cast("string")).otherwise(
                F.to_json(F.struct(*[F.col(c) for c in payload_cols]))
            )
        ).alias("value"),
    )
