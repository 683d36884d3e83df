"""Serialization functions (SURVEY §2.8, K3/K4 Kafka JSON sink format).

The reference serializes positions as base64(proto) (server/cdc_impl.go:
1563-1573) and emits every op to Kafka as a `{Data, Info}` JSON envelope
(core/writer/kafka_handler.go:282-324) with columns rendered as
``[{name,type,value}]`` (kafka_formatter.go:40-87). All built-in functions —
no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def encode_position(channel: Column, ts: Column) -> Column:
    """base64 of 'channel:ts' — the portable analog of base64(proto position)."""
    return F.base64(F.concat_ws(":", channel, ts.cast("string")).cast("binary"))


def kafka_envelope(df: DataFrame, value_cols: list[str]) -> DataFrame:
    """K3/K4: one JSON envelope per op, ready for a Kafka value column."""
    payload = F.to_json(
        F.struct(
            F.struct(*[F.col(c) for c in value_cols]).alias("data"),
            F.struct(F.col("op_type"), F.col("ts")).alias("info"),
        )
    )
    return df.select(payload.alias("value"))
