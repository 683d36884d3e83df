"""Hybrid-timestamp (TSO) functions.

Milvus timestamps are hybrid TSOs: physical milliseconds in the high 46 bits,
an 18-bit logical counter in the low bits (tsoutil.ParseHybridTs /
ComposeTS used at server/cdc_impl.go:781-783, 1126). Pure column math —
stays in codegen, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LOGICAL_BITS = 18


def compose_ts(physical_ms: Column, logical: Column | int = 0) -> Column:
    """physical_ms << 18 | logical."""
    logical_col = F.lit(logical) if isinstance(logical, int) else logical
    return (F.shiftleft(physical_ms.cast("bigint"), LOGICAL_BITS) + logical_col).cast("bigint")


def physical_ms(ts: Column) -> Column:
    """High 46 bits → epoch milliseconds."""
    return F.shiftrightunsigned(ts.cast("bigint"), LOGICAL_BITS)


def physical_timestamp(ts: Column) -> Column:
    """Hybrid ts → Spark TimestampType, for event-time windows."""
    return F.timestamp_millis(physical_ms(ts))
