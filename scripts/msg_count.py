"""Offline throughput/lag counting tool — the msg_count analog.

Reference: server/tool/msg_count/main.go — seek a channel to a stored
position, then count messages per type downstream of it (MsgCount,
main.go:419-step: per-type counts plus ``insert_count``/``delete_count``
summed over each message's NumRows), reporting the channel's end
position and its physical msg time (tsoutil.PhysicalTime of the end ts,
main.go:325-333). CountMode (main.go:335-339) keeps counting to the
stream head — the batch analog is counting everything in the window.

Spark shape: ONE parquet scan, ts-window filter pushed to the scan, one
aggregation keyed by (vchannel, op_type) — a single shuffle whose
cardinality is channels × op types (control-sized). Nothing collects
except the printed per-channel summary. Positions-seek parity: with
``--positions=WORK_DIR`` each channel counts strictly AFTER the position
that CDC task's work dir last committed ("not including the current
msg", main.go:294-301), channels without a stored position count from
earliest (SubscriptionPositionEarliest, main.go:284-286).

Usage:
  python scripts/msg_count.py OPLOG_DIR [--positions=WORK_DIR]
                              [--from-ts=T] [--to-ts=T] [--collection=C]

``--from-ts``/``--to-ts`` bound the counted hybrid-ts window (from
exclusive, to inclusive) — the two-timestamp delta form; ``--collection``
mirrors the tool's CollectionID scoping (main.go:425-429). Exit 0 always
(reporting tool).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from milvus_cdc_spark.control.msgcount import count_messages  # noqa: E402


def work_dir_positions(spark, work_dir: str):
    """A CDC work dir's committed positions as ``(vchannel,
    position_ts)`` rows, the seek input of ``count_messages``."""
    from milvus_cdc_spark.catalog import local_frame
    from milvus_cdc_spark.streaming.pipeline import committed_positions

    return local_frame(
        spark,
        [(v, ts) for v, ts, _ in committed_positions(work_dir)],
        "vchannel string, position_ts bigint",
    )


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts: dict[str, str] = {}
    for a in sys.argv[1:]:
        if a.startswith("--") and "=" in a:
            k, v = a[2:].split("=", 1)
            opts[k.replace("-", "_")] = v
    if len(args) != 1:
        print(__doc__)
        sys.exit(2)

    from milvus_cdc_spark.session import get_spark
    from milvus_cdc_spark.streaming.pipeline import OPLOG_SCHEMA

    spark = get_spark("msg_count")
    spark.sparkContext.setLogLevel("ERROR")
    ops = spark.read.schema(OPLOG_SCHEMA).parquet(args[0])
    positions = (
        work_dir_positions(spark, opts["positions"]) if "positions" in opts else None
    )
    summary = count_messages(
        spark,
        ops,
        positions=positions,
        from_ts=int(opts["from_ts"]) if "from_ts" in opts else None,
        to_ts=int(opts["to_ts"]) if "to_ts" in opts else None,
        collection=opts.get("collection"),
    )
    for r in summary.collect():
        print(f"channel name: {r.vchannel}")
        print(f"msg time: {r.end_time}")
        print(f"end position: {r.end_ts}")
        counts = dict(r.type_counts)
        counts["insert_count"] = r.insert_count
        counts["delete_count"] = r.delete_count
        print(f"msg info, count: {counts}")
        print("====================")
    spark.stop()


if __name__ == "__main__":
    main()
