"""Position decode/encode/list tool — the analog of the reference's
position utilities (server/tool/position_decode.go DecodeType0/Type1,
server/tool/collection_position.go, server/tool/collection_start_position/
main.go): turn opaque checkpoint positions into human-readable seek info
and build seek positions for a task-create request.

Positions in this engine are base64('channel:hybrid_ts') (the portable
analog of the reference's base64(proto MsgPosition) —
functions/serde.encode_position); broker message ids use the
deterministic Pulsar MessageIdData codec (sources/pulsar.py). The
hybrid ts carries physical milliseconds in its high 46 bits (tsoutil
convention), printed as a UTC timestamp.

Usage:
  python scripts/position_tool.py decode B64               # channel, ts, physical time
  python scripts/position_tool.py encode CHANNEL TS        # -> base64 position
  python scripts/position_tool.py decode-msgid B64         # Pulsar MessageIdData fields
  python scripts/position_tool.py encode-msgid LEDGER ENTRY [PARTITION [BATCH]]
  python scripts/position_tool.py list WORK_DIR            # per-channel latest

Driver-side tool: no Spark session; ``list`` reads a pipeline work
dir's committed positions from its state manifest
(``pipeline.committed_positions``).
"""

from __future__ import annotations

import base64
import datetime
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LOGICAL_BITS = 18


def _physical_iso(ts: int) -> str:
    ms = ts >> LOGICAL_BITS
    return (
        datetime.datetime.fromtimestamp(ms / 1000.0, tz=datetime.timezone.utc)
        .isoformat()
    )


def cmd_decode(b64: str) -> dict:
    raw = base64.b64decode(b64).decode("utf-8")
    channel, ts_s = raw.rsplit(":", 1)
    ts = int(ts_s)
    return {
        "channel": channel,
        "ts": ts,
        "physical_time": _physical_iso(ts),
        "logical": ts & ((1 << LOGICAL_BITS) - 1),
    }


def cmd_encode(channel: str, ts: str) -> dict:
    raw = f"{channel}:{int(ts)}".encode("utf-8")
    return {"position": base64.b64encode(raw).decode("ascii")}


def cmd_decode_msgid(b64: str) -> dict:
    from milvus_cdc_spark.sources.pulsar import decode_message_id

    return dict(decode_message_id(base64.b64decode(b64)))


def cmd_encode_msgid(*args: str) -> dict:
    from milvus_cdc_spark.sources.pulsar import encode_message_id

    nums = [int(a) for a in args]
    data = encode_message_id(*nums)
    return {"msgid": base64.b64encode(data).decode("ascii")}


def cmd_list(work_dir: str) -> list[dict]:
    from milvus_cdc_spark.streaming.pipeline import committed_positions

    return [
        {
            "vchannel": v,
            "position_ts": ts,
            "physical_time": _physical_iso(ts),
            "n_msgs": n,
        }
        for v, ts, n in committed_positions(work_dir)
    ]


def main() -> None:
    if len(sys.argv) < 3:
        print(__doc__)
        sys.exit(2)
    cmd, args = sys.argv[1], sys.argv[2:]
    fns = {
        "decode": cmd_decode,
        "encode": cmd_encode,
        "decode-msgid": cmd_decode_msgid,
        "encode-msgid": cmd_encode_msgid,
        "list": cmd_list,
    }
    if cmd not in fns:
        print(__doc__)
        sys.exit(2)
    out = fns[cmd](*args)
    if isinstance(out, list):
        for row in out:
            print(json.dumps(row))
    else:
        print(json.dumps(out))


if __name__ == "__main__":
    main()
