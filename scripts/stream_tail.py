"""Stream tail tool — the msg_stream.go analog (server/tool/
msg_stream.go: subscribe to a channel and print messages for
debugging). Batch form: show the LAST n ops per vchannel from an op-log
parquet dir or a file-broker topic directory of JSON lines, newest
first, with the hybrid ts rendered as physical UTC time.

Usage:
  python scripts/stream_tail.py OPLOG_PARQUET_DIR [--n=5] [--channel=CH]
  python scripts/stream_tail.py BROKER_TOPIC_DIR --json [--n=5] [--channel=CH]

Driver-side tool (DuckDB, no Spark session); output is one JSON line
per op — control-sized by construction (n per channel).
"""

from __future__ import annotations

import datetime
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LOGICAL_BITS = 18


def tail(path: str, n: int = 5, channel: str | None = None,
         json_lines: bool = False) -> list[dict]:
    import duckdb

    con = duckdb.connect()
    if json_lines:
        # newline-delimited JSON values, one per broker message;
        # part-* skips Spark's _SUCCESS marker and .crc files
        src = (
            f"SELECT vchannel, op_type, CAST(ts AS BIGINT) AS ts, "
            f"collection, CAST(pk AS BIGINT) AS pk "
            f"FROM read_json_auto('{path}/part-*', "
            f"format='newline_delimited')"
        )
    else:
        src = (
            f"SELECT vchannel, op_type, ts, collection, pk "
            f"FROM read_parquet('{path}/*.parquet')"
        )
    where = f"WHERE vchannel = '{channel}'" if channel else ""
    rows = con.execute(
        f"""
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY vchannel
                                       ORDER BY ts DESC) AS rn
          FROM ({src}) {where}
        ) WHERE rn <= {int(n)}
        ORDER BY vchannel, ts DESC
        """
    ).fetchall()
    out = []
    for vch, op, ts, coll, pk, _rn in rows:
        ms = int(ts) >> LOGICAL_BITS
        out.append(
            {
                "vchannel": vch,
                "op_type": op,
                "ts": int(ts),
                "physical_time": datetime.datetime.fromtimestamp(
                    ms / 1000.0, tz=datetime.timezone.utc
                ).isoformat(),
                "collection": coll,
                "pk": int(pk),
            }
        )
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = {a[2:].split("=", 1)[0]: (a.split("=", 1)[1] if "=" in a else True)
            for a in sys.argv[1:] if a.startswith("--")}
    if len(args) != 1:
        print(__doc__)
        sys.exit(2)
    for row in tail(
        args[0],
        n=int(opts.get("n", 5)),
        channel=opts.get("channel"),
        json_lines=bool(opts.get("json", False)),
    ):
        print(json.dumps(row))


if __name__ == "__main__":
    main()
