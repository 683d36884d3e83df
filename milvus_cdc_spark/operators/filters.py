"""Stateless predicates / projections (SURVEY §2.3 P1-P9).

Every one of these is a Catalyst-native filter or projection — they push
down to the parquet/Kafka scan and stay inside whole-stage codegen. The
interesting part is faithfully reproducing the reference's *semantics*:

- P1 msg-type whitelist (replicate_channel_manager.go:1442-1448)
- P2 collection/db name-pattern filter with '*' wildcard + exclusions
     (server/cdc_impl.go:1591-1663)
- P3 RBAC gate (core/util/msgpack.go:63-79)
- P7 system-field projection: FieldID < 100 hidden (etcd_op.go:658-661)
- P8 tombstone predicate (core/util/msgpack.go:30-34)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Insert-like DML: every op that advances a pk's liveness exactly like an
#: insert. The reference's channel writer has no Upsert case — Milvus splits
#: an Upsert into delete+insert upstream of replication
#: (replicate_channel_manager.go:1442-1447 whitelists Insert/Delete/Drop*
#: only) — but this engine also accepts the PRE-split wire form: an op-log
#: carrying literal 'upsert' rows (latest-write-wins per pk) and 'import'
#: (bulk load, ImportMsg) rows. This single tuple is THE liveness contract:
#: the P1 whitelist, the streaming apply path (pipeline.batch_to_state),
#: the batch replay (apply.replay_alive), and the consistency read
#: (consistency.read_at_levels) all share it, so a row forwarded by the
#: whitelist is never silently dropped by the state fold and a Strong read
#: always equals a full replay.
INSERT_LIKE = ("insert", "upsert", "import")


def insert_like(op_col: str = "op_type") -> Column:
    """The shared insert-liveness predicate (see INSERT_LIKE)."""
    return F.col(op_col).isin(*INSERT_LIKE)


#: P1: DML msg types forwarded inside the data stream.
DML_WHITELIST = INSERT_LIKE + ("delete", "drop_collection", "drop_partition")

#: P8: etcd tombstone magic bytes 0xE2 0x9B 0xBC ("⛼").
TOMBSTONE = b"\xe2\x9b\xbc"


def msg_type_whitelist(df: DataFrame, types: tuple[str, ...] = DML_WHITELIST) -> DataFrame:
    return df.filter(F.col("op_type").isin(*types))


#: Default database name (reference cdcreader.DefaultDatabase; bare
#: collection names normalize into it, cdc_impl.go:264).
DEFAULT_DB = "default"

#: Wildcard matching any db / any collection (collection_reader.go:43-47).
ALL = "*"


def full_name(name: str, db: str = DEFAULT_DB) -> str:
    """Normalize to the reference's full form ``db.collection``
    (util.GetFullCollectionName, core/util/string.go:198-200): a bare
    collection name lives in the default db; an already-full name is kept."""
    return name if "." in name else f"{db}.{name}"


def split_full_name(name: str) -> tuple[str, str]:
    """``db.collection`` → (db, collection); bare → (default, name)
    (util.GetCollectionNameFromFull, core/util/string.go:202-208)."""
    db, _, coll = full_name(name).partition(".")
    return db, coll


def match_collection_name(sample: str, target: str) -> tuple[bool, bool]:
    """Mirror of the reference's matchCollectionName (cdc_impl.go:320-326):
    returns (match, contain_any) where wildcards count ONLY on the sample
    side — ``match`` iff sample's db/collection each equal target's or are
    ``*``; ``contain_any`` iff sample has a wildcard part."""
    db1, c1 = split_full_name(sample)
    db2, c2 = split_full_name(target)
    match = (db1 == db2 or db1 == ALL) and (c1 == c2 or c1 == ALL)
    return match, (db1 == ALL or c1 == ALL)


def _name_pattern_pred(pattern: str, col: str, db_col: str) -> Column:
    db, coll = split_full_name(pattern)
    pred = F.lit(True) if db == ALL else (F.col(db_col) == db)
    if coll != ALL:
        pred = pred & (F.col(col) == coll)
    return pred


def collection_filter_predicate(
    include: list[str] | None,
    exclude: list[str] | None = None,
    col: str = "collection",
    db_col: str | None = None,
) -> Column:
    """P2: build the task's collection predicate. ``include`` of ``["*"]``
    (or None) means all; exclusions subtract (cdc_impl.go:320-326
    matchCollectionName, 1421-1422 lo.Without).

    With ``db_col`` set, patterns are full names ``db.collection`` with
    ``*`` wildcards on either part (bare names normalize to the default
    db) — the per-DB scoping of ``TaskInfo.DBCollections``
    (server/model/meta/task.go:67), with the reference's SHADOWING
    semantics (cdc_impl.go GetCollectionInfos:1607-1628): a db-wildcard
    pattern (``*.x`` / ``*.*``) is only the FALLBACK for dbs that have no
    explicit ``DBCollections`` entry — with ``{'db1': ['a'], '*': ['c1']}``
    the op ``db1.c1`` does NOT match, because db1's explicit entry shadows
    the ``*`` entry. Exclusions (concrete full names in practice — the
    duplicate guard's lo.Without output, cdc_impl.go:1618-1623,1651-1654)
    subtract only from wildcard-matched rows: an exact ``db.coll`` include
    is returned by the reference without ever consulting
    ``ExcludeCollections`` (GetMatchCollectionInfo:1644-1649 name-list
    loop has no exclude check)."""
    if db_col is None:
        if not include or ALL in include:
            pred = F.lit(True)
        else:
            pred = F.col(col).isin(*include)
        if exclude:
            pred = pred & ~F.col(col).isin(*exclude)
        return pred

    def any_match(patterns: list[str]) -> Column:
        preds = [_name_pattern_pred(p, col, db_col) for p in patterns]
        out = preds[0]
        for p in preds[1:]:
            out = out | p
        return out

    split = (
        [split_full_name(p) for p in include] if include else [(ALL, ALL)]
    )
    exact = [f"{d}.{c}" for d, c in split if d != ALL and c != ALL]
    db_scoped_all = [f"{d}.{c}" for d, c in split if d != ALL and c == ALL]
    db_wildcard = [f"{d}.{c}" for d, c in split if d == ALL]
    explicit_dbs = sorted({d for d, _ in split if d != ALL})

    wild_parts: list[Column] = []
    if db_scoped_all:
        wild_parts.append(any_match(db_scoped_all))
    if db_wildcard:
        w = any_match(db_wildcard)
        if explicit_dbs:  # shadowed by the dbs' own entries
            w = w & ~F.col(db_col).isin(*explicit_dbs)
        wild_parts.append(w)

    parts: list[Column] = []
    if exact:
        parts.append(any_match(exact))
    if wild_parts:
        wp = wild_parts[0]
        for w in wild_parts[1:]:
            wp = wp | w
        if exclude:
            wp = wp & ~any_match(exclude)
        parts.append(wp)
    if not parts:
        return F.lit(False)
    pred = parts[0]
    for p in parts[1:]:
        pred = pred | p
    return pred


#: The reference's RBAC op surface (channel_writer.go:126-141): credential,
#: role, user-role and privilege ops, plus the privilege-group trio.
RBAC_OP_TYPES = (
    "create_credential",
    "delete_credential",
    "update_credential",
    "create_role",
    "drop_role",
    "operate_user_role",
    "operate_privilege",
    "operate_privilege_v2",
    "create_privilege_group",
    "drop_privilege_group",
    "operate_privilege_group",
)


def rbac_gate(df: DataFrame, enable_user_role: bool, op_col: str = "op_type") -> DataFrame:
    """P3: user/role ops pass only when the task opted in
    (reference replicate option EnableUserRole; channel_writer.go:126-141)."""
    is_rbac = F.col(op_col).isin(*RBAC_OP_TYPES)
    return df.filter(~is_rbac | F.lit(enable_user_role))


def not_tombstone(df: DataFrame, value_col: str = "value") -> DataFrame:
    """P8: skip tombstoned metadata values."""
    return df.filter(F.col(value_col) != F.lit(TOMBSTONE))
