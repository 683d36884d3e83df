"""P4/P5: db/collection name remapping with db-level wildcards.

Reference: ``ChannelWriter.mapDBAndCollectionName``
(core/writer/channel_writer.go:1208-1226) resolves each op's (db,
collection) through the task's name mappings
(server/model/common.go:83-87): an exact ``src_db.src_coll`` rule rewrites
both parts; a db-level rule (``CollectionMapping`` empty → stored as
``src_db.* → dst_db.*``, cdc_impl.go:301) rewrites the db and keeps the
collection. Unmapped names pass through unchanged.

The reference walks a sync.Map and stops at the first hit, so exact-vs-
wildcard precedence is iteration-order-dependent there; here precedence is
deterministic: exact > db-wildcard > identity.

Spark shape: the mapping is control-plane-sized (a handful of rules per
task), so both rule classes become *broadcast* left joins against the op
stream — no shuffle of the big side, fully whole-stage-codegen, safe at
100 TB. ``coalesce`` keeps unmapped names, same trick as the P4 suite
query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from milvus_cdc_spark.operators.filters import ALL, DEFAULT_DB

#: Row shape of a mapping table: source/target full-name parts.
MAPPING_SCHEMA = "src_db string, src_coll string, dst_db string, dst_coll string"


def name_mapping_df(spark: SparkSession, mappings: list[dict]) -> DataFrame:
    """Build the mapping dimension from reference-shaped ``NameMapping``
    entries: ``{"source_db": ..., "target_db": ..., "collections":
    {src: dst, ...}}``; an empty/absent ``collections`` dict is the
    db-level wildcard rule (GetCollectionMappingFromReq,
    cdc_impl.go:294-305)."""
    rows = []
    for m in mappings:
        src_db = m.get("source_db", DEFAULT_DB)
        dst_db = m.get("target_db", DEFAULT_DB)
        colls = m.get("collections") or {}
        if not colls:
            rows.append((src_db, ALL, dst_db, ALL))
        for s, t in colls.items():
            rows.append((src_db, s, dst_db, t))
    # Arrow-backed local dim (catalog.local_frame): the mapping is
    # broadcast-joined onto every microbatch, and a pickled-RDD backing
    # pays a Python-worker roundtrip per action (r13 measurement)
    from milvus_cdc_spark.catalog import local_frame

    return local_frame(spark, rows, MAPPING_SCHEMA)


def map_db_and_collection(
    ops: DataFrame,
    mapping: DataFrame,
    db_col: str = "db",
    col: str = "collection",
    target_db_col: str = "target_db",
    target_col: str = "target_collection",
) -> DataFrame:
    """Apply the mapping to an op stream: adds ``target_db`` /
    ``target_collection`` columns; source columns are kept untouched.

    Two broadcast left joins — one for exact rules, one for db-wildcard
    rules — then ``coalesce(exact, wildcard, original)``. Both joins
    broadcast the (tiny) mapping side only.
    """
    exact = mapping.filter(F.col("src_coll") != ALL).select(
        F.col("src_db").alias("_e_sdb"),
        F.col("src_coll").alias("_e_sc"),
        F.col("dst_db").alias("_e_tdb"),
        F.col("dst_coll").alias("_e_tc"),
    )
    dbwild = mapping.filter(F.col("src_coll") == ALL).select(
        F.col("src_db").alias("_w_sdb"), F.col("dst_db").alias("_w_tdb")
    )
    out = (
        ops.join(
            F.broadcast(exact),
            (F.col(db_col) == F.col("_e_sdb")) & (F.col(col) == F.col("_e_sc")),
            "left",
        )
        .join(F.broadcast(dbwild), F.col(db_col) == F.col("_w_sdb"), "left")
    )
    return (
        out.withColumn(target_db_col, F.coalesce("_e_tdb", "_w_tdb", F.col(db_col)))
        .withColumn(target_col, F.coalesce("_e_tc", F.col(col)))
        .drop("_e_sdb", "_e_sc", "_e_tdb", "_e_tc", "_w_sdb", "_w_tdb")
    )
