"""Join operators — Spark-first re-expressions of the reference's lookup joins.

The reference has no join machinery; all its joins are map probes + RPC
fallbacks (SURVEY §2.4). Here each becomes a declarative DataFrame join so
Catalyst picks broadcast vs sort-merge physically:

- J1-J4  dimension joins (stream × catalog)     → broadcast equi-join
- J5     channel zip-by-rank                     → row_number + equi-join
- J7     as-of lifetime join                     → range join
- J8     data-diff reconciliation                → full-outer + null flags

Scale notes: dimension tables (catalog metadata) are tiny → ``broadcast()``
hint keeps them shuffle-free. Rank-zip shuffles both sides once on the
partition key. The range join is the one to watch at 100 TB: Spark executes
inequality joins as broadcast-nested-loop when one side is small — keep the
interval side (object lifetimes, i.e. the catalog) small and broadcast it,
which is exactly the reference's shape (lifetimes = per-collection metadata,
events = the big stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rank_zip_join(
    left: DataFrame,
    right: DataFrame,
    partition_key: str,
    left_order: str,
    right_order: str,
) -> DataFrame:
    """J5/W4: the reference aligns source and target vchannel lists by sorting
    both and zipping positionally (replicate_channel_manager.go:460-477).
    DataFrame form: row_number() per side over the partition key, equi-join on
    (partition_key, rank)."""
    lw = Window.partitionBy(partition_key).orderBy(left_order)
    rw = Window.partitionBy(partition_key).orderBy(right_order)
    lr = left.withColumn("rank", F.row_number().over(lw))
    rr = right.withColumn("rank", F.row_number().over(rw))
    return lr.join(rr, [partition_key, "rank"], "inner")


def lifetime_asof_join(
    events: DataFrame,
    lifetimes: DataFrame,
    key: str,
    ts_col: str = "ts",
    create_col: str = "create_ts",
    drop_col: str = "drop_ts",
) -> DataFrame:
    """J7/P9: op applies only if the object was alive at the op's timestamp
    (channel_writer.go:1238-1288 getObjState). Expressed as an interval join:
    ts ∈ [create_ts, drop_ts). ``lifetimes`` is catalog-sized → broadcast, so
    the physical plan is a broadcast join with a range predicate, not a
    cartesian blowup."""
    cond = (
        (events[key] == lifetimes[key])
        & (events[ts_col] >= lifetimes[create_col])
        & (events[ts_col] < F.coalesce(lifetimes[drop_col], F.lit(2**62)))
    )
    return events.alias("e").join(F.broadcast(lifetimes).alias("l"), cond, "inner")


def asof_union_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    fact_ts: str,
    dim_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of join for DATA-SIZED versioned dimensions (SCD2 enrichment):
    each fact row picks the dimension version with the latest
    ``dim_ts`` <= its ``fact_ts``, via the union-sort trick — tag both
    frames, union, ONE key-partitioned window ordered by (time,
    dim-first), carry the last non-null dimension values forward, keep
    the fact rows.

    Why not a join: the naive formulation is a range join (theta) or an
    argmax-per-fact over fact x versions — both explode or nest-loop.
    ``lifetime_asof_join`` (J7) broadcasts because drop-state dims are
    control-sized; THIS operator is for dimensions that grow with the
    data (per-user tier histories, per-collection schema versions),
    where broadcast is impossible — one shuffle of facts+versions on
    the key, each task scanning complete keys in time order. The same
    pattern at any scale; skew bounded by any single key's row count.

    Dimension rows at exactly a fact's timestamp apply to that fact
    (dim sorts first on ties). Facts before the first version carry
    NULL values. ``value_cols`` must not collide with fact columns.

    The version's values travel as ONE struct through the window, so a
    fact atomically inherits a single version: a version whose value
    column is legitimately NULL yields NULL (not a stale value carried
    from an older version), and with multiple value_cols a fact can
    never mix attributes from different versions.
    """
    vals = F.struct(*[F.col(c) for c in value_cols]).alias("_vals")
    vals_t = dim.select(vals).schema["_vals"].dataType
    d = dim.select(
        F.col(key),
        F.col(dim_ts).alias("_t"),
        F.lit(1).alias("_is_dim"),
        vals,
        *[
            F.lit(None).cast(facts.schema[c].dataType).alias(c)
            for c in facts.columns
            if c != key
        ],
    )
    f = facts.select(
        F.col(key),
        F.col(fact_ts).alias("_t"),
        F.lit(0).alias("_is_dim"),
        F.lit(None).cast(vals_t).alias("_vals"),
        *[F.col(c) for c in facts.columns if c != key],
    )
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_t").asc(), F.col("_is_dim").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = d.unionByName(f).withColumn(
        "_asof", F.last(F.col("_vals"), ignorenulls=True).over(w)
    )
    return carried.filter(F.col("_is_dim") == 0).select(
        *[c for c in carried.columns if c not in ("_is_dim", "_vals", "_asof")],
        *[F.col("_asof")[c].alias(c) for c in value_cols],
    )


def diff_reconcile(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """J8: offline reconciliation of two stores — full outer join on PK with
    presence flags (server/tool/data_diff/main.go:104-158 computes A∖B, B∖A).

    Returns one row per key present in either side, with ``in_left``/
    ``in_right`` flags. At scale this is a sort-merge join on the pk —
    unavoidable big-big shuffle, but each side is pre-aggregated to distinct
    keys first so the shuffle is minimal."""
    lk = left.select(F.col(key)).distinct().withColumn("in_left", F.lit(True))
    rk = right.select(F.col(key)).distinct().withColumn("in_right", F.lit(True))
    return (
        lk.join(rk, key, "full_outer")
        .select(
            key,
            F.coalesce("in_left", F.lit(False)).alias("in_left"),
            F.coalesce("in_right", F.lit(False)).alias("in_right"),
        )
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join: spread a hot key over ``n_salts`` shuffle
    partitions.

    The big (skewed) side gets a deterministic salt derived from a
    non-key column hash; the small side is exploded n_salts× so every
    (key, salt) combination exists. Result equals a plain equi-join on
    ``key`` — the salt only changes the shuffle distribution, letting a
    key that holds 30% of the rows use 8 reducers instead of 1.

    AQE's skew-join handles sort-merge skew automatically at runtime;
    explicit salting remains the tool for aggregations-after-join and
    for engines/settings where AQE splitting can't kick in (e.g.
    broadcast-ineligible stream-static joins).
    """
    salt_expr = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    b = big.withColumn("_salt", salt_expr.cast("int"))
    s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return b.join(s, [key, "_salt"], how).drop("_salt")
