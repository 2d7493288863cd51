"""Relational operators (SURVEY.md §2.3-2.5, §2.10).

Generic DataFrame->DataFrame combinators; plans/ binds them to the testdata.
Every join here declares its *semantics*; Catalyst picks the physical strategy
(broadcast vs shuffled hash vs sort-merge) and AQE re-picks at runtime.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def join_broadcast(big: DataFrame, small: DataFrame, on) -> DataFrame:
    """Broadcast (map-side) hash inner join.

    Reference: driver ``collect`` + ``sc.broadcast`` + closure dict lookup
    (a3_p1.py:31-37, a3_p2.py:69-73). Here the hint keeps the big side
    shuffle-free; at 100 TB this is the difference between a full exchange of
    the fact table and none.
    """
    return big.join(F.broadcast(small), on, "inner")


def join_auto(big: DataFrame, small: DataFrame, on) -> DataFrame:
    """Inner equi-join with NO strategy hint: Catalyst costs it at plan time
    and AQE re-picks at runtime (promoting to broadcast when the built side is
    under ``spark.sql.adaptive.autoBroadcastJoinThreshold``, demoting when
    not).

    Use this — not ``join_broadcast`` — whenever the smaller side SCALES WITH
    THE DATA (customer, supplier, a HAVING-qualifying key set, per-item
    stats): an unconditional ``F.broadcast`` hint pins the strategy, disables
    AQE's size-based demotion, and OOMs executors at 100 TB. Reserve
    ``join_broadcast`` for provably-bounded relations (nation, region, a
    top-K list, trigram profiles). At test SF the physical plan is identical
    (AQE broadcasts the small side anyway); at scale this one degrades
    gracefully to shuffled hash / sort-merge instead of failing.
    """
    return big.join(small, on, "inner")


def join_anti(r: DataFrame, s: DataFrame, on) -> DataFrame:
    """Set difference R-S as an anti join (MRSystemSimulator2020.py:199-212).

    The reference tags each element with its set name and keeps elements whose
    only tag is 'R' — a shuffle of both full sets. ``left_anti`` gives the
    same result with map-side short-circuiting once the right side broadcasts.
    """
    return r.join(s, on, "left_anti")


def join_semi(r: DataFrame, keys: DataFrame, on) -> DataFrame:
    """Membership filter as a semi join (sampler_v02.py:47-49, a3_p2.py:39)."""
    return r.join(keys, on, "left_semi")


def join_asof(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: Sequence[str],
) -> DataFrame:
    """As-of join: for every left row, attach the payload of the most recent
    right row with ``right_ts <= left_ts`` for the same key (inner semantics:
    left rows with no prior right row are dropped).

    Spark has no native as-of join; the naive formulation — an inequality
    join + per-left-row max — explodes to O(|L|·|R|) pairs per key. This
    implementation is the scalable merge: union both sides tagged with a
    side marker, ONE window over (key, ts, side) carrying the last non-null
    payload forward (`last(..., ignorenulls=True)`), then keep the left rows.
    Cost: one shuffle of |L|+|R| rows — the same exchange a plain join would
    need — regardless of key skew or time density.

    Right rows must be unique per (key, right_ts); pre-dedupe with
    ``last_per_key`` otherwise (ties would make the result depend on row
    order). At equal timestamps the right row sorts first (side 0 < 1), so a
    right row AT the left timestamp is visible — matching DuckDB's
    ``ASOF JOIN ... ON l.ts >= r.ts`` semantics, which the oracle uses.
    """
    lcols = [c for c in left.columns]
    l_tagged = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).cast("long").alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"_p_{c}") for c in payload_cols],
    )
    r_tagged = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).cast("long").alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lcols],
        *[F.col(c).alias(f"_p_{c}") for c in payload_cols],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_tagged.unionAll(r_tagged).select(
        "_side",
        *lcols,
        *[
            F.last(f"_p_{c}", ignorenulls=True).over(w).alias(c)
            for c in payload_cols
        ],
    )
    out = filled.filter(F.col("_side") == 1).drop("_side")
    # inner semantics: require a matched payload (all-null -> no prior row)
    return out.filter(F.col(payload_cols[0]).isNotNull())


def join_salted(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_source: Column,
    n_salt: int = 8,
) -> DataFrame:
    """Skew-mitigated inner equi-join: identical semantics to
    ``big.join(small, key)``, but hot keys are spread over ``n_salt``
    shuffle partitions.

    The big side gets a deterministic salt derived from ``salt_source`` (any
    per-row column NOT correlated with the key — an id, a timestamp); the
    small side is replicated n_salt times. The join key becomes (key, salt),
    so a key holding 40% of the rows lands on n_salt reducers instead of one.
    Cost: small side grows n_salt x (it must still be the *small* side).

    When to reach for this over AQE's skew-join splitting: AQE splits skewed
    partitions of a sort-merge join but cannot split a skewed *aggregation*
    or a broadcast-ineligible key with billions of identical values; salting
    handles both and is deterministic at plan time. Semantics-preserving:
    every big row keeps exactly the matching small rows for its (key, salt).
    """
    salted_big = big.withColumn("_salt", F.pmod(F.hash(salt_source), F.lit(n_salt)))
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return salted_big.join(salted_small, [key, "_salt"], "inner").drop("_salt")


def topk(df: DataFrame, order_cols: Sequence[Column], k: int) -> DataFrame:
    """Top-k without a global sort (a3_p1.py:31,101-102 ``takeOrdered``).

    Catalyst compiles orderBy+limit to TakeOrderedAndProject: per-partition
    heaps merged at the driver — the same algorithm the reference hand-rolled,
    minus the hand-rolling. Callers must pass a *total* order (tiebreakers!)
    for deterministic results.
    """
    return df.orderBy(*order_cols).limit(k)


def topk_per_group(
    df: DataFrame, partition_cols: Sequence[str], order_cols: Sequence[Column], k: int
) -> DataFrame:
    """Top-k within each group via a ranking window (engine extension; the
    reference only ever takes global top-k)."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def last_per_key(
    df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[Column]
) -> DataFrame:
    """Most-recent-row-per-key dedupe.

    The reference keeps *last-seen* (``reduceByKey(lambda a,b: b)``,
    a3_p2.py:22) though the spec says most-recent; the engine implements the
    spec'd semantics with an explicit total order (SURVEY.md §7.4 wart #4).
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_snapshot(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental snapshot merge (the MERGE INTO shape): ONE full outer join
    of two (user_id, n_events, first_ts, last_ts) stats frames — counts add,
    first/last coalesce-min/max, a key on either side survives. Generic over
    any additive-stats snapshot; plans/warehouseq.py binds it to events."""
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(d, F.col("b.user_id") == F.col("d.user_id"), "full_outer")
    bcol = lambda c: F.col(f"b.{c}")  # noqa: E731
    dcol = lambda c: F.col(f"d.{c}")  # noqa: E731
    return merged.select(
        F.coalesce(bcol("user_id"), dcol("user_id")).alias("user_id"),
        (
            F.coalesce(bcol("n_events"), F.lit(0))
            + F.coalesce(dcol("n_events"), F.lit(0))
        ).alias("n_events"),
        F.least(
            F.coalesce(bcol("first_ts"), dcol("first_ts")),
            F.coalesce(dcol("first_ts"), bcol("first_ts")),
        ).alias("first_ts"),
        F.greatest(
            F.coalesce(bcol("last_ts"), dcol("last_ts")),
            F.coalesce(dcol("last_ts"), bcol("last_ts")),
        ).alias("last_ts"),
    )
