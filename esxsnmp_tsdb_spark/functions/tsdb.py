"""Core time-series transforms — the reference's query + Aggregator
semantics (SURVEY.md §2.1/§2.2) as composable DataFrame functions.

Reference parity notes (anchors are † public-repo hints, SURVEY.md §0):

- ``TSDBVar.select(begin, end)`` † — slot-addressed range scan that
  materializes missing slots as invalid rows → :func:`range_scan`,
  :func:`time_spine`.
- ``TSDBVar.insert`` † — positional overwrite, last-write-wins per slot →
  :func:`slot_dedup`.
- ``tsdb/aggregator.py · Aggregator.update`` † — delta/rate with counter
  wrap + heartbeat invalidation, RRD-style consolidation (average, delta,
  min, max, last) and proportional allocation of a delta across bucket
  boundaries → :func:`deltas`, :func:`wrap_correct`, :func:`downsample`,
  :func:`bin_split`; the consolidation state itself is one mergeable
  partial (:func:`consolidation_partial`, :func:`merge_partial`,
  :func:`finish_partial`, :data:`CF_COLUMN`).

Every function is a pure ``DataFrame -> DataFrame`` transform over the long
"obs" layout (SURVEY.md §1.2)::

    obs(path: string, tse: bigint epoch-UTC seconds, value: double,
        flags: int bitmask, event_id: bigint ingest tiebreak)

Scale posture: all per-series ops are windows over ``partitionBy(path)`` —
one shuffle on ``path`` (hash-partitioned), then every downstream window
and bucketed group-by reuses that clustering.  Bucket group-bys aggregate
map-side first (partial aggregation is automatic).  Nothing here collects
to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Reference row flags (tsdb/row.py · ROW_VALID †).
ROW_VALID = 0x1
ROW_HIDDEN = 0x2

# Counter wrap moduli (tsdb/row.py · Counter32/Counter64 †).
COUNTER32_MAX = 2**32
COUNTER64_MAX = 2**64


def series_window(order_tiebreak: str = "event_id") -> Window:
    """Per-series ordering used by every consecutive-row op."""
    return Window.partitionBy("path").orderBy("tse", order_tiebreak)


def obs_from_events(events: DataFrame) -> DataFrame:
    """Map the driver `events` fixture to the obs layout (SURVEY.md §1.2).

    Series path ≙ ``user_id/event_type`` (TSDBSet hierarchy flattened into a
    key column); flags are synthesized deterministically (the fixture has no
    invalid rows; every 10th event_id plays an invalid/ROW_HIDDEN row so the
    flag-mask ops have something to filter).
    """
    return events.select(
        F.concat_ws("/", "user_id", "event_type").alias("path"),
        F.unix_timestamp("ts").alias("tse"),
        F.col("value").cast("double").alias("value"),
        F.when(F.col("event_id") % 10 == 0, F.lit(0))
        .otherwise(F.lit(ROW_VALID))
        .cast("int")
        .alias("flags"),
        F.col("event_id"),
    )


def slot_of(tse: Column, step: int) -> Column:
    """Slot quantization: ``slot = ts - ts % step`` (reference slot math †)."""
    return (tse - tse % F.lit(step)).cast("bigint")


def valid_only(obs: DataFrame) -> DataFrame:
    """Drop rows without ROW_VALID — ``TSDBVar.select(flags=...)`` †."""
    return obs.filter(F.col("flags").bitwiseAND(F.lit(ROW_VALID)) != 0)


def range_scan(obs: DataFrame, begin: int, end: int) -> DataFrame:
    """``TSDBVar.select(begin, end)`` † — rows with begin <= tse < end.

    At scale the storage layer partitions by date(slot); this filter prunes
    those partitions exactly like the reference's YYYYMMDD chunk mapper.
    """
    return obs.filter((F.col("tse") >= begin) & (F.col("tse") < end))


def slot_dedup(obs: DataFrame, step: int) -> DataFrame:
    """Last-write-wins per (path, slot) — ``TSDBVar.insert`` overwrite †.

    The winner is the latest (tse, event_id) within the slot; event_id is
    the ingest-order tiebreak (unique in the fixtures → deterministic).
    """
    w = Window.partitionBy("path", "slot").orderBy(
        F.col("tse").desc(), F.col("event_id").desc()
    )
    return (
        obs.withColumn("slot", slot_of(F.col("tse"), step))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def deltas(obs: DataFrame, value_col: str = "value") -> DataFrame:
    """Consecutive-row difference + time gap per series (Aggregator.update †).

    Adds ``delta`` (value - previous value) and ``dt`` (seconds since the
    previous sample); both NULL on each series' first row.
    """
    w = series_window()
    return obs.withColumn(
        "delta", F.col(value_col) - F.lag(value_col).over(w)
    ).withColumn("dt", (F.col("tse") - F.lag("tse").over(w)).cast("bigint"))


def wrap_correct(delta: Column, modulus: int) -> Column:
    """Counter wrap correction (Aggregator.update wrap branch †):
    a negative delta means the counter wrapped → add the modulus.

    For Counter64 callers must pass a DecimalType delta — double loses
    precision above 2**53, and the 2⁶⁴ modulus itself exceeds the JVM long,
    so it is lifted to a Decimal literal (SURVEY.md §7 hard parts).
    """
    if modulus > 2**63 - 1:
        from decimal import Decimal

        mod = F.lit(Decimal(modulus))
    else:
        mod = F.lit(modulus)
    return F.when(delta < 0, delta + mod).otherwise(delta)


def heartbeat_invalidate(rate: Column, dt: Column, heartbeat: int) -> Column:
    """NULL out rates across gaps longer than HEARTBEAT — the reference
    refuses to interpolate across outages (Aggregator heartbeat check †).
    Gap == heartbeat is still valid; only strictly-greater invalidates.
    """
    return F.when(dt > heartbeat, F.lit(None)).otherwise(rate)


def counter_rate(
    obs: DataFrame,
    counter_col: str,
    modulus: int = COUNTER32_MAX,
    heartbeat: int | None = None,
) -> DataFrame:
    """The canonical SNMP counter→rate pipeline (Aggregator.update †):
    delta → wrap correction → per-second rate → heartbeat invalidation.

    Counter64: a modulus above the JVM long (2⁶³−1) lifts the WHOLE
    pipeline to DecimalType(38,0) — delta and wrapped_delta stay
    digit-exact (a 2⁶⁴-adjacent value is not representable in float64,
    so a double round-trip anywhere would corrupt the count), and the
    rate is decimal division (scale ≥ 6), never a float64 cast.
    Property-tested digit-exact against Python Decimal on staged 2⁶⁴
    wraps (tests/test_properties.py).

    Two samples in the same second (dt = 0) rate NULL on both paths
    (``try_divide``; plain division raises DIVIDE_BY_ZERO under ANSI).
    """
    if modulus > 2**63 - 1:
        obs = obs.withColumn(
            counter_col, F.col(counter_col).cast("decimal(38,0)")
        )
    d = deltas(obs, counter_col)
    corrected = wrap_correct(F.col("delta"), modulus)
    rate = F.try_divide(corrected, F.col("dt"))
    if heartbeat is not None:
        rate = heartbeat_invalidate(rate, F.col("dt"), heartbeat)
        corrected = heartbeat_invalidate(corrected, F.col("dt"), heartbeat)
    return d.withColumn("wrapped_delta", corrected).withColumn("rate", rate)


def delta_consolidate(
    obs: DataFrame, counter_col: str, modulus: int, step: int
) -> DataFrame:
    """`delta` consolidation over wrap-corrected per-sample deltas: total
    change per (path, slot), each delta attributed to the bucket of its
    current sample (Aggregator delta CF †; the proportional variant is
    bin_split).

    Counter64-safe end to end: with a 2⁶⁴ modulus the counter is lifted
    to DecimalType(38,0) by the same rule as :func:`counter_rate`, and
    ``sum`` over decimals is exact — the bucket total never transits a
    double."""
    if modulus > 2**63 - 1:
        obs = obs.withColumn(
            counter_col, F.col(counter_col).cast("decimal(38,0)")
        )
    d = deltas(obs, counter_col)
    return (
        d.filter(F.col("delta").isNotNull())
        .withColumn("wd", wrap_correct(F.col("delta"), modulus))
        .groupBy("path", slot_of(F.col("tse"), step).alias("slot"))
        .agg(F.sum("wd").alias("delta_total"))
    )


# The consolidation functions a request may name (``cf=``) and the
# finished column that answers each — the reference's Aggregate row
# (average, delta, min, max, last).
CF_COLUMN = {
    "average": "average",
    "delta": "total",
    "min": "vmin",
    "max": "vmax",
    "last": "last",
}


def consolidation_partial(
    obs: DataFrame, step: int, value_col: str = "value", by: tuple[str, ...] = ()
) -> DataFrame:
    """The one mergeable RRD consolidation state, per (path, slot, *by)
    at ``step``: ``sv`` (Σ value), ``n`` (non-NULL values), ``vmin``,
    ``vmax`` and ``_last = max(struct(tse, event_id, value))``.

    A NULL value is an unknown sample: sum, min, max and ``n`` skip it,
    while ``_last`` still holds the latest row's value, NULL or not.
    Every field merges by sum, min or max, so partials combine in any
    order and grouping (:func:`merge_partial`); the ladder, its stored
    levels, their streaming upkeep and the hot-path salting all hold
    this state and nothing else."""
    v = F.col(value_col)
    slot = slot_of(F.col("tse"), step).alias("slot")
    return obs.groupBy("path", slot, *by).agg(
        F.sum(v).alias("sv"),
        F.count(v).alias("n"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
        F.max(F.struct("tse", "event_id", v.alias("value"))).alias("_last"),
    )


def merge_partial(
    partials: DataFrame, step: int, by: tuple[str, ...] = ()
) -> DataFrame:
    """Merge partials to ``step`` per (path, slot, *by): the same step
    folds new partials into stored ones, a coarser step cascades a level
    from the next finer one (``update_all_aggregates`` †)."""
    return partials.groupBy(
        "path", slot_of(F.col("slot"), step).alias("slot"), *by
    ).agg(
        F.sum("sv").alias("sv"),
        F.sum("n").alias("n"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.max("_last").alias("_last"),
    )


def finish_partial(partials: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """Partials → ``(path, slot, *by, average, total, vmin, vmax, last,
    n)``.  ``average`` is ``try_divide(sv, n)``: NULL for a slot of NULL
    values (n = 0), where a plain divide raises under ANSI."""
    return partials.select(
        "path",
        "slot",
        *by,
        F.try_divide(F.col("sv"), F.col("n")).alias("average"),
        F.col("sv").alias("total"),
        "vmin",
        "vmax",
        F.col("_last.value").alias("last"),
        "n",
    )


def downsample(
    obs: DataFrame,
    step: int,
    value_col: str = "value",
    hot_paths: tuple[str, ...] = (),
    n_salts: int = 16,
) -> DataFrame:
    """RRD consolidation to a coarser step (Aggregator base-agg path †):
    :func:`consolidation_partial` then :func:`finish_partial` — all five
    consolidation functions (average, delta-as-sum, min, max, last) plus
    the non-NULL count ``n``.  ``last`` is the value of the latest
    (tse, event_id) row in the bucket, deterministic via the ingest
    tiebreak.

    ``hot_paths`` is the skew opt-in (SURVEY.md §4 'salting recipe for
    hot series'): the NAMED hot series take their partials on a salted
    key (path, slot, salt), which bounds any task at ~1/n_salts of the
    hot series' slot, and merge the ≤ n_salts partials per slot; every
    other series takes the direct single-shuffle path.  The partial is
    mergeable, so the salted result is IDENTICAL to the direct one
    (tests/test_tsdb_functions.py asserts equality and the two-phase
    plan)."""
    if not hot_paths:
        return finish_partial(consolidation_partial(obs, step, value_col))
    hot = F.col("path").isin(list(hot_paths))
    # Deterministic salt (hash of the ingest key, not rand()): results
    # stay reproducible and oracle-checkable.
    salted = consolidation_partial(
        obs.filter(hot).withColumn(
            "_salt", F.pmod(F.xxhash64("tse", "event_id"), F.lit(n_salts))
        ),
        step,
        value_col,
        by=("_salt",),
    )
    cold = consolidation_partial(obs.filter(~hot), step, value_col)
    return finish_partial(cold.unionByName(merge_partial(salted, step)))


def time_spine(
    obs: DataFrame, begin: int, end: int, step: int, path_col: str = "path"
) -> DataFrame:
    """Dense slot grid per series — ``TSDBVar.select`` materializes slots
    never written as invalid rows † (missing data is present-but-flagged).

    Returns one row per (path, slot) for every slot in [begin, end), with
    ``average``/``n`` from the observed rows and ``valid`` false for empty
    slots.  The spine is built with ``sequence`` + ``explode`` (JVM-side,
    no driver loop).  Join strategy is MEASURED, not promised
    (docs/SPINE_r10.json + docs/PLANS.md "ts_time_spine"): AQE broadcasts
    the observed day-window aggregate at 1×/10× the fixture's series axis
    and demotes to the co-partitioned (path, slot) SortMergeJoin at 100×,
    with wire volume linear in grid size past the flip — no OOM cliff.
    """
    paths = obs.select(path_col).distinct()
    grid = paths.select(
        F.col(path_col).alias("path"),
        F.explode(
            F.sequence(
                F.lit(begin).cast("bigint"),
                F.lit(end - 1).cast("bigint"),
                F.lit(step).cast("bigint"),
            )
        ).alias("slot"),
    )
    observed = (
        obs.filter((F.col("tse") >= begin) & (F.col("tse") < end))
        .withColumn("slot", slot_of(F.col("tse"), step))
        .groupBy("path", "slot")
        .agg(F.avg("value").alias("average"), F.count(F.lit(1)).alias("n"))
    )
    return (
        grid.join(observed, ["path", "slot"], "left")
        .withColumn("valid", F.col("n").isNotNull())
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
    )


def bin_split(
    deltas_df: DataFrame, bucket: int, delta_col: str = "delta",
    redistribute: bool = True,
) -> DataFrame:
    """Proportional allocation of a delta across bucket boundaries
    (Aggregator.update slot-boundary logic †): a delta observed over
    (prev_tse, tse] that spans N buckets contributes to each bucket in
    proportion to the time overlap.

    Input must carry ``delta`` and ``dt`` (see :func:`deltas`).  The
    interval is exploded into its covered buckets with ``sequence`` —
    JVM-side, one row per covered bucket, no Python in the loop.

    ``redistribute=False`` skips the pre-explode fan-out so an input
    that is already usefully partitioned (the bucketed obs layout) keeps
    its zero-exchange plan; parallelism is then the input's own.
    """
    from esxsnmp_tsdb_spark.session import fan_out

    df = deltas_df.filter(F.col(delta_col).isNotNull() & (F.col("dt") > 0))
    # The explode below multiplies rows ~(gap/bucket)×; redistribute first
    # so the multiplication runs wide (see session.fan_out).
    df = df.withColumn("t0", F.col("tse") - F.col("dt"))
    # Prune to the five columns the allocation needs BEFORE the explode:
    # Catalyst does not push the projection below Generate here, so input
    # columns the window needed (counter, event_id) would otherwise ride
    # every exploded row (~50× for the hourly split; measured ~15% of the
    # op at 10× series).
    df = df.select("path", "tse", "t0", delta_col, "dt")
    if redistribute:
        df = fan_out(df)
    df = df.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                slot_of(F.col("t0"), bucket), slot_of(F.col("tse") - 1, bucket), F.lit(bucket)
            )
        ),
    )
    overlap = F.least(F.col("tse"), F.col("bucket") + bucket) - F.greatest(
        F.col("t0"), F.col("bucket")
    )
    return (
        df.withColumn("overlap", overlap.cast("double"))
        .withColumn("alloc", F.col(delta_col) * F.col("overlap") / F.col("dt"))
        .groupBy("path", "bucket")
        .agg(F.sum("alloc").alias("delta_alloc"))
    )
