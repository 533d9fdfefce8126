"""ES EQL (Event Query Language) sequence matching [public: ES EQL docs —
`sequence by <key> with maxspan=<t> [step1] [step2] (until [u])`] plus the
event-analytics family built on the same machinery (sessionization, funnel
conversion, cohort retention).

Scale shape shared by everything here: step predicates prune the scan first
(filter-pushdown), then ONE window partitioned by the join key carries the
running per-key state ("sequence registers") — per-key state, never a
self-join, never a global sort. At 100 TB this is the textbook
funnel/correlation plan: shuffle once on the key, linear scan within each
key's ordered partition. Determinism: windows order by (ts, event_id) so
same-timestamp events tie-break stably on both the Spark and oracle sides,
and the registers are (ts, id) STRUCTS so the tie-break survives into the
state comparisons, not just the row order.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _us(c: Column) -> Column:
    """Exact microsecond epoch (NTZ → timestamp → unix_micros; the session
    pins UTC). Per-timestamp second-truncation would disagree with a
    fractional-diff floor on sub-second gaps — always diff in micros."""
    return F.unix_micros(c.cast("timestamp"))


def _sequence_annotated(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str,
    steps: list[Column],
    maxspan_seconds: int,
    id_col: str,
    until: Column | None = None,
    missing: dict[int, Column] | None = None,
) -> DataFrame:
    """The k-step sequence frame with its registers exposed (generalizes the
    round-3 2/3-step forms by looping the stacked-register windows — VERDICT
    r03 #3). Columns added per level i:

      _is{i}      this row satisfies step i's predicate
      _done{i}    (i ≥ 2) ts when this row COMPLETES the 1..i chain
      _l{i}       (2 ≤ i < k) running latest completed-i register (ts,id)
      _t0_{i}     (2 ≤ i < k) that chain's ORIGINAL step-1 anchor ts
      _gap_us     (on _done{k} rows) micros to the level-(k-1) register

    All k-1 stacked windows share ONE partitioning (composite key) and ONE
    ordering — a single shuffle; each level adds one or two running-max
    registers of per-key state, never a self-join. maxspan bounds the WHOLE
    sequence first-to-last (ES EQL): every level checks its distance to the
    carried step-1 anchor. Using the most recent completed chain per level
    is sound by induction: level-1 registers are a running max, so the
    anchors carried into each completed level-i chain are nondecreasing in
    (ts, id) order — the latest register is always the most permissive for
    the whole-span check, and its two running maxes (_l{i}, _t0_{i}) stay
    mutually consistent.

    `until` (EQL terminator, valid at ANY k): an until-event expires all
    pending state, so a level-i event only consumes a level-(i-1) register
    with no until-event between them — one extra running-max register, the
    aliveness check on (ts, id) structs at every consumption point.

    `missing` (EQL missing-event steps `![...]` [public: ES EQL missing
    events]): missing[i] (2 ≤ i ≤ k) is a predicate that must match NO
    event in the gap consumed at level i — i.e. between the level-(i-1)
    register and the completing level-i row. Each slot is one more
    running-max register (_m{i}); the level-i completion additionally
    requires `_m{i} is null or _m{i} < register` — the scoped-to-one-gap
    form of the `until` aliveness check. The single-register induction
    still holds: the LATEST level-(i-1) register also minimizes the window
    a missing event could land in, so it stays the most permissive choice."""
    k = len(steps)
    if k < 2:
        raise ValueError(f"sequence needs >= 2 steps, got {k}")
    missing = missing or {}
    if any(i < 2 or i > k for i in missing):
        raise ValueError(f"missing slots must be within 2..{k}: {sorted(missing)}")
    pred = steps[0]
    for s in steps[1:]:
        pred = pred | s
    if until is not None:
        pred = pred | until
    for m in missing.values():
        pred = pred | m
    cols = [*key_cols, id_col, ts_col]
    cols += [s.alias(f"_is{i}") for i, s in enumerate(steps, start=1)]
    cols += [m.alias(f"_ism{i}") for i, m in missing.items()]
    if until is not None:
        cols.append(until.alias("_isu"))
    relevant = events.filter(pred).select(*cols)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    reg = F.struct(F.col(ts_col), F.col(id_col))
    span_us = maxspan_seconds * 1_000_000
    out = relevant
    if until is not None:
        out = out.withColumn("_lu", F.max(F.when(F.col("_isu"), reg)).over(w))

    def alive(prev_reg: Column) -> Column:
        if until is None:
            return F.lit(True)
        return F.col("_lu").isNull() | (F.col("_lu") < prev_reg)

    for i in missing:
        out = out.withColumn(
            f"_m{i}", F.max(F.when(F.col(f"_ism{i}"), reg)).over(w)
        )
    out = out.withColumn("_l1", F.max(F.when(F.col("_is1"), reg)).over(w))
    prev_reg: Column = F.col("_l1")
    prev_t0: Column = F.col("_l1").getField(ts_col)
    for i in range(2, k + 1):
        gap_us = _us(F.col(ts_col)) - _us(prev_reg.getField(ts_col))
        t0gap_us = _us(F.col(ts_col)) - _us(prev_t0)
        done = (
            F.col(f"_is{i}")
            & prev_reg.isNotNull()
            & alive(prev_reg)
            & (t0gap_us <= span_us)
            & (t0gap_us >= 0)
            & (gap_us >= 0)
        )
        if i in missing:  # gap must hold no missing-pred event
            done = done & (
                F.col(f"_m{i}").isNull() | (F.col(f"_m{i}") < prev_reg)
            )
        out = out.withColumn(f"_done{i}", F.when(done, F.col(ts_col)))
        if i == k:  # final level: expose the gap, no further registers
            return out.withColumn("_gap_us", gap_us)
        out = out.withColumn(f"_done{i}_t0", F.when(done, prev_t0))
        out = out.withColumn(
            f"_l{i}", F.max(F.when(F.col(f"_done{i}").isNotNull(), reg)).over(w)
        ).withColumn(f"_t0_{i}", F.max(F.col(f"_done{i}_t0")).over(w))
        prev_reg = F.col(f"_l{i}")
        prev_t0 = F.col(f"_t0_{i}")
    raise AssertionError("unreachable")


def eql_sequence_k(
    events: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    steps: list[Column],
    maxspan_seconds: int,
    id_col: str = "event_id",
    until: Column | None = None,
    missing: dict[int, Column] | None = None,
) -> DataFrame:
    """Ordered k-step EQL sequence per (composite) key within a
    whole-sequence maxspan [public: ES EQL `sequence by k1, k2 with
    maxspan=... [s1] ... [sk] until [u]`]. Returns one row per completing
    step-k event: (*keys, id, ts, gap_seconds to the level-(k-1) register).
    A register may head multiple sequences (EQL's non-consuming default).
    `missing[i]` forbids matching events in the gap consumed at level i
    (see _sequence_annotated)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    ann = _sequence_annotated(
        events, keys, ts_col, steps, maxspan_seconds, id_col, until, missing
    )
    k = len(steps)
    return ann.filter(F.col(f"_done{k}").isNotNull()).select(
        *keys,
        id_col,
        ts_col,
        F.floor(F.col("_gap_us") / F.lit(1_000_000.0)).cast("long")
        .alias("gap_seconds"),
    )


def eql_sequence_spec(
    events: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    spec: list[tuple],
    maxspan_seconds: int,
    id_col: str = "event_id",
    until: Column | None = None,
) -> DataFrame:
    """EQL sequence with `with runs=N` repetition and `![...]` missing-event
    steps (VERDICT r04 #8) [public: ES EQL docs — `[q] with runs=N` is the
    documented shorthand for repeating the step query N times; a missing
    event matches only when NO event satisfies it between its neighbours].

    spec entries, in sequence order:
      ("event", pred)          one ordinary step
      ("event", pred, N)       the step repeated N times (`with runs=N`)
      ("missing", pred)        no pred-event may occur in this gap

    runs expands to N stacked levels of the SAME predicate — the register
    windows exclude the current row, so one event can never satisfy two
    consecutive levels at once (N distinct events, ordered, as in ES).
    Consecutive missing entries OR together (no event matching either).
    Missing entries must sit between event steps."""
    steps: list[Column] = []
    missing: dict[int, Column] = {}
    pending: Column | None = None
    for entry in spec:
        kind = entry[0]
        if kind == "event":
            runs = entry[2] if len(entry) > 2 else 1
            if runs < 1:
                raise ValueError(f"runs must be >= 1, got {runs}")
            for r in range(runs):
                steps.append(entry[1])
                if r == 0 and pending is not None:
                    if len(steps) < 2:
                        raise ValueError(
                            "missing-event step cannot precede the first event"
                        )
                    missing[len(steps)] = pending
                    pending = None
        elif kind == "missing":
            pending = entry[1] if pending is None else (pending | entry[1])
        else:
            raise ValueError(f"unknown spec entry kind {kind!r}")
    if pending is not None:
        raise ValueError("missing-event step cannot end the sequence")
    return eql_sequence_k(
        events, key_cols, ts_col, steps, maxspan_seconds, id_col, until,
        missing,
    )


def eql_sequence(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    step1: Column,
    step2: Column,
    maxspan_seconds: int,
    id_col: str = "event_id",
    until: Column | None = None,
) -> DataFrame:
    """2-step sequence (k=2 wrapper over eql_sequence_k, kept for the
    round-2/3 call sites and the driver contract)."""
    return eql_sequence_k(
        events, key_col, ts_col, [step1, step2], maxspan_seconds, id_col,
        until,
    )


def eql_sequence3(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    step1: Column,
    step2: Column,
    step3: Column,
    maxspan_seconds: int,
    id_col: str = "event_id",
) -> DataFrame:
    """3-step sequence (k=3 wrapper; maxspan bounds the WHOLE chain
    first-to-last, ES EQL semantics)."""
    return eql_sequence_k(
        events, key_col, ts_col, [step1, step2, step3], maxspan_seconds,
        id_col,
    )


def _round_half_up(x: float, places: int = 4) -> float:
    """Half-AWAY-from-zero for non-negative x — matches Spark F.round and
    DuckDB round; Python's built-in round() is banker's (ties-to-even) and
    would hash-diverge on dyadic ratios like 1/32."""
    scale = 10**places
    return math.floor(x * scale + 0.5) / scale


def funnel_conversion(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    steps: list[Column],
    maxspan_seconds: int,
    id_col: str = "event_id",
) -> DataFrame:
    """Ordered funnel conversion over k >= 2 steps: distinct keys reaching
    each stage IN ORDER within the (whole-sequence) span, plus
    step-over-step conversion rates — the product-analytics view of the EQL
    sequence machinery. ONE annotated frame feeds conditional
    count-distincts for every stage (a single Spark job), instead of one
    job per stage. Distinct-key counting means a key converting twice
    counts once per stage."""
    k = len(steps)
    if k < 2:
        raise ValueError(f"funnel_conversion needs >= 2 steps, got {k}")
    spark = events.sparkSession
    # Pre-filter to rows matching ANY step before the key-partitioned window
    # shuffle (guide §2.3 — shuffle fewer bytes): with no `until` and no
    # `missing` slots (this funnel form has neither), rows matching no step
    # are inert — every register (_is/_done/_l/_t0) is a running max that
    # only updates on step-matching rows, so dropping non-matching rows
    # changes no register value and no completion.
    any_step = steps[0]
    for s in steps[1:]:
        any_step = any_step | s
    ann = _sequence_annotated(
        events.filter(any_step), [key_col], ts_col, steps, maxspan_seconds, id_col
    )
    # distinct-keys-per-stage WITHOUT countDistinct: k conditional
    # count-distincts would Expand the annotated frame k-fold; a per-key
    # reached-stage bitmap (one map-side-combining hash agg, reusing the
    # window's key partitioning) followed by a 1-row sum is the same answer
    # with no Expand and no second full shuffle
    reach = [F.max(F.col("_is1").cast("int")).alias("r1")] + [
        F.max(F.col(f"_done{i}").isNotNull().cast("int")).alias(f"r{i}")
        for i in range(2, k + 1)
    ]
    per_key = ann.groupBy(key_col).agg(*reach)
    row = per_key.agg(
        *[F.sum(f"r{i}").alias(f"n{i}") for i in range(1, k + 1)]
    ).collect()[0]
    counts = [int(row[f"n{i}"] or 0) for i in range(1, k + 1)]
    rows = []
    for i, n in enumerate(counts):
        # step 1 converts at 1.0 by definition (100% of entrants) — a real
        # number, not NULL, so row comparisons/hashes never meet a None
        if i == 0:
            conv = 1.0
        elif counts[i - 1]:
            conv = _round_half_up(n / counts[i - 1])
        else:
            conv = 0.0
        rows.append((i + 1, n, conv))
    return spark.createDataFrame(
        rows, "step int, n_keys bigint, conversion double"
    )


def _correlation_output(
    grouped: DataFrame, keys: list[str], n_steps: int,
    ts_col: str, id_col: str,
) -> DataFrame:
    """Shared sample/join output contract: keys matching EVERY filter, one
    (id{i}, ts{i}) pair per filter from the per-filter registers."""
    cond = F.lit(True)
    out_cols: list[Column] = [F.col(k) for k in keys]
    for i in range(1, n_steps + 1):
        cond = cond & F.col(f"_m{i}").isNotNull()
        out_cols.append(F.col(f"_m{i}").getField(id_col).alias(f"id{i}"))
        out_cols.append(F.col(f"_m{i}").getField(ts_col).alias(f"ts{i}"))
    return grouped.filter(cond).select(*out_cols)


def eql_sample(
    events: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    steps: list[Column],
    id_col: str = "event_id",
) -> DataFrame:
    """ES EQL `sample by <key> [f1] [f2] …` [public: ES EQL sample docs]:
    UNORDERED correlation — up to one sample per key holding one matching
    event per filter, no time bound. Deterministic pick: the latest match
    per filter by (ts, id). ONE hash aggregate over the filter-pruned scan
    (map-side combining conditional maxes), no window, no join — at 100 TB
    this is a single exchange on the key. Returns
    (*keys, id1, ts1, …, idK, tsK) for keys matching EVERY filter."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if len(steps) < 2:
        raise ValueError(f"sample needs >= 2 filters, got {len(steps)}")
    pred = steps[0]
    for s in steps[1:]:
        pred = pred | s
    reg = F.struct(F.col(ts_col), F.col(id_col))
    aggs = [
        F.max(F.when(s, reg)).alias(f"_m{i}")
        for i, s in enumerate(steps, start=1)
    ]
    grouped = events.filter(pred).groupBy(*keys).agg(*aggs)
    return _correlation_output(grouped, keys, len(steps), ts_col, id_col)


def eql_join(
    events: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    steps: list[Column],
    id_col: str = "event_id",
    until: Column | None = None,
) -> DataFrame:
    """ES EQL `join by <key> [f1] [f2] … until [u]` [public: ES EQL join
    docs]: unordered like `sample`, but `until` ENDS collection — only
    events strictly before the key's FIRST until-event (by (ts, id)) count.
    Same single hash aggregate as eql_sample, with one extra conditional
    min register for the terminator; the before-until test is a struct
    comparison folded into each filter's conditional max."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if len(steps) < 2:
        raise ValueError(f"join needs >= 2 filters, got {len(steps)}")
    if until is None:
        return eql_sample(events, keys, ts_col, steps, id_col)
    pred = until
    for s in steps:
        pred = pred | s
    reg = F.struct(F.col(ts_col), F.col(id_col))
    # the before-until test needs each key's FIRST until register next to
    # every event: one key-grouped min, joined back on the key. NO broadcast
    # hint — |keys-with-until| is corpus-sized in the worst case (most keys
    # have a terminator on a real event stream), so let AQE pick the join
    # strategy; both sides shuffle on the same key the final groupBy needs,
    # so the exchange is reused, not added
    firsts = (
        events.filter(until)
        .groupBy(*keys)
        .agg(F.min(reg).alias("_u"))
    )
    pre = events.filter(pred).join(firsts, keys, "left")
    alive = F.col("_u").isNull() | (reg < F.col("_u"))
    aggs = [
        F.max(F.when(s & alive, reg)).alias(f"_m{i}")
        for i, s in enumerate(steps, start=1)
    ]
    grouped = pre.groupBy(*keys).agg(*aggs)
    return _correlation_output(grouped, keys, len(steps), ts_col, id_col)


def sessionize(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    id_col: str = "event_id",
) -> DataFrame:
    """Batch sessionization [public: standard gap-based session assignment;
    the batch analog of Spark's streaming session_window (J3)]: events of a
    key belong to the same session while consecutive gaps stay ≤
    `gap_seconds`; a larger gap starts a new session. The classic
    lag-then-cumulative-sum: one key-partitioned window computes the
    is-new-session flag, a second running sum over the SAME window ordering
    numbers the sessions — per-key state, one shuffle, no self-join.
    Returns the input plus `session_id` (0-based per key)."""
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    prev = F.lag(F.col(ts_col)).over(w)
    new_session = F.when(
        prev.isNull()
        | ((_us(F.col(ts_col)) - _us(prev)) > gap_seconds * 1_000_000),
        1,
    ).otherwise(0)
    return events.withColumn(
        "session_id",
        (
            F.sum(new_session).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            - 1
        ).cast("long"),
    )


def session_stats(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key session summary over sessionize(): session count, mean events
    per session, mean session duration (seconds). Two hash aggregates over
    the already-shuffled sessionized frame — the window's partitioning is
    reused by the first groupBy (same key prefix, no second exchange)."""
    s = sessionize(events, key_col, ts_col, gap_seconds, id_col)
    per_session = s.groupBy(key_col, "session_id").agg(
        F.count("*").alias("_n"),
        ((_us(F.max(ts_col)) - _us(F.min(ts_col))) / 1_000_000.0).alias(
            "_dur"
        ),
    )
    return (
        per_session.groupBy(key_col)
        .agg(
            F.count("*").alias("n_sessions"),
            F.round(F.avg("_n"), 4).alias("avg_events"),
            F.round(F.avg("_dur"), 4).alias("avg_duration_s"),
        )
        .orderBy(key_col)
    )


def cohort_retention(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    unit: str = "week",
) -> DataFrame:
    """Cohort retention [public: standard product-analytics cohort table]:
    keys grouped by first-activity period (the cohort), counted per
    periods-since-first-activity. Two map-side-combining hash aggregates
    (per-key first activity; distinct (key, period) pairs) joined on the
    key — shuffle on the key once, then reduce to |cohorts|×|ages| rows.
    Returns (cohort, age, n_keys)."""
    bucket = lambda c: F.date_trunc(unit, c)  # noqa: E731
    firsts = events.groupBy(key_col).agg(
        bucket(F.min(ts_col)).alias("cohort")
    )
    active = (
        events.select(key_col, bucket(F.col(ts_col)).alias("period"))
        .distinct()
    )
    secs_per = {"day": 86400, "week": 604800}.get(unit)
    if secs_per is None:
        raise ValueError(f"cohort_retention supports day/week units: {unit}")
    age = (
        (_us(F.col("period")) - _us(F.col("cohort")))
        / F.lit(1_000_000 * secs_per)
    ).cast("long")
    return (
        active.join(firsts, key_col)
        .groupBy("cohort", age.alias("age"))
        .agg(F.count("*").alias("n_keys"))
        .orderBy("cohort", "age")
    )


def eql_pipes(
    results: DataFrame,
    pipes: list[tuple[str, object]],
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """ES EQL pipe surface [public: EQL pipe reference — head, tail, count,
    unique]: post-process a query/sequence RESULT set in (ts, id) order,
    the order the EQL engine emits. head/tail keep the first/last N
    results; unique keeps the earliest result per field value; count
    collapses to one row. Every pipe runs over result rows (the sequence
    already reduced the raw stream), so these sorts and windows are
    result-frame-sized, never corpus-sized."""
    from pyspark.sql import Window

    df = results
    for op, arg in pipes:
        if op == "head":
            df = df.orderBy(F.col(ts_col).asc(), F.col(id_col).asc()).limit(int(arg))
        elif op == "tail":
            df = df.orderBy(F.col(ts_col).desc(), F.col(id_col).desc()).limit(int(arg))
        elif op == "count":
            df = df.agg(F.count("*").alias("count"))
        elif op == "unique":
            w = Window.partitionBy(str(arg)).orderBy(
                F.col(ts_col).asc(), F.col(id_col).asc()
            )
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            raise ValueError(f"unknown EQL pipe {op!r}")
    return df
