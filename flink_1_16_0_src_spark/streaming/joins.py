"""Stream-stream joins.

Reference parity (SURVEY.md §2.4):
- Interval join (StreamExecIntervalJoin.java:82,
  TimeIntervalJoin.java) → builtin stream-stream join with a time-range
  predicate; both sides watermarked so buffered state is purged once
  the watermark passes the bound.
- Window join (StreamExecWindowJoin.java:69, WindowJoinOperator.java:66)
  → equi-join on the tumbling-window struct + keys; state dropped at
  window end.
- Unbounded stream-stream join with update output
  (StreamingJoinOperator.java:36) → ``unbounded_join``: dual per-key
  row buffers in ``applyInPandasWithState``, ``__rowkind`` changelog
  output (+I pairs; left-outer retracts null padding with -D on the
  numMatches 0→1 transition), optional event-time TTL with
  expire-on-access semantics.

Scale: both joins shuffle on (key [, window]); interval-join state is
O(rows within the time bound per key) — identical asymptotics to
Flink's dual keyed state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: tuple[str, str],
    time_cols: tuple[str, str],
    lower: str,
    upper: str,
    how: str = "inner",
) -> DataFrame:
    """``l.ts BETWEEN r.ts - lower AND r.ts + upper`` join. Both inputs
    must carry watermarks for state cleanup (append mode)."""
    lk, rk = key
    lt, rt = time_cols
    cond = (
        (left[lk] == right[rk])
        & (left[lt] >= right[rt] - F.expr(f"INTERVAL {lower}"))
        & (left[lt] <= right[rt] + F.expr(f"INTERVAL {upper}"))
    )
    return left.join(right, cond, how)


def window_join(
    left: DataFrame,
    right: DataFrame,
    ts: tuple[str, str],
    size: str,
    keys: tuple[str, str],
    how: str = "inner",
) -> DataFrame:
    """Join rows that share the same tumbling window AND key."""
    lt, rt = ts
    lk, rk = keys
    lw = left.withColumn("window", F.window(lt, size))
    rw = right.withColumn("window", F.window(rt, size))
    cond = (lw["window"] == rw["window"]) & (lw[lk] == rw[rk])
    return lw.join(rw, cond, how)


def unbounded_join(
    left: DataFrame,
    right: DataFrame,
    key: tuple[str, str],
    how: str = "inner",
    ttl: tuple[str, str, str] | None = None,
) -> DataFrame:
    """Unbounded stream-stream equi-join with update output — the
    reference's StreamingJoinOperator.java:36 (dual keyed state, emits
    changelog rows as either side arrives; no time bound).

    Spark has no two-input keyed operator, so both sides are tagged and
    unioned (the same connect() reduction datastream.ConnectedStreams
    uses) and a single ``applyInPandasWithState`` keeps the dual
    per-key row buffers Flink keeps in its left/right state views.

    Output is a changelog with an explicit ``__rowkind`` column (Spark
    has no retraction rows — SURVEY.md §7.3 risk 1):
    - inner: every new pairing emits ``+I`` (an append-only changelog —
      matches can only accumulate);
    - left_outer: an unmatched left row emits ``+I`` null-padded; when
      its first match arrives the null-padded row is retracted with
      ``-D`` and the real pairings emitted ``+I`` — exactly the
      OuterJoinRecordStateView numMatches 0→1 transition. Right-outer =
      call with sides swapped; full_outer pads and retracts on BOTH
      sides (dual numMatches counters).
    - left_semi / left_anti (StreamingSemiAntiJoinOperator.java:34):
      left rows only. Semi emits ``+I`` when EXISTS first becomes true;
      anti emits ``+I`` while NOT EXISTS holds and retracts with ``-D``
      on the first match.

    ``ttl=(left_ts, right_ts, interval)`` bounds state like Flink's
    table.exec.state.ttl (SURVEY.md §7.3 risk 2): stored rows whose
    event time is older than ``max seen ts − interval`` are evicted
    lazily per key. Without it state grows with the stream — same
    caveat the reference documents.

    Column names of the two sides must be disjoint (rename before
    joining; Flink SQL forces the same via aliases).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import IntegralType, LongType, StringType, StructField, StructType

    from flink_1_16_0_src_spark.streaming.stateful import RowState, _frame, _ints, _py, _side_cols

    assert how in ("inner", "left_outer", "full_outer", "left_semi", "left_anti"), (
        f"unsupported how={how!r}"
    )
    pairs = how in ("inner", "left_outer", "full_outer")  # semi/anti emit left rows only
    lk, rk = key
    lcols = left.columns
    rcols = right.columns
    clash = set(lcols) & set(rcols)
    assert not clash, f"column names must be disjoint, clash: {sorted(clash)}"

    out_fields = list(left.schema.fields) + (
        [StructField(f.name, f.dataType, True) for f in right.schema.fields]
        if pairs
        else []
    )
    output_schema = StructType(out_fields + [StructField("__rowkind", StringType())])
    names = output_schema.fieldNames()
    # state: both sides' row buffers, each with its per-row match counter
    buf = RowState(
        list(left.schema.fields)
        + [StructField("__lmatches", LongType())]
        + list(right.schema.fields)
        + [StructField("__rmatches", LongType())]
    )
    nl = len(lcols) + 1
    integral = {
        f.name for f in left.schema.fields + right.schema.fields
        if isinstance(f.dataType, IntegralType)
    }

    # each side keeps its own typed columns; the other side's are NULL
    tagged = left.select(
        F.col(lk).cast("string").alias("__key"), F.lit(1).alias("__side"),
        *_side_cols(left, lcols),
    ).unionByName(
        right.select(
            F.col(rk).cast("string").alias("__key"), F.lit(2).alias("__side"),
            *_side_cols(right, rcols),
        ),
        allowMissingColumns=True,
    )

    ttl_expr = ttl
    lts, rts, interval = ttl if ttl else (None, None, None)
    delta = pd.Timedelta(interval) if interval else None

    def rows(cols, names):
        return [dict(zip(names, r)) for r in zip(*cols)]

    def batch_row(t: dict, names) -> dict:
        # NULL as None and exact ints, like a row restored from state
        return {c: _py(t[c], c in integral) for c in names}

    def fn(pkey, pdfs, state):
        st = buf.read(state)
        if st:
            lbuf, lmatches = rows(st[: nl - 1], lcols), st[nl - 1]
            rbuf, rmatches = rows(st[nl:-1], rcols), st[-1]
        else:
            lbuf, rbuf, lmatches, rmatches = [], [], [], []
        out = {c: [] for c in names}

        def emit(lrow, rrow, kind):
            for side, row in ((lcols, lrow), (rcols if pairs else (), rrow)):
                for c in side:
                    out[c].append(None if row is None else row[c])
            out["__rowkind"].append(kind)

        max_ts = None

        def fresh(stored: dict, ts_col: str | None) -> bool:
            # expire-on-access (StateTtlConfig NeverReturnExpired): a
            # stored row older than the event clock − ttl never matches,
            # even before the end-of-batch sweep evicts it
            if delta is None or ts_col is None or max_ts is None:
                return True
            t = stored.get(ts_col)
            return t is None or pd.Timestamp(t) >= max_ts - delta

        def tick(row: dict, ts_col: str | None):
            nonlocal max_ts
            if ttl_expr and ts_col and row.get(ts_col) is not None:
                ts = pd.Timestamp(row[ts_col])
                max_ts = ts if max_ts is None else max(max_ts, ts)

        for pdf in pdfs:
            for t in pdf.to_dict("records"):
                if t["__side"] == 1:
                    row = batch_row(t, lcols)
                    tick(row, lts)
                    n = 0
                    for j, rrow in enumerate(rbuf):
                        if fresh(rrow, rts):
                            if how == "full_outer" and rmatches[j] == 0:
                                emit(None, rrow, "-D")  # retract right padding
                            if pairs:
                                emit(row, rrow, "+I")
                            rmatches[j] += 1
                            n += 1
                    if n == 0 and how in ("left_outer", "full_outer"):
                        emit(row, None, "+I")
                    elif n > 0 and how == "left_semi":
                        emit(row, None, "+I")  # EXISTS satisfied on arrival
                    elif n == 0 and how == "left_anti":
                        emit(row, None, "+I")  # NOT EXISTS holds (for now)
                    lbuf.append(row)
                    lmatches.append(n)
                else:
                    row = batch_row(t, rcols)
                    tick(row, rts)
                    n = 0
                    for i, lrow in enumerate(lbuf):
                        if not fresh(lrow, lts):
                            continue
                        if lmatches[i] == 0:
                            # numMatches 0→1 transition
                            if how in ("left_outer", "full_outer"):
                                emit(lrow, None, "-D")  # retract null padding
                            elif how == "left_semi":
                                emit(lrow, None, "+I")  # EXISTS newly true
                            elif how == "left_anti":
                                emit(lrow, None, "-D")  # NOT EXISTS now false
                        if pairs:
                            emit(lrow, row, "+I")
                        lmatches[i] += 1
                        n += 1
                    if n == 0 and how == "full_outer":
                        emit(None, row, "+I")  # unmatched right padded
                    rbuf.append(row)
                    rmatches.append(n)
        if ttl_expr and max_ts is not None:
            keep = [
                i for i, r in enumerate(lbuf)
                if r.get(lts) is None or pd.Timestamp(r[lts]) >= max_ts - delta
            ]
            lbuf = [lbuf[i] for i in keep]
            lmatches = [lmatches[i] for i in keep]
            rkeep = [
                j for j, r in enumerate(rbuf)
                if r.get(rts) is None or pd.Timestamp(r[rts]) >= max_ts - delta
            ]
            rbuf = [rbuf[j] for j in rkeep]
            rmatches = [rmatches[j] for j in rkeep]
        buf.write(
            state,
            [[r[c] for r in lbuf] for c in lcols]
            + [lmatches]
            + [[r[c] for r in rbuf] for c in rcols]
            + [rmatches],
        )
        if out["__rowkind"]:
            for c in integral.intersection(out):
                out[c] = _ints(out[c])
            yield _frame(names, out)

    return tagged.groupBy("__key").applyInPandasWithState(
        fn, output_schema, buf.schema, "append", GroupStateTimeout.NoTimeout
    )
