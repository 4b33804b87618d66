"""As-of (nearest-preceding) join — the time-series point-in-time
lookup Spark SQL lacks (DuckDB: ASOF JOIN; pandas: merge_asof). Engine
extension beyond the reference surface (SURVEY §2.4): for every left
row, attach the single right row with the largest right timestamp
<= the left timestamp (direction='backward'; 'forward' mirrors it)
within the same key group, LEFT-preserving (unmatched lefts keep NULL
payloads).

Scale design — the union + running-`last` pattern, NOT a range join:
a range-condition join explodes into |left| x |preceding rights| per
key before dedup, and Spark plans it as BroadcastNestedLoop when the
equality keys are absent. Instead both sides union into one frame
(map-only), ONE shuffle on the key sorts each group by (ts, side),
and a running `last(payload, ignorenulls=True)` over the ordered
window carries the latest right payload forward onto each left row.
Cost: one exchange + one sort — identical shape to any windowed
aggregate; per-key skew is bounded by the same partial-ordering the
window needs anyway. No driver state, no UDFs, whole-stage codegen
throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparksqlplus_spark.expr_memo import expr_cache


@expr_cache
def _asof_fragments(
    left_cols: tuple[str, ...],
    left_types: tuple[str, ...],
    by: tuple[str, ...],
    payload: tuple[str, ...],
    payload_types: tuple[str, ...],
    left_ts: str,
    right_ts: str,
    direction: str,
    suffix: str,
):
    """Every Column/WindowSpec fragment of :func:`asof_join`, memoized
    on the (schema shape, parameters) tuple — the join is called with
    the same shapes repeatedly and rebuilding ~50 py4j-backed
    expressions per call was 0.14 s of the bench entry (round 18,
    guide §1.2/§4 driver-side). Types travel as ``DataType.json()``
    strings — hashable, unlike some user-defined types — and the NULL
    padding casts to the DataType rebuilt from them, so UDT columns
    (e.g. ML vectors, whose ``simpleString`` ``cast`` cannot parse)
    pad with their real type."""
    from pyspark.sql.types import _parse_datatype_json_string

    out_payload = {c: f"{c}{suffix}" for c in payload}
    ptype = {
        c: _parse_datatype_json_string(t)
        for c, t in zip(payload, payload_types)
    }
    ltype = {
        c: _parse_datatype_json_string(t)
        for c, t in zip(left_cols, left_types)
    }
    l_sel = (
        *[F.col(c) for c in left_cols],
        *[F.lit(None).cast(ptype[c]).alias(out_payload[c]) for c in payload],
        F.col(left_ts).alias("__asof_ts"),
        F.lit(1).alias("__asof_side"),
    )
    r_sel = (
        *[F.lit(None).cast(ltype[c]).alias(c) if c not in by else F.col(c)
          for c in left_cols],
        *[F.col(c).alias(out_payload[c]) for c in payload],
        F.col(right_ts).alias("__asof_ts"),
        F.lit(0).alias("__asof_side"),
    )
    order = (
        [F.col("__asof_ts").asc(), F.col("__asof_side").asc()]
        if direction == "backward"
        else [F.col("__asof_ts").desc(), F.col("__asof_side").asc()]
    ) + [F.col(out_payload[c]).asc_nulls_first() for c in payload]
    w = (
        Window.partitionBy(*[F.col(c) for c in by])
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    row_struct = F.when(
        F.col("__asof_side") == 0,
        F.struct(*[F.col(out_payload[c]) for c in payload]),
    )
    out_sel = (
        *[F.col(c) for c in left_cols],
        *[
            F.col("__asof_row").getField(out_payload[c]).alias(out_payload[c])
            for c in payload
        ],
    )
    return l_sel, r_sel, w, row_struct, out_sel


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    by: list[str] | None = None,
    direction: str = "backward",
    tolerance=None,
    suffix: str = "_r",
) -> DataFrame:
    """LEFT-preserving as-of join.

    Parameters
    ----------
    left, right : the two frames; every non-key right column comes
        back suffixed (``suffix``), including the right timestamp.
    left_ts, right_ts : timestamp (or any orderable) column names.
    by : equality key columns (same names both sides); ``None`` or
        ``[]`` means a single global group — valid, but the one-group
        window serializes on a single task at scale, so pass keys for
        big inputs.
    direction : 'backward' (largest right ts <= left ts — the ASOF
        default) or 'forward' (smallest right ts >= left ts).
    tolerance : optional max distance between the two timestamps —
        an expression comparable to their difference (e.g.
        ``F.expr("INTERVAL 10 MINUTES")`` for timestamps, a number
        for numeric ts). Matches farther than this revert to NULL.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    by = list(by or [])
    payload = [c for c in right.columns if c not in by]
    if right_ts not in payload:
        raise ValueError(f"right frame has no column {right_ts!r}")
    out_payload = {c: f"{c}{suffix}" for c in payload}
    if set(out_payload.values()) & set(left.columns):
        raise ValueError("suffixed right columns collide with left columns")

    # All expression fragments come memoized from _asof_fragments (one
    # build per schema shape). Semantics preserved verbatim, including:
    # — union the two sides: left rows carry their own columns, right
    #   rows only (by, ts, payload), NULL-padded into a shared schema;
    # — backward: ascending ts; a right row at the SAME ts sorts before
    #   the left row (side 0 < 1), so ties match inclusively — the ASOF
    #   >= convention; forward: descending ts, same tie rule; payload
    #   columns break ties among right rows at the same ts so the
    #   result is deterministic and matches asof_stream's fold order;
    # — the matched right row is carried as ONE atomic struct: always
    #   non-null for a right row even when individual payload fields
    #   are NULL, so `last(..., ignorenulls=True)` skips left rows but
    #   never mixes fields across different right rows.
    ltype = {f.name: f.dataType.json() for f in left.schema.fields}
    rtype = {f.name: f.dataType.json() for f in right.schema.fields}
    l_sel, r_sel, w, row_struct, out_sel = _asof_fragments(
        tuple(left.columns),
        tuple(ltype[c] for c in left.columns),
        tuple(by),
        tuple(payload),
        tuple(rtype[c] for c in payload),
        left_ts,
        right_ts,
        direction,
        suffix,
    )
    unioned = left.select(*l_sel).unionByName(right.select(*r_sel))
    carried = unioned.withColumn(
        "__asof_row", F.last(row_struct, ignorenulls=True).over(w)
    )
    result = carried.filter(F.col("__asof_side") == 1)
    if tolerance is not None:
        matched_ts = F.col("__asof_row").getField(out_payload[right_ts])
        dist = (
            F.col("__asof_ts") - matched_ts
            if direction == "backward"
            else matched_ts - F.col("__asof_ts")
        )
        within = matched_ts.isNotNull() & (dist <= tolerance)
        result = result.withColumn(
            "__asof_row", F.when(within, F.col("__asof_row"))
        )
    return result.select(*out_sel)


def asof_stream(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    by: list[str],
    watermark: str = "1 hour",
    suffix: str = "_r",
) -> DataFrame:
    """Streaming form of :func:`asof_join` (backward direction):
    both sides union into ONE tagged stream, and a per-key
    ``applyInPandasWithState`` fold carries the latest right row seen
    so far — each left event emits with the carried payload. Per-key
    state is O(1) (one right row), memory is bounded by the
    micro-batch like the other stateful ops here.

    Ordering contract (same as ``ewma_stream``): events inside a
    micro-batch are sorted by event time before folding, and
    micro-batches must arrive in per-key event-time order (a replayed
    time-ordered log — the bounded-stream test shape). A right event
    arriving in a LATER batch than a left event it should precede is
    matched to nothing — the bounded-staleness tradeoff every
    low-latency as-of stream makes; hold-until-watermark exactness
    would buffer lefts in state instead.

    Works on batch frames too (groupBy.applyInPandas path is not
    taken — batch callers should use :func:`asof_join`)."""
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    if not by:
        raise ValueError("asof_stream needs grouping keys")
    payload = [c for c in right.columns if c not in by]
    if right_ts not in payload:
        raise ValueError(f"right frame has no column {right_ts!r}")
    out_payload = {c: f"{c}{suffix}" for c in payload}

    l_tagged = left.select(
        *[F.col(c) for c in left.columns],
        *[F.lit(None).cast(right.schema[c].dataType).alias(out_payload[c])
          for c in payload],
        F.col(left_ts).alias("__asof_ts"),
        F.lit(1).alias("__asof_side"),
    )
    r_tagged = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          if c not in by else F.col(c)
          for c in left.columns],
        *[F.col(c).alias(out_payload[c]) for c in payload],
        F.col(right_ts).alias("__asof_ts"),
        F.lit(0).alias("__asof_side"),
    )
    unioned = l_tagged.unionByName(r_tagged)
    if unioned.isStreaming:
        unioned = unioned.withWatermark("__asof_ts", watermark)

    pay_cols = [out_payload[c] for c in payload]
    is_ts = {
        out_payload[c]: isinstance(right.schema[c].dataType, T.TimestampType)
        for c in payload
    }
    out_fields = [f for f in left.schema.fields] + [
        T.StructField(out_payload[c], right.schema[c].dataType)
        for c in payload
    ]
    out_schema = T.StructType(out_fields)
    # timestamps live in state as epoch micros (long) — pandas
    # Timestamps do not round-trip through the state Arrow schema
    state_schema = ", ".join(
        f"s{i} " + (
            "long" if is_ts[c]
            else right.schema[payload[i]].dataType.simpleString()
        )
        for i, c in enumerate(pay_cols)
    )
    left_out_cols = [f.name for f in left.schema.fields]

    state_type = {
        out_payload[c]: right.schema[c].dataType.simpleString()
        for c in payload
    }

    def _to_state(c, v):
        # Arrow reads a nullable long column into float64, so the
        # value MUST be coerced back to the declared state type — a
        # Python float written into a `long` state field nulls
        # silently on the round-trip
        if v is None or pd.isna(v):
            return None
        if is_ts[c]:
            return int(pd.Timestamp(v).value // 1000)
        t = state_type[c]
        if t in ("bigint", "int", "smallint", "tinyint"):
            return int(v)
        if t in ("double", "float"):
            return float(v)
        return v

    def _from_state(c, v):
        if v is None:
            return None
        if is_ts[c]:
            return pd.Timestamp(v * 1000)
        return v

    def fold(
        key, batches, state: GroupState
    ):
        pdf = pd.concat(list(batches), ignore_index=True)
        # same total order as asof_join's window: payload columns
        # break right-row ties at equal ts; na_position='first'
        # mirrors the batch window's asc_nulls_first (pandas defaults
        # to NaN-last, which would pick a different tied right row)
        pdf = pdf.sort_values(
            ["__asof_ts", "__asof_side", *pay_cols], na_position="first"
        ).reset_index(drop=True)
        seed = state.get if state.exists else None
        is_right = pdf["__asof_side"] == 0
        rights = pdf[is_right]
        # forward-fill the INDEX of the last right row, then take every
        # payload value from that one row — row-atomic, unlike a
        # per-column ffill which mixes values across different right
        # rows when payload fields are NULL. Rows before the first
        # right row of the batch fall back to the seed row from state
        # (also one atomic right row).
        ridx = pd.Series(pdf.index, index=pdf.index, dtype="float64")
        ridx = ridx.where(is_right).ffill()
        have = ridx.notna()
        for i, c in enumerate(pay_cols):
            vals = pdf[c].astype("object")
            carried = pd.Series([None] * len(pdf), dtype="object")
            if have.any():
                carried[have] = vals.reindex(
                    ridx[have].astype("int64")
                ).to_numpy()
            if seed is not None:
                carried[~have] = _from_state(c, seed[i])
            # NaN/NaT -> None so Arrow can emit typed nulls
            pdf[c] = carried.where(pd.notna(carried), None)
        if len(rights):
            last = rights.iloc[-1]
            state.update(tuple(
                _to_state(c, last[c]) for c in pay_cols
            ))
        out = pdf[pdf["__asof_side"] == 1][left_out_cols + pay_cols]
        yield out

    return unioned.groupBy(*[F.col(c) for c in by]).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
