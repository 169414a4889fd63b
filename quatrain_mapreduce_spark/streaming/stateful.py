"""Custom stateful streaming operators — applyInPandasWithState.

The reference's CQ example keeps ad-hoc per-host reducer state (a list of
recent readings) and re-emits a moving average every firing
(EX/CQ.java:365-398, 439-500). Time-window operators (streaming_queries.py)
cover the last-N-*seconds* form; the last-K-*readings* form is count-based
and cannot be expressed with window()/session_window() — it is exactly the
shape Spark's arbitrary-stateful API exists for.

``moving_avg_stream`` keeps, per key, the last ``k`` values in the state
store (an array<double> per key — O(k) state, no history accumulation) and
emits one output row per input row with the running average over the last k
readings *in arrival order*. Arrival order is the stream's file/batch order;
the batch twin (``moving_avg_batch``) is a plain window
``ROWS BETWEEN k-1 PRECEDING AND CURRENT ROW`` over the same order column,
so both forms are deterministic and share one SQL oracle.

Scale design: state is per-key and bounded (k doubles); the stateful
exchange hash-partitions by key exactly like a groupBy, so 1000 executors
each hold their keys' state in the state store (RocksDB-backed in
production). No driver-side state, no unbounded buffers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, DoubleType, StructField, StructType,
)


def _out_schema(df: DataFrame, key_col: str, order_col: str) -> StructType:
    dtypes = dict(df.dtypes)
    return StructType.fromDDL(
        f"{key_col} {dtypes[key_col]}, {order_col} {dtypes[order_col]}, avg_last_k double"
    )


_STATE_SCHEMA = StructType([StructField("buf", ArrayType(DoubleType()))])


def moving_avg_stream(
    events: DataFrame,
    key_col: str,
    order_col: str,
    val_col: str,
    k: int = 5,
) -> DataFrame:
    """Per-key moving average ``avg_last_k`` over the last ``k`` readings,
    rounded to 4 places (count-based CQ state), on a *streaming* DataFrame.
    Rows within a micro-batch are ordered by ``order_col``; state carries
    the tail buffer across batches.
    """
    out_schema = _out_schema(events, key_col, order_col)

    def fn(key, pdf_iter, state: GroupState):
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        # match F.round exactly (BigDecimal on the shortest decimal repr,
        # HALF_UP) — Python's round() is half-even on the binary value and
        # diverges on values like 1.00105, which would break the documented
        # bit-identical parity with the batch twin / SQL oracle
        quantum = Decimal(1).scaleb(-4)

        def spark_round(x: float) -> float:
            return float(Decimal(repr(x)).quantize(quantum, rounding=ROUND_HALF_UP))

        buf = list(state.get[0]) if state.exists else []
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values(order_col, kind="mergesort", ignore_index=True)
        out = []
        for v in pdf[val_col]:
            buf.append(float(v))
            if len(buf) > k:
                buf.pop(0)
            out.append(spark_round(sum(buf) / len(buf)))
        state.update(([float(x) for x in buf],))
        yield pd.DataFrame({
            key_col: pdf[key_col],
            order_col: pdf[order_col],
            "avg_last_k": out,
        })

    return events.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )


def moving_avg_batch(
    events: DataFrame,
    key_col: str,
    order_col: str,
    val_col: str,
    k: int = 5,
) -> DataFrame:
    """Batch twin: window ROWS BETWEEN k-1 PRECEDING AND CURRENT ROW —
    bit-identical results to ``moving_avg_stream`` over the same order.

    Note the summation shapes differ (streaming re-sums the k-buffer per
    row; the window frame does too — both are a fresh sum over ≤k doubles in
    ascending ``order_col`` order, so the float math matches exactly).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy(key_col).orderBy(order_col).rowsBetween(-(k - 1), 0)
    )
    return events.select(
        key_col, order_col, F.round(F.avg(val_col).over(w), 4).alias("avg_last_k")
    )
