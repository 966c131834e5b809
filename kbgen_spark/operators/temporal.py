"""J8 — as-of joins over event streams (SURVEY.md §2.3 J8).

Not in the reference (kbgen has no temporal model); part of this engine's
analytics surface over the ``events`` table.

A naive as-of join is a non-equi theta join → BroadcastNestedLoop — O(n·m)
and a plan smell at any scale. This implementation uses the union-and-window
technique: tag both sides, union on the shared key, sort by (key, ts), and
carry the last-seen right row forward with ``last(..., ignorenulls=True)``
over an unbounded-preceding window. One shuffle on the key, no nested loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """For each left row, attach the latest right row with the same ``on``
    key and right.ts <= left.ts (NULLs when no prior right row exists).

    Ties (equal timestamps) resolve to the right row — "as of now" includes
    events at the same instant, matching DuckDB ASOF JOIN (>=) semantics.
    """
    right_cols = right_cols or [
        c for c in right.columns if c not in (on, ts)
    ]
    l = left.withColumn("_side", F.lit(1))
    # All right columns travel as ONE struct so the window fill is row-atomic:
    # every filled value comes from the same (latest) right row, even when
    # some of its columns are NULL — matching DuckDB row-level ASOF semantics.
    r = right.select(
        on,
        ts,
        F.struct(*[F.col(c).alias(c) for c in right_cols]).alias("_rrow"),
    ).withColumn("_side", F.lit(0))
    unioned = l.unionByName(r, allowMissingColumns=True)
    # right rows (side 0) sort before left rows at equal ts → ties include
    # the same-instant right row
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        "*", F.last("_rrow", ignorenulls=True).over(w).alias("_f")
    )
    return (
        filled.filter(F.col("_side") == 1)
        .select(
            *[c for c in left.columns],
            *[F.col("_f." + c).alias(c + suffix) for c in right_cols],
        )
    )
