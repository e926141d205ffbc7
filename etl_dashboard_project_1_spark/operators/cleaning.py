"""Cleaning operators N1-N6 (SURVEY.md §2.4), as reusable Column builders.

Reference behaviors re-expressed declaratively:
- N1 sentinel→null   (reference: replace('-', pd.NA), src/transform_pipeline.py:38,50,122,143)
- N2 forward-fill    (reference: .ffill(), src/transform_pipeline.py:39,51)
- N3 null→empty fill (reference: fillna(''), src/transform_pipeline.py:61)
- N4 mean imputation (reference: fillna(mean().round(2)), src/transform_pipeline.py:244-245)
- N5 constant fix-up per class (src/transform_pipeline.py:148-150,243)
- N6 conditional value replacement (src/transform_pipeline.py:73)

Scale notes: every builder here is a pure Column expression (N1/N3/N5/N6
rendered as SQL text and parsed once, see ``functions/sqltext``) except
``ffill_global``, which is the one operator whose naive form (a window over a
global total order) single-partitions the data. ``ffill`` therefore takes a
``partition_cols`` argument (the scale-safe shape: per-key window), and
``ffill_global`` implements a two-pass partition-boundary-carry algorithm
whose only driver-side state is one row per partition.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import Sql, column, ident, lit, operand


def sentinel_to_null(col: Column | str, sentinel: str = "-") -> Column:
    """N1: a literal sentinel value becomes SQL NULL."""
    c = operand(col)
    return column(f"CASE WHEN {c} = {lit(sentinel)} THEN NULL ELSE {c} END")


def fill_empty(col: Column | str, fill: str = "") -> Column:
    """N3: null → constant (default empty string)."""
    return column(f"coalesce({operand(col)}, {lit(fill)})")


def replace_value(col: Column | str, old: str, new: str) -> Column:
    """N6: one literal value mapped to another (e.g. '' fuel → 'electrico')."""
    c = operand(col)
    return column(f"CASE WHEN {c} = {lit(old)} THEN {lit(new)} ELSE {c} END")


def constant_fixup(
    value_col: Column | str, class_col: Column | str, class_value, constant
) -> Column:
    """N5: force ``value_col = constant`` where ``class_col == class_value``."""
    return column(
        f"CASE WHEN {operand(class_col)} = {lit(class_value)} THEN {lit(constant)} "
        f"ELSE {operand(value_col)} END"
    )


def mean_impute(
    df: DataFrame, cols: Sequence[str], decimals: int = 2, rounding: str = "bround"
) -> DataFrame:
    """N4: null → round(avg(col), decimals).

    Computed as a separate aggregate rather than an unpartitioned window:
    ``avg().over(Window.partitionBy())`` would funnel every row through one
    partition. A global agg is a proper two-phase (partial/final)
    aggregation, then the scalar folds into the plan as a literal —
    scale-safe and broadcast-free. The price: ``.first()`` runs while the
    plan is built, as two jobs that execute the whole upstream plan — so
    the vehicle pipeline imputes before its ffill Python pass, not after.

    ``rounding``: 'bround' (decimal-repr half-even — the oracle-parity
    default) or 'rint' (scaled-binary half-even, bit-faithful to pandas
    ``mean().round()`` — what the vehicle golden replay conforms to; see
    ``derive.numpy_round``).
    """
    from .derive import numpy_round

    if rounding == "rint":
        rounded = [numpy_round(Sql(f"avg({ident(c)})"), decimals).alias(c) for c in cols]
    elif rounding == "bround":
        rounded = [F.bround(F.avg(c), decimals).alias(c) for c in cols]
    else:
        raise ValueError(f"unknown rounding mode {rounding!r}")
    means = df.agg(*rounded).first()
    return df.withColumns({
        c: column(f"coalesce({ident(c)}, {lit(float(means[c]))})")
        for c in cols
        if means[c] is not None
    })


def ffill(
    df: DataFrame,
    cols: Sequence[str],
    order_cols: Sequence[str],
    partition_cols: Sequence[str] | None = None,
) -> DataFrame:
    """N2: forward-fill ``cols`` along ``order_cols``.

    With ``partition_cols`` (the scale-safe shape) this is a plain
    ``last(ignorenulls)`` window per key — shuffles once on the key, no
    global ordering. Without them it delegates to :func:`ffill_global`.
    """
    if not partition_cols:
        return ffill_global(df, cols, order_cols)
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return out


def ffill_global(
    df: DataFrame, cols: Sequence[str], order_cols: Sequence[str], num_partitions: int | None = None
) -> DataFrame:
    """N2 at scale, with a *total* order but no single-partition shuffle.

    Two passes:
      1. range-partition by ``order_cols`` (preserves global order across
         partitions), sort within partitions, forward-fill inside each
         partition with a carry across Arrow batches;
      2. collect the per-partition last non-null values (ONE ROW PER
         PARTITION — driver state is O(partitions), not O(rows)), compute
         the running carry-in prefix per partition, and patch each
         partition's leading nulls from the previous partitions' carry.

    The sorted partitions are locally checkpointed, so every later action
    reads the very partitions the carries were computed from. Unlike
    persist(), whose CacheManager entry lives as long as the session, the
    checkpoint's blocks are left to the ContextCleaner once the plan is
    unreferenced (but see ROADMAP 4(e): a process's first refresh keeps
    its checkpoints).

    Equivalent to ``last(ignorenulls) over (order by ... rows unbounded
    preceding)`` but scales: work per partition, one tiny collect.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    order_exprs = [F.col(c) for c in order_cols]
    # the partition id is taken above the checkpoint, so it names the
    # stored partition each row is read back from
    part = (
        df.repartitionByRange(n, *order_exprs)
        .sortWithinPartitions(*order_exprs)
        .localCheckpoint(eager=False)
        .withColumn("_ffill_pid", F.spark_partition_id())
    )
    # pass 1 metadata: last non-null per partition (tiny — one row/partition)
    lasts = (
        part.groupBy("_ffill_pid")
        .agg(*[F.last(F.col(c), ignorenulls=True).alias(c) for c in cols])
        .collect()
    )
    last_by_pid = {r["_ffill_pid"]: r for r in sorted(lasts, key=lambda r: r["_ffill_pid"])}
    # carry-in for partition p = last non-null over all partitions < p
    carry_in: dict[int, dict[str, object]] = {}
    running: dict[str, object] = {c: None for c in cols}
    for pid in sorted(last_by_pid):
        carry_in[pid] = dict(running)
        for c in cols:
            v = last_by_pid[pid][c]
            if v is not None:
                running[c] = v

    col_list = list(cols)

    def fill_part(batches: Iterable[pd.DataFrame]):
        carry: dict[int, dict[str, object]] = {}
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            pid = int(pdf["_ffill_pid"].iloc[0])
            state = carry.setdefault(pid, dict(carry_in.get(pid, {})))
            for c in col_list:
                s = pdf[c]
                if state.get(c) is not None and len(s) and pd.isna(s.iloc[0]):
                    s = s.copy()
                    # seed the batch head with the carry, then ffill
                    first_valid = s.first_valid_index()
                    upto = len(s) if first_valid is None else s.index.get_loc(first_valid)
                    s.iloc[:upto] = state[c]
                    pdf[c] = s
                pdf[c] = pdf[c].ffill()
                if pdf[c].notna().any():
                    state[c] = pdf[c].iloc[-1]
            yield pdf

    out = part.mapInPandas(fill_part, schema=part.schema)
    return out.drop("_ffill_pid")


def histogram_disc_percentiles(
    df,
    group_col: str,
    value_col: str,
    ps: dict[str, tuple[int, int]],
):
    """Exact per-group percentile_disc thresholds WITHOUT a per-group
    row sort: reduce to a (group, value) histogram (one shuffle, bounded
    by the value space), cumulative-sum the histogram, and take each
    threshold as the smallest value whose cumulative count reaches
    ceil(p·n) — the standard percentile_disc definition, in pure integer
    arithmetic (``p`` given as a (num, den) rational).

    Returns ``(histogram, thresholds)``: the histogram is
    (group, value, cnt) lazily checkpointed (callers reuse it for the
    follow-up aggregate without a second corpus scan); thresholds is one
    row per group with one column per entry in ``ps``.
    """
    from pyspark.sql import Window

    hist = (
        df.groupBy(F.col(group_col), F.col(value_col).alias("_hv"))
        .agg(F.count(F.lit(1)).alias("_hc"))
        .localCheckpoint(eager=False)
    )
    wcum = Window.partitionBy(group_col).orderBy("_hv")
    c = hist.select(
        group_col,
        "_hv",
        F.sum("_hc").over(wcum).alias("_cum"),
        F.sum("_hc").over(Window.partitionBy(group_col)).alias("_n"),
    )
    aggs = [
        F.min(
            F.when(
                F.col("_cum") >= F.expr(f"(_n * {num} + {den} - 1) DIV {den}"),
                F.col("_hv"),
            )
        ).alias(name)
        for name, (num, den) in ps.items()
    ]
    return hist, c.groupBy(group_col).agg(*aggs)
