"""Window-based dedup & per-group row selection (SURVEY §2.5 W1-W9,
§2.6 U3-U7).

The reference uses R `duplicated()` — silently dependent on file/row
order. We make the ordering EXPLICIT (order_cols) so the result is
deterministic under Spark's partitioned execution (SURVEY §4 note (b)).

Scale notes: each helper is a single window pass (one shuffle on the
partition keys); no driver-side collection. At 100 TB the partition key
is the dedup key, so the shuffle is the theoretical minimum for the
semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order(order_cols: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_cols]


def dedup_first(df: DataFrame, keys: Sequence[str],
                order_cols: Sequence[str | Column]) -> DataFrame:
    """W1: first-wins dedup on a key subset (`!duplicated(df[,cols])`,
    template_submitters.Rmd:669) with a pinned deterministic order."""
    w = Window.partitionBy(*keys).orderBy(*_order(order_cols))
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))


def keep_singletons(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """W2: keep keys occurring exactly once — both-ways duplicated()
    (SGTF_template_matching.Rmd:481-483)."""
    w = Window.partitionBy(*keys)
    return (df.withColumn("__n", F.count(F.lit(1)).over(w))
              .filter(F.col("__n") == 1).drop("__n"))


def group_size_filter(df: DataFrame, keys: Sequence[str], predicate) -> DataFrame:
    """W3: filter on group size n() (QA_for_review.Rmd:266-307).
    `predicate` maps the count column -> boolean Column."""
    w = Window.partitionBy(*keys)
    return (df.withColumn("__n", F.count(F.lit(1)).over(w))
              .filter(predicate(F.col("__n"))).drop("__n"))


def argmin_per_group(df: DataFrame, keys: Sequence[str],
                     value: str | Column, keep_nulls: bool = True) -> DataFrame:
    """W4: keep row(s) with min(value) per group, NULL-group passthrough
    (SGTF_template_matching.Rmd:449-466: ave(dist,rowid,FUN=min))."""
    v = F.col(value) if isinstance(value, str) else value
    w = Window.partitionBy(*keys)
    out = df.withColumn("__mn", F.min(v).over(w))
    cond = (v == F.col("__mn"))
    if keep_nulls:
        cond = cond | F.col("__mn").isNull()
    return out.filter(cond).drop("__mn")


def dup_flag(df: DataFrame, keys: Sequence[str], flag: str,
             exclude_null: bool = True) -> DataFrame:
    """W5/W6: 1 when the key occurs >1×, else NULL (quality_filters.R:65-76;
    fuzzy.Rmd:929). Null/empty keys are never counted as duplicates."""
    str_cols = {f.name for f in df.schema.fields
                if f.dataType.simpleString() == "string"}
    w = Window.partitionBy(*keys)
    nonnull = F.lit(True)
    if exclude_null:
        for k in keys:
            nonnull = nonnull & F.col(k).isNotNull()
            if k in str_cols:
                nonnull = nonnull & (F.col(k) != "")
    return df.withColumn(
        flag, F.when(nonnull & (F.count(F.lit(1)).over(w) > 1), F.lit(1)))


def cascade_dup_flags(df: DataFrame, tiers: Sequence[Sequence[str]],
                      prefix: str = "dup_tier") -> DataFrame:
    """W8: layered dedup flags — tier i fires only when tiers < i did not
    (wdrs_qa_functions.R:196-225)."""
    counts = []
    for i, keys in enumerate(tiers):
        w = Window.partitionBy(*keys)
        counts.append(F.count(F.lit(1)).over(w) > 1)
    cols = {}
    for i in range(len(tiers)):
        cond = counts[i]
        for j in range(i):
            cond = cond & ~counts[j]
        cols[f"{prefix}{i + 1}"] = F.when(cond, F.lit(1))
    return df.withColumns(cols)
