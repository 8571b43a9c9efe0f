"""Aggregation patterns (SURVEY §2.4 A1-A10).

All single-pass groupBy/pivot/window shapes — partial (map-side)
aggregation comes free from Catalyst; share-of-total uses a window over
the grouped result (small) rather than a self-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def group_count(df: DataFrame, keys: Sequence[str], out: str = "n") -> DataFrame:
    """A1: count(a, b) (gap_data.Rmd:594-600)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(out))


def distinct_count_per_group(df: DataFrame, keys: Sequence[str], col: str,
                             out: str = "n_distinct") -> DataFrame:
    """A2: n_distinct per group (fuzzy.Rmd:884-891)."""
    return df.groupBy(*keys).agg(F.countDistinct(col).alias(out))


def share_of_total(df: DataFrame, keys: Sequence[str], part: Sequence[str],
                   out_n: str = "n", out_total: str = "total",
                   out_pct: str = "pct") -> DataFrame:
    """A4: per-group count + share of the partition total
    (missing_sequence_reason.Rmd:70-77). Window over the aggregated
    (small) frame — no second shuffle over raw data."""
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias(out_n))
    w = Window.partitionBy(*part)
    return (counts
            .withColumn(out_total, F.sum(out_n).over(w))
            .withColumn(out_pct, F.col(out_n) / F.col(out_total)))


def counts_with_total_row(df: DataFrame, key: str, out: str = "n",
                          total_label: str = "Total") -> DataFrame:
    """A5: group counts + appended grand-total row (gap_data.Rmd:622-644)
    via GROUPING SETS (rollup) — one pass, no union of a second agg."""
    return (df.rollup(key)
              .agg(F.count(F.lit(1)).alias(out))
              .withColumn(key, F.coalesce(F.col(key), F.lit(total_label))))


def pivot_counts(df: DataFrame, row_key: str, pivot_key: str,
                 pivot_values: Sequence[str] | None = None,
                 pct_of_grand_total: bool = False) -> DataFrame:
    """A6: group -> count -> pivot_wider(values_fill=0)
    (gap_data.Rmd:590-692). Passing pivot_values pins the output schema
    (and skips Spark's extra distinct-values job)."""
    counts = df.groupBy(row_key, pivot_key).agg(F.count(F.lit(1)).alias("__n"))
    if pct_of_grand_total:
        total = Window.partitionBy()
        counts = counts.withColumn("__n", F.col("__n") / F.sum("__n").over(total))
    p = counts.groupBy(row_key).pivot(pivot_key, list(pivot_values) if pivot_values else None)
    out = p.agg(F.first("__n"))
    return out.na.fill(0, [c for c in out.columns if c != row_key])


def with_missing_level(df: DataFrame, col: str,
                       label: str = "(Missing)") -> DataFrame:
    """A8: missing-as-level before counting (pipeline_counts.qmd:243-250)."""
    return df.withColumn(col, F.coalesce(F.col(col), F.lit(label)))


def funnel_steps(df: DataFrame, user_col: str, type_col: str, ts_col: str,
                 steps: Sequence[str]) -> DataFrame:
    """Strictly-ordered conversion funnel: for each step i, count users
    whose first step-i event falls strictly AFTER their first
    qualifying step-(i-1) event (order matters — a purchase before
    signup does not convert). Returns (step, step_name, n_users), one
    row per step.

    Plan shape: a chain of per-user min-aggs, each inner-joined to the
    previous stage — every stage keys on user_col, so AQE reuses ONE
    hash partitioning down the chain, and each stage's input shrinks
    monotonically (the funnel property). The four scalar counts union
    into the summary; no window over the fact table, no collect."""
    prev = None
    stages: list[tuple[int, str, DataFrame]] = []
    for i, step in enumerate(steps, start=1):
        s = df.filter(F.col(type_col) == step)
        if prev is not None:
            s = (s.join(prev, user_col)
                  .filter(F.col(ts_col) > F.col(f"__t{i - 1}")))
        s = (s.groupBy(user_col)
              .agg(F.min(ts_col).alias(f"__t{i}")))
        stages.append((i, step, s))
        prev = s
    parts = [s.agg(F.lit(i).alias("step"),
                   F.lit(nm).alias("step_name"),
                   F.count(F.lit(1)).cast("long").alias("n_users"))
             for i, nm, s in stages]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def latest_per_group(df: DataFrame, keys: Sequence[str], ts: str) -> DataFrame:
    """A9/S7: latest-by-timestamp row per group (max mtime per dir,
    phl.Rmd:116-133) — window argmax with deterministic tiebreak."""
    w = Window.partitionBy(*keys).orderBy(F.col(ts).desc(), *[F.col(k) for k in keys])
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))


def markov_transitions(df: DataFrame, user_col: str, type_col: str,
                       order_cols: Sequence[str], *,
                       end_label: str = "(end)",
                       round_to: int = 6) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the sequence-analytics summary behind next-action
    prediction, funnel-dropout diagnosis, and bot detection (a
    near-deterministic row is a scripted client): every (src, dst)
    state pair with its transition count and row-normalized
    probability, including the terminal `end_label` state (each
    user's last event transitions to it, so every row of the matrix
    sums to 1) and absent pairs materialized at 0 via the full
    state-spine cross join (the Benford/PSI discipline).

    `order_cols` must give a deterministic total order per user
    (e.g. [ts, event_id] — the id tiebreak matters: equal timestamps
    would otherwise make lead() engine-dependent).

    Scale shape: ONE per-user window (lead) over the fact table —
    the same (user, ts) partitioning sessionize/attribution reuse —
    then a states^2-key agg with map-side combine; everything after
    runs on the matrix, bounded by the state vocabulary."""
    w = Window.partitionBy(user_col).orderBy(
        *[F.col(c) for c in order_cols])
    tr = df.select(
        F.col(type_col).alias("src"),
        F.coalesce(F.lead(type_col).over(w), F.lit(end_label))
         .alias("dst"))
    cnt = tr.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    types = df.select(F.col(type_col).alias("t")).distinct()
    # distinct() guards the end_label collision: a stream that
    # contains an event literally typed like end_label would
    # otherwise duplicate its spine row and double-count the per-src
    # window total. The colliding STATE still conflates with the
    # terminal marker (pick a sentinel not in the vocabulary); the
    # dedup keeps the matrix consistent either way.
    dsts = (types.select(F.col("t").alias("dst"))
                 .unionByName(types.sparkSession.createDataFrame(
                     [(end_label,)], "dst STRING"))
                 .distinct())
    spine = (types.select(F.col("t").alias("src"))
                  .join(F.broadcast(dsts)))
    j = (spine.join(cnt, ["src", "dst"], "left")
              .select("src", "dst",
                      F.coalesce("n", F.lit(0).cast("long")).alias("n")))
    w_row = Window.partitionBy("src").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    tot = F.sum("n").over(w_row)
    return (j.select("src", "dst",
                     F.col("n").cast("long").alias("n_transitions"),
                     F.when(tot > 0,
                            F.round(F.col("n").cast("double") / tot,
                                    round_to))
                      .otherwise(F.lit(0.0)).alias("prob")))
