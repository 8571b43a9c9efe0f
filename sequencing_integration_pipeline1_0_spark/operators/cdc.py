"""Snapshot-diff / incremental-batch set operators (SURVEY §2.9 T1-T6,
§2.6 U5; reference: scripts/QA/wdrs_qa/wdrs_daily_diffs.R:71-148,
docs/notebooks/phl.Rmd:776-779, elr.Rmd:527-546, KEEP_NA...Rmd:88-90).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(today: DataFrame, yesterday: DataFrame) -> tuple[DataFrame, DataFrame]:
    """T4: symmetric exceptAll — (added_or_changed, removed_or_changed)
    (wdrs_daily_diffs.R:71-77)."""
    return today.exceptAll(yesterday), yesterday.exceptAll(today)


def classify_changes(added: DataFrame, removed: DataFrame,
                     all_cols: Sequence[str],
                     varying: Sequence[str]) -> DataFrame:
    """T4: rows present in both diffs that agree on all columns EXCEPT
    `varying` — e.g. CASE_ID-only or lineage-only changes
    (wdrs_daily_diffs.R:94-148). Inner join on the stable column set."""
    stable = [c for c in all_cols if c not in set(varying)]
    a = added.alias("a")
    r = removed.alias("r")
    cond = None
    for c in stable:
        # null-safe equality: NULL == NULL must match for CDC pairing
        e = F.col(f"a.{c}").eqNullSafe(F.col(f"r.{c}"))
        cond = e if cond is None else cond & e
    out = a.join(r, cond, "inner").select(
        *[F.col(f"a.{c}") for c in all_cols],
        *[F.col(f"r.{c}").alias(f"old_{c}") for c in varying],
    )
    return out


def ledger_dedup(batch: DataFrame, ledger: DataFrame,
                 keys: Sequence[str]) -> DataFrame:
    """T1: processed-record ledger anti-join — cumulative feeds
    re-deliver everything; drop already-processed keys
    (phl.Rmd:776-779, elr.Rmd:540-546)."""
    return batch.join(ledger.select(*keys).distinct(), list(keys), "left_anti")


def watermark_filter(df: DataFrame, ts_col: str, last_run_ts) -> DataFrame:
    """T2: timestamp high-watermark (S_Dropout_Records.Rmd:89,296)."""
    return df.filter(F.col(ts_col) > F.lit(last_run_ts))


def era_fence(date_col, *, start=None, end=None, as_of=None,
              lag_days: int = 0):
    """T7: lag-aware date fence as a reusable boolean Column — the
    reference pins these cutoffs inline everywhere (era start
    wdrs_qa_main.R:85, reporting-lag exclusion pipeline_counts.qmd:126,
    keep_na retention KEEP_NA...Rmd:699-763).

    Composes the provided parts with AND:
      start    — date_col >= start (era begin; records before the
                 program era are out of scope)
      end      — date_col <= end (hard cutoff)
      as_of + lag_days — date_col <= as_of - lag_days (lag-aware upper
                 fence: rows younger than the reporting lag are still
                 incomplete and must not be counted yet)

    Pure expression (codegen; partition-prunable when date_col is the
    partition column). Negate it for retention/TTL sweeps: t3's
    'expired' is ~era_fence(d, start=as_of - retention)."""
    cond = F.lit(True)
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    if start is not None:
        cond = cond & (c >= start)
    if end is not None:
        cond = cond & (c <= end)
    if as_of is not None:
        # a plain-string as_of must become a DATE LITERAL — date_sub
        # would otherwise resolve it as a column NAME (start/end above
        # are literal-coerced by the comparison operators, so the
        # contract stays consistent across all three parts)
        a = (F.lit(as_of).cast("date")
             if isinstance(as_of, str) else as_of)
        cond = cond & (c <= F.date_sub(a, lag_days))
    return cond


def loss_prevention(inputs: DataFrame, outputs: Sequence[DataFrame],
                    key: str) -> DataFrame:
    """T6: every input key must land in exactly one output; returns the
    leftover rows to carry over (fuzzy.Rmd:1079-1085 saved_rows)."""
    seen = None
    for o in outputs:
        k = o.select(key).distinct()
        seen = k if seen is None else seen.unionByName(k).distinct()
    if seen is None:
        return inputs
    return inputs.join(seen, [key], "left_anti")
