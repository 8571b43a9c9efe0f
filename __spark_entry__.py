"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship query on sf0.001 (SURVEY §3.1 spine)
queries()      -> named operator queries from SURVEY §2 (catalog)
oracle_sql()   -> DuckDB-equivalent SQL per query for the value-hash gate
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from sequencing_integration_pipeline1_0_spark.plans import catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return catalog.entry_flagship(spark)


# The driver verifies the FIRST 50 entries of queries() against the DuckDB
# oracle each round. Ordering policy:
#   1. _PRIORITY: this round's new/changed queries, explicit order.
#   2. Any registered query with NO driver-green row yet.
#   3. All driver-confirmed queries sorted STALEST-GREEN FIRST — the latest
#      round in which each query hash-matched, read directly from the
#      CORRECTNESS_r*.json files next to this file. This rotates the whole
#      confirmed catalog through the 50-slot window every ~3 rounds instead
#      of re-verifying the same registration-order prefix forever.
# A query counts as confirmed exactly when some CORRECTNESS_r*.json row
# hash-matched it (_latest_green_round), so there is no hand-kept list to
# drift. All registered queries also pass the identical local replica gate
# (tools/selfcheck.py) every round regardless of driver-window position.
#
# Keep len(_PRIORITY) + unconfirmed <= 50 so nothing new lands outside the
# window.

# Round-10 priorities: the 16 queries whose latest driver-green was r4 —
# the stalest cohort in the registry — explicitly first.
_PRIORITY = [
    "ann_pq_encode", "ann_pq_recall", "ann_pq_topk",
    "ann_pq_trained_topk", "evt_anomaly_zscore", "ivf_assign_batch",
    "j6c_osa_lev_delta", "minhash_index_probe",
    "pipe_incremental_corpus", "repeated_span_fraction",
    "sample_temperature", "simhash_near_dup_join", "text_fix_mojibake",
    "text_gopher_rules", "text_remove_repeated_spans",
    "unigram_doc_score",
]


def _latest_green_round() -> dict[str, int]:
    """Latest round each query hash-matched, from CORRECTNESS_r*.json.

    Its keys are the confirmed queries; queries() rotates them
    stalest-first so every confirmed query gets a fresh driver-green row
    every ~3 rounds. Falls back to {} (every query unconfirmed, in
    registration order) if the files are unreadable.
    """
    latest: dict[str, int] = {}
    try:
        here = Path(__file__).resolve().parent
        for p in sorted(here.glob("CORRECTNESS_r*.json")):
            m = re.search(r"_r(\d+)\.json$", p.name)
            if not m:
                continue
            rnd = int(m.group(1))
            data = json.loads(p.read_text())
            for name, row in data.items():
                if isinstance(row, dict) and row.get("hash_match"):
                    latest[name] = max(latest.get(name, 0), rnd)
    except Exception:
        return {}
    return latest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    names = list(catalog.Q)
    reg_idx = {n: i for i, n in enumerate(names)}
    prio = [n for n in _PRIORITY if n in catalog.Q]
    green = _latest_green_round()
    rest = [n for n in names if n not in prio]
    unconfirmed = [n for n in rest if n not in green]
    confirmed = sorted((n for n in rest if n in green),
                       key=lambda n: (green[n], reg_idx[n]))
    return {n: catalog.Q[n] for n in prio + unconfirmed + confirmed}


def oracle_sql() -> dict[str, str]:
    return dict(catalog.ORACLE)
