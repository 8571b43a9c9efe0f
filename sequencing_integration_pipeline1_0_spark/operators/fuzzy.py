"""Blocked fuzzy-matching join + banded routing (SURVEY §2.3 J6/J7/J8,
§3.2; reference: scripts/Roster_scripts/fuzzy_matching_functions.R:2-50,
docs/notebooks/fuzzy.Rmd:556-1067).

Reference algorithm: block both sides on year(DOB), per-block
stringdist join on normalized FIRST_LAST name with OSA (restricted
Damerau-Levenshtein) distance <= 3, plus a flipped-name (LAST_FIRST)
inner variant at <= 2; union, dedup; then exact-DOB filter, ±14-day
collection-date window with only-match rescue, ambiguous-key demotion,
and sequential banding by distance (0,1 -> auto; 2,3 -> review;
no-match -> did_not_match).

Spark-first rewrite: the block key becomes an equi-join key, so
Catalyst plans a shuffled hash/sort-merge join with the Levenshtein
predicate as a post-filter — NOT a BroadcastNestedLoopJoin (SURVEY §4).
Skewed blocks (dense birth years) are handled by AQE skew-join. The
straight and flipped tests are one residual (`a OR b`) on that one
join, not two joins + union + dedup: `fuzzy_name_join` returns one row
per matching (left row, right row) pair, with distance = the smaller
qualifying distance.
Banding is a single min-distance window + `when` cascade instead of the
reference's sequential subtract-and-reroute, with identical semantics
because each rowid routes by its BEST distance.

OSA-vs-Levenshtein: Spark ships levenshtein() (no transposition move);
a transposed pair costs 2 (sub+sub counted) vs OSA's 1. The default
metric stays JVM levenshtein (whole-stage codegen, zero Python);
metric="osa" upgrades to the reference's exact OSA semantics
(fuzzy.Rmd:16 "optimal string alignment") — JVM prefilters still prune
the candidate set (|len diff| <= k always; bounded levenshtein <= 2k,
valid because lev <= 2*OSA), and only the survivors pay the
Arrow-batched banded-DP pandas UDF.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def osa_distance_leq(a: str | None, b: str | None, k: int) -> int:
    """Banded OSA (restricted Damerau-Levenshtein: ins/del/sub/adjacent
    transposition, each cost 1, no substring re-edit) — returns the
    distance if <= k else -1. Only the |i-j| <= k diagonal band is
    evaluated; out-of-band cells hold k+1 so any path through them
    fails the final bound check."""
    if a is None or b is None:
        return -1
    la, lb = len(a), len(b)
    if abs(la - lb) > k:
        return -1
    big = k + 1
    prev2: list[int] | None = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [big] * (lb + 1)
        cur[0] = i
        for j in range(max(1, i - k), min(lb, i + k) + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (i > 1 and j > 1 and prev2 is not None
                    and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]):
                v = min(v, prev2[j - 2] + cost)
            cur[j] = v
        prev2, prev = prev, cur
    return prev[lb] if prev[lb] <= k else -1


def _osa_leq_udf(k: int):
    """Arrow-batched pandas UDF wrapping osa_distance_leq at bound k.
    Runs ONLY on blocked+prefiltered candidate pairs — the join itself
    never touches Python."""
    import pandas as pd  # local: keep module import light
    from pyspark.sql.functions import pandas_udf

    # note: no type hints on the inner fn — the module uses
    # `from __future__ import annotations`, and pyspark's hint
    # resolution can't evaluate the stringified locals
    @pandas_udf("int")
    def osa(a, b):
        return pd.Series(
            [osa_distance_leq(x, y, k) for x, y in zip(a, b)],
            dtype="int32")

    return osa


def _blocked_meet(left: DataFrame, right: DataFrame,
                  block_keys: Sequence[str],
                  tests: Sequence[tuple[str, str, int]],
                  lev_slack: int = 1) -> tuple[DataFrame, list, list]:
    """The one blocked join behind both public joins: an equi-join on
    `block_keys` whose residual keeps a (left row, right row) pair when
    ANY test (left_key, right_key, k) holds — |len diff| <= k and the
    bounded levenshtein at lev_slack * k is >= 0.

    Returns (joined, bounded distance per test, output columns: left
    cols + right cols minus its block cols). Both frames must carry the
    block columns with identical names. The probe side is spread first:
    a small parquet scan is 1 partition -> 1 task doing every
    levenshtein, and the distance predicate is the cost, not the
    shuffle (`skew.spread_for_compute` is a no-op on a wide input)."""
    from .skew import spread_for_compute
    left_cols, right_cols = list(left.columns), list(right.columns)
    block_keys = list(block_keys)
    l = spread_for_compute(left).alias("l")
    r = right.alias("r")
    cond = None
    for b in block_keys:
        c = F.col(f"l.{b}") == F.col(f"r.{b}")
        cond = c if cond is None else cond & c
    # cheap prefilter: |len(a)-len(b)| > k implies distance > k, so the
    # edit distance never runs on hopeless pairs; the bounded 3-arg
    # levenshtein then early-exits at its bound (returns -1 above it)
    hit, bounded = None, []
    for left_key, right_key, k in tests:
        lk, rk = F.col(f"l.{left_key}"), F.col(f"r.{right_key}")
        d = F.levenshtein(lk, rk, lev_slack * k)
        ok = (F.abs(F.length(lk) - F.length(rk)) <= k) & (d >= 0)
        hit = ok if hit is None else hit | ok
        bounded.append(d)
    cond = hit if cond is None else cond & hit
    keep_r = [c for c in right_cols if c not in set(block_keys)]
    out_cols = ([F.col(f"l.{c}") for c in left_cols]
                + [F.col(f"r.{c}") for c in keep_r])
    return l.join(r, cond, "inner"), bounded, out_cols


def blocked_distance_join(left: DataFrame, right: DataFrame, *,
                          left_key: str, right_key: str,
                          block_keys: Sequence[str],
                          max_dist: int = 3,
                          dist_col: str = "distance",
                          metric: str = "levenshtein") -> DataFrame:
    """Inner equi-join on block keys + distance(left_key, right_key) <= k.

    metric="levenshtein" (default): pure-JVM bounded levenshtein — the
    fast path, used by every catalog query. metric="osa": the
    reference's exact optimal-string-alignment semantics (adjacent
    transposition costs 1 not 2); JVM still prunes (len diff <= k,
    bounded levenshtein <= 2k, valid because lev <= 2*OSA) and the
    banded-DP pandas UDF scores only the surviving candidates, as a
    post-join filter — the join plan is identical.

    Both frames must carry the block columns with identical names.
    Returns left cols + right cols (right's block cols dropped) + dist.
    Matched pairs only; callers re-attach non-matches via left_anti
    (as band routing does).
    """
    if metric not in ("levenshtein", "osa"):
        raise ValueError(f"unknown metric {metric!r}")
    joined, (bounded,), out_cols = _blocked_meet(
        left, right, block_keys, [(left_key, right_key, max_dist)],
        lev_slack=1 if metric == "levenshtein" else 2)
    if metric == "osa":
        osa = _osa_leq_udf(max_dist)(F.col(f"l.{left_key}"),
                                     F.col(f"r.{right_key}"))
        return (joined
                .withColumn(dist_col, osa)
                .filter(F.col(dist_col) >= 0)
                .select(*out_cols, F.col(dist_col)))
    return joined.select(*out_cols, bounded.alias(dist_col))


def fuzzy_name_join(left: DataFrame, right: DataFrame, *,
                    left_name: str = "name_norm", right_name: str = "name_norm_r",
                    right_flip: str | None = None,
                    block_keys: Sequence[str] = ("dob_year",),
                    max_dist: int = 3, flip_max_dist: int = 2,
                    dist_col: str = "distance") -> DataFrame:
    """J6+J7+J11: the left STRAIGHT name against the right straight
    name at <= max_dist OR the right FLIPPED name at <= flip_max_dist
    (fuzzy_matching_functions.R:16-50; the reference flips exactly one
    side, fuzzy.Rmd:575-576), in ONE blocked join.

    Contract: one row per matching (left row, right row) pair, with
    `dist_col` = the smaller of the qualifying distances — a pair that
    matches both ways carries its better one, so band routing sees its
    best distance. Matched pairs only; the caller re-attaches
    non-matches via left_anti for the did_not_match band."""
    tests = [(left_name, right_name, max_dist)]
    if right_flip:
        tests.append((left_name, right_flip, flip_max_dist))
    joined, bounded, out_cols = _blocked_meet(left, right, block_keys, tests)
    dist = (bounded[0] if len(bounded) == 1
            else F.least(*[F.when(d >= 0, d) for d in bounded]))
    return joined.select(*out_cols, dist.alias(dist_col))


def band_by_distance(matches: DataFrame, *, rowid: str = "rowid",
                     dist_col: str = "distance",
                     band_col: str = "band") -> DataFrame:
    """§3.2 step 6: each rowid routes once, by its minimum distance —
    replaces the reference's sequential band-removal loop
    (fuzzy.Rmd:925-1067) with one window + when cascade."""
    from pyspark.sql import Window
    w = Window.partitionBy(rowid)
    best = F.min(F.col(dist_col)).over(w)
    kept = matches.withColumn("__best", best).filter(F.col(dist_col) == F.col("__best"))
    return kept.withColumn(
        band_col,
        F.when(F.col(dist_col) == 0, F.lit("roster_exact"))
         .when(F.col(dist_col) == 1, F.lit("roster_near"))
         .otherwise(F.lit("review")),
    ).drop("__best")


def range_join(left: DataFrame, right: DataFrame, *,
               equi: Sequence[tuple[str, str]],
               point: str, lo: str, hi: str,
               how: str = "inner") -> DataFrame:
    """J8: interval join — equal keys AND lo < point < hi
    (Review_Collection_Date_Mismatch.Rmd:260-295 fuzzy_inner_join with
    match_fun list(==,==,>,<))."""
    l = left.alias("l")
    r = right.alias("r")
    cond = None
    for lk, rk in equi:
        c = F.col(f"l.{lk}") == F.col(f"r.{rk}")
        cond = c if cond is None else cond & c
    rng = (F.col(f"l.{point}") > F.col(f"r.{lo}")) & (F.col(f"l.{point}") < F.col(f"r.{hi}"))
    cond = rng if cond is None else cond & rng
    dup = [c for c in right.columns if c in set(left.columns)]
    return l.join(r, cond, how).select(
        *[F.col(f"l.{c}") for c in left.columns],
        *[F.col(f"r.{c}").alias(f"r_{c}" if c in dup else c) for c in right.columns],
    )


def only_match_rescue(matches: DataFrame, *, rowid: str = "rowid",
                      in_window: Column, dist_col: str = "distance") -> DataFrame:
    """fuzzy.Rmd:866-878: keep in-window matches; a rowid whose matches
    are ALL out-of-window keeps them anyway when it has exactly one
    candidate ("only match" rescue)."""
    from pyspark.sql import Window
    w = Window.partitionBy(rowid)
    n_in = F.sum(F.when(in_window, 1).otherwise(0)).over(w)
    n_all = F.count(F.lit(1)).over(w)
    return (matches
            .withColumn("__in", in_window)
            .withColumn("__keep", F.col("__in") | ((n_in == 0) & (n_all == 1)))
            .filter(F.col("__keep")).drop("__in", "__keep"))


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage (the statistical layer the
# reference's deterministic fuzzy matching approximates by hand-tuned
# distance cutoffs: fuzzy.Rmd:556-603 accepts/rejects on lev + window;
# FS replaces the cutoff with per-field evidence weights ln(m/u) —
# the splink/fastLink model, computable at 100 TB because every weight
# is a plan-time literal over the blocked candidate pairs)
# ---------------------------------------------------------------------------

#: P(agreement level | match) and | unmatch) for the 3-level name
#: comparison (0 = disagree, 1 = close/lev<=2, 2 = exact) and the
#: binary segment / balance-proximity comparisons. Literature-shaped
#: priors, published as module constants so the oracle interpolates
#: THE SAME weights (single-source rule).
FS_NAME_M = (0.03, 0.12, 0.85)
FS_NAME_U = (0.90, 0.09, 0.01)
FS_SEG_M, FS_SEG_U = 0.9, 0.2
FS_BAL_M, FS_BAL_U = 0.8, 0.3
#: total-evidence threshold for the match classification
FS_THRESHOLD = 2.0
#: balance proximity window (absolute difference)
FS_BAL_WINDOW = 100.0


def fs_weights() -> dict[str, tuple[float, ...]]:
    """ln(m/u) evidence weights computed ONCE in Python — plan-time
    float literals in both engines, so no SQL ln() sits on the
    certified path and the per-pair score is a sum of 3 literals."""
    import math
    return {
        "name": tuple(math.log(m / u)
                      for m, u in zip(FS_NAME_M, FS_NAME_U)),
        "seg": (math.log((1 - FS_SEG_M) / (1 - FS_SEG_U)),
                math.log(FS_SEG_M / FS_SEG_U)),
        "bal": (math.log((1 - FS_BAL_M) / (1 - FS_BAL_U)),
                math.log(FS_BAL_M / FS_BAL_U)),
    }


def fellegi_sunter_score(gamma_name: Column, gamma_seg: Column,
                         gamma_bal: Column, *, round_to: int = 6) -> Column:
    """Total FS evidence = sum of the per-field literal weights picked
    by the agreement levels. Left-associative double adds of plan-time
    literals — bit-identical across engines before the final round."""
    w = fs_weights()

    def pick(gamma: Column, ws: tuple[float, ...]) -> Column:
        expr = F.lit(ws[0])
        for lvl in range(1, len(ws)):
            expr = F.when(gamma == lvl, F.lit(ws[lvl])).otherwise(expr)
        return expr

    return F.round(pick(gamma_name, w["name"])
                   + pick(gamma_seg, w["seg"])
                   + pick(gamma_bal, w["bal"]), round_to)
