"""Unit tests for DataFrame operators (SURVEY §2.3/2.5/2.6/2.8/2.9)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from sequencing_integration_pipeline1_0_spark.operators import (
    cdc,
    dedup,
    fuzzy,
    packed,
    qa,
)


def test_dedup_first_deterministic(spark):
    df = spark.createDataFrame(
        [("k", "b", 2), ("k", "a", 1), ("j", "c", 3)], "key string, v string, ord int")
    out = dedup.dedup_first(df, ["key"], ["ord"]).collect()
    got = {r["key"]: r["v"] for r in out}
    assert got == {"k": "a", "j": "c"}


def test_keep_singletons(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "k string, v int")
    out = dedup.keep_singletons(df, ["k"]).collect()
    assert [(r["k"], r["v"]) for r in out] == [("b", 3)]


def test_argmin_keeps_ties_and_nulls(spark):
    df = spark.createDataFrame(
        [("g", 1), ("g", 1), ("g", 5), ("h", None)], "k string, d int")
    out = dedup.argmin_per_group(df, ["k"], "d").collect()
    ks = sorted((r["k"], r["d"]) for r in out)
    assert ks == [("g", 1), ("g", 1), ("h", None)]


def test_dup_flag_ignores_null_empty(spark):
    df = spark.createDataFrame(
        [("x",), ("x",), ("",), ("",), (None,), (None,)], "k string")
    out = dedup.dup_flag(df, ["k"], "flag").collect()
    flags = [(r["k"], r["flag"]) for r in out]
    assert all(f == 1 for k, f in flags if k == "x")
    assert all(f is None for k, f in flags if k in ("", None))


def test_cascade_dup_flags(spark):
    # tier1 = (a,b) dup; tier2 = (a) dup only when tier1 not fired
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("b", "z")], "k1 string, k2 string")
    out = dedup.cascade_dup_flags(df, [["k1", "k2"], ["k1"]]).collect()
    for r in out:
        if (r["k1"], r["k2"]) == ("a", "x"):
            assert r["dup_tier1"] == 1 and r["dup_tier2"] is None
        elif (r["k1"], r["k2"]) == ("a", "y"):
            assert r["dup_tier1"] is None and r["dup_tier2"] == 1
        else:
            assert r["dup_tier1"] is None and r["dup_tier2"] is None


def test_fuzzy_name_join_with_flip(spark):
    left = spark.createDataFrame(
        [(1, "JANE_SMITH", "SMITH_JANE", 1980),
         (2, "BOB_JONES", "JONES_BOB", 1990)],
        "rowid int, name string, flip string, dob_year int")
    right = spark.createDataFrame(
        [(10, "JANE_SMYTH", "SMYTH_JANE", 1980),    # dist 1 straight
         (20, "JONES_BOB", "BOB_JONES", 1990),      # exact only when flipped
         (30, "ZZZZZZZZZ", "ZZZZZZZZZ", 1980)],
        "case_id int, name_r string, flip_r string, dob_year int")
    out = fuzzy.fuzzy_name_join(
        left, right, left_name="name", right_name="name_r",
        right_flip="flip_r",
        block_keys=["dob_year"], max_dist=3, flip_max_dist=2)
    got = sorted((r["rowid"], r["case_id"], r["distance"]) for r in out.collect())
    assert (1, 10, 1) in got            # straight fuzzy hit
    assert any(r == (2, 20, 0) for r in got)  # flip hit at distance 0
    assert not any(c == 30 for _, c, _d in got)


def test_fuzzy_name_join_two_way_match_keeps_best_distance(spark):
    """A pair within bound both straight (2) and flipped (0) is one
    row carrying the smaller distance."""
    left = spark.createDataFrame(
        [(1, "ANNA_ANNE", 1980)], "rowid int, name string, dob_year int")
    right = spark.createDataFrame(
        [(10, "ANNE_ANNA", "ANNA_ANNE", 1980)],
        "case_id int, name_r string, flip_r string, dob_year int")
    out = fuzzy.fuzzy_name_join(
        left, right, left_name="name", right_name="name_r",
        right_flip="flip_r", block_keys=["dob_year"],
        max_dist=3, flip_max_dist=2)
    got = [(r["rowid"], r["case_id"], r["distance"]) for r in out.collect()]
    assert got == [(1, 10, 0)]


def test_band_by_distance_routes_by_best(spark):
    probe = spark.createDataFrame([(1,), (2,), (3,)], "rowid int")
    m = spark.createDataFrame(
        [(1, 10, 2), (1, 11, 0), (2, 12, 3)], "rowid int, case_id int, distance int")
    out = fuzzy.band_by_distance(probe, m).collect()
    got = {(r["rowid"], r["case_id"]): r["band"] for r in out}
    # rowid 3 has no match: one row, NULL match columns
    assert got == {(1, 11): "roster_exact", (2, 12): "review",
                   (3, None): "did_not_match"}
    assert len(out) == 3


def test_range_join(spark):
    left = spark.createDataFrame(
        [(1, datetime.date(2021, 1, 10)), (2, datetime.date(2021, 3, 1))],
        "id int, d date")
    right = spark.createDataFrame(
        [(1, datetime.date(2021, 1, 1), datetime.date(2021, 1, 31))],
        "id int, lo date, hi date")
    out = fuzzy.range_join(left, right, equi=[("id", "id")],
                           point="d", lo="lo", hi="hi")
    assert [r["id"] for r in out.collect()] == [1]


def test_only_match_rescue(spark):
    m = spark.createDataFrame(
        [(1, 10, True), (1, 11, False),      # rowid 1: in-window match kept only
         (2, 12, False)],                    # rowid 2: single out-of-window -> rescued
        "rowid int, case_id int, inw boolean")
    out = fuzzy.only_match_rescue(m, in_window=F.col("inw"))
    got = sorted((r["rowid"], r["case_id"]) for r in out.collect())
    assert got == [(1, 10), (2, 12)]


def test_qa_roster_filters_composite(spark):
    df = spark.createDataFrame(
        [("1", "A", "COMPLETE"), (None, "A", "COMPLETE"), ("3", "B", "BAD"),
         ("4", "C", "COMPLETE"), ("5", "C", "COMPLETE")],
        "case_id string, sca string, status string")
    wdrs = spark.createDataFrame([("1",)], "sca_wdrs string")
    out = qa.roster_filters(
        df,
        expr_flags={"QA_CASE_ID": F.col("case_id").isNull(),
                    "QA_STATUS": F.col("status") != "COMPLETE"},
        dup_specs={"QA_SCA_INT_DUPE": ["sca"]},
        membership_specs={"QA_SCA_WDRS_DUPE": ("case_id", wdrs, "sca_wdrs")},
    )
    rows = {r["case_id"]: r for r in out.collect()}
    assert rows[None]["QA_CASE_ID"] == 1 and rows[None]["qa_sum"] >= 1
    assert rows["3"]["QA_STATUS"] == 1
    assert rows["4"]["QA_SCA_INT_DUPE"] == 1 and rows["5"]["QA_SCA_INT_DUPE"] == 1
    assert rows["1"]["QA_SCA_WDRS_DUPE"] == 1
    summary = qa.qa_summary(out).collect()[0]
    # sca dupes: "A" (rows 1 & None) and "C" (rows 4 & 5) -> 4 flagged rows
    assert summary["n_rows"] == 5 and summary["QA_SCA_INT_DUPE"] == 4


def test_sentinel_row_scan(spark):
    df = spark.createDataFrame(
        [("ok", "fine"), ("ok", "QA CHECK FAIL: bad"), (None, "x")],
        "a string, b string")
    out = [r["has_sentinel"] for r in qa.sentinel_row_scan(df).collect()]
    assert out == [False, True, False]


def test_snapshot_diff_and_classify(spark):
    cols = "id string, lineage string, notes string"
    yesterday = spark.createDataFrame(
        [("1", "BA.1", "n1"), ("2", "BA.2", "n2"), ("3", "XBB", "n3")], cols)
    today = spark.createDataFrame(
        [("1", "BA.1", "n1"), ("2", "BA.2.1", "n2x"), ("4", "JN.1", "n4")], cols)
    added, removed = cdc.snapshot_diff(today, yesterday)
    assert sorted(r["id"] for r in added.collect()) == ["2", "4"]
    assert sorted(r["id"] for r in removed.collect()) == ["2", "3"]
    changed = cdc.classify_changes(added, removed, ["id", "lineage", "notes"],
                                   varying=["lineage", "notes"])
    got = changed.collect()
    assert len(got) == 1 and got[0]["id"] == "2" and got[0]["old_lineage"] == "BA.2"


def test_ledger_and_loss_prevention(spark):
    batch = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    ledger = spark.createDataFrame([("a",)], "k string")
    fresh = cdc.ledger_dedup(batch, ledger, ["k"])
    assert sorted(r["k"] for r in fresh.collect()) == ["b", "c"]
    out1 = spark.createDataFrame([("b",)], "k string")
    leftovers = cdc.loss_prevention(fresh, [out1], "k")
    assert [r["k"] for r in leftovers.collect()] == ["c"]


def test_co_explode_positional(spark):
    df = spark.createDataFrame(
        [("r1", "A1, A2", "C1,C2"), ("r2", "B1", "D1,D2")],
        "id string, sa string, sca string")
    out = packed.co_explode(df, ["sa", "sca"]).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append((r["sa"], r["sca"], r["packed_len_mismatch"]))
    assert sorted(by_id["r1"]) == [("A1", "C1", False), ("A2", "C2", False)]
    # mismatch: shorter list padded with NULL + flagged
    assert set(by_id["r2"]) == {("B1", "D1", True), (None, "D2", True)}


def test_dup_flag_exemption_file_keyed(spark):
    """quality_filters.R:120-138: rows from a 'duplicates_roster' file
    may duplicate SCAs (flag nulled) but still make their non-exempt
    partners count as duplicates."""
    from sequencing_integration_pipeline1_0_spark.operators import qa
    rows = [("A1", "duplicates_roster_jan.csv"),
            ("A1", "lab_drop.csv"),
            ("B2", "lab_drop.csv")]
    df = spark.createDataFrame(rows, "sca string, index string")
    out = qa.roster_filters(
        df,
        dup_specs={"QA_SCA_INT_DUPE": ["sca"]},
        dup_exempt={"QA_SCA_INT_DUPE":
                    F.col("index").contains("duplicates_roster")})
    got = {(r["sca"], r["index"]): r["QA_SCA_INT_DUPE"] for r in out.collect()}
    assert got[("A1", "duplicates_roster_jan.csv")] is None   # exempt
    assert got[("A1", "lab_drop.csv")] == 1                   # still flagged
    assert got[("B2", "lab_drop.csv")] is None                # singleton


def test_asof_join_hand_cases(spark):
    from sequencing_integration_pipeline1_0_spark.operators import asof
    left = spark.createDataFrame(
        [(1, 10, "L10"), (1, 20, "L20"), (1, 5, "L5"), (2, 50, "L50")],
        "k long, ts long, lv string")
    right = spark.createDataFrame(
        [(1, 10, "R10"), (1, 15, None), (2, 60, "R60")],
        "k long, ts long, rv string")
    out = {r["lv"]: r for r in asof.asof_join(
        left, right, on=["k"], ts="ts", right_value_cols=["rv"],
        how="left").collect()}
    assert out["L10"]["rv"] == "R10" and out["L10"]["matched_ts"] == 10  # ts ties match
    # matched row's rv is NULL -> must stay NULL, not fall back to R10
    assert out["L20"]["rv"] is None and out["L20"]["matched_ts"] == 15
    assert out["L5"]["matched_ts"] is None    # nothing at or before ts=5
    assert out["L50"]["matched_ts"] is None   # right row is later (60 > 50)
    inner = asof.asof_join(left, right, on=["k"], ts="ts",
                           right_value_cols=["rv"]).collect()
    assert {r["lv"] for r in inner} == {"L10", "L20"}


# ---------------------------------------------------------------- OSA metric

def test_osa_distance_leq_reference_cases():
    """Banded OSA against hand-checked distances: transpositions cost 1
    (vs 2 in plain Levenshtein), band bound returns -1 above k."""
    from sequencing_integration_pipeline1_0_spark.operators.fuzzy import osa_distance_leq
    assert osa_distance_leq("MARTA", "MATRA", 3) == 1      # adjacent swap
    assert osa_distance_leq("MARTA", "MATRA", 1) == 1
    assert osa_distance_leq("ABCD", "BADC", 3) == 2        # two swaps
    assert osa_distance_leq("ABCD", "BADC", 1) == -1       # above bound
    assert osa_distance_leq("SMITH", "SMITH", 3) == 0
    assert osa_distance_leq("SMITH", "SMYTHE", 3) == 2     # sub + ins
    assert osa_distance_leq("CA", "ABC", 3) == 3           # OSA can't re-edit a swap
    assert osa_distance_leq("A", "ABCDE", 3) == -1         # len diff > k
    assert osa_distance_leq(None, "X", 3) == -1


def test_osa_distance_matches_bruteforce():
    """Property: banded OSA == unbanded DP for random short strings."""
    import itertools, random
    from sequencing_integration_pipeline1_0_spark.operators.fuzzy import osa_distance_leq

    def osa_full(a, b):
        la, lb = len(a), len(b)
        d = [[0] * (lb + 1) for _ in range(la + 1)]
        for i in range(la + 1):
            d[i][0] = i
        for j in range(lb + 1):
            d[0][j] = j
        for i in range(1, la + 1):
            for j in range(1, lb + 1):
                cost = 0 if a[i-1] == b[j-1] else 1
                d[i][j] = min(d[i-1][j] + 1, d[i][j-1] + 1, d[i-1][j-1] + cost)
                if i > 1 and j > 1 and a[i-1] == b[j-2] and a[i-2] == b[j-1]:
                    d[i][j] = min(d[i][j], d[i-2][j-2] + cost)
        return d[la][lb]

    rng = random.Random(42)
    alpha = "AB C"
    for _ in range(300):
        a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 7)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 7)))
        for k in (1, 2, 3):
            true = osa_full(a, b)
            got = osa_distance_leq(a, b, k)
            assert got == (true if true <= k else -1), (a, b, k, true, got)


def test_blocked_join_osa_mode_catches_transpositions(spark):
    """metric='osa' at k=1 keeps an adjacent-swap pair that the default
    levenshtein metric (distance 2) rejects; plans stay equi-joins."""
    from sequencing_integration_pipeline1_0_spark.operators import fuzzy as fz
    left = spark.createDataFrame(
        [(1, "MARTA_GARCIA", 1980), (2, "JOHN_DOE", 1990)],
        ["rowid", "name_norm", "dob_year"])
    right = spark.createDataFrame(
        [(10, "MATRA_GARCIA", 1980), (20, "JANE_ROE", 1990)],
        ["case_id", "name_norm_r", "dob_year"])
    lev = fz.blocked_distance_join(
        left, right, left_key="name_norm", right_key="name_norm_r",
        block_keys=["dob_year"], max_dist=1)
    osa = fz.blocked_distance_join(
        left, right, left_key="name_norm", right_key="name_norm_r",
        block_keys=["dob_year"], max_dist=1, metric="osa")
    assert lev.count() == 0
    got = osa.collect()
    assert len(got) == 1
    assert got[0]["rowid"] == 1 and got[0]["distance"] == 1
    # same candidates at a bound where the metrics agree
    lev3 = fz.blocked_distance_join(
        left, right, left_key="name_norm", right_key="name_norm_r",
        block_keys=["dob_year"], max_dist=3)
    osa3 = fz.blocked_distance_join(
        left, right, left_key="name_norm", right_key="name_norm_r",
        block_keys=["dob_year"], max_dist=3, metric="osa")
    assert ({r["rowid"] for r in lev3.collect()}
            == {r["rowid"] for r in osa3.collect()})


def test_osa_pairs_superset_of_levenshtein_pairs(spark, sf_dir):
    """On real data at the same bound, OSA <= lev everywhere, so the
    OSA match set must contain every levenshtein match set pair."""
    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    lev = {(r["l_custkey"], r["r_custkey"])
           for r in qs["j6_fuzzy_name_pairs"](spark, sf_dir).collect()}
    osa = {(r["l_custkey"], r["r_custkey"])
           for r in qs["j6b_fuzzy_osa_pairs"](spark, sf_dir).collect()}
    assert lev <= osa
