"""End-to-end path tests (SURVEY §3) on domain-shaped fixtures
(FIXTURES.md): routing completeness, conservation invariants, fuzzy
banding, roster contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sequencing_integration_pipeline1_0_spark.operators import cdc
from sequencing_integration_pipeline1_0_spark.plans import pipelines as P


@pytest.fixture(scope="module")
def submissions(spark):
    cols = ("LAB_ACCESSION_ID", "GISAID_ID", "SPECIMEN_COLLECTION_DATE",
            "SUBMITTING_LAB", "SEQUENCE_REASON", "SEQUENCE_STATUS",
            "PANGO_LINEAGE", "FIRST_NAME", "LAST_NAME", "MIDDLE_NAME",
            "DOB", "ALTERNATIVE_ID")
    rows = [
        # clean, matched by accession -> roster
        ("ACC1", "hCoV-19/USA/WA-CDC-001/2021", "1/2/2021", "UW Virology",
         "SENTINEL SURVEILLANCE", "COMPLETE", "B.1.1.7", "ALICE", "SMITH",
         None, "1980-01-01", None),
        # Excel-serial date, matched -> roster
        ("ACC2", "USA/WA-CDC-002/2021", "44287", "Aegis Sciences",
         "OTHER", "COMPLETE", "B.1.2", "BOB", "JONES", None,
         "1975-05-05", None),
        # unmatched but has demographics -> fuzzy_candidates
        ("ACC9", None, "2021-03-04", "Quest", "OTHER", "FAILED", None,
         "CAROL", "WHITE", None, "3/3/1990", None),
        # unmatched, no DOB -> keep_na
        ("ACC8", None, "2021-03-05", "Helix", "OTHER", "PENDING", None,
         "DAN", "BROWN", None, None, None),
        # bad status -> for_review (QA)
        ("ACC3", "USA/WA-CDC-003/2021", "1/5/2021", "Labcorp", "OTHER",
         "WHO KNOWS", None, "EVE", "BLACK", None, "1985-07-07", None),
        # unparseable date -> for_review (QA)
        ("ACC4", "USA/WA-CDC-004/2021", "not-a-date", "PHL", "OTHER",
         "COMPLETE", "B.1.1.7", "FAY", "GREEN", None, "1990-09-09", None),
    ]
    return spark.createDataFrame(rows, schema=", ".join(f"{c} string" for c in cols))


@pytest.fixture(scope="module")
def wdrs_entire(spark):
    rows = [("100", "ACC1"), ("101", "ACC2"), ("102", "ACC3"),
            ("103", "ACC4"), ("104", "ACCX")]
    return spark.createDataFrame(rows, "CASE_ID string, FILLER__ORDER__NUM string")


def test_template_path_routing(spark, submissions, wdrs_entire):
    routed = P.template_route_tags(submissions, wdrs_entire)
    got = {r["route"]: r["count"] for r in routed.groupBy("route").count().collect()}
    assert set(got) == set(P.TEMPLATE_ROUTES)
    assert got["roster"] == 2           # ACC1, ACC2
    assert got["fuzzy_candidates"] == 1  # ACC9
    assert got["keep_na"] == 1          # ACC8
    assert got["for_review"] == 2       # ACC3 (status), ACC4 (date)
    # conservation: every submission row routed exactly once
    assert sum(got.values()) == submissions.count()
    # roster side meets the 17-col positional contract
    roster = P.to_roster_schema(routed.filter(F.col("route") == "roster"),
                                as_of=F.current_date())
    P.assert_roster_contract(roster)
    r = {x["SEQUENCE_CLINICAL_ACCESSION"]: x for x in roster.collect()}
    assert r["ACC1"]["CASE_ID"] == "100"
    assert r["ACC1"]["SEQUENCE_ACCESSION"] == "USA/WA-CDC-001/2021"  # prefix stripped
    assert r["ACC2"]["SEQUENCE_SPECIMEN_COLLECTION_DATE"] == "04/01/2021"  # serial 44287
    assert "Lineage identified as B.1.1.7" in r["ACC1"]["SEQUENCE_NOTES"]


def test_template_schema_validation(spark, submissions):
    P.validate_template_schema(submissions)
    with pytest.raises(ValueError):
        P.validate_template_schema(
            submissions.select(*reversed(submissions.columns)))


def _candidates(spark, rows):
    """Pre-normalized fuzzy candidates from (rowid, first, last, dob,
    collection date) tuples."""
    df = spark.createDataFrame(
        rows, "rowid int, FIRST_NAME string, LAST_NAME string, dob string, cd string")
    return (df.withColumn("dob_date", F.col("dob").cast("date"))
              .withColumn("collection_date", F.col("cd").cast("date"))
              .drop("dob", "cd"))


@pytest.fixture(scope="module")
def fuzzy_candidates(spark):
    return _candidates(spark, [
        (1, "ALICE", "SMITH", "1980-01-01", "2021-01-02"),   # exact -> d0
        (2, "ALICIA", "SMITH", "1980-01-01", "2021-01-02"),  # d2 -> review
        (3, "BOB", "JONES", "1975-05-05", "2021-04-01"),     # d0 but DOB differs -> no match
        (4, "ZELDA", "QUX", "1999-12-31", "2021-06-01"),     # no candidate
        (5, "SMITH", "ALICE", "1980-01-01", "2021-01-02"),   # flipped -> match
        (6, "CAROL", "WHITE", "1990-03-03", "2021-09-09"),   # date out of window, only match -> rescued
    ])


@pytest.fixture(scope="module")
def wdrs_universe(spark):
    rows = [
        ("100", "ALICE", "SMITH", "1980-01-01", "2021-01-03"),
        ("101", "BOB", "JONES", "1975-05-06", "2021-04-01"),  # DOB off by a day
        ("103", "CAROL", "WHITE", "1990-03-03", "2021-05-05"),  # event far from cd
    ]
    df = spark.createDataFrame(
        rows, "CASE_ID string, FIRST_NAME string, LAST_NAME string, dob string, ed string")
    return (df.withColumn("dob_date", F.col("dob").cast("date"))
              .withColumn("event_date", F.col("ed").cast("date"))
              .drop("dob", "ed"))


def test_fuzzy_path_banding(spark, fuzzy_candidates, wdrs_universe):
    routes = P.fuzzy_match_path(fuzzy_candidates, wdrs_universe)
    roster = {r["rowid"]: r for r in routes.get("roster", spark.range(0)).collect()}
    review = {r["rowid"]: r for r in routes.get("review", spark.range(0)).collect()}
    unmatched = {r["rowid"] for r in routes["did_not_match"].collect()}
    assert 1 in roster and roster[1]["distance"] == 0
    assert 5 in roster            # flipped-name pass
    assert 2 in review            # distance 2
    assert 6 in roster            # only-match rescue despite window miss
    assert unmatched == {3, 4}    # DOB mismatch kills 3; 4 has no candidate
    # every rowid in exactly one route
    leftovers = cdc.loss_prevention(fuzzy_candidates, routes.values(), "rowid")
    assert leftovers.count() == 0
    all_ids = set(roster) | set(review) | unmatched
    assert all_ids == {1, 2, 3, 4, 5, 6}


def test_fuzzy_path_routes_two_way_match_by_flipped_distance(spark):
    """ANNA ANNE vs case ANNE ANNA: straight distance 2 (review) but
    flipped distance 0, so the pair routes to roster at distance 0."""
    cands = _candidates(spark, [(7, "ANNA", "ANNE", "1985-02-02", "2021-03-03")])
    univ = spark.createDataFrame(
        [("200", "ANNE", "ANNA", "1985-02-02", "2021-03-04")],
        "CASE_ID string, FIRST_NAME string, LAST_NAME string, dob string, ed string")
    univ = (univ.withColumn("dob_date", F.col("dob").cast("date"))
                .withColumn("event_date", F.col("ed").cast("date"))
                .drop("dob", "ed"))
    routes = P.fuzzy_match_path(cands, univ)
    roster = [(r["rowid"], r["matched_case_id"], r["distance"])
              for r in routes["roster"].collect()]
    assert roster == [(7, "200", 0)]
    assert routes["review"].count() == 0


def test_fuzzy_route_tags_one_frame(spark, fuzzy_candidates, wdrs_universe):
    rows = P.fuzzy_route_tags(fuzzy_candidates, wdrs_universe).collect()
    got = {r["rowid"]: (r["route"], r["band"], r["matched_case_id"])
           for r in rows}
    assert len(rows) == len(got) == fuzzy_candidates.count()
    assert got == {1: ("roster", "roster_exact", "100"),
                   2: ("review", "review", "100"),
                   3: ("did_not_match", "did_not_match", None),
                   4: ("did_not_match", "did_not_match", None),
                   5: ("roster", "roster_exact", "100"),
                   6: ("roster", "roster_exact", "103")}


def test_fuzzy_route_tags_null_rowid_routes_once(spark, wdrs_universe):
    """rowid is the candidate key; a NULL key never joins back to its
    matches, so it is did_not_match — once, even when it matches
    exactly (a left-anti completion put it in roster AND
    did_not_match)."""
    cands = _candidates(spark, [
        (None, "ALICE", "SMITH", "1980-01-01", "2021-01-02"),
        (1, "ALICE", "SMITH", "1980-01-01", "2021-01-02"),
        (2, "ZELDA", "QUX", "1999-12-31", "2021-06-01"),
        (None, "ZELDA", "QUX", "1999-12-31", "2021-06-01")])
    got = sorted((r["rowid"] is None, r["rowid"] or 0, r["route"])
                 for r in P.fuzzy_route_tags(cands, wdrs_universe).collect())
    assert got == [(False, 1, "roster"), (False, 2, "did_not_match"),
                   (True, 0, "did_not_match"), (True, 0, "did_not_match")]
    split = P.fuzzy_match_path(cands, wdrs_universe)
    assert sum(df.count() for df in split.values()) == cands.count()


def test_fuzzy_route_tags_degenerate_inputs(spark, fuzzy_candidates,
                                            wdrs_universe):
    """Empty candidates give no rows; an empty universe, NULL names or
    a NULL dob_date give did_not_match; route counts sum to rows in."""
    empty_c = fuzzy_candidates.limit(0)
    assert P.fuzzy_route_tags(empty_c, wdrs_universe).count() == 0

    tagged = P.fuzzy_route_tags(fuzzy_candidates, wdrs_universe.limit(0))
    counts = tagged.groupBy("route").count().collect()
    assert [tuple(r) for r in counts] == [("did_not_match", 6)]

    nulls = _candidates(spark, [
        (1, None, "SMITH", "1980-01-01", "2021-01-02"),
        (2, "ALICE", None, "1980-01-01", "2021-01-02"),
        (3, None, None, "1980-01-01", "2021-01-02"),
        (4, "ALICE", "SMITH", None, "2021-01-02"),
        (5, "ALICE", "SMITH", "1980-01-01", "2021-01-02")])
    rows = P.fuzzy_route_tags(nulls, wdrs_universe).collect()
    got = {r["rowid"]: r["route"] for r in rows}
    assert len(rows) == 5 and got == {1: "did_not_match", 2: "did_not_match",
                   3: "did_not_match", 4: "did_not_match", 5: "roster"}


def test_elr_new_records_two_branch(spark):
    entire = spark.createDataFrame(
        [("Helix", "SCA1", "SA1", "2021-01-01"),
         ("Helix", "SCA2", "SA2", "2021-01-02"),
         ("Aegis", "SCA3", "SA3", "2021-01-03"),
         ("Aegis", "SCA4", "SA4", "2021-01-04"),
         ("Unknown", "SCA5", "SA5", "2021-01-05")],
        "SUBMITTER string, SCA string, SA string, COLLECTION_DATE string")
    flattened = spark.createDataFrame(
        [("SCA1", "SA9", "2021-01-01"),   # kills Helix SCA1 via SCA+date
         ("SCAX", "SA4", "2021-01-04")],  # kills Aegis SA4 via SA+date
        "SEQUENCE_CLINICAL_ACCESSION string, SEQUENCE_ACCESSION string, COLLECTION_DATE string")
    out = P.elr_new_records(entire, flattened,
                            sca_submitters=["Helix"], sa_submitters=["Aegis"])
    got = {r["SCA"] for r in out.collect()}
    assert got == {"SCA2", "SCA3"}  # SCA1/SA4 filtered, Unknown excluded


def test_elr_lineage_extraction(spark):
    rows = [("1", "SARS-CoV-2 BA.2 lineage"), ("2", "Other; XBB.1.5"),
            ("3", "result Unassigned"), ("4", "no lineage here"),
            ("5", "SARS-CoV-2 NOT.REAL lineage")]
    df = spark.createDataFrame(rows, "id string, TEST__RESULT string")
    out = P.elr_extract_lineage(df, vocab_list=["BA.2", "XBB.1.5"])
    got = {r["id"]: r["lineage"] for r in out.collect()}
    assert got["1"] == "BA.2"
    assert got["2"] == "XBB.1.5"
    assert got["3"] == "Unassigned"
    assert got["4"] is None
    assert got["5"] == "QA CHECK FAIL: lineage"
    # the sentinel gate catches row 5
    bad = P.elr_qa_scan_gate(out, cols=["lineage"])
    assert {r["id"] for r in bad.collect()} == {"5"}


def test_roster_compile(spark):
    base = {c: None for c in P.ROSTER_COLUMNS}
    def row(**kw):
        d = dict(base)
        d.update(kw)
        return tuple(d[c] for c in P.ROSTER_COLUMNS)
    rows = [
        row(CASE_ID="1", SEQUENCE_SPECIMEN="YES", SEQUENCE_STATUS="COMPLETE",
            SEQUENCE_VARIANT_OPEN_TEXT="B.1.1.7",
            SEQUENCE_ACCESSION="USA/WA-CDC-1/2021"),
        row(CASE_ID="1", SEQUENCE_SPECIMEN="YES", SEQUENCE_STATUS="COMPLETE",
            SEQUENCE_VARIANT_OPEN_TEXT="B.1.1.7",
            SEQUENCE_ACCESSION="USA/WA-CDC-1/2021"),        # exact dupe -> dropped by distinct
        row(CASE_ID="2", SEQUENCE_SPECIMEN="YES", SEQUENCE_STATUS="FAILED",
            SEQUENCE_ACCESSION=None),
        row(CASE_ID="bad", SEQUENCE_SPECIMEN="YES", SEQUENCE_STATUS="LOW QUALITY",
            SEQUENCE_ACCESSION="USA/WA-CDC-3/2021"),        # non-numeric id + drop policy
        row(CASE_ID="4", SEQUENCE_SPECIMEN="NO", SEQUENCE_STATUS="PENDING",
            SEQUENCE_ACCESSION="USA/WA-CDC-4/2021"),        # specimen violation -> review
    ]
    schema = ", ".join(f"`{c}` string" for c in P.ROSTER_COLUMNS)
    df = spark.createDataFrame(rows, schema)
    gisaid = spark.createDataFrame(
        [("hCoV-19/USA/WA-CDC-1/2021", "EPI_ISL_111")],
        "virus_name string, epi_isl string")
    routed = P.roster_compile_routed(df, gisaid=gisaid)
    got = {r["route"]: r["count"]
           for r in routed.groupBy("route").count().collect()}
    # case 1 (deduped) + case 2 upload; 'bad' row: LOW QUALITY drop
    # policy; specimen violation -> review
    assert got == {"upload": 2, "dropped": 1, "for_review": 1}
    upload = routed.filter(F.col("route") == "upload").select(
        *[F.col(f"`{c}`") for c in P.ROSTER_COLUMNS], "chunk")
    P.assert_roster_contract(upload.drop("chunk"))
    rows = upload.collect()
    by_case = {r["CASE_ID"]: r for r in rows}
    assert by_case["1"]["SEQUENCE_EPI_ISL"] == "EPI_ISL_111"  # enrichment hit
    assert all(r["chunk"] == 0 for r in rows)
    assert routed.filter(F.col("route") != "upload") \
                 .filter(F.col("chunk").isNotNull()).count() == 0
