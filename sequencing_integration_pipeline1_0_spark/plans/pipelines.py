"""End-to-end pipeline paths (SURVEY §3) on the domain schemas
(FIXTURES.md).

Each reference notebook is one lazy Spark DAG here: a single tagged
routing pass replaces the reference's sequential subtract-and-reroute
(SURVEY §7 phase 3), and every path returns its routes PLUS a
loss-prevention audit so the reference's conservation checks
(`stopifnot(nrow(a)+nrow(b)==nrow(all))`, fuzzy.Rmd:1079-1085) become
assertable DataFrames instead of runtime stops.

Scale notes: routes are computed as ONE plan with a `route` tag; the
link joins shuffle on the accession/name-block key only; vocab joins
broadcast; nothing collects to the driver.

References: docs/notebooks/template_submitters.Rmd (§3.1),
docs/notebooks/fuzzy.Rmd + scripts/Roster_scripts/
fuzzy_matching_functions.R (§3.2), docs/notebooks/elr.Rmd (§3.3),
scripts/Roster_scripts/ROSTER_COMPILE.Rmd (compile stage).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cleaning, dates, vocab
from ..operators import dedup, fuzzy, qa
from ..sources import sinks

#: The 17-column positional roster contract
#: (ROSTER_COMPILE.Rmd:175-192; order is load-bearing, :171).
ROSTER_COLUMNS = [
    "CASE_ID", "SEQUENCE_SGTF", "SEQUENCE_SPECIMEN", "SEQUENCE_DATE",
    "SEQUENCE_REASON", "SEQUENCE_LAB", "SEQUENCE_STATUS",
    "SEQUENCE_REPOSITORY", "SEQUENCE_ACCESSION", "SEQUENCE_EPI_ISL",
    "SEQUENCE_VARIANT_OPEN_TEXT", "SEQUENCE_CLINICAL_ACCESSION",
    "SEQUENCE_SPECIMEN_COLLECTION_DATE", "SEQUENCE_ROSTER_PREPARE_DATE",
    "SEQUENCE_NOTES", "SEQUENCE_REVIEWED", "Case.Note",
]

TEMPLATE_COLUMNS = [
    "LAB_ACCESSION_ID", "GISAID_ID", "SPECIMEN_COLLECTION_DATE",
    "SUBMITTING_LAB", "SEQUENCE_REASON", "SEQUENCE_STATUS",
    "PANGO_LINEAGE", "FIRST_NAME", "LAST_NAME", "MIDDLE_NAME",
    "DOB", "ALTERNATIVE_ID",
]


def _qcol(name: str) -> Column:
    """Column ref that treats dots as literal ('Case.Note')."""
    return F.col(f"`{name}`")


def validate_template_schema(df: DataFrame) -> None:
    """File-level contract: column names AND order
    (template_submitters.Rmd:417-421)."""
    got = [c for c in df.columns if c in set(TEMPLATE_COLUMNS)]
    if got != TEMPLATE_COLUMNS:
        raise ValueError(
            f"template schema violation: got {df.columns}, "
            f"expected prefix {TEMPLATE_COLUMNS}")


def _route_split(df: DataFrame, routes: Sequence[str],
                 route_col: str = "route") -> dict[str, DataFrame]:
    """Split a route-tagged frame into one DataFrame per route. The
    route set is static per path (no distinct+collect job — at scale
    that would be a full extra pass over the data)."""
    return {r: df.filter(F.col(route_col) == r).drop(route_col)
            for r in routes}


# ----------------------------------------------------------------------
# §3.1 template-submitters path
# ----------------------------------------------------------------------

TEMPLATE_ROUTES = ("roster", "fuzzy_candidates", "keep_na", "for_review")


def template_route_tags(
        submissions: DataFrame, wdrs_entire: DataFrame, *,
        wdrs_sa_values: DataFrame | None = None,
        valid_lineages: Sequence[str] | None = None) -> DataFrame:
    """The §3.1 spine as ONE tagged pass: normalize -> link -> QA ->
    route column (template_submitters.Rmd:558-984). Returns the full
    frame with `route` ∈ TEMPLATE_ROUTES — callers split or aggregate;
    the reference's sequential subtract-and-reroute becomes a single
    `when` cascade so the plan scans the input once.

    `submissions` uses the 12-col template schema (all strings);
    `wdrs_entire` carries CASE_ID + FILLER__ORDER__NUM (+ names/DOB).
    Routing rules:
      - QA sum > 0                        -> for_review
      - accession matched a case          -> roster
      - unmatched, has name+DOB           -> fuzzy_candidates
      - unmatched, missing demographics   -> keep_na
    """
    # normalize: dates (multi-format incl. Excel serials) + names
    s = (submissions
         .withColumn("collection_date",
                     dates.parse_date_multi("SPECIMEN_COLLECTION_DATE"))
         .withColumn("dob_date", dates.parse_date_multi("DOB"))
         .withColumn("name_norm", cleaning.annihilate(
             cleaning.name_concat("FIRST_NAME", "LAST_NAME"))))

    # link: left equi-join on accession (J1; nulls never match)
    cases = wdrs_entire.select(
        F.col("CASE_ID").alias("matched_case_id"),
        F.col("FILLER__ORDER__NUM").alias("__link_acc"))
    linked = s.join(cases, s.LAB_ACCESSION_ID == cases.__link_acc, "left") \
              .drop("__link_acc")

    # join fan-out dedup: first-wins per submission row key (W1 with a
    # pinned deterministic order — template_submitters.Rmd:669)
    linked = dedup.dedup_first(
        linked, ["LAB_ACCESSION_ID", "FIRST_NAME", "LAST_NAME", "DOB"],
        [F.col("matched_case_id").asc_nulls_last()])

    # QA-filter engine (§2.8)
    flags = {
        "QA_STATUS": ~F.upper(F.col("SEQUENCE_STATUS")).isin(
            "COMPLETE", "FAILED", "LOW QUALITY", "NOT DONE", "HIGH CT",
            "PENDING"),
        "QA_DATE_UNPARSEABLE": (F.col("SPECIMEN_COLLECTION_DATE").isNotNull()
                                & F.col("collection_date").isNull()),
    }
    if valid_lineages is not None:
        flags["QA_SEQ_VARIANT"] = (
            F.col("PANGO_LINEAGE").isNotNull()
            & ~F.col("PANGO_LINEAGE").isin(list(valid_lineages))
            & (F.col("PANGO_LINEAGE") != "Unassigned"))
    membership = {}
    if wdrs_sa_values is not None:
        membership["QA_SA_WDRS_DUPE"] = (
            "GISAID_ID", wdrs_sa_values, wdrs_sa_values.columns[0])
    flagged = qa.roster_filters(
        linked, expr_flags=flags,
        dup_specs={"QA_SA_INT_DUPE": ["GISAID_ID"]},
        membership_specs=membership)

    has_demo = (F.col("FIRST_NAME").isNotNull()
                & F.col("LAST_NAME").isNotNull()
                & F.col("dob_date").isNotNull())
    return flagged.withColumn(
        "route",
        F.when(F.col("qa_sum") > 0, "for_review")
         .when(F.col("matched_case_id").isNotNull(), "roster")
         .when(has_demo, "fuzzy_candidates")
         .otherwise("keep_na"))


def template_submitters_path(
        submissions: DataFrame, wdrs_entire: DataFrame, *,
        wdrs_sa_values: DataFrame | None = None,
        valid_lineages: Sequence[str] | None = None,
        as_of: Column | None = None) -> dict[str, DataFrame]:
    """Ingested template submissions -> {roster, fuzzy_candidates,
    keep_na, for_review} (template_submitters.Rmd:558-984); the roster
    route is rendered to the 17-col contract."""
    as_of = as_of if as_of is not None else F.current_date()
    routed = template_route_tags(
        submissions, wdrs_entire, wdrs_sa_values=wdrs_sa_values,
        valid_lineages=valid_lineages)
    out = _route_split(routed, TEMPLATE_ROUTES)
    out["roster"] = to_roster_schema(out["roster"], as_of=as_of)
    return out


def to_roster_schema(matched: DataFrame, *, as_of: Column) -> DataFrame:
    """Matched submissions -> the 17-col roster contract
    (template_submitters.Rmd:713-811)."""
    status_u = F.upper(F.trim(F.col("SEQUENCE_STATUS")))
    complete = status_u == "COMPLETE"
    lineage_ok = complete & F.col("PANGO_LINEAGE").isNotNull() \
        & (F.col("PANGO_LINEAGE") != "Unassigned")
    cols = {
        "CASE_ID": F.col("matched_case_id"),
        "SEQUENCE_SGTF": F.lit(None).cast("string"),
        "SEQUENCE_SPECIMEN": F.lit("YES"),
        "SEQUENCE_DATE": F.lit(None).cast("string"),
        "SEQUENCE_REASON": F.upper(F.trim(F.col("SEQUENCE_REASON"))),
        "SEQUENCE_LAB": vocab.standardize_by_contains("SUBMITTING_LAB"),
        "SEQUENCE_STATUS": F.when(
            status_u == "COMPLETE", "COMPLETE").when(
            F.col("PANGO_LINEAGE") == "Unassigned", "LOW QUALITY")
            .otherwise(status_u),
        "SEQUENCE_REPOSITORY": F.when(complete, "GISAID"),
        "SEQUENCE_ACCESSION": F.when(
            complete, cleaning.strip_prefix(F.col("GISAID_ID"))),
        "SEQUENCE_EPI_ISL": F.lit(None).cast("string"),
        "SEQUENCE_VARIANT_OPEN_TEXT": F.when(
            lineage_ok, F.col("PANGO_LINEAGE")),
        "SEQUENCE_CLINICAL_ACCESSION": F.col("LAB_ACCESSION_ID"),
        "SEQUENCE_SPECIMEN_COLLECTION_DATE": dates.render_mdY("collection_date"),
        "SEQUENCE_ROSTER_PREPARE_DATE": dates.render_mdY(as_of),
        "SEQUENCE_NOTES": F.when(
            lineage_ok, vocab.notes_template("PANGO_LINEAGE", as_of)),
        "SEQUENCE_REVIEWED": F.lit(None).cast("string"),
        "Case.Note": F.lit(
            "External data question package updated by Sequencing Roster."),
    }
    return matched.select(*[cols[c].alias(c) for c in ROSTER_COLUMNS])


def assert_roster_contract(df: DataFrame) -> None:
    """ncol == 17 and exact order (ROSTER_COMPILE.Rmd:378-380)."""
    if df.columns != ROSTER_COLUMNS:
        raise AssertionError(
            f"roster contract violation: {len(df.columns)} cols, "
            f"{df.columns}")


# ----------------------------------------------------------------------
# §3.2 fuzzy-matching path
# ----------------------------------------------------------------------

def fuzzy_match_path(candidates: DataFrame, wdrs_universe: DataFrame, *,
                     max_dist: int = 3, flip_max_dist: int = 2,
                     date_window_days: int = 14) -> dict[str, DataFrame]:
    """Blocked fuzzy linkage with banded routing (fuzzy.Rmd:556-1067).

    `candidates`: rowid, FIRST_NAME, LAST_NAME, dob_date (date),
    collection_date (date) — pre-normalized (the path upstream).
    `wdrs_universe`: CASE_ID, FIRST_NAME, LAST_NAME (+ alt name cols
    ALT_FIRST_NAME/ALT_LAST_NAME optional), dob_date, event_date.

    Routes: roster (distance 0-1), review (2-3), did_not_match.
    Invariant: every candidate rowid lands in exactly one route.
    """
    left = (candidates
            .withColumn("name_norm", cleaning.annihilate(
                cleaning.name_concat("FIRST_NAME", "LAST_NAME")))
            .withColumn("dob_year", F.year("dob_date")))

    # J11 alternate-key expansion: one row per name variant, plus the
    # flipped form as a separate match column (fuzzy.Rmd:252-265)
    u = wdrs_universe
    variants = [cleaning.name_concat("FIRST_NAME", "LAST_NAME")]
    if "ALT_FIRST_NAME" in u.columns:
        variants.append(cleaning.name_concat("ALT_FIRST_NAME", "ALT_LAST_NAME"))
    right = (u.withColumn("__variant", F.explode(F.array(*variants)))
              .filter(F.col("__variant") != "")
              .withColumn("name_norm_r", cleaning.annihilate(F.col("__variant")))
              .withColumn("name_flip_r", cleaning.annihilate(
                  cleaning.name_flip("FIRST_NAME", "LAST_NAME")))
              .withColumn("dob_year", F.year("dob_date")))
    right = right.select(
        F.col("CASE_ID").alias("matched_case_id"),
        F.col("dob_date").alias("dob_date_r"),
        F.col("event_date").alias("event_date_r"),
        "name_norm_r", "name_flip_r", "dob_year").dropDuplicates()

    matches = fuzzy.fuzzy_name_join(
        left, right,
        left_name="name_norm", right_name="name_norm_r",
        right_flip="name_flip_r",
        block_keys=["dob_year"], max_dist=max_dist,
        flip_max_dist=flip_max_dist)

    # exact DOB equality required post-join (fuzzy.Rmd:652-657)
    matches = matches.filter(F.col("dob_date") == F.col("dob_date_r"))

    # ±N-day collection-date window with only-match rescue
    # (fuzzy.Rmd:845-878)
    in_window = dates.within_days("collection_date", "event_date_r",
                                  date_window_days)
    matches = fuzzy.only_match_rescue(matches, rowid="rowid",
                                      in_window=in_window)

    # banding by best distance; review tail keeps 2-3
    banded = fuzzy.band_by_distance(matches, rowid="rowid")
    banded = banded.withColumn(
        "route", F.when(F.col("distance") <= 1, "roster").otherwise("review"))

    matched_ids = banded.select("rowid").dropDuplicates()
    unmatched = (candidates.join(matched_ids, "rowid", "left_anti")
                 .withColumn("route", F.lit("did_not_match")))

    out = _route_split(banded, ("roster", "review"))
    out["did_not_match"] = unmatched.drop("route")
    return out


# ----------------------------------------------------------------------
# §3.3 ELR path
# ----------------------------------------------------------------------

def elr_new_records(entire: DataFrame, flattened: DataFrame, *,
                    sca_submitters: Sequence[str],
                    sa_submitters: Sequence[str]) -> DataFrame:
    """Two-branch anti-join new-records detection (elr.Rmd:297-311):
    SCA+date for Helix/Labcorp-class submitters, SA+date for
    Aegis/Quest-class; union of both branches."""
    f_sca = flattened.select(
        F.col("SEQUENCE_CLINICAL_ACCESSION").alias("SCA"),
        F.col("COLLECTION_DATE").alias("cd")).dropDuplicates()
    f_sa = flattened.select(
        F.col("SEQUENCE_ACCESSION").alias("SA"),
        F.col("COLLECTION_DATE").alias("cd")).dropDuplicates()
    br1 = (entire.filter(F.col("SUBMITTER").isin(list(sca_submitters)))
           .join(f_sca, (entire.SCA == f_sca.SCA)
                 & (entire.COLLECTION_DATE == f_sca.cd), "left_anti"))
    br2 = (entire.filter(F.col("SUBMITTER").isin(list(sa_submitters)))
           .join(f_sa, (entire.SA == f_sa.SA)
                 & (entire.COLLECTION_DATE == f_sa.cd), "left_anti"))
    return br1.unionByName(br2)


#: ELR submitter -> roster lab name (elr.Rmd:368-377; 'Helix
#: Diagnositics' is the spelling submitted via ELR, preserved).
ELR_LAB_MAP = {
    "Aegis Sciences Corporation": "Aegis",
    "Helix Diagnositics": "Helix",
    "Laboratory Corporation Of America (LabCorp)": "Labcorp",
    "Quest San Juan Capistrano Laboratory": "Quest",
}

_UW_RE = "UW VIROLOGY|UNIVERSITY OF WASHINGTON"
SUBMITTER_FAIL = "QA CHECK FAIL, CHECK SUBMITTER NAMES"
CDATE_FAIL = ("QA CHECK FAIL, CHECK FOR MISSING OR INCORRECTLY FORMATTED "
              "COLLECTION DATE")


def elr_common_roster_vars(df: DataFrame, *,
                           validated_submitters: Sequence[str]) -> DataFrame:
    """ELR_common_roster_vars (elr.Rmd:346-400): the roster variables
    populated identically across ELR submitters, as ONE withColumns
    bundle (a UDTF-shaped table function in R; pure codegen here).

    - validated-submitter gate (lab_vars$lab_names_elr)
    - REASON: UW submissions carry it in TEST__REQUEST__NOTE behind a
      '**SEQREA**' marker; everyone else is SENTINEL SURVEILLANCE
    - LAB: exact-name map with the QA CHECK FAIL sentinel fallback the
      P7 row scanner later hard-stops on
    - COLLECTION_DATE: m/d/Y render, QA sentinel when missing/unparseable
      (R's str_detect(NA) -> case_when TRUE branch == Spark NULL rlike
      falling to otherwise)
    """
    sub = F.col("SUBMITTER")
    uw = F.upper(sub).rlike(_UW_RE)
    lab = None
    for k, v in ELR_LAB_MAP.items():
        w = F.when(sub == k, v)
        lab = w if lab is None else lab.when(sub == k, v)
    lab = lab.when(
        F.upper(sub) == "UNIVERSITY OF WASHINGTON MEDICAL CENTER LABORATORY",
        "UW Virology").otherwise(SUBMITTER_FAIL)
    cd = F.date_format(F.col("SPECIMEN__COLLECTION__DTTM").cast("date"),
                       "MM/dd/yyyy")
    return (df.filter(sub.isin(list(validated_submitters)))
              .withColumns({
                  "SEQUENCE_SGTF": F.lit(""),
                  "SEQUENCE_SPECIMEN": F.lit("YES"),
                  "SEQUENCE_REASON": F.when(
                      F.col("TEST__REQUEST__NOTE").isNotNull() & uw,
                      F.regexp_replace("TEST__REQUEST__NOTE",
                                       r"\*\*SEQREA\*\*", ""))
                   .otherwise("SENTINEL SURVEILLANCE"),
                  "SEQUENCE_DATE": F.lit(""),
                  "SEQUENCE_LAB": lab,
                  "SEQUENCE_REPOSITORY": F.lit("GISAID"),
                  "SEQUENCE_SPECIMEN_COLLECTION_DATE": F.when(
                      cd.rlike(r"[0-9]{2}/[0-9]{2}/[0-9]{4}"), cd)
                   .otherwise(CDATE_FAIL),
                  "SEQUENCE_REVIEWED": F.lit(""),
                  "case_note": F.lit("External data question package "
                                     "updated by COVID19 Sequencing "
                                     "Roster."),
              }))


LINEAGE_FROM_RESULT = r"(?<=SARS-CoV-2 ).*(?= lineage)"
LINEAGE_FROM_OTHER = r"(?<=Other; ).*"


def elr_extract_lineage(df: DataFrame, *, result_col: str = "TEST__RESULT",
                        vocab_list: Sequence[str] | None = None) -> DataFrame:
    """F7: lineage extraction from free text with QA-fail sentinel
    (elr.Rmd:409-442)."""
    res = F.col(result_col)
    # regexp_extract yields '' (not NULL) on no-match — nullify each
    # attempt so the coalesce falls through to the next pattern
    lin = F.coalesce(
        F.nullif(F.regexp_extract(res, LINEAGE_FROM_RESULT, 0), F.lit("")),
        F.nullif(F.regexp_extract(res, LINEAGE_FROM_OTHER, 0), F.lit("")))
    lin = F.when(res.rlike("Unassigned$"), "Unassigned").otherwise(lin)
    out = df.withColumn("lineage", lin)
    if vocab_list is not None:
        ok = (F.col("lineage").isNull()
              | (F.col("lineage") == "Unassigned")
              | F.col("lineage").isin(list(vocab_list)))
        out = out.withColumn(
            "lineage", F.when(ok, F.col("lineage"))
                        .otherwise(F.lit("QA CHECK FAIL: lineage")))
    return out


def elr_qa_scan_gate(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """P7 hard stop: rows carrying the QA CHECK FAIL sentinel anywhere
    (elr.Rmd:560-579). Returns the offending rows; caller asserts
    isEmpty (the reference calls stop())."""
    scan = qa.sentinel_row_scan(df, cols=list(cols) if cols else None)
    return scan.filter(F.col("has_sentinel")).drop("has_sentinel")


# ----------------------------------------------------------------------
# compile stage (all paths converge)
# ----------------------------------------------------------------------

def roster_compile_routed(rosters: DataFrame, *,
                          gisaid: DataFrame | None = None,
                          chunk_rows: int = 500,
                          chunk_order: Sequence[str] = (
                              "CASE_ID", "SEQUENCE_ACCESSION"),
                          ) -> DataFrame:
    """ROSTER_COMPILE.Rmd:121-455 as ONE tagged plan: union'd roster
    inputs -> EPI_ISL enrichment -> dedup -> empty-row drop -> QA ->
    route tag ('upload'/'dropped'/'for_review') + chunk id (upload rows
    only, via a route-PARTITIONED window so the chunk numbering equals
    add_chunk_id's global numbering of the upload slice).

    This is the scale shape: consumers that need per-route outputs
    should write THIS frame once with partitionBy(route) — filtering
    the lazy dict (roster_compile below) re-executes the whole upstream
    per route, tripling the compile work (observed: 3x repeated
    subtrees, 15 exchanges, in the split-union plan)."""
    df = rosters
    # J13 EPI_ISL enrichment with precedence (ROSTER_COMPILE.Rmd:227-245)
    if gisaid is not None:
        g = gisaid.select(
            cleaning.strip_prefix(F.col("virus_name")).alias("__vn"),
            F.col("epi_isl").alias("__epi"))
        df = (df.join(F.broadcast(g),
                      df.SEQUENCE_ACCESSION == F.col("__vn"), "left")
                .withColumn("SEQUENCE_EPI_ISL",
                            F.coalesce("SEQUENCE_EPI_ISL", "__epi"))
                .drop("__vn", "__epi"))
    # dedup + all-null row elimination (U3/P5); explicit isNotNull fold
    # rather than na.drop — the latter can't resolve dotted names
    # ('Case.Note')
    df = df.dropDuplicates()
    any_set = None
    for c in df.columns:
        nn = _qcol(c).isNotNull()
        any_set = nn if any_set is None else (any_set | nn)
    df = df.filter(any_set)
    # reason defaulting (F9: missing -> OTHER)
    df = df.withColumn("SEQUENCE_REASON",
                       F.coalesce(F.upper(F.trim("SEQUENCE_REASON")),
                                  F.lit("OTHER")))
    # QA pass (roster mode)
    flagged = qa.roster_filters(
        df,
        expr_flags={
            "QA_CASE_ID": F.col("CASE_ID").isNull()
                | ~F.col("CASE_ID").cast("string").rlike(r"^[0-9]+$"),
            "QA_SPECIMEN": F.col("SEQUENCE_SPECIMEN") != "YES",
            "QA_STATUS_VARIANT": (
                (F.col("SEQUENCE_STATUS") == "COMPLETE")
                & F.col("SEQUENCE_VARIANT_OPEN_TEXT").isNull()),
        },
        dup_specs={"QA_SA_INT_DUPE": ["SEQUENCE_ACCESSION"]})
    drop_policy = F.upper(F.coalesce(F.col("SEQUENCE_STATUS"), F.lit(""))) \
        .isin("FAILED", "LOW QUALITY")
    routed = flagged.withColumn(
        "route",
        F.when(F.col("qa_sum") == 0, "upload")
         .when(drop_policy, "dropped")
         .otherwise("for_review"))
    w = Window.partitionBy("route").orderBy(
        *[_qcol(c) for c in chunk_order])
    return routed.withColumn(
        "chunk",
        F.when(F.col("route") == "upload",
               ((F.row_number().over(w) - F.lit(1)) / F.lit(chunk_rows))
               .cast("int")))


def roster_compile(rosters: DataFrame, *, gisaid: DataFrame | None = None,
                   chunk_rows: int = 500,
                   chunk_order: Sequence[str] = ("CASE_ID", "SEQUENCE_ACCESSION"),
                   ) -> dict[str, DataFrame]:
    """Dict-of-routes wrapper over roster_compile_routed (upload route
    rendered to the 17-col contract + chunk). NOTE each dict entry
    filters the same lazy plan — persist the routed frame (or write it
    partitionBy(route)) before running one action per route."""
    routed = roster_compile_routed(rosters, gisaid=gisaid,
                                   chunk_rows=chunk_rows,
                                   chunk_order=chunk_order)
    out = _route_split(routed, ("upload", "dropped", "for_review"))
    clean = out["upload"].drop(
        *[c for c in out["upload"].columns if c.startswith("QA_")
          or c == "qa_sum"])
    contract = clean.select(*[_qcol(c).alias(c) for c in ROSTER_COLUMNS],
                            F.col("chunk"))
    assert_roster_contract(contract.drop("chunk"))
    out["upload"] = contract
    out["dropped"] = out["dropped"].drop("chunk")
    out["for_review"] = out["for_review"].drop("chunk")
    return out


def roster_missing_deleted(roster: DataFrame, wdrs_flat: DataFrame,
                           known_missing: DataFrame, *,
                           sa_col: str = "SEQUENCE_ACCESSION",
                           sca_col: str = "SEQUENCE_CLINICAL_ACCESSION",
                           case_col: str = "CASE_ID",
                           flat_sa_col: str | None = None,
                           flat_sca_col: str | None = None,
                           flat_case_col: str | None = None,
                           flat_status_col: str = "STATUS") -> DataFrame:
    """Roster-vs-WDRS missing/deleted detection (rosters_wdrs.Rmd:
    208-238): every rostered record that no longer appears in the
    destination, minus manual deletions and the already-known ledger.

    Branches exactly like the reference: rows WITH an SA anti-match on
    SA; rows WITHOUT anti-match on SCA (R's `NA %in% set` is FALSE, so
    a NULL SCA row survives the anti — preserved here because an
    anti-join never matches NULL keys); union + dedup; drop cases
    manually deleted (STATUS == 6); finally subtract the known-missing
    ledger with NA-EQUAL row matching (dplyr anti_join treats NA as
    equal — eqNullSafe on every column, NOT plain equality).

    Scale shape: the destination key sets and deleted-case set
    distinct-reduce then broadcast; the ledger anti-join is the only
    full-row compare and the ledger is output-sized. The roster side
    never shuffles."""
    fsa = flat_sa_col or sa_col
    fsca = flat_sca_col or sca_col
    fcase = flat_case_col or case_col
    sa_set = (wdrs_flat.select(F.col(fsa).alias("__k"))
                       .where(F.col("__k").isNotNull()).distinct())
    sca_set = (wdrs_flat.select(F.col(fsca).alias("__k"))
                        .where(F.col("__k").isNotNull()).distinct())
    with_sa = (roster.filter(F.col(sa_col).isNotNull())
               .join(F.broadcast(sa_set),
                     F.col(sa_col) == F.col("__k"), "left_anti"))
    without_sa = (roster.filter(F.col(sa_col).isNull())
                  .join(F.broadcast(sca_set),
                        F.col(sca_col) == F.col("__k"), "left_anti"))
    missing = with_sa.unionByName(without_sa).distinct()
    deleted = (wdrs_flat.filter(F.col(flat_status_col) == 6)
                        .select(F.col(fcase).alias("__dc")).distinct())
    missing = missing.join(F.broadcast(deleted),
                           F.col(case_col) == F.col("__dc"), "left_anti")
    # alias both sides: the ledger usually DERIVES from the roster, so
    # unaliased column refs resolve to the same attribute and the
    # condition silently degenerates to `true` (Spark warns
    # "trivially true equals predicate")
    cols = list(missing.columns)
    m, l = missing.alias("__m"), known_missing.alias("__l")
    cond = None
    for c in cols:
        e = F.col(f"__m.{c}").eqNullSafe(F.col(f"__l.{c}"))
        cond = e if cond is None else cond & e
    return m.join(l, cond, "left_anti")


def gap_membership(corpus: DataFrame, member_keys: DataFrame, *,
                   key_col: str, alt_col: str | None = None) -> DataFrame:
    """Two-pass case-insensitive anti-membership (gap_data.Rmd:180-196):
    rows of `corpus` whose primary key is NOT in the member set, then —
    for rows carrying an alternate-format key (the reference's UW
    accession rewrites, :182-194) — a second anti-pass on that alt key.
    Rows with a NULL alt key survive the second pass by definition.

    Scale shape: the member set is distinct-reduced then broadcast
    (it is a key list, orders of magnitude smaller than the corpus);
    both passes are broadcast anti-joins — zero corpus shuffles.
    """
    m = (member_keys.select(F.lower(member_keys.columns[0]).alias("__mk"))
                    .where(F.col("__mk").isNotNull()).distinct())
    g1 = corpus.join(F.broadcast(m),
                     F.lower(F.col(key_col)) == F.col("__mk"), "left_anti")
    if alt_col is None:
        return g1
    return g1.join(F.broadcast(m),
                   F.lower(F.col(alt_col)) == F.col("__mk"), "left_anti")


def month_share_pivot(df: DataFrame, *, row_col: str, ym_col: str,
                      months: Sequence[str],
                      total_label: str = "Grand_Total") -> DataFrame:
    """Month-pivot proportion table with a grand-total row
    (gap_data.Rmd:590-692): each cell is that (row, month)'s share of
    ALL rows as a percent, rounded to 2dp; per-row Grand_Total sums the
    months; a final colsum row closes the table.

    Percent cells are rounded then summed as DECIMAL(10,2) — exact and
    partition-order independent — with a single double cast at the end,
    so totals match a SQL oracle bit-for-bit. The month list is an
    explicit argument (conditional aggregation, not a data-dependent
    pivot) so the output schema is fixed at plan time.

    Scale shape: one (row, month)-keyed partial agg over the corpus;
    the global denominator is a 1-row aggregate broadcast-joined to the
    per-key counts (scalar join, not a window over the whole table);
    the pivot itself aggregates #rows × #months cells.

    Empty-input contract: 0 input rows -> 0 output rows (Spark's
    grouping-sets aggregation over an empty relation emits no groups —
    there is no stray totals row). NOTE this is where Spark departs
    from standard SQL: a SQL ROLLUP/global aggregate still emits the
    () grouping-set row on empty input, so the oracle filters that
    stray row out (HAVING on the grouping flag + count). A consumer
    needing an always-present totals row must union one in itself.
    """
    counts = (df.groupBy(F.col(row_col).alias("row_key"),
                         F.col(ym_col).alias("__ym"))
                .agg(F.count(F.lit(1)).alias("n")))
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    prop = (counts.join(F.broadcast(total))
                  .select("row_key", "__ym",
                          F.round(F.col("n") * 100.0 / F.col("__total"), 2)
                           .cast("decimal(10,2)").alias("p")))
    month_aggs = [
        F.coalesce(F.sum(F.when(F.col("__ym") == m, F.col("p"))),
                   F.lit(0).cast("decimal(10,2)")).alias(f"m_{m.replace('-', '_')}")
        for m in months]
    mcols = [f"m_{m.replace('-', '_')}" for m in months]
    # per-row groups AND the closing colsum row from ONE aggregation:
    # rollup(row_key) emits the () grouping set as the total row, so
    # the upstream (corpus scans, anti-joins, counts) runs once — the
    # union-with-agg form re-executed the whole subtree for one totals
    # row. Decimal sums are associative, so the rollup total is
    # bit-identical to summing the per-key sums.
    wide = (prop.rollup("row_key")
                .agg(*month_aggs, F.sum("p").alias("grand_total"),
                     F.grouping("row_key").alias("__is_total")))
    return wide.select(
        F.when(F.col("__is_total") == 1, total_label)
         .otherwise(F.col("row_key")).alias("row_key"),
        *[F.col(c).cast("double").alias(c) for c in mcols],
        F.col("grand_total").cast("double").alias("grand_total"))


def dup_triage(batch: DataFrame, wdrs: DataFrame, *,
               case_col: str = "CASE_ID",
               sca_col: str = "SEQUENCE_CLINICAL_ACCESSION",
               sa_col: str = "SEQUENCE_ACCESSION",
               collect_flag_col: str = "QA_COLLECT_DATE") -> DataFrame:
    """Duplicate-triage decision engine (QA_DUPLICATES.Rmd:172-270):
    classify every flagged record into a branch and emit the
    (remove, manual_review) disposition.

    The reference runs six sequential filter-and-rbind passes over
    disjoint slices; here the same rules are ONE `when` cascade over
    window group-sizes and membership flags (the pipe_template_route
    move), so no record can be dropped between passes:

      - SA+SCA duplicated in WDRS, or SA alone        -> remove
      - SCA duplicated in WDRS only                   -> rosterable iff
        some WDRS row shares (SCA, case) with a different SA, else
        manual review (QA_DUPLICATES.Rmd:266-307 sca_wdrs_check)
      - SA+SCA duplicated in-batch: unique (SA, SCA, collect-flag)
        group -> remove iff the collect-date QA flag is set; same-case
        repeat -> manual review; different cases -> manual review
      - SCA-only in-batch: same-case repeat rosters, else review
      - SA-only in-batch: always manual review

    Scale shape: the three window counts share the batch; WDRS key sets
    distinct-reduce then broadcast; the rosterability probe is a
    broadcast join against a per-(SCA, case) aggregate of WDRS (n
    distinct SAs + one sample SA decide "exists a different SA" without
    row fan-out). Un-flagged records fall out (`branch IS NULL`).
    """
    case, sca, sa = F.col(case_col), F.col(sca_col), F.col(sa_col)
    cf = F.col(collect_flag_col)
    w_sca = wdrs.select(F.col(sca_col).alias("__k")) \
                .where(F.col("__k").isNotNull() & (F.trim("__k") != "")) \
                .distinct()
    w_sa = wdrs.select(F.col(sa_col).alias("__k")) \
               .where(F.col("__k").isNotNull() & (F.trim("__k") != "")) \
               .distinct()
    b = qa.apply_membership_flags(batch,
                                  {"__wdrs_sca": (sca_col, w_sca, "__k"),
                                   "__wdrs_sa": (sa_col, w_sa, "__k")})
    # per-(SCA, case) WDRS profile: enough to decide "exists a row with
    # a DIFFERENT SA" without joining raw WDRS rows (no fan-out)
    wp = (wdrs.groupBy(F.col(sca_col).alias("__psca"),
                       F.col(case_col).alias("__pcase"))
              .agg(F.countDistinct(sa_col).alias("__n_sa"),
                   F.max(sa_col).alias("__one_sa")))
    b = b.join(F.broadcast(wp), (sca == F.col("__psca"))
               & (case == F.col("__pcase")), "left")
    diff_sa_exists = (F.col("__n_sa") > 1) | \
        (F.col("__n_sa").isNotNull() & (F.col("__one_sa") != sa))
    n_sca = F.count(F.lit(1)).over(Window.partitionBy(sca))
    n_sa = F.count(F.lit(1)).over(Window.partitionBy(sa))
    n_ssc = F.count(F.lit(1)).over(Window.partitionBy(sa, sca, cf))
    n_css = F.count(F.lit(1)).over(Window.partitionBy(case, sa, sca))
    n_csca = F.count(F.lit(1)).over(Window.partitionBy(case, sca))
    b = (b.withColumn("__n_sca_b", n_sca).withColumn("__n_sa_b", n_sa)
          .withColumn("__n_ssc", n_ssc).withColumn("__n_css", n_css)
          .withColumn("__n_csca", n_csca))
    wdrs_sca = F.col("__wdrs_sca") == 1
    wdrs_sa = F.col("__wdrs_sa") == 1
    int_sca = F.col("__n_sca_b") > 1
    int_sa = F.col("__n_sa_b") > 1
    branch = (
        F.when(wdrs_sca & wdrs_sa, "wdrs_both")
         .when(wdrs_sa, "wdrs_sa")
         .when(wdrs_sca & diff_sa_exists, "wdrs_sca_roster")
         .when(wdrs_sca, "wdrs_sca_review")
         .when(int_sca & int_sa & (F.col("__n_ssc") == 1), "int_both_date")
         .when(int_sca & int_sa & (F.col("__n_css") > 1),
               "int_both_same_case")
         .when(int_sca & int_sa, "int_both_diff_case")
         .when(int_sca & (F.col("__n_csca") > 1), "int_sca_roster")
         .when(int_sca, "int_sca_review")
         .when(int_sa, "int_sa_review"))
    remove = (F.when(F.col("branch").isin("wdrs_both", "wdrs_sa"), 1)
               .when((F.col("branch") == "int_both_date") & (cf == 1), 1)
               .otherwise(0))
    manual = (F.when(F.col("branch").isin(
                  "wdrs_sca_review", "int_both_same_case",
                  "int_both_diff_case", "int_sca_review", "int_sa_review"), 1)
               .otherwise(0))
    return (b.withColumn("branch", branch)
             .where(F.col("branch").isNotNull())
             .withColumn("remove", remove)
             .withColumn("manual_review", manual)
             .select(case_col, sca_col, sa_col, "branch",
                     "remove", "manual_review"))
