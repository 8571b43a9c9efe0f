"""Accession/GISAID-ID synthesis, decomposition & validation
(SURVEY §2.7 F4/F5/F6/F15/F16).

Reference semantics (see /root/reference):
  - per-submitter GISAID-ID synthesis with lookaround extraction
    (docs/notebooks/elr.Rmd:190-255, template_submitters.Rmd:631-652)
  - ID decomposition into components (scripts/QA/wdrs_qa/wdrs_qa_functions.R:289-332)
  - validation regexes (quality_filters.R:18,30-32;
    template_submitters.Rmd:427-494)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- validation predicates (F15) ---------------------------------------
#: quality_filters.R:18 — general sequence-accession contract.
RE_SEQUENCE_ACCESSION = r"^(hCoV-19/)?USA/WA-.*/[0-9]{4}$"
#: per-lab variants (template_submitters.Rmd:427-494)
RE_AEGIS = r"^ASC\d*-B.*"
RE_LABCORP = r"^LC\d*$"
RE_HELIX = r"^USA/WA-CDC-STM-.*"
#: valid-year suffix check (quality_filters.R:153-163)
RE_VALID_YEAR_SUFFIX = r"(2020|2021|2022|2023|2024|2025)$"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def is_sequence_accession(col: Column | str) -> Column:
    return _c(col).rlike(RE_SEQUENCE_ACCESSION)


def space_count(col: Column | str) -> Column:
    """F16: number of spaces (wdrs_qa_functions.R:154-167)."""
    return F.length(_c(col)) - F.length(F.regexp_replace(_c(col), " ", ""))


def synthesize_gisaid_id(extract: Column | str, date_col: Column | str,
                         prefix: str = "USA/WA-CDC-") -> Column:
    """F4: paste0(prefix, extract, "/", year(date)) (elr.Rmd:190-255)."""
    return F.concat(F.lit(prefix), _c(extract), F.lit("/"),
                    F.year(_c(date_col)).cast("string"))


def middle_token(col: Column | str) -> Column:
    """Lookaround extraction "(?<=-).*(?=-)" — text between the first
    and last hyphen (elr.Rmd:213)."""
    return F.regexp_extract(_c(col), r"-(.*)-", 1)


def split_gisaid_id(col: Column | str) -> dict[str, Column]:
    """F5: decomposition bundle (wdrs_qa_functions.R:289-332).

    Returns named Column expressions for df.withColumns — the UDTF-like
    table-in/table-out generator as plain expressions.
    """
    c = _c(col)
    no_prefix = F.regexp_replace(c, r"^hCoV-19/", "")
    return {
        "acc_no_prefix": no_prefix,
        "acc_state": F.regexp_extract(no_prefix, r"^USA/([A-Z]{2})-", 1),
        "acc_year": F.regexp_extract(no_prefix, r"/([0-9]{4})$", 1),
        "acc_middle": F.regexp_extract(no_prefix, r"^USA/[A-Z]{2}-(.*)/[0-9]{4}$", 1),
        "acc_no_punct": F.regexp_replace(no_prefix, r"[^A-Za-z0-9]", ""),
        "acc_digit_runs": F.regexp_extract_all(no_prefix, F.lit(r"([0-9]+)"), 1),
    }


# --- ELR per-submitter SA/SCA synthesis (elr.Rmd:190-282) ---------------

SCA_FAIL = "QA CHECK FAIL, CHECK SEQUENCE_CLINICAL_ACCESSION VALUES"

_UW_SUBMITTER_RE = "UW VIROLOGY|UNIVERSITY OF WASHINGTON"


def elr_synthesize_sa(submitter: Column, filler: Column,
                      patient_value: Column, cdttm: Column) -> Column:
    """SEQUENCE_ACCESSION synthesis per ELR submitter — the reference's
    65-line case_when (elr.Rmd:190-255) as one `when` chain, branch
    order preserved:

      - Aegis: FILLER with a 2022-05-01 prefix cutover
        (USA/WA-CDC-ASC before, USA/WA-ASC- after)
      - Helix: PATIENT value; the two-dash form strips the suffix
        (greedy between FIRST and LAST dash — capture-group port of
        R's (?<=-).*(?=-), no lookbehind needed); the one-dash form
        must carry >= 9 chars after the dash and passes whole
      - LabCorp: PATIENT value gated to exactly 9 chars (longer values
        are error-message text, not ids)
      - Quest: FILLER with the QDX prefix
      - UW: USA/<PATIENT value>/<year>; the reference does NOT null-
        guard PATIENT here, and R's paste0(NA) renders the string
        'NA' — that quirk is PRESERVED (coalesce to literal 'NA') so
        outputs match the reference byte-for-byte; the downstream QA
        battery is what flags these rows, same as production

    Unmatched submitters -> NULL (R case_when default)."""
    yr = F.year(cdttm).cast("string")
    two_dash = patient_value.rlike("-.*-")
    nine_after = patient_value.rlike("-.{9}")
    return (
        F.when(submitter.contains("Aegis") & filler.isNotNull()
               & cdttm.isNotNull()
               & (cdttm < F.lit("2022-05-01").cast("date")),
               F.concat(F.lit("USA/WA-CDC-ASC"), filler, F.lit("/"), yr))
         .when(submitter.contains("Aegis") & filler.isNotNull()
               & cdttm.isNotNull()
               & (cdttm >= F.lit("2022-05-01").cast("date")),
               F.concat(F.lit("USA/WA-ASC-"), filler, F.lit("/"), yr))
         .when(submitter.contains("Helix") & patient_value.isNotNull()
               & cdttm.isNotNull() & two_dash,
               F.concat(F.lit("USA/WA-CDC-STM-"),
                        F.regexp_extract(patient_value, "-(.*)-", 1),
                        F.lit("/"), yr))
         .when(submitter.contains("Helix") & patient_value.isNotNull()
               & cdttm.isNotNull() & nine_after,
               F.concat(F.lit("USA/WA-CDC-"), patient_value,
                        F.lit("/"), yr))
         .when(submitter.contains("LabCorp") & patient_value.isNotNull()
               & (F.length(patient_value) == 9) & cdttm.isNotNull(),
               F.concat(F.lit("USA/WA-CDC-"), patient_value,
                        F.lit("/"), yr))
         .when(submitter.contains("Quest") & filler.isNotNull()
               & cdttm.isNotNull(),
               F.concat(F.lit("USA/WA-CDC-QDX"), filler, F.lit("/"), yr))
         .when(F.upper(submitter).rlike(_UW_SUBMITTER_RE)
               & cdttm.isNotNull(),
               F.concat(F.lit("USA/"),
                        F.coalesce(patient_value, F.lit("NA")),
                        F.lit("/"), yr)))


def elr_synthesize_sca(submitter: Column, filler: Column) -> Column:
    """SEQUENCE_CLINICAL_ACCESSION per ELR submitter (elr.Rmd:258-282):
    Aegis/Quest submit no SCA (empty STRING, not NULL — the roster
    contract wants blanks); Helix/UW pass FILLER through when present;
    LabCorp only when FILLER carries an 11-digit run; everything else
    gets the QA sentinel the P7 row scanner stops on."""
    return (
        F.when(submitter.contains("Aegis"), F.lit(""))
         .when(submitter.contains("Helix") & filler.isNotNull(), filler)
         .when(submitter.contains("LabCorp")
               & filler.rlike("[0-9]{11}"), filler)
         .when(submitter.contains("Quest"), F.lit(""))
         .when(F.upper(submitter).rlike(_UW_SUBMITTER_RE)
               & filler.isNotNull(), filler)
         .otherwise(F.lit(SCA_FAIL)))


def tweak_gisaid_id(col: Column | str) -> dict[str, Column]:
    """GISAID-ID decomposition for PARTIAL matching — the reference's
    tweak_gisaid_id withColumns bundle (docs/notebooks/scripts/
    functions.R:79-135), used wherever exact accession equality is too
    strict (pipeline_counts.qmd:118-124). Returns the 8 derived
    columns:

      full      trimmed original
      no_hcov   UPPER(id) with the HCOV-19/ prefix removed
      cut       no_hcov minus its last /segment
      year      first /dddd token (digits only), NULL when absent
      test      cut || 'TEST/' || year — R's paste0(NA) renders 'NA',
                preserved via coalesce so engines agree byte-for-byte
      middle    the submitter-specific core id: ALTCOV/ASC hardcodes
                first (non-standard formats), then USA/<state>- strip,
                then <prefix>- strip, then bare /year strip
      no_punct  UPPER(middle) with every non-alphanumeric removed
      digits    all digit runs (from middle, falling back to no_hcov
                when middle is NULL), joined with '|'

    Lookbehind-free: R's (?<=ALTCOV-) / (?<=-) extracts become capture
    groups so the same pattern runs on Java regex and RE2."""
    c = _c(col)
    up = F.upper(c)
    no_hcov = F.regexp_replace(up, "HCOV-19/", "")
    cut = F.regexp_replace(no_hcov, "/[^/]+$", "")
    year = F.nullif(F.regexp_extract(no_hcov, "/([0-9]{4})", 1), F.lit(""))
    test = F.when(F.trim(c).isNotNull(),
                  F.concat(cut, F.lit("TEST/"),
                           F.coalesce(year, F.lit("NA"))))
    middle = (
        F.when(c.rlike("ALTCOV"),
               F.regexp_replace(
                   F.regexp_extract(c, "ALTCOV-(.*)", 1),
                   "(/[0-9]{4})", ""))
         .when(c.rlike("ASC[0-9]+-B[0-9]+"),
               F.regexp_extract(c, "([^-]+)", 1))
         .when(c.rlike("USA/[A-Za-z]{2}"),
               F.regexp_replace(
                   F.regexp_replace(no_hcov, "(USA/[A-Za-z]{2,}-)", ""),
                   "(/[0-9]{4})", ""))
         .when(c.rlike("^[A-Za-z]{2,}-"),
               # R extracts from toupper(id) here (functions.R:119)
               F.regexp_extract(up, "-(\\S+)", 1))
         .when(c.rlike("[A-Za-z]{2}"),
               F.regexp_replace(c, "/[0-9]{4}", "")))
    no_punct = F.regexp_replace(F.upper(middle), "[^A-Z0-9]", "")
    digits = F.array_join(
        F.when(middle.isNull(),
               F.regexp_extract_all(no_hcov, F.lit("[0-9]+"), 0))
         .otherwise(F.regexp_extract_all(middle, F.lit("[0-9]+"), 0)), "|")
    return {
        "full": F.trim(c), "no_hcov": no_hcov, "cut": cut, "year": year,
        "test": test, "middle": middle, "no_punct": no_punct,
        "digits": digits,
    }
