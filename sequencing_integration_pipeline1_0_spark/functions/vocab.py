"""Vocabulary standardization as data-driven `when` chains
(SURVEY §2.7 F8/F9/F10/F11).

The reference hardcodes ~30-branch case_when towers
(template_submitters.Rmd:732-750, wdrs_qa_functions.R:240-279,
phl.Rmd:700-705); per SURVEY §7 we keep the mappings as *data*
(dict / small broadcast table) and generate the expression — the
direction the reference itself took with lab_variables.rds
(write_lab_variables.R:229-243).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Lab-name standardization: SUBSTRING (upper-cased containment) -> canonical.
#: Values from write_lab_variables.R:219-226 / template_submitters.Rmd:732-750.
LAB_ALIASES: dict[str, str] = {
    "AEGIS": "Aegis",
    "ALTIUS": "Altius",
    "ATLAS": "Atlas Genomics",
    "FULGENT": "Fulgent Genetics",
    "GRAVITY": "Gravity Diagnostics",
    "HELIX": "Helix",
    "INFINITY": "Infinity Biologix",
    "LABCORP": "Labcorp",
    "LABORATORY CORPORATION": "Labcorp",
    "NW GENOMICS": "NW Genomics",
    "NORTHWEST GENOMICS": "NW Genomics",
    "OHSU": "OHSU",
    "PHL": "PHL",
    "PUBLIC HEALTH LAB": "PHL",
    "QUEST": "Quest",
    "UW": "UW Virology",
    "UNIVERSITY OF WASHINGTON": "UW Virology",
}

#: SEQUENCE_REASON normalization (write_lab_variables.R:71-97,
#: phl.Rmd:700-705,781-784; fuzzy.Rmd:676-686).
REASON_ALIASES: dict[str, str] = {
    "PHL DIAGNOSTIC": "SENTINEL SURVEILLANCE",
    "OUTBREAK INVESTIGATION": "OUTBREAK",
    "SUSPECTED REINFECTION": "SUSPECTED REINFECTION",
    "SUSPECTED VACCINE BREAKTHROUGH": "SUSPECTED VACCINE BREAKTHROUGH",
    "SENTINEL SURVEILLANCE": "SENTINEL SURVEILLANCE",
    "S-DROPOUT": "S-DROPOUT",
    "TRAVEL ASSOCIATED": "TRAVEL ASSOCIATED",
    "OTHER": "OTHER",
}

#: Status normalization (phl.Rmd:519-537,713-723).
STATUS_ALIASES: dict[str, str] = {
    "COMPLETED {1822}": "COMPLETE",
    "FAILED {1823}": "FAILED",
    "COMPLETED": "COMPLETE",
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def standardize_by_contains(col: Column | str,
                            aliases: Mapping[str, str] = LAB_ALIASES,
                            default_keep: bool = True) -> Column:
    """F8: upper(col) CONTAINS key -> canonical value; first match wins
    (insertion order = priority, like the reference's case_when order)."""
    c = _c(col)
    u = F.upper(c)
    expr = None
    for pat, canon in aliases.items():
        cond = u.contains(pat)
        expr = F.when(cond, F.lit(canon)) if expr is None else expr.when(cond, F.lit(canon))
    assert expr is not None
    return expr.otherwise(c) if default_keep else expr


def remap_exact(col: Column | str, mapping: Mapping[str, str],
                uppercase_input: bool = True, default_keep: bool = True) -> Column:
    """F9/F10: exact-key remap via a literal map (J12 map-join for tiny
    vocab — stays a local expression, no shuffle)."""
    c = _c(col)
    key = F.upper(F.trim(c)) if uppercase_input else c
    pairs: list[Column] = []
    for k, v in mapping.items():
        pairs += [F.lit(k.upper() if uppercase_input else k), F.lit(v)]
    m = F.create_map(*pairs)
    got = m.getItem(key)
    return F.coalesce(got, c) if default_keep else got


def lookup_join(df: DataFrame, lookup: DataFrame, key: str,
                how: str = "left") -> DataFrame:
    """J12 at scale: broadcast dimension lookup join."""
    return df.join(F.broadcast(lookup), on=key, how=how)


def notes_template(lineage: Column | str, as_of: Column | None = None) -> Column:
    """F11: SEQUENCE_NOTES templating (template_submitters.Rmd:778-786)."""
    d = as_of if as_of is not None else F.current_date()
    return F.concat(
        F.lit("Lineage identified as "), _c(lineage),
        F.lit(" on "), F.date_format(d, "yyyy-MM-dd"),
        F.lit(". Lineage assignments may change over time."),
    )
