"""The session factory keeps generated code for the life of the JVM: a
plan that runs again compiles no whole-stage-codegen class again
(session.py, codegen note)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sequencing_integration_pipeline1_0_spark.plans import catalog
from sequencing_integration_pipeline1_0_spark.plans import pipelines as P
from sequencing_integration_pipeline1_0_spark.session import codegen_compiles


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _compiles(spark, run) -> int:
    before = codegen_compiles(spark)
    run()
    return codegen_compiles(spark) - before


def test_codegen_cache_holds_more_than_spark_default(spark):
    # 150 distinct plans: more classes than Spark's default 100-entry
    # cache holds, so its LRU would evict each one before the next round
    def round_of_plans():
        for i in range(150):
            _noop(spark.range(10).selectExpr(f"id + {i} AS v"))

    assert _compiles(spark, round_of_plans) >= 150
    assert _compiles(spark, round_of_plans) == 0


def _linkage_chain(spark, sf_dir) -> None:
    """template_route_tags -> fuzzy_match_path -> roster_compile_routed,
    built from scratch as a scheduled job builds each pass."""
    subs, entire = catalog._template_frames(spark, sf_dir)
    routed = P.template_route_tags(subs, entire)
    route = F.col("route")
    universe = routed.filter(route == "roster").select(
        F.col("matched_case_id").alias("CASE_ID"), "FIRST_NAME",
        "LAST_NAME", "dob_date", F.col("collection_date").alias("event_date"))
    candidates = (routed.filter(route == "fuzzy_candidates")
                  .withColumn("rowid", F.col("LAB_ACCESSION_ID"))
                  .drop("route", "matched_case_id"))
    fz = P.fuzzy_match_path(candidates, universe)
    as_of = F.lit("2024-01-15").cast("date")
    rosters = P.to_roster_schema(routed.filter(route == "roster"), as_of=as_of) \
        .unionByName(P.to_roster_schema(fz["roster"], as_of=as_of))
    _noop(P.roster_compile_routed(rosters))
    _noop(fz["review"])
    _noop(fz["did_not_match"])


def test_linkage_chain_reuses_its_classes_when_run_again(spark, sf_dir):
    first = _compiles(spark, lambda: _linkage_chain(spark, sf_dir))
    assert first > 0
    # a warm run can still build a few classes: 7 in one full-suite run
    # on a loaded host, 0 in the others (cause not traced; AQE planning
    # a stage differently under another timing is the likely one).
    # Without the two settings nearly every class is rebuilt (191).
    assert _compiles(spark, lambda: _linkage_chain(spark, sf_dir)) <= first // 10
