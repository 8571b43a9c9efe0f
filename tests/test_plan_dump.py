"""tools/plan_dump.py writes plans without the numbers that count up
through the process, so a query's dump does not depend on what ran
before it."""

from __future__ import annotations

from pyspark.sql import functions as F

from tools.plan_dump import normalise


def test_normalise_blanks_process_order_numbers():
    raw = ("Output [2]: [b#2, s#3L]\n"
           "Arguments: [b#2], MapPartitionsRDD[270] at localCheckpoint\n"
           "Arguments: HashedRelationBroadcastMode(...), [plan_id=29]\n"
           "transform(a#7, lambdafunction((lambda x_399#12L + 1), "
           "lambda x_399#12L, false))\n"
           "aggregate(a#7, 0, lambdafunction((lambda y_4 + lambda z_5), "
           "lambda y_4, lambda z_5, false))\n")
    assert normalise(raw) == (
        "Output [2]: [b#, s#L]\n"
        "Arguments: [b#], MapPartitionsRDD[] at localCheckpoint\n"
        "Arguments: HashedRelationBroadcastMode(...), [plan_id=]\n"
        "transform(a#, lambdafunction((lambda x_#L + 1), "
        "lambda x_#L, false))\n"
        "aggregate(a#, 0, lambdafunction((lambda y_ + lambda z_), "
        "lambda y_, lambda z_, false))\n")
    # names that only look alike keep their digits
    kept = "Filter (x_1 = Clerk#) AND (range (0, 3))"
    assert normalise(kept) == kept


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_plan_text_is_independent_of_earlier_queries(spark):
    def query():
        arr = spark.range(3).select(F.array("id", "id").alias("a"))
        scored = arr.select(
            F.transform("a", lambda x: x + 1).alias("b"),
            F.aggregate("a", F.lit(0).cast("long"),
                        lambda acc, x: acc + x).alias("s")).localCheckpoint()
        return scored.join(spark.range(2), F.col("s") == F.col("id"))

    first = _explain(query())
    # an unrelated query in between advances every process-wide counter
    spark.range(4).select(F.transform(F.array("id"), lambda x: x * 2)) \
        .localCheckpoint().count()
    again = _explain(query())
    assert first != again
    assert normalise(first) == normalise(again)
