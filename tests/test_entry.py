"""Smoke tests for the driver contract (__spark_entry__)."""

from __future__ import annotations


def test_entry_runs(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"route", "o_orderstatus", "n"}


def test_queries_and_oracles_aligned():
    import __spark_entry__ as e
    qs = e.queries()
    oracles = e.oracle_sql()
    assert qs, "no queries registered"
    for name in oracles:
        assert name in qs, f"oracle {name} has no query"


def test_all_queries_run_sf0001(spark, sf_dir):
    import __spark_entry__ as e
    for name, fn in e.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name


def test_queries_order_priority_then_unconfirmed_then_stalest_green():
    """queries() leads with _PRIORITY in its listed order, then every
    query with no green CORRECTNESS_r*.json row, then the confirmed
    tail sorted stalest-green first (ties in registration order)."""
    import __spark_entry__ as e
    from sequencing_integration_pipeline1_0_spark.plans import catalog

    names = list(e.queries())
    prio = [n for n in e._PRIORITY if n in catalog.Q]
    assert names[:len(prio)] == prio
    green = e._latest_green_round()
    assert green, "no CORRECTNESS_r*.json rows read"
    rest = names[len(prio):]
    n_unconfirmed = sum(n not in green for n in rest)
    assert all(n not in green for n in rest[:n_unconfirmed])
    tail = rest[n_unconfirmed:]
    assert tail and all(n in green for n in tail)
    reg_idx = {n: i for i, n in enumerate(catalog.Q)}
    keys = [(green[n], reg_idx[n]) for n in tail]
    assert keys == sorted(keys)
