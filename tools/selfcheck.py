"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry at a given SF and compare against its
oracle_sql() in DuckDB — row count, sorted column names, and an
order-insensitive value comparison.

Usage: python tools/selfcheck.py [--vanilla] [sf_dir] [query ...]

--vanilla runs on a bare SparkSession (no engine session factory) —
replicating the external driver's environment (Spark 4 ANSI on,
unknown timezone) to prove no query depends on factory configs.

The DuckDB oracles run in memory only, capped at DUCKDB_MEMORY: an
oracle that needs more fails by name ("FAIL <query>: duckdb error: Out
of Memory Error ...") instead of spilling. DuckDB 1.0's
`max_temp_directory_size` is no guard: under a 4 GB cap one oracle
wrote 16 GB to its temp directory in 15 s and filled the disk.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

#: most an oracle may hold; DuckDB's default (80 % of host RAM, then
#: spill to `.tmp/` under the working directory) leaves nothing for the
#: Spark JVM beside it and once filled the disk
DUCKDB_MEMORY = "4GB"


def canon(df) -> list[tuple]:
    """Canonicalize a pandas frame: sort columns by name, stringify
    cells (floats via repr after rounding at 1e-9), sort rows."""
    cols = sorted(df.columns)
    out = []
    for _, row in df[cols].iterrows():
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("<NULL>")
            elif isinstance(v, float):
                vals.append(repr(round(v, 9)))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    # Capture the JVM's stderr (log4j) for the whole run so the
    # summary can report an AUDITABLE count of WindowExec
    # "No Partition Defined" warnings — the single-partition-stage
    # indicator VERDICT r9 asked to track round-over-round. The
    # redirect must happen BEFORE the SparkSession launches its JVM
    # (the JVM inherits fd 2 at fork). Real stderr is restored (and
    # the captured tail replayed on failure) at the end.
    import tempfile
    cap = tempfile.NamedTemporaryFile(mode="w+", prefix="selfcheck_err_",
                                      suffix=".log", delete=False)
    real_err = os.dup(2)
    os.dup2(cap.fileno(), 2)

    import duckdb

    import __spark_entry__ as entrymod

    if vanilla:
        # driver replica: a bare SparkSession with none of the engine
        # factory's configs (ANSI on by default in Spark 4, unknown tz)
        # — proves queries carry their own correctness-critical settings
        from pyspark.sql import SparkSession
        spark = SparkSession.builder.master("local[32]").getOrCreate()
    else:
        from sequencing_integration_pipeline1_0_spark.session import get_spark
        spark = get_spark("selfcheck")
    con = duckdb.connect(config={"temp_directory": "",
                                 "memory_limit": DUCKDB_MEMORY})
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(sdf)} (rows-only, no oracle)")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
        if s_cols != o_cols:
            failures.append(name)
            print(f"FAIL {name}: schema mismatch spark={s_cols} oracle={o_cols}")
            continue
        if len(sdf) != len(odf):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(sdf)} oracle={len(odf)}")
            continue
        cs, co = canon(sdf), canon(odf)
        if cs != co:
            failures.append(name)
            diff = [(a, b) for a, b in zip(cs, co) if a != b][:3]
            print(f"FAIL {name}: value mismatch; first diffs: {diff}")
            continue
        print(f"ok   {name}: rows={len(sdf)} values match")

    os.dup2(real_err, 2)
    os.close(real_err)
    try:
        with open(cap.name) as f:
            err_text = f.read()
    except OSError:
        err_text = ""
    n_warn = err_text.count(
        "WARN WindowExec: No Partition Defined for Window operation")
    if failures:
        # replay the captured JVM stderr tail so failures keep their
        # diagnostics despite the redirect
        sys.stderr.write(err_text[-8000:])
    else:
        os.unlink(cap.name)

    print(f"\n{ran - len(failures)}/{ran} queries pass"
          + ("" if not only else f" (of {len(qs)} total)")
          + f"  windowexec_warnings={n_warn}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
