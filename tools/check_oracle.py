"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same sf dir; compare row count, column names, and an
order-insensitive value hash (columns sorted by name, values
canonicalized to strings).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def canon(df_pandas) -> tuple[int, list[str], str]:
    import pandas as pd

    cols = sorted(df_pandas.columns)
    df = df_pandas[cols].copy()

    import datetime

    def cell(v):
        if v is None or v != v:  # NaN/None
            return "∅"
        if isinstance(v, float):
            return format(v, ".10g")
        # normalize date vs midnight-datetime (pandas conversion artifact:
        # DuckDB DATE → datetime64, Spark DateType → datetime.date)
        if isinstance(v, pd.Timestamp) and v == v.normalize():
            return str(v.date())
        if isinstance(v, datetime.datetime) and v.time() == datetime.time():
            return str(v.date())
        return str(v)

    rows = sorted(
        "|".join(cell(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(rows), cols, h


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod
    from bench import _duck_con

    if vanilla:
        # mimic the correctness driver EXACTLY: a bare session with
        # stock Spark 4 defaults (ANSI on, no factory confs) — queries
        # must not depend on anything get_spark sets (the round-2
        # NTZ-cast bug was exactly this class)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check-oracle-vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from data_pipeline_001_spark.session import get_spark

        spark = get_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    con = _duck_con(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    passed = failed = skipped = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark raised")
            traceback.print_exc(limit=3)
            failed += 1
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(sdf)} rows")
            skipped += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL  {name}: duckdb raised")
            traceback.print_exc(limit=3)
            failed += 1
            continue
        sn, sc, sh = canon(sdf)
        on, oc, oh = canon(odf)
        if sc != oc:
            print(f"FAIL  {name}: columns differ spark={sc} duck={oc}")
            failed += 1
        elif sn != on:
            print(f"FAIL  {name}: rowcount spark={sn} duck={on}")
            failed += 1
        elif sh != oh:
            print(f"FAIL  {name}: value hash mismatch ({sn} rows)")
            # show a diff sample
            import pandas as pd

            s = sdf[sorted(sdf.columns)].astype(str).sort_values(sorted(sdf.columns)).reset_index(drop=True)
            o = odf[sorted(odf.columns)].astype(str).sort_values(sorted(odf.columns)).reset_index(drop=True)
            neq = (s != o).any(axis=1)
            print(s[neq].head(3))
            print(o[neq].head(3))
            failed += 1
        else:
            print(f"ok    {name} ({sn} rows)")
            passed += 1
    print(f"\n{passed} ok, {failed} failed, {skipped} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
