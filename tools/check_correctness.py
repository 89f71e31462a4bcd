"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, column names, and values
(columns sorted by name, rows sorted, floats rounded). Not byte-identical
to the driver's hash, but catches the same classes of drift.

Run: python tools/check_correctness.py [query ...]
"""

from __future__ import annotations

import os
import sys
import tempfile
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from hadoop_tfidf_spark.session import get_spark

    spark = get_spark("check_correctness")
    # spill under the system temp dir — DuckDB's default is ``.tmp`` in
    # the working directory, i.e. inside the checkout
    con = duckdb.connect(
        config={
            "temp_directory": os.path.join(
                tempfile.gettempdir(), "check_correctness_duckdb"
            )
        }
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:])
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok?  {name}: rows={len(sdf)} (no oracle)")
            continue
        try:
            odf = con.execute(sql).df()
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: oracle error\n{traceback.format_exc()}")
            continue
        status = []
        if len(sdf) != len(odf):
            status.append(f"rows {len(sdf)} != {len(odf)}")
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            status.append(f"cols {scols} != {ocols}")
        elif len(sdf) == len(odf):

            def canon(df: pd.DataFrame) -> pd.DataFrame:
                import datetime

                df = df[sorted(df.columns)].copy()
                for c in df.columns:
                    if df[c].dtype.kind == "f":
                        df[c] = df[c].round(6)
                    elif df[c].dtype.kind == "M":
                        df[c] = df[c].astype("datetime64[us]")
                    elif df[c].dtype == object:
                        nn = df[c].dropna()
                        if len(nn) and isinstance(
                            nn.iloc[0], (datetime.date, datetime.datetime)
                        ):
                            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
                        else:
                            df[c] = df[c].astype(str)
                return df.sort_values(by=list(df.columns)).reset_index(drop=True)

            a, b = canon(sdf), canon(odf)
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-6)
            except AssertionError as e:
                status.append(f"values differ: {str(e).splitlines()[-1]}")
        if status:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(status)}")
        else:
            print(f"PASS {name}: rows={len(sdf)}")
        spark.catalog.clearCache()
    spark.stop()
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL PASS")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
