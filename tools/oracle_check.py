"""The DuckDB oracle gate.

Runs every registered query on Spark and its oracle SQL on DuckDB
over the same parquet tables, then compares row count, schema
(column names), and an order-insensitive value hash (rows sorted by
all columns, values canonicalized). Tier-1 runs the same per-query
check (check_query) at sf0.001; this CLI covers other scales.

Usage: python tools/oracle_check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canonical(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
            return "\0"
        if isinstance(v, float):
            return repr(round(v, 9))
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        if isinstance(v, (list, tuple, dict)) or type(v).__name__ == "ndarray":
            # DRIVER PARITY: the official canonicalizer lexsorts all
            # columns in pandas, which raises on ndarray/list cells
            # ("unhashable type"). Fail here the same way so a
            # complex-typed output can never pass locally and then
            # fail the official gate (the r2 c1/mm2 defect).
            raise TypeError(
                f"complex-typed cell {type(v).__name__} is not driver-canonicalizable; "
                "serialize arrays/structs to scalars in the query's final projection"
            )
        return str(v)

    rows = ["\x01".join(cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    rows.sort()
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def open_oracle_db(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table in sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_query(df, con: duckdb.DuckDBPyConnection, oracle_sql: str) -> tuple[int, list[str]]:
    """The gate's three checks on one built query DataFrame against its
    DuckDB oracle: row count, column set and canonical value hash.

    An Observation rides the collect job, so the JVM-side row count is
    checked against BOTH the Arrow-collected frame and the oracle: a
    partial collect cannot pass as a matching row count. Returns the
    collected row count and the problems found (empty when the query
    passes); Spark and DuckDB errors propagate."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(f"gate_{time.time_ns()}")
    sdf = df.observe(obs, F.count(F.lit(1)).alias("n_rows")).toPandas()
    observed = int(obs.get["n_rows"])
    odf = con.execute(oracle_sql).fetchdf()
    problems = []
    if observed != len(sdf):
        problems.append(f"observed {observed} vs collected {len(sdf)}")
    if len(sdf) != len(odf):
        problems.append(f"rows {len(sdf)} vs {len(odf)}")
    ks = sorted(sdf.columns)
    if ks != sorted(odf.columns):
        problems.append(f"cols {ks} vs {sorted(odf.columns)}")
    elif canonical(sdf) != canonical(odf):
        problems.append("value hash mismatch")
    if problems:
        problems.append(f"spark: {sdf.reindex(ks, axis=1).head(3).to_dict('records')}")
        if ks == sorted(odf.columns):
            problems.append(f"duck: {odf.reindex(ks, axis=1).head(3).to_dict('records')}")
    return len(sdf), problems


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if not os.path.isdir(a)]

    # Data-dependent generated-literal oracles (ss3's replayed k-means
    # training) must build their literals from the SAME tables this
    # check runs against — export the dir BEFORE the oracle-building
    # import so a replica run at sf0.001/sf0.1 regenerates matching
    # literals instead of false-mismatching frozen sf0.01 ones.
    os.environ["DOT_SPARK_GATE_SF_DIR"] = sf_dir

    from dot_spark import get_spark
    from dot_spark.queries import ORACLE, QUERIES

    spark = get_spark("oracle_check")
    con = open_oracle_db(sf_dir)
    names = only or list(QUERIES)
    failed = 0
    for name in names:
        t0 = time.time()
        try:
            rows, problems = check_query(QUERIES[name](spark, sf_dir), con, ORACLE[name])
        except Exception as e:  # noqa: BLE001
            rows, problems = 0, [f"{type(e).__name__}: {e}"]
        if problems:
            print(f"FAIL {name}: " + "\n  ".join(problems))
            failed += 1
        else:
            print(f"PASS {name} ({rows} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(names) - failed} passed, {failed} failed, of {len(names)}")
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
