"""Local mimic of the driver's correctness gate — transport-strict.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql() on
DuckDB at sf0.01 and compares the way the driver does: both result sets are
pulled through the pandas/Arrow TRANSPORT layer (Spark ``toPandas()``, DuckDB
``.df()``), columns sorted by name, and cells compared as strings with a
per-column dtype-kind check.  This is strict enough to catch type divergences
that Python-value comparison hides — e.g. DuckDB ``sum(BIGINT)`` returns
HUGEINT, which pandas materializes as float64, so the driver hashes ``156.0``
against Spark's ``156`` even though ``fetchall()`` would yield an equal
Python int (the exact bug that kept ``events_hourly_rate`` red for three
rounds — see VERDICT r3).

Usage: python tools/check_oracles.py [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _kind(dtype) -> str:
    """Collapse a pandas dtype to the transport-relevant kind.

    int vs float is the distinction that matters (HUGEINT/DECIMAL leaks);
    everything non-numeric compares as its stringified cells anyway.
    """
    k = getattr(dtype, "kind", "O")
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    return "obj"


def _cell(v) -> str:
    """Stringify one transported cell the way a value-hash would see it."""
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "<null>"
    if isinstance(v, (np.floating, float)):
        return f"{round(float(v), 9):.9f}".rstrip("0").rstrip(".")
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def normalize_df(pdf):
    """Sort columns by name, stringify every cell, sort rows."""
    cols = sorted(pdf.columns)
    kinds = {c: _kind(pdf[c].dtype) for c in cols}
    rows = []
    for tup in pdf[cols].itertuples(index=False, name=None):
        rows.append(tuple(_cell(v) for v in tup))
    rows.sort()
    return cols, kinds, rows


def main():
    import duckdb

    import __spark_entry__ as e
    from intraarchivededuplicator_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(app="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs, os_ = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            failures.append((name, f"spark error: {ex}"))
            print(f"FAIL {name}: spark error: {str(ex)[:300]}")
            continue
        try:
            opdf = con.sql(os_[name]).df()
        except Exception as ex:
            failures.append((name, f"duckdb error: {ex}"))
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            continue
        dt = time.time() - t0
        scols, skinds, srows = normalize_df(spdf)
        ocols, okinds, orows = normalize_df(opdf)
        if scols != ocols:
            failures.append((name, f"schema mismatch: {scols} vs {ocols}"))
            print(f"FAIL {name}: schema {scols} vs {ocols}")
            continue
        if len(srows) != len(orows):
            failures.append((name, f"rowcount {len(srows)} vs {len(orows)}"))
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(orows)}")
            continue
        # Transport-dtype check. A column that is int on one side and float
        # on the other hashes differently in the driver even when the Python
        # values compare equal.  Empty frames and all-null columns transport
        # as object/float ambiguously — only flag when both sides have rows.
        kind_bad = [
            c for c in scols
            if len(srows) and skinds[c] != okinds[c]
            and {"int", "float"} == {skinds[c], okinds[c]}
        ]
        if kind_bad:
            failures.append(
                (name, f"transport dtype mismatch on {kind_bad}: "
                       f"spark {[skinds[c] for c in kind_bad]} vs "
                       f"oracle {[okinds[c] for c in kind_bad]}"))
            print(f"FAIL {name}: transport dtype mismatch {kind_bad} "
                  f"(spark {[skinds[c] for c in kind_bad]} vs "
                  f"oracle {[okinds[c] for c in kind_bad]})")
            continue
        if srows != orows:
            bad = next(
                (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
            )
            failures.append((name, f"value mismatch at {bad[0]}: {bad[1]} vs {bad[2]}"))
            print(f"FAIL {name}: first diff {bad[1]} vs {bad[2]}")
            continue
        print(f"PASS {name}: {len(srows)} rows in {dt:.1f}s")

    print(f"\n{len(failures)} failures")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
