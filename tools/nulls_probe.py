"""NULL/extreme-value robustness gate for the relational tables.

The TPC-H-ish driver fixtures are fully dense: no NULLs, positive
prices, valid foreign keys. Real warehouse tables are not. This gate
copies sf0.001 and injects, per table, rows with NULLs in every
non-key column, negative/zero numerics, empty strings, and dangling
foreign keys — then runs the FULL registry with oracle compare.

What this catches that the clean sweep cannot:
- ANSI arithmetic crashes on degenerate numerics,
- cross-engine NULL-ordering divergence (Spark sorts NULLS FIRST on
  ASC, DuckDB NULLS LAST — any ordering-sensitive query must pin it),
- aggregate/join NULL semantics drift between the plan and its oracle.

One expected divergence: stat_crosstab is a DYNAMIC pivot
(df.stat.crosstab) whose columns are data-dependent — injecting new
o_orderpriority values ('' / NULL) grows Spark's column set while the
oracle hardcodes the fixture's five; inherent to dynamic pivots, same
note as the empty-input probe.

Run: python tools/nulls_probe.py        Exit: non-zero on any failure.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from gate_common import run_gate

from shadowcat_data_spark import registry
from shadowcat_data_spark.session import TABLES, get_spark

SRC = "/root/testdata/sf0.001"

# injected rows per table: non-key NULLs, zero/negative numerics, empty
# strings, dangling FKs (keys are far outside the fixture's key space)
INJECT = {
    "lineitem": [
        "(90000001, NULL, NULL, 1, NULL, NULL, NULL, NULL, NULL, NULL, NULL)",
        "(90000002, 1, 1, 1, 0.0, -10.5, 1.5, 0.0, '', '', TIMESTAMP '1992-01-01')",
        "(90000003, 99999999, 99999999, 7, 1.0, 0.0, 0.0, NULL, 'Z', 'Z', TIMESTAMP '2099-12-31')",
        # '' and NULL return flags sharing one linestatus: both collapse to
        # __HIVE_DEFAULT_PARTITION__ through partitionBy, so s4 must merge
        # them BEFORE aggregating (caught a real divergence in round 3)
        "(90000004, 2, 2, 1, 3.0, 4.0, 0.0, 0.0, '', 'F', TIMESTAMP '1995-06-01')",
        "(90000005, 2, 2, 2, 4.0, 6.0, 0.0, 0.0, NULL, 'F', TIMESTAMP '1995-06-01')",
        # NULL join keys: suppliers 95000001/95000002 share 4 orders, one
        # short of the co-supply graph's support-5 edge, and each has one
        # NULL-orderkey line — grouping the NULL key as an order would add
        # a phantom edge. Plus a NULL supplier on a real order and a line
        # with both keys NULL.
        *[
            f"({o}, 3, {s}, {ln}, 1.0, 10.0, 0.0, 0.0, 'N', 'O', TIMESTAMP '1996-01-01')"
            for o in range(90000010, 90000014)
            for ln, s in enumerate((95000001, 95000002), 1)
        ],
        "(NULL, 3, 95000001, 1, 1.0, 10.0, 0.0, 0.0, 'N', 'O', TIMESTAMP '1996-01-01')",
        "(NULL, 3, 95000002, 2, 1.0, 10.0, 0.0, 0.0, 'N', 'O', TIMESTAMP '1996-01-01')",
        "(90000010, 3, NULL, 3, 1.0, 10.0, 0.0, 0.0, 'N', 'O', TIMESTAMP '1996-01-01')",
        "(NULL, NULL, NULL, 1, 2.0, 20.0, 0.0, 0.0, 'R', 'F', TIMESTAMP '1996-01-01')",
    ],
    "orders": [
        "(91000001, NULL, NULL, NULL, NULL, NULL)",
        "(91000002, 99999998, '', -42.0, TIMESTAMP '1970-01-01', '')",
    ],
    "customer": [
        "(92000001, NULL, NULL, NULL, NULL)",
        "(92000002, '', 0, -999.99, '')",
    ],
    "part": [
        "(93000001, NULL, NULL, NULL, NULL, NULL)",
        "(93000002, '', 'B', '', 0, -1.0)",
    ],
    "supplier": [
        "(94000001, NULL, NULL, NULL)",
        "(94000002, '', 0, -0.01)",
    ],
    "nation": ["(90001, NULL, 0)"],
    "region": [],
    "events": [],
    "documents": [],
    "embeddings": [],
}


def main() -> int:
    spark = get_spark("nulls-probe")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.load_all()
    tmp = tempfile.mkdtemp()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE TABLE {t}_d AS SELECT * FROM read_parquet('{SRC}/{t}.parquet')")
        for row in INJECT.get(t, []):
            con.execute(f"INSERT INTO {t}_d VALUES {row}")
        con.execute(f"COPY {t}_d TO '{tmp}/{t}.parquet' (FORMAT PARQUET)")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp}/{t}.parquet')")
    fails = run_gate(
        spark, con, specs, tmp, "nulls", expected_divergent={"stat_crosstab"}
    )
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
