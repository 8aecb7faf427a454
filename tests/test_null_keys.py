"""NULL keys in lineitem, checked against the DuckDB oracles on a small
table: suppliers 1 and 2 share 4 orders (one short of the co-supply
graph's support-5 edge) and each also has one NULL-orderkey line, and
every line ties on quantity and price so the ascending key tiebreakers
decide the window orders.

- A NULL-orderkey line belongs to no order, so it must not pair its
  supplier with anyone: the oracle's self-join on ``l_orderkey`` drops
  it (NULL never equals NULL), while grouping by the key would collect
  every NULL-key line into one phantom order.
- The oracles order ascending keys NULLS LAST (DuckDB's default); Spark's
  ascending default is NULLS FIRST."""

from __future__ import annotations

import duckdb
import pytest

from shadowcat_data_spark import registry
from shadowcat_data_spark.compare import compare_frames


@pytest.fixture(scope="module")
def null_key_lineitem(tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("null_keys"))
    keys = [(o, s) for o in range(1, 5) for s in (1, 2)] + [(None, 1), (None, 2)]
    values = ", ".join(
        f"({'NULL' if o is None else o}::BIGINT, {s}::BIGINT, {ln}, 1.0::DOUBLE, 10.0::DOUBLE, 'N')"
        for ln, (o, s) in enumerate(keys, 1)
    )
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM (VALUES {values}) t(l_orderkey, l_suppkey, l_linenumber, "
        f"l_quantity, l_extendedprice, l_returnflag)) TO '{sf}/lineitem.parquet' (FORMAT PARQUET)"
    )
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf}/lineitem.parquet')")
    yield sf, con
    con.close()


@pytest.mark.parametrize("name", ["graph_triangle_count", "w1_ranking", "w2_topk_per_group"])
def test_null_keys_match_oracle(name, spark, null_key_lineitem):
    sf, con = null_key_lineitem
    spec = registry.load_all()[name]
    res = compare_frames(name, spec.fn(spark, sf).toPandas(), con.sql(spec.oracle).df())
    assert res.ok, res.detail
