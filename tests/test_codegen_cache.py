"""Generated-class cache sizing: a session that cycles through more
distinct generated classes than Spark's default cache holds (100 entries,
LRU) recompiles every one of them on every pass, because a cyclic access
pattern larger than an LRU misses on every lookup. ``get_spark`` sizes the
cache so a warm pass of the headline mix reuses its compiled classes.

The cycle is ``bench.py``'s headline queries at sf0.001, each run the way
the bench runs it (query function + noop write), less
``l5_tfidf_top_terms``: adaptive execution numbers its three concurrent
aggregation stages in the order they finish, the stage number is part of
the generated source, so a warm pass can meet a numbering it has not
compiled yet whatever the cache size. On a fresh session the first cycle
compiles ~158 classes through Janino, well past the default 100, and with
the default size the second cycle recompiles nearly all of them."""

from __future__ import annotations

from bench import BENCH_QUERIES
from shadowcat_data_spark import registry
from shadowcat_data_spark.session import CODEGEN_CACHE_ENTRIES

from .conftest import SF_DIR


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (one per codegen cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


CYCLE = [q for q in BENCH_QUERIES if q != "l5_tfidf_top_terms"]


def _cycle(spark, specs) -> int:
    before = _compiles(spark)
    for name in CYCLE:
        specs[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return _compiles(spark) - before


def test_session_sizes_codegen_cache(spark):
    conf = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert int(conf) == CODEGEN_CACHE_ENTRIES > 100


def test_warm_cycle_recompiles_nothing(spark):
    specs = registry.load_all()
    _cycle(spark, specs)
    assert _cycle(spark, specs) == 0
