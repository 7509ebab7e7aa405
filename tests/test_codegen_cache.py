"""Generated code stays cached across queries: a repeat pass over the
11 multi-table bench queries compiles nothing.

The 11 queries need 136 generated classes at SF_SMOKE. Spark's default
codegen cache (`spark.sql.codegen.cache.maxEntries` = 100, an LRU per
JVM) evicts each class before the next pass asks for it again, so
every pass recompiles ~129 of them with Janino; `get_spark` sizes the
cache to the engine's working set, and the second pass must then hit
the cache for every class.
"""

from __future__ import annotations

from bench import codegen_counters, force
from perfbench.batch import OLAP_JOINS
from stream_processing_project_spark.plans.registry import all_queries
from tests.conftest import SF_SMOKE


def test_second_pass_over_olap_joins_compiles_nothing(spark):
    queries = all_queries()

    def one_pass() -> int:
        before, _ = codegen_counters(spark)
        for name in OLAP_JOINS:
            force(queries[name].builder(spark, SF_SMOKE))
        return codegen_counters(spark)[0] - before

    one_pass()
    assert one_pass() == 0
