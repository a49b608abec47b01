"""The session factory's sizing: one shuffle partition per task slot,
and a codegen cache that holds a whole query mix."""

import os

from tests.conftest import SF_SMOKE
from tfl_bikes_data_pipeline_spark import registry
from tfl_bikes_data_pipeline_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
    task_slots,
)

#: perfbench's analyst_mix: the dashboard queries whose cost is mostly
#: fixed per query
ANALYST_MIX = (
    "q_topk_count", "q_topk_join_count", "q_filter_hour_topk", "q_group_by_hour",
    "q_moving_avg", "q_case_bucket_count", "q_bucket_by_location",
    "q_join_cte_inner", "q_star_view", "q_scalar_subquery", "q_returned_items",
)


def test_task_slots(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    assert task_slots() == 1
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert task_slots() == 8
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert task_slots() == os.cpu_count()
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert task_slots() == os.cpu_count()


def test_analyst_mix_compiles_once(spark):
    """A second pass over the analyst queries finds every generated
    class in the codegen cache: Spark's 100-entry default evicts them
    before reuse and recompiles about 110 classes per pass."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)

    def run_pass():
        for name in ANALYST_MIX:
            registry.QUERIES[name](spark, SF_SMOKE).write.format("noop").mode(
                "overwrite"
            ).save()

    run_pass()
    before = codegen_compiles(spark)
    run_pass()
    assert codegen_compiles(spark) - before == 0
