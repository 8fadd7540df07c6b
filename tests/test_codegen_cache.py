"""Generated-class reuse across re-planned queries.

Re-planning a registry entry yields the same generated source, so with
a codegen cache that holds the working set the second construction and
execution compile (almost) nothing. At Spark's default of 100 entries
the analytics mix's ~200 classes cycle through the cache and every
pass recompiles all of them.
"""
from __future__ import annotations

from mysql_syncer_clickhouse_spark import queries as registry
from mysql_syncer_clickhouse_spark.session import codegen_compiles

MIX = ("cdc_op_counters", "dedup_minhash_lsh", "cdc_final_state")


def test_second_pass_reuses_compiled_classes(spark, sf_dir):
    entries = registry.all_queries()

    def sweep():
        for name in MIX:
            entries[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()

    sweep()
    before = codegen_compiles(spark)
    sweep()
    recompiled = codegen_compiles(spark) - before
    # a few classes differ by literal between plans (pin ids); the
    # whole working set is ~200 classes
    assert recompiled <= 20, f"{recompiled} classes recompiled"
