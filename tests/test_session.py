"""Session-factory defaults that the engine's speed depends on."""

from __future__ import annotations

import __spark_entry__ as entrymod
from textalyzer_spark.session import codegen_compile_count

SF = "/root/testdata/sf0.001"
DEDUP_GATES = (
    "pipeline_clean_sample",
    "incremental_keep_quality",
    "duplicate_blocks_resolved",
)


def test_codegen_cache_holds_the_dedup_gates(spark):
    """A warm pass of the three dedup gates reuses their generated
    classes. With Spark's default 100-entry cache the gates' ~255
    classes evict each other and a warm pass compiles them all again.
    A warm pass can still compile a few AQE plan variants, which depend
    on which query stage finishes first; the bound leaves room for them
    on a busy host and still fails at ~255."""
    qs = entrymod.queries()

    def run_gates():
        for name in DEDUP_GATES:
            qs[name](spark, SF).collect()

    run_gates()
    before = codegen_compile_count(spark)
    run_gates()
    compiled = codegen_compile_count(spark) - before
    assert compiled <= 32, f"warm pass compiled {compiled} classes"
