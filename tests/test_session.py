"""Session factory: the whole-stage codegen cache settings."""
from __future__ import annotations

from pyspark.sql import functions as F

from graphsense_blocksci_spark.session import CODEGEN_CONF, cluster_conf


def _compiles(spark) -> int:
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def test_repeated_graph_run_compiles_nothing(spark):
    """The session from get_spark caches more compiled stage bodies than
    Spark's default of 100: after a label_propagation run, 110 other
    distinct bodies are compiled, and a second run on the same graph
    still compiles 0 (at the default size it recompiles every stage)."""
    from graphsense_blocksci_spark.operators.graph import label_propagation

    for k, v in CODEGEN_CONF.items():
        assert spark.conf.get(k) == v == cluster_conf()[k]
    assert CODEGEN_CONF["spark.sql.codegen.useIdInClassName"] == "false"
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)],
        "src: long, dst: long",
    )
    # AQE re-plans each stage from whichever stages happen to have
    # finished, so a repeated run can still meet a new plan variant;
    # static planning makes the second run's bodies identical
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = sorted(label_propagation(edges, iterations=3).collect())
        for i in range(110):
            # a literal is inlined into the generated code, so each plan
            # is a new body; SparkPlan.execute compiles it without a job
            qe = spark.range(1).select(F.col("id") + i)._jdf.queryExecution()
            qe.executedPlan().execute()
        c0 = _compiles(spark)
        second = sorted(label_propagation(edges, iterations=3).collect())
        assert _compiles(spark) - c0 == 0
        assert first == second
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
