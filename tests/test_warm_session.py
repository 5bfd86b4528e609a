"""A session compiles and infers once: re-running a query reuses its
generated classes, and re-reading a table reuses its inferred schema
until the table or the inference confs change. Its driver JVM compiles
code that runs once per new query (Janino and the like) with C1 only."""

from __future__ import annotations

import json

from ai_powered_e_commerce_analytics_spark.plans import query_map
from ai_powered_e_commerce_analytics_spark.plans.spec import t
from ai_powered_e_commerce_analytics_spark.session import JIT_DIRECTIVES, diagnostic_command

# In a fresh session these generate 174 distinct classes at sf0.001,
# more than Spark's default cache of 100 holds.
WORKING_SET = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "user_kpis",
    "shop_kpis",
    "date_kpis",
    "events_hourly_rollup",
    "events_user_sessions",
    "events_funnel",
    "events_session_revenue",
    "top3_orders_per_customer",
    "retention_cohorts",
    "monthly_revenue_mom",
    "order_value_outliers_zscore",
]


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_rerun_after_working_set_compiles_nothing(spark, sf_dir):
    queries = query_map()
    for name in WORKING_SET:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    before = _compiles(spark)
    queries[WORKING_SET[0]](spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert _compiles(spark) == before


def _jobs_of(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return its result and the
    ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_second_read_launches_no_job(spark, tmp_path):
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(str(tmp_path / "tbl.parquet"))
    first, jobs = _jobs_of(spark, "memo-first", lambda: t(spark, str(tmp_path), "tbl"))
    assert jobs, "the first read infers the schema with a Spark job"
    second, jobs = _jobs_of(spark, "memo-second", lambda: t(spark, str(tmp_path), "tbl"))
    assert jobs == []
    assert second.schema == first.schema
    assert _rows(second) == _rows(first)


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "tbl.parquet")
    spark.range(3).selectExpr("id", "CAST(id AS INT) AS v").write.parquet(path)
    assert t(spark, str(tmp_path), "tbl").schema["v"].dataType.simpleString() == "int"
    spark.range(4).selectExpr("id", "CONCAT('x', id) AS v").write.mode("overwrite").parquet(path)
    df = t(spark, str(tmp_path), "tbl")
    assert df.schema["v"].dataType.simpleString() == "string"
    assert _rows(df) == [(i, f"x{i}") for i in range(4)]


def test_inference_conf_change_does_not_reuse_the_entry(spark, tmp_path):
    spark.range(3).write.parquet(str(tmp_path / "tbl.parquet"))
    key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(key)

    def read():
        return t(spark, str(tmp_path), "tbl")

    try:
        for value, group in (("true", "memo-a"), ("false", "memo-b")):
            spark.conf.set(key, value)
            _, jobs = _jobs_of(spark, group, read)
            assert jobs, f"{key}={value} infers its own schema"
        _, jobs = _jobs_of(spark, "memo-c", read)
        assert jobs == []
    finally:
        spark.conf.set(key, saved)


def test_driver_jvm_keeps_one_off_code_out_of_c2(spark):
    """The JVM's own directive stack (jcmd Compiler.directives_print, read
    through the DiagnosticCommand MBean) holds the package's patterns with
    C2 excluded, ahead of the default directive."""
    printed = diagnostic_command(spark, "compilerDirectivesPrint")
    ours = printed.split("Directive:")[1]
    matching = ours.split("matching: ")[1].split("\n")[0]
    (directive,) = json.load(open(JIT_DIRECTIVES))
    assert set(matching.split(", ")) == set(directive["match"])
    c1, c2 = ours.split(" c1 directives:")[1].split(" c2 directives:")
    assert "Exclude:false" in c1 and "Exclude:true" in c2
