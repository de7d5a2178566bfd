"""Driver-contract smoke: entry() runs and returns rows on sf0.001."""

from __future__ import annotations


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "window_start",
        "window_end",
        "event_type",
        "avg_value",
        "n_events",
    }


def test_contract_shapes(spark):
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs), "every oracle key must have a query"
    assert callable(next(iter(qs.values())))


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A pandas-UDF query run from a working directory outside the
    checkout, with no PYTHONPATH: the Python workers must still import
    the package to unpickle the UDF."""
    import os
    import subprocess
    import sys

    from tests.conftest import SF_SMOKE

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        f"import sys; sys.path.insert(0, {root!r})\n"
        "from data_pipeline_cursor_spark.registry import get_queries\n"
        "from data_pipeline_cursor_spark.session import get_spark\n"
        "spark = get_spark('cwd-probe')\n"
        f"print('rows', get_queries()['q_ewma'](spark, {SF_SMOKE!r}).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows " in out.stdout


def test_codegen_cache_keeps_a_repeated_pass_compiled(spark):
    """A second pass over the same queries compiles no whole-stage codegen
    class: the session's compiled-class cache holds every class the first
    pass built.  A pass builds about 150 classes at sf0.001; at Spark's
    default bound (100) they are evicted before they are used again, and
    the second pass recompiles almost all of them."""
    from data_pipeline_cursor_spark.registry import get_queries
    from data_pipeline_cursor_spark.session import CODEGEN_CACHE_ENTRIES
    from tests.conftest import SF_SMOKE

    qs = get_queries()
    names = [
        "q_case_when", "q_drift_kl", "q_in_subquery", "q_intersect",
        "q_join_right", "q_pivot", "q_scd2_intervals", "q_sessionize",
        "q_since_incremental", "q_twap", "q_tpch_shipping",
        "q_tpch_market_share", "q_tpch_top_supplier",
    ]
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def compiled_in_pass() -> int:
        before = compiles.getCount()
        for name in names:
            qs[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    compiled_in_pass()
    assert compiled_in_pass() == 0
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_warm_repeats_of_a_query_compile_nothing(spark):
    """Warm repeats of x_dsir_sample compile no class.  AQE plans its
    independent query stages concurrently, so a stage's whole-stage
    codegen id depends on timing; with the id in the generated class
    name, a repeat could miss the codegen cache and recompile."""
    from data_pipeline_cursor_spark.registry import get_queries
    from tests.conftest import SF_ORACLE

    query = get_queries()["x_dsir_sample"]
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def compiled() -> int:
        before = compiles.getCount()
        query(spark, SF_ORACLE).write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    compiled()
    assert [compiled() for _ in range(4)] == [0, 0, 0, 0]
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
