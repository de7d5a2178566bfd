"""Driver-contract smoke: entry() runs and returns rows on sf0.001."""

from __future__ import annotations

import pytest


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


@pytest.fixture
def worker_module():
    """pyspark_graft_worker's patch installed afresh in this process (its
    import installs it too); the stock method is restored afterwards, so
    later tests run without the patch."""
    import zipimport

    import pyspark_graft_worker

    current = zipimport.zipimporter.invalidate_caches
    stock = getattr(current, "stock", current)
    zipimport.zipimporter.invalidate_caches = stock
    try:
        assert pyspark_graft_worker._install()
        yield pyspark_graft_worker
    finally:
        zipimport.zipimporter.invalidate_caches = stock


def test_worker_module_rereads_a_zip_only_when_it_changed(
    worker_module, tmp_path
):
    """An unchanged archive on sys.path is not re-read by
    importlib.invalidate_caches(): its _zip_directory_cache entry stays
    the same object.  After the archive is rewritten with a new module,
    that module imports."""
    import importlib
    import sys
    import zipfile
    import zipimport

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("graft_zip_a.py", "A = 1\n")
    sys.path.insert(0, archive)
    try:
        import graft_zip_a

        assert graft_zip_a.A == 1
        importlib.invalidate_caches()  # the read that records its stat
        before = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is before

        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("graft_zip_a.py", "A = 1\n")
            zf.writestr("graft_zip_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is not before
        import graft_zip_b

        assert graft_zip_b.B == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("graft_zip_a", "graft_zip_b"):
            sys.modules.pop(name, None)


def test_worker_module_keeps_stock_method_without_private_names(
    worker_module, monkeypatch
):
    import zipimport

    installed = zipimport.zipimporter.invalidate_caches
    monkeypatch.delattr(zipimport, "_zip_directory_cache")
    assert not worker_module._install()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_python_tasks_run_the_graft_worker(spark):
    """get_spark names pyspark_graft_worker as the Python worker module,
    so a Python task runs with its invalidate_caches."""

    def probe(_):
        import sys
        import zipimport

        method = zipimport.zipimporter.invalidate_caches
        yield ("pyspark_graft_worker" in sys.modules, method.__module__)

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == [(True, "pyspark_graft_worker")]


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
