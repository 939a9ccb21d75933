"""Session-builder policy: Spark's generated-class cache holds the
engine's working set, so a repeated job reuses its compiled classes
instead of recompiling them with Janino."""

from __future__ import annotations

import json
import pathlib

from ma_anonymization_etl_spark import registry
from ma_anonymization_etl_spark.cli import run_route
from ma_anonymization_etl_spark.session import CODEGEN_CACHE_ENTRIES
from tests.conftest import SF_ORACLE

EXAMPLES = pathlib.Path(__file__).resolve().parent.parent / "examples"
ROUTES = ("route_customer.json", "route_events.json", "route_dp_release.json")
QUERIES = (
    "d1_agg_hash_pricing_summary",
    "c2_join_shuffle",
    "e5_win_running",
    "k3_win_session_batch",
    "p2_triangle_count",
)


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (one per generated class that
    missed the cache)."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _clear_codegen_cache(spark) -> None:
    """Empty Spark's generated-class cache, so the first pass below
    compiles its whole working set whatever earlier tests left there."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()


def _working_set(spark, out_dir: pathlib.Path) -> None:
    """Three example routes into parquet sinks, then five registry
    queries delivered as Arrow: more than 100 distinct classes."""
    queries = registry.load_all()
    for name in ROUTES:
        route = json.loads((EXAMPLES / name).read_text())
        route["input"]["sf_dir"] = SF_ORACLE
        route["output"]["path"] = str(out_dir / name)
        run_route(spark, route)
    for name in QUERIES:
        queries[name].fn(spark, SF_ORACLE).toArrow()


def test_codegen_cache_holds_the_working_set(spark, tmp_path):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    _clear_codegen_cache(spark)
    counts = []
    for p in range(2):
        before = _compiles(spark)
        _working_set(spark, tmp_path / f"pass{p}")
        counts.append(_compiles(spark) - before)
    first, second = counts
    # Above Spark's default cache of 100 entries, which evicts every
    # class of this set before its next use.
    assert first > 100, counts
    assert second * 10 < first, counts
