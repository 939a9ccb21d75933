"""merge_upsert / scd2_historize semantics on hand-built frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from ma_anonymization_etl_spark.operators.etl import merge_upsert, scd2_historize
from ma_anonymization_etl_spark.sources.io import load
from tests.conftest import SF_ORACLE, SF_SMOKE, compare_query


def test_merge_upsert_semantics(spark):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k INT, s STRING, v DOUBLE"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "k INT, s STRING, v DOUBLE"
    )
    out = {r["k"]: r for r in merge_upsert(base, updates, ["k"]).collect()}
    assert len(out) == 4
    assert out[2]["s"] == "b2" and out[2]["v"] == 99.0  # update wins
    assert out[4]["s"] == "d"  # insert
    assert out[1]["s"] == "a" and out[3]["s"] == "c"  # untouched survive


def test_scd2_runs_collapse_and_chain(spark):
    snaps = spark.createDataFrame(
        [
            (1, "A", 10, 100),
            (1, "A", 20, 101),
            (1, "B", 30, 102),
            (1, "A", 40, 103),
            (2, "X", 10, 104),
        ],
        "uid INT, state STRING, t INT, rid INT",
    )
    out = scd2_historize(snaps, key="uid", attr="state", order_col="t", tiebreak="rid")
    rows = sorted(out.collect(), key=lambda r: (r["uid"], r["version"]))
    u1 = [r for r in rows if r["uid"] == 1]
    # Three versions: A(10..30), B(30..40), A(40..open) — the A run of two
    # rows collapses, the later A is a NEW version (SCD2, not dedup).
    assert [(r["state"], r["valid_from"], r["valid_to"]) for r in u1] == [
        ("A", 10, 30), ("B", 30, 40), ("A", 40, None)
    ]
    # Intervals chain and exactly one open version per key.
    for a, b in zip(u1, u1[1:]):
        assert a["valid_to"] == b["valid_from"]
    assert sum(r["is_current"] for r in rows if r["uid"] == 1) == 1
    u2 = [r for r in rows if r["uid"] == 2]
    assert len(u2) == 1 and u2[0]["is_current"]


def test_merge_upsert_count_invariant(spark):
    base = load(spark, SF_ORACLE, "customer").select(
        F.col("c_custkey").alias("k"), "c_acctbal"
    )
    upd = base.filter(F.col("k") % 7 == 0).withColumn("c_acctbal", F.lit(0.0))
    out = merge_upsert(base, upd, ["k"])
    assert out.count() == base.count()  # pure update, no inserts
    assert out.filter((F.col("k") % 7 == 0) & (F.col("c_acctbal") != 0.0)).count() == 0


def test_n4_compaction_reduces_file_count(spark):
    import glob
    import os
    from urllib.parse import urlparse

    from ma_anonymization_etl_spark.registry import load_all

    out = load_all()["n4_compact_small_files"].fn(spark, SF_ORACLE)
    out.collect()
    # The frame reads the compacted copy; the fragments sit beside it.
    comp_dir = os.path.dirname(urlparse(out.inputFiles()[0]).path)
    frag_dir = os.path.join(os.path.dirname(comp_dir), "frag")
    frag = glob.glob(os.path.join(frag_dir, "*.parquet"))
    comp = glob.glob(os.path.join(comp_dir, "*.parquet"))
    assert len(frag) == 64
    assert len(comp) == 4


def test_n5_zorder_bounds_both_dimensions(spark):
    from ma_anonymization_etl_spark.registry import load_all

    rows = load_all()["n5_zorder_layout"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 16
    gx = max(r["max_cust"] for r in rows) - min(r["min_cust"] for r in rows)
    gy = max(r["max_day"] for r in rows) - min(r["min_day"] for r in rows)
    avg_x = sum(r["max_cust"] - r["min_cust"] for r in rows) / 16
    avg_y = sum(r["max_day"] - r["min_day"] for r in rows) / 16
    # Z-order prunes on BOTH keys: average bucket range well under
    # global on each (a single-key sort leaves the other at ~100%).
    assert avg_x < 0.5 * gx
    assert avg_y < 0.5 * gy


def test_n6_tables_are_keyed_by_the_exact_sf_path(spark, duck, tmp_path):
    """Two sf paths that sanitize to one name ('sf-x' and 'sf_x') must
    not share n6's bucketed tables: after n6 ran on sf-x (a smaller sf),
    n6 on sf_x must still answer from sf_x's own data."""
    from ma_anonymization_etl_spark.registry import load_all

    q = load_all()["n6_bucketed_join"]
    (tmp_path / "sf-x").symlink_to(SF_SMOKE)
    (tmp_path / "sf_x").symlink_to(SF_ORACLE)
    q.fn(spark, str(tmp_path / "sf-x")).collect()
    compare_query(spark, duck, q.fn, q.oracle, sf_dir=str(tmp_path / "sf_x"))
