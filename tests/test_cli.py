"""CLI route-runner tests: the example route end to end (in-process
session), DI-leak refusal, and output re-read."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ma_anonymization_etl_spark.cli import main, run_route
from ma_anonymization_etl_spark.operators.anonymize import k_anonymity_metric
from tests.conftest import SF_ORACLE

EXAMPLES = Path(__file__).resolve().parents[1] / "examples"


def test_example_route_end_to_end(spark, tmp_path, capsys):
    route = json.load(open("/root/repo/examples/route_customer.json"))
    route["output"]["path"] = str(tmp_path / "out")
    rf = tmp_path / "route.json"
    rf.write_text(json.dumps(route))
    assert main(["--route", str(rf), "--sf-dir", SF_ORACLE], spark=spark) == 0
    assert "route ok:" in capsys.readouterr().out

    back = spark.read.parquet(str(tmp_path / "out"))
    assert set(back.columns) == {"name_token", "c_nationkey", "c_mktsegment", "bal_bin"}
    # The sink really is k-anonymous on the route's QIs.
    k = k_anonymity_metric(back, ["c_nationkey", "bal_bin"]).collect()[0]["k_anonymity"]
    assert k >= 8
    # Tokens are sha256 hex, not names.
    assert back.filter(F.length("name_token") != 64).count() == 0
    # Partitioned layout materialized.
    assert any(p.name.startswith("c_nationkey=") for p in (tmp_path / "out").iterdir())


def test_events_route_end_to_end(spark, tmp_path):
    """The events route: time-generalize, tokenize the user DI (projected
    away by the final select), drop free-text props, k-enforce on
    (event_type, hour)."""
    route = json.load(open("/root/repo/examples/route_events.json"))
    route["output"]["path"] = str(tmp_path / "out")
    out = run_route(spark, route)
    assert set(out.columns) == {"user_token", "event_type", "ts", "value"}
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == out.count() > 0
    # k-anonymity holds on the published QIs.
    k = k_anonymity_metric(back, ["event_type", "ts"]).collect()[0]["k_anonymity"]
    assert k >= 8
    # Timestamps truncated to the hour; tokens are sha256 hex.
    assert back.filter(F.minute("ts") != 0).count() == 0
    assert back.filter(F.length("user_token") != 64).count() == 0


def test_route_refuses_di_leak(spark):
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi"},
        "steps": [{"op": "generalize_numeric", "col": "c_acctbal", "width": 100}],
    }
    with pytest.raises(SystemExit, match="c_name"):
        run_route(spark, route)


def test_route_refuses_out_renamed_di(spark):
    # Writing the token to a DIFFERENT column leaves the raw DI column in
    # the output — referencing the DI as step input is not coverage
    # (ADVICE r1: the old guard passed this leaking route).
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi"},
        "steps": [
            {"op": "pseudonymize_sha2", "col": "c_name", "salt": "s|",
             "out": "name_token"},
        ],
    }
    with pytest.raises(SystemExit, match="c_name"):
        run_route(spark, route)


def test_route_accepts_out_renamed_di_when_selected_away(spark):
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi"},
        "steps": [
            {"op": "pseudonymize_sha2", "col": "c_name", "salt": "s|",
             "out": "name_token"},
            {"op": "select", "cols": ["name_token", "c_nationkey"]},
        ],
    }
    out = run_route(spark, route)
    assert "c_name" not in out.columns
    assert out.count() > 0


def test_route_refuses_select_that_keeps_raw_di(spark):
    # A select listing the raw DI keeps it — must still be refused even
    # though the DI appears in a step's `cols`.
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi"},
        "steps": [{"op": "select", "cols": ["c_name", "c_nationkey"]}],
    }
    with pytest.raises(SystemExit, match="c_name"):
        run_route(spark, route)


def test_route_accepts_in_place_transform(spark):
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi"},
        "steps": [{"op": "pseudonymize_sha2", "col": "c_name", "salt": "s|"}],
    }
    out = run_route(spark, route)
    assert out.filter(F.length("c_name") != 64).count() == 0


def test_route_refuses_conditional_cell_suppress_as_di_coverage(spark):
    # ADVICE r3: suppress_cell_if with a never-true predicate rewrites
    # nothing, so a conditional op must NOT count as DI coverage.
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi"},
        "steps": [{"op": "suppress_cell_if", "col": "c_name", "pred": "1=0"}],
    }
    with pytest.raises(SystemExit, match="c_name"):
        run_route(spark, route)


def test_route_accepts_null_columns_as_di_coverage(spark):
    # ADVICE r3: null_columns destroys the DI values in place — a
    # legitimate covering step, must not be refused (fail-closed
    # regression in the previous guard).
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi"},
        "steps": [{"op": "null_columns", "cols": ["c_name"]}],
    }
    out = run_route(spark, route)
    assert out.filter(F.col("c_name").isNotNull()).count() == 0


def test_route_dp_release_end_to_end(spark, tmp_path):
    """A DP release route: clip + noisy per-nation sum.  The aggregate
    release drops every non-group column, so the DI (c_name) is covered
    without an explicit suppress step; the sink holds the k-group
    summary with deterministic noise applied."""
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi", "c_acctbal": "sa"},
        "steps": [
            {"op": "dp_sum_clipped", "group": "c_nationkey", "col": "c_acctbal",
             "lo": 0.0, "hi": 1000.0, "epsilon": 1.0, "salt": "route|"},
        ],
        "output": {"path": str(tmp_path / "out")},
    }
    out = run_route(spark, route)
    rows = out.collect()
    assert set(out.columns) == {"c_nationkey", "sum_exact", "sum_noisy", "n_exact", "epsilon"}
    assert all(abs(r.sum_noisy - r.sum_exact) > 0 for r in rows), "noise applied"
    assert spark.read.parquet(str(tmp_path / "out")).count() == len(rows)


def test_route_refuses_dp_release_grouped_by_di(spark):
    """Grouping the noisy release BY the direct identifier publishes
    every DI value — the guard must refuse it."""
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_acctbal": "sa"},
        "steps": [
            {"op": "dp_count", "group": "c_name", "epsilon": 0.5},
        ],
    }
    with pytest.raises(SystemExit, match="c_name"):
        run_route(spark, route)


def test_route_mondrian_does_not_count_as_di_coverage(spark):
    """mondrian_kanon keeps the input rows (DIs included), so a route
    relying on it alone for DI coverage must be refused."""
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi", "c_acctbal": "qi"},
        "steps": [
            {"op": "mondrian_kanon", "qis": ["c_nationkey", "c_acctbal"], "k": 8},
        ],
    }
    with pytest.raises(SystemExit, match="c_name"):
        run_route(spark, route)


def test_route_mondrian_with_suppression_runs(spark):
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi", "c_acctbal": "qi"},
        "steps": [
            {"op": "suppress_columns", "cols": ["c_name"]},
            {"op": "mondrian_kanon", "qis": ["c_nationkey", "c_acctbal"], "k": 8},
        ],
    }
    out = run_route(spark, route)
    assert "c_name" not in out.columns
    assert "mondrian_pid" in out.columns
    sizes = out.groupBy("mondrian_pid").count().agg(F.min("count")).collect()[0][0]
    assert sizes >= 8


def test_route_refuses_swap_as_di_coverage(spark):
    """A within-group swap publishes every raw DI value (permuted), so
    it must NOT count as DI coverage (round-4 review finding)."""
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi"},
        "steps": [
            {"op": "swap_within_group", "col": "c_name",
             "group_cols": ["c_nationkey"], "seed": 1},
        ],
    }
    with pytest.raises(SystemExit, match="c_name"):
        run_route(spark, route)


def test_route_cell_suppression_release_end_to_end(spark, tmp_path):
    """A tabular release route: the cell-suppression step aggregates to
    the QI frequency table (covering the DI implicitly) and every
    published small cell is hidden — primary cells below threshold are
    NULL, and no group is left with exactly one suppressed cell."""
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi", "c_mktsegment": "qi"},
        "steps": [
            {"op": "cell_suppression", "qis": ["c_nationkey", "c_mktsegment"],
             "threshold": 5},
        ],
        "output": {"path": str(tmp_path / "out")},
    }
    out = run_route(spark, route)
    rows = out.collect()
    assert set(out.columns) == {"c_nationkey", "c_mktsegment", "status", "published"}
    assert all(r.published is None for r in rows if r.status != "ok")
    assert all(r.published >= 5 for r in rows if r.status == "ok")
    # No partially-suppressed group: every MULTI-CELL nation has 0 or
    # >= 2 hidden cells (a single-cell group has nothing to sacrifice —
    # the documented margin-policy carve-out in cell_suppression_release).
    from collections import Counter

    cells = Counter(r.c_nationkey for r in rows)
    hidden = Counter(r.c_nationkey for r in rows if r.status != "ok")
    assert all(v >= 2 for nat, v in hidden.items() if cells[nat] >= 2)


def test_route_refuses_cell_suppression_over_di(spark):
    """Using the DI itself as a suppression QI publishes its values —
    the guard must refuse, same rule as dp releases grouped by DI."""
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi"},
        "steps": [
            {"op": "cell_suppression", "qis": ["c_nationkey", "c_name"]},
        ],
    }
    with pytest.raises(SystemExit, match="c_name"):
        run_route(spark, route)


def test_route_microaggregate_step(spark):
    """A route microaggregating the SA in place: every published balance
    must be shared by >= k records within its class, and the step counts
    as DI coverage when aimed at a DI column."""
    route = {
        "input": {"table": "customer", "sf_dir": SF_ORACLE},
        "columns": {"c_name": "di", "c_nationkey": "qi", "c_acctbal": "sa"},
        "steps": [
            {"op": "pseudonymize_sha2", "col": "c_name", "salt": "ma|"},
            {"op": "microaggregate", "cls": "c_nationkey", "col": "c_acctbal",
             "tiebreak": "c_custkey", "k": 10},
        ],
    }
    out = run_route(spark, route)
    from pyspark.sql import functions as F

    shared = out.groupBy("c_nationkey", "c_acctbal").count()
    assert shared.filter(F.col("count") < 10).count() == 0


def test_microaggregate_small_class_suppressed(spark):
    """ADVICE r4: a class with n < k must NOT publish raw values (a
    singleton's "mean" is the value itself).  The operator suppresses
    such classes to NULL, keeping the DI-guard's unconditional-rewrite
    assumption true."""
    from pyspark.sql import functions as F

    from ma_anonymization_etl_spark.operators.anonymize import microaggregate

    rows = [("big", i, float(100 + i)) for i in range(12)]
    rows += [("tiny", 100, 42.0), ("tiny", 101, 43.0)]  # n=2 < k=10
    df = spark.createDataFrame(rows, "cls string, id int, v double")
    out = microaggregate(df, "cls", "v", "id", k=10)
    tiny = out.filter(F.col("cls") == "tiny").select("v").collect()
    assert all(r.v is None for r in tiny), "n<k class must suppress, not leak raw"
    big = out.filter(F.col("cls") == "big").select("v").collect()
    assert all(r.v is not None for r in big)
    shared = (
        out.filter(F.col("v").isNotNull())
        .groupBy("cls", "v").count()
        .filter(F.col("count") < 10)
    )
    assert shared.count() == 0


def test_route_multi_parent_fk_suite_with_enrichment(spark, tmp_path, capsys):
    """VERDICT r8 item 5: one constraint_report step checks fks against
    THREE different aux parents, after an enrich_join projected a
    dimension column onto the working table — all through cli.main."""
    rf = tmp_path / "route.json"
    rf.write_text(open("/root/repo/examples/route_enrich_fk.json").read())
    assert main(["--route", str(rf), "--sf-dir", SF_ORACLE], spark=spark) == 0
    route = json.load(open("/root/repo/examples/route_enrich_fk.json"))
    route["input"]["sf_dir"] = SF_ORACLE
    for src in route["aux_inputs"].values():
        src["sf_dir"] = SF_ORACLE
    out = {r.check_name: r.n_violations for r in run_route(spark, route).collect()}
    assert out == {
        "fk_order": 0,
        "fk_part": 0,
        "fk_supplier": 0,
        "enriched_brand_present": 0,
    }


def test_route_enrich_join_requires_aux_columns_block(spark):
    """ADVICE r8: a projecting aux consumer without a columns
    declaration on the aux input must refuse, not silently bypass the
    DI gate."""
    route = {
        "input": {"table": "lineitem", "sf_dir": SF_ORACLE,
                  "where": "l_quantity >= 49"},
        "columns": {"l_partkey": "keep"},
        "aux_inputs": {"part": {"table": "part"}},
        "steps": [{"op": "enrich_join", "aux": "part",
                   "on": {"l_partkey": "p_partkey"}, "cols": ["p_brand"]}],
    }
    with pytest.raises(SystemExit, match="no columns declaration"):
        run_route(spark, route)


def test_route_enrich_join_di_projection_must_be_covered(spark):
    """A DI column projected from an aux joins the merged config: the
    route must then transform/drop/deselect it like any main-table DI."""
    route = {
        "input": {"table": "lineitem", "sf_dir": SF_ORACLE,
                  "where": "l_quantity >= 49"},
        "columns": {"l_partkey": "keep"},
        "aux_inputs": {"part": {"table": "part",
                                "columns": {"p_partkey": "keep",
                                            "p_name": "di"}}},
        "steps": [{"op": "enrich_join", "aux": "part",
                   "on": {"l_partkey": "p_partkey"}, "cols": ["p_name"]}],
    }
    with pytest.raises(SystemExit, match="direct identifiers"):
        run_route(spark, route)
    # covered: pseudonymize the projected DI in place -> accepted
    route["steps"].append(
        {"op": "pseudonymize_sha2", "col": "p_name", "salt": "e|"}
    )
    out = run_route(spark, route)
    assert "p_name" in out.columns
    assert out.filter(F.length("p_name") != 64).count() == 0


def test_route_enrich_join_di_coverage_is_order_aware(spark):
    """ADVICE r9 (high): a covering step placed BEFORE the enrich_join
    must NOT count — suppress_columns before the join is a silent
    df.drop no-op on a not-yet-existing column, and a select before the
    join is undone by the join re-adding the column.  Both shapes
    previously passed the gate while the output carried the raw DI."""
    base = {
        "input": {"table": "lineitem", "sf_dir": SF_ORACLE,
                  "where": "l_quantity >= 49"},
        "columns": {"l_partkey": "keep"},
        "aux_inputs": {"part": {"table": "part",
                                "columns": {"p_partkey": "keep",
                                            "p_name": "di"}}},
    }
    join = {"op": "enrich_join", "aux": "part",
            "on": {"l_partkey": "p_partkey"}, "cols": ["p_name"]}

    # Side door 1: suppress BEFORE the join — must refuse.
    r1 = dict(base, steps=[
        {"op": "suppress_columns", "cols": ["p_name"]}, join])
    with pytest.raises(SystemExit, match="direct identifiers"):
        run_route(spark, r1)

    # Side door 2: select BEFORE the join excludes the DI — must refuse.
    r2 = dict(base, steps=[
        {"op": "select", "cols": ["l_partkey"]}, join])
    with pytest.raises(SystemExit, match="direct identifiers"):
        run_route(spark, r2)

    # Covering step AFTER the join — accepted, and really covered.
    r3 = dict(base, steps=[
        join, {"op": "suppress_columns", "cols": ["p_name"]}])
    out = run_route(spark, r3)
    assert "p_name" not in out.columns

    r4 = dict(base, steps=[join, {"op": "select", "cols": ["l_partkey"]}])
    out = run_route(spark, r4)
    assert out.columns == ["l_partkey"]


def test_enrich_join_refuses_existing_column_names(spark):
    """ADVICE r9 (low): projecting an aux column whose name already
    exists in the working table would create duplicate column names —
    refuse instead of producing ambiguous references downstream."""
    from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline

    work = spark.createDataFrame(
        [(1, "x"), (2, "y")], "k int, p_brand string")
    aux = spark.createDataFrame(
        [(1, "B1"), (2, "B2")], "p_partkey int, p_brand string")
    with pytest.raises(ValueError, match="already exist"):
        anonymize_pipeline(
            work,
            [{"op": "enrich_join", "aux": "part",
              "on": {"k": "p_partkey"}, "cols": ["p_brand"]}],
            tables={"part": aux},
        )


def test_route_enrich_join_undeclared_projected_column_refused(spark):
    route = {
        "input": {"table": "lineitem", "sf_dir": SF_ORACLE,
                  "where": "l_quantity >= 49"},
        "columns": {"l_partkey": "keep"},
        "aux_inputs": {"part": {"table": "part",
                                "columns": {"p_partkey": "keep"}}},
        "steps": [{"op": "enrich_join", "aux": "part",
                   "on": {"l_partkey": "p_partkey"}, "cols": ["p_brand"]}],
    }
    with pytest.raises(SystemExit, match="does not declare roles"):
        run_route(spark, route)


def test_route_bm25_filter_step(spark):
    """The j54 stretch: BM25-scored decontamination as a route step —
    docs saturated with the benchmark corpus's vocabulary drop, docs
    sharing no vocabulary survive untouched."""
    import pyspark.sql.functions as SF

    bench_rows = [(100 + i, "alpha beta gamma delta " * 8) for i in range(4)]
    work_rows = [
        (1, "alpha beta gamma delta alpha beta gamma delta alpha beta"),
        (2, " ".join(f"w{i}" for i in range(30))),
        (3, "alpha " + " ".join(f"z{i}" for i in range(40))),
    ]
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    work = spark.createDataFrame(work_rows, "doc_id long, text string")

    from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline

    out = anonymize_pipeline(
        work,
        [{"op": "bm25_filter", "aux": "bench", "n_terms": 4,
          "max_score_micro": 3_000_000}],
        tables={"bench": bench},
    )
    kept = {r.doc_id for r in out.collect()}
    assert 1 not in kept, "benchmark-saturated doc must drop"
    assert {2, 3} <= kept, "clean / barely-overlapping docs must survive"
    assert out.columns == work.columns


def test_route_step_substring_dedup_and_near_dedup(spark):
    """Round-10 curation steps: near_dedup_drop removes the higher-id
    member of a near-identical pair (lowest-id survives) and keeps
    unique docs; substring_dedup drops saturated docs, masks the shared
    head out of boilerplate docs, and carries the other working columns
    through."""
    from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline

    head = " ".join(f"h{i}" for i in range(16))
    tail_a = " ".join(f"a{i}" for i in range(30))
    tail_b = " ".join(f"b{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            # 46 words, 39 grams, 9 duplicated (the head's) -> frac 0.23:
            # above mask_min 0.15, below drop_min 0.6 -> MASK
            (1, head + " " + tail_a, "en"),
            (2, head + " " + tail_b, "en"),   # shares ONLY the head with 1
            (3, " ".join(f"u{i}" for i in range(40)), "de"),  # unique
        ],
        "doc_id long, text string, lang string",
    )
    # substring_dedup: docs 1 and 2 share the 16-word head -> masked
    # (head removed, tails survive); doc 3 unique -> kept verbatim
    # (lowercased); working column `lang` rides through.
    out = anonymize_pipeline(docs, [{"op": "substring_dedup"}])
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[3].text == " ".join(f"u{i}" for i in range(40))
    for i in (1, 2):
        assert "h0" not in rows[i].text.split()
        assert rows[i].lang == "en"
    assert rows[1].text.split()[0] == "a0" and rows[2].text.split()[0] == "b0"

    # near_dedup_drop: plant a true near-dup pair (doc 11 = doc 10 with
    # the first word dropped, the j50 corpus shape, J well above 0.5)
    t = " ".join(f"w{i}" for i in range(50))
    nd = spark.createDataFrame(
        [(10, t), (11, t.split(" ", 1)[1]), (12, " ".join(f"z{i}" for i in range(50)))],
        "doc_id long, text string",
    )
    kept = {
        r.doc_id
        for r in anonymize_pipeline(nd, [{"op": "near_dedup_drop"}]).collect()
    }
    assert kept == {10, 12}, kept


def test_route_dedup_stack_end_to_end(spark, tmp_path):
    """examples/route_dedup_stack.json: the full dedup ladder as config
    — exact → MinHash near-dup drop → substring span masking → quality
    floor → split — runs through cli.main and the output is genuinely
    deduplicated at all three granularities."""
    rf = tmp_path / "route.json"
    route = json.load(open("/root/repo/examples/route_dedup_stack.json"))
    route["output"]["path"] = str(tmp_path / "out")
    rf.write_text(json.dumps(route))
    assert main(["--route", str(rf), "--sf-dir", SF_ORACLE], spark=spark) == 0
    out = spark.read.parquet(str(tmp_path / "out"))
    n = out.count()
    assert 0 < n <= 500
    assert set(out.columns) == {"doc_id", "lang", "source", "split", "text"}
    # exact-dup free
    assert out.select("text").distinct().count() == n


def _jobs_and_stages(spark, group, fn):
    """Run ``fn()`` under a Spark job group; return (jobs, stages, its
    result), stages counted over every job of the group, skipped ones
    included."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        result = fn()
        # Listener events arrive in order: once a later job in another
        # group is visible, every job of this group is too.
        sc.setJobGroup(group + "-sentinel", "sentinel")
        spark.range(1).count()
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(group + "-sentinel"):
            assert time.time() < deadline, "sentinel job never reported"
            time.sleep(0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    return len(jobs), len(stages), result


def test_route_dedup_stack_cuts_only_before_rereading_steps(spark, tmp_path):
    """The full dedup stack through ``run_route`` with its sink: the fold
    cuts the lineage before near_dedup_drop, fuzzy_dedup_drop and
    substring_dedup, so no step re-runs the steps before it.  On the
    SF_ORACLE fixture its jobs and stages stay at or below the 26 / 40
    measured with the cuts (the uncut fold ran 46 / 98–100), and it
    releases the same doc ids as a plain uncut fold of the same steps."""
    from ma_anonymization_etl_spark.plans.pipeline import STEPS
    from ma_anonymization_etl_spark.sources.io import load

    route = json.loads((EXAMPLES / "route_dedup_stack.json").read_text())
    route["input"]["sf_dir"] = SF_ORACLE
    route["output"]["path"] = str(tmp_path / "out")
    jobs, stages, _ = _jobs_and_stages(
        spark, "dedup-stack-shape", lambda: run_route(spark, route)
    )
    assert jobs <= 26 and stages <= 40, (jobs, stages)

    # Referee: the uncut fold, every step planned on the one lineage.
    ref = load(spark, SF_ORACLE, "documents")
    for step in route["steps"]:
        params = dict(step)
        ref = STEPS[params.pop("op")](ref, **params)
    got = spark.read.parquet(str(tmp_path / "out")).select("doc_id").collect()
    want = ref.select("doc_id").collect()
    assert got and sorted(r.doc_id for r in got) == sorted(r.doc_id for r in want)


def test_route_enrich_join_reintroduction_needs_fresh_coverage(spark):
    """Order-aware gate, the re-introduction edge: a DI projected by an
    enrich_join, suppressed, then RE-introduced by a second enrich_join
    must be covered again AFTER the second join — the suppress between
    the two joins is not coverage for the re-added column."""
    base = {
        "input": {"table": "lineitem", "sf_dir": SF_ORACLE,
                  "where": "l_quantity >= 49"},
        "columns": {"l_partkey": "keep"},
        "aux_inputs": {"part": {"table": "part",
                                "columns": {"p_partkey": "keep",
                                            "p_name": "di"}}},
    }
    join = {"op": "enrich_join", "aux": "part",
            "on": {"l_partkey": "p_partkey"}, "cols": ["p_name"]}
    sup = {"op": "suppress_columns", "cols": ["p_name"]}

    # join, suppress, join again, nothing -> the re-added DI leaks.
    r1 = dict(base, steps=[join, sup, dict(join)])
    with pytest.raises(SystemExit, match="direct identifiers"):
        run_route(spark, r1)

    # join, suppress, join again, suppress again -> covered, and the
    # runtime clash check is satisfied (the column is absent when each
    # join adds it).
    r2 = dict(base, steps=[join, sup, dict(join), dict(sup)])
    out = run_route(spark, r2)
    assert "p_name" not in out.columns


def test_route_step_fuzzy_dedup_drop(spark):
    """fuzzy_dedup_drop removes the higher-id member of an
    edit-distance near pair (lowest-id survives, tau=3 default) and
    keeps docs beyond tau; other working columns ride through."""
    from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline

    t = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (20, t, "en"),
            (21, t[:30] + "XY" + t[32:], "en"),   # 2 edits from 20
            (22, "a completely different sentence about nothing at all", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    out = anonymize_pipeline(docs, [{"op": "fuzzy_dedup_drop"}])
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {20, 22}, set(rows)
    assert rows[20].lang == "en" and rows[22].lang == "de"


def test_route_step_semantic_dedup_drop(spark):
    """semantic_dedup_drop removes the higher-id member of a planted
    near-identical vector pair (lowest-id survives), keeps distant
    vectors, keeps rows with NO embedding, and only dedups rows still
    in the working table (the pre-filtered doc never anchors a drop)."""
    from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline

    docs = spark.createDataFrame(
        [(i, f"doc {i} text", "en") for i in range(6)],
        "doc_id long, text string, lang string",
    )
    base = [1.0, 0.5, -0.25, 2.0]
    far = [-2.0, 1.0, 0.5, -0.125]
    vecs = spark.createDataFrame(
        [
            (0, [float(x) for x in base]),
            (3, [float(x * 2) for x in base]),  # cos == 1 with vec 0
            (4, [float(x) for x in far]),
            # doc 5 has no embedding; doc 1/2 absent from aux entirely
        ],
        "vec_id long, embedding array<float>",
    )
    out = anonymize_pipeline(
        docs,
        [{"op": "semantic_dedup_drop", "aux": "vectors"}],
        tables={"vectors": vecs},
    )
    kept = {r.doc_id for r in out.collect()}
    assert kept == {0, 1, 2, 4, 5}, kept  # 3 drops (near-dup of lower-id 0)

    # membership-awareness: filter doc 0 out FIRST -> 3 has no lower-id
    # mate left in the corpus, so it keeps.
    out2 = anonymize_pipeline(
        docs,
        [
            {"op": "suppress_rows_if", "pred": "doc_id = 0"},
            {"op": "semantic_dedup_drop", "aux": "vectors"},
        ],
        tables={"vectors": vecs},
    )
    assert {r.doc_id for r in out2.collect()} == {1, 2, 3, 4, 5}


def test_route_step_semantic_dedup_drop_no_low_ids(spark):
    """ADVICE r11 regressions: (a) a working set whose surviving ids
    are all >= k must still seed the Lloyd loop (k lowest SURVIVING
    ids, not a literal vec_id < k filter — previously an empty seed
    set crashed the Arrow assignment); (b) an aux row with a NULL
    embedding value is 'no embedding' (keeps, never np.stack'd);
    (c) an all-null / empty corpus is a no-op, not a crash."""
    from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline

    docs = spark.createDataFrame(
        [(i, f"doc {i} text", "en") for i in range(100, 106)],
        "doc_id long, text string, lang string",
    )
    base = [1.0, 0.5, -0.25, 2.0]
    vecs = spark.createDataFrame(
        [
            (100, [float(x) for x in base]),
            (103, [float(x * 2) for x in base]),  # cos == 1 with 100
            (104, [-2.0, 1.0, 0.5, -0.125]),
            (105, None),  # NULL vector value (present in aux)
        ],
        "vec_id long, embedding array<float>",
    )
    out = anonymize_pipeline(
        docs,
        [{"op": "semantic_dedup_drop", "aux": "vectors"}],
        tables={"vectors": vecs},
    )
    kept = {r.doc_id for r in out.collect()}
    assert kept == {100, 101, 102, 104, 105}, kept

    # empty corpus: every row with a (non-null) vector filtered out
    # upstream -> the step is a no-op on the survivors.
    out2 = anonymize_pipeline(
        docs,
        [
            {"op": "suppress_rows_if", "pred": "doc_id <= 104"},
            {"op": "semantic_dedup_drop", "aux": "vectors"},
        ],
        tables={"vectors": vecs},
    )
    assert {r.doc_id for r in out2.collect()} == {105}


def test_route_step_knn_label(spark):
    """knn_label enriches the working table with the multiprobe 5-NN
    majority label (j64's gate-attested engine): no rows drop, the new
    column's non-null values come from the aux label domain, and a
    spot-checked query matches the engine's direct answer."""
    from ma_anonymization_etl_spark.operators.similarity import (
        knn_label_multiprobe,
    )
    from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline
    from ma_anonymization_etl_spark.sources.io import load
    from ma_anonymization_etl_spark.functions.vectors import as_double

    docs = load(spark, SF_ORACLE, "documents").filter("doc_id < 40")
    vecs = load(spark, SF_ORACLE, "embeddings")
    out = anonymize_pipeline(
        docs,
        [{"op": "knn_label", "aux": "vectors", "out": "topic_label"}],
        tables={"vectors": vecs},
    )
    rows = out.collect()
    assert len(rows) == docs.count(), "enrichment must not drop rows"
    labels = {r["label"] for r in vecs.select("label").distinct().collect()}
    got = {r["topic_label"] for r in rows if r["topic_label"] is not None}
    assert got and got <= labels
    e = vecs.select("vec_id", "label", as_double(F.col("embedding")).alias("v"))
    q = e.filter("vec_id = 7").select(
        F.col("vec_id").alias("query_id"), "v"
    )
    direct = knn_label_multiprobe(q, e, k=5).collect()[0].label_pred
    assert {r.topic_label for r in rows if r.doc_id == 7} == {direct}


def test_route_bad_step_key_fails_before_any_job(spark):
    """Every step's params are bound to its step function before the
    fold starts: a misspelt key in step 2 raises a ValueError naming
    the step, the op and the key, and step 1 (semantic_dedup_drop,
    which counts and checkpoints while it is planned) runs no job."""
    from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline
    from ma_anonymization_etl_spark.sources.io import load

    docs = load(spark, SF_ORACLE, "documents")
    vecs = load(spark, SF_ORACLE, "embeddings")

    def plan_bad_route():
        with pytest.raises(ValueError, match=r"step 2 \('knn_label'\).*'kk'"):
            anonymize_pipeline(
                docs,
                [
                    {"op": "semantic_dedup_drop", "aux": "vectors"},
                    {"op": "knn_label", "aux": "vectors", "kk": 5},
                ],
                tables={"vectors": vecs},
            )

    jobs, _, _ = _jobs_and_stages(spark, "route-bind-probe", plan_bad_route)
    assert jobs == 0


def test_main_counts_the_sink_without_rerunning_the_route(
    spark, tmp_path, monkeypatch, capsys
):
    """cli.main reports the row count of a route with a sink from the
    written parquet; counting the returned DataFrame would execute the
    whole route a second time."""
    from pathlib import Path

    from ma_anonymization_etl_spark import cli

    real_run_route = cli.run_route

    def run_route_no_recount(spark_, route):
        out = real_run_route(spark_, route)

        def count():
            pytest.fail("cli.main re-executed the route with out.count()")

        out.count = count
        return out

    monkeypatch.setattr(cli, "run_route", run_route_no_recount)
    example = Path(__file__).resolve().parents[1] / "examples" / "route_customer.json"
    route = json.loads(example.read_text())
    route["output"]["path"] = str(tmp_path / "out")
    rf = tmp_path / "route.json"
    rf.write_text(json.dumps(route))
    assert cli.main(["--route", str(rf), "--sf-dir", SF_ORACLE], spark=spark) == 0
    n = spark.read.parquet(str(tmp_path / "out")).count()
    assert n > 0
    assert f"route ok: {n} rows -> {tmp_path / 'out'}" in capsys.readouterr().out


def test_route_step_knn_label_null_vector(spark):
    """ADVICE r11 regression: an aux row with a NULL embedding value
    is no evidence — it neither labels (corpus side) nor queries; its
    working row rides through with a NULL output column instead of
    crashing the Arrow signing path."""
    from ma_anonymization_etl_spark.plans.pipeline import anonymize_pipeline

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(4)], "doc_id long, text string"
    )
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], "a"),
            (1, [0.9, 0.1, 0.0, 0.0], "a"),
            (2, [0.8, 0.2, 0.0, 0.0], None),  # unlabelled, still queries
            (3, None, "b"),                   # NULL vector (ADVICE r11)
        ],
        "vec_id long, embedding array<float>, label string",
    )
    out = anonymize_pipeline(
        docs,
        [{"op": "knn_label", "aux": "vectors", "out": "nn"}],
        tables={"vectors": vecs},
    )
    rows = {r.doc_id: r.nn for r in out.collect()}
    assert set(rows) == {0, 1, 2, 3}, "enrichment must not drop rows"
    assert rows[3] is None  # no vector -> no label
    assert rows[0] == "a" and rows[1] == "a" and rows[2] == "a"


def test_route_knn_label_di_gate(spark):
    """knn_label's DI wiring: (a) an aux without a columns block
    refuses; (b) a label column declared 'di' makes the OUTPUT column
    a DI — uncovered routes refuse, suppressing it downstream passes
    (order-aware, the enrich_join discipline)."""
    base = {
        "input": {"table": "documents", "sf_dir": SF_ORACLE,
                  "where": "doc_id < 30"},
        "columns": {"doc_id": "keep", "text": "sa"},
    }
    step = {"op": "knn_label", "aux": "vectors", "out": "who"}

    r1 = dict(base, aux_inputs={"vectors": {"table": "embeddings"}},
              steps=[step])
    with pytest.raises(SystemExit, match="columns declaration"):
        run_route(spark, r1)

    di_aux = {"vectors": {"table": "embeddings",
                          "columns": {"vec_id": "keep",
                                      "embedding": "keep",
                                      "label": "di"}}}
    r2 = dict(base, aux_inputs=di_aux, steps=[step])
    with pytest.raises(SystemExit, match="direct identifiers"):
        run_route(spark, r2)

    r3 = dict(base, aux_inputs=di_aux,
              steps=[step, {"op": "suppress_columns", "cols": ["who"]}])
    out = run_route(spark, r3)
    assert "who" not in out.columns

    # coverage BEFORE the introducing step is a no-op (order-aware)
    r4 = dict(base, aux_inputs=di_aux,
              steps=[{"op": "suppress_columns", "cols": ["who"]}, step])
    with pytest.raises(SystemExit, match="direct identifiers"):
        run_route(spark, r4)


def test_route_embedding_curation_end_to_end(spark, tmp_path):
    """examples/route_embedding_curation.json: quality floor →
    semantic dedup over the embeddings aux → multiprobe kNN topic
    labelling → projection, through cli.main — the embedding-side
    machinery config-driven end to end."""
    rf = tmp_path / "route.json"
    route = json.load(open("/root/repo/examples/route_embedding_curation.json"))
    route["output"]["path"] = str(tmp_path / "out")
    rf.write_text(json.dumps(route))
    assert main(["--route", str(rf), "--sf-dir", SF_ORACLE], spark=spark) == 0
    out = spark.read.parquet(str(tmp_path / "out"))
    n = out.count()
    assert 0 < n <= 500
    assert set(out.columns) == {"doc_id", "lang", "source",
                                "topic_label", "text"}
    assert out.filter("topic_label IS NOT NULL").count() > 0
