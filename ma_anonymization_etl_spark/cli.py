"""ETL front door — run a config-driven anonymization route end to end:

    python -m ma_anonymization_etl_spark.cli --route route.json \\
        [--sf-dir /root/testdata/sf0.01] [--show 10]

Route file shape (JSON — the reference's pipeline-as-config lifecycle,
SURVEY §3):

    {
      "input":  {"table": "customer", "sf_dir": "/root/testdata/sf0.01"},
      "columns": {"c_name": "di", "c_nationkey": "qi", "c_acctbal": "sa"},
      "steps":  [{"op": "pseudonymize_sha2", "col": "c_name",
                  "salt": "s1|", "out": "name_token"},
                 {"op": "generalize_numeric", "col": "c_acctbal",
                  "width": 500, "out": "bal_bin"},
                 {"op": "k_enforce_suppress",
                  "qis": ["c_nationkey", "bal_bin"], "k": 8},
                 {"op": "select",
                  "cols": ["name_token", "c_nationkey", "bal_bin"]}],
      "output": {"path": "/tmp/sanitized", "partition_by": ["c_nationkey"]}
    }

`input` may give `path` (any parquet) instead of `table`+`sf_dir`.
`columns` is validated (i1) and every DI column must be touched by some
step — the route fails fast otherwise instead of leaking identifiers.
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession

from ma_anonymization_etl_spark.plans.pipeline import (
    AGGREGATE_RELEASE_OPS,
    anonymize_pipeline,
    classify_columns,
)
from ma_anonymization_etl_spark.sources.io import load, write_parquet


def _check_di_covered(
    cfg: Mapping[str, str],
    steps: list[Mapping[str, Any]],
    introduced_at: Mapping[str, int] | None = None,
) -> None:
    """Refuse routes where a direct identifier survives to the output.

    A DI is covered only if (a) some UNCONDITIONAL rewrite step
    transforms it IN PLACE (no ``out``, or ``out`` equal to the column —
    writing a token to a *different* column leaves the raw DI intact;
    conditional ops like ``suppress_cell_if`` do not count because a
    never-true predicate leaves every raw value in the output), (b) it
    is dropped by ``suppress_columns`` or destroyed by ``null_columns``,
    (c) the final ``select`` projection excludes it, or (d) an
    aggregate-release step (dp_count/dp_sum_clipped) projects the route
    down to its group key — which covers every DI EXCEPT a DI used as
    the group itself (publishing per-DI noisy stats still lists the DI
    values).  Merely referencing the DI as a step input is not coverage.

    Coverage is ORDER-AWARE for aux-projected columns (ADVICE r9 high):
    ``introduced_at`` maps column → index of the LAST enrich_join step
    that projects it into the working table.  A covering step counts
    only if it runs AFTER that introduction — a suppress_columns before
    the join is a silent ``df.drop`` no-op on a not-yet-existing column,
    and a select before the join is undone by the join re-adding the
    column; both previously passed the gate while the output carried the
    raw DI.  Main-input columns exist from step 0, so every step covers
    them (index -1).
    """
    roles = classify_columns(cfg)
    intro = introduced_at or {}
    # Ops that rewrite every value of `col` regardless of data/predicate.
    # NOT swap_within_group: a swap rewrites every row but publishes the
    # full multiset of raw values (only re-paired with other rows) — for
    # a direct identifier that is still a leak of every identifier value.
    unconditional_rewrites = {
        "pseudonymize_sha2", "pseudonymize_md5", "mask_partial",
        "generalize_numeric", "generalize_range_label", "generalize_date",
        "top_bottom_code", "perturb_uniform", "perturb_laplace",
        # k-member group means rewrite every value in place; classes with
        # n < k are suppressed to NULL by the operator (anonymize.py),
        # so no raw value survives — the unconditional claim holds.
        "microaggregate",
    }

    def covered(c: str) -> bool:
        born = intro.get(c, -1)
        kept: set[str] | None = None  # None = no projection after birth
        for i, s in enumerate(steps):
            if i <= born:
                continue  # the column does not exist yet — step is a no-op on it
            op = s.get("op")
            if (op in unconditional_rewrites and s.get("col") == c
                    and s.get("out", c) == c):
                return True
            if op in ("suppress_columns", "null_columns") and c in s["cols"]:
                return True
            if op == "select":
                kept = set(s["cols"])  # last projection decides the output
            elif op in AGGREGATE_RELEASE_OPS:
                # A release aggregate projects down to its group key(s):
                # every other column is gone; the keys themselves survive
                # (a per-DI noisy release still publishes the DI values).
                # dp_* steps carry one "group"; cell_suppression a "qis".
                kept = set(s["qis"]) if "qis" in s else {s["group"]}
        return kept is not None and c not in kept

    uncovered = [c for c in roles["di"] if not covered(c)]
    if uncovered:
        raise SystemExit(
            f"route error: direct identifiers {uncovered} are not transformed, "
            "suppressed, or projected away — refusing to run a leaking route"
        )


def _load_input(spark: SparkSession, src: Mapping[str, Any]) -> DataFrame:
    if "path" in src:
        df = spark.read.parquet(src["path"])
    else:
        df = load(spark, src.get("sf_dir", "/root/testdata/sf0.01"), src["table"])
    if "where" in src:  # SQL-string predicate, pushed down by Catalyst
        df = df.filter(src["where"])
    return df


# Aux consumers that only OBSERVE the aux table (semi/anti joins,
# violation counts) and can never project its columns into the working
# schema — safe without a columns declaration on the aux input.  Any
# other step touching an aux (today: enrich_join, which DOES project)
# requires the aux to declare columns, and the projected columns join
# the main config for the DI-coverage gate (ADVICE r8: aux_inputs must
# not become a side door around the DI refusal).
AUX_OBSERVE_ONLY_OPS = {
    "decontaminate_filter",
    "constraint_report",
    "bm25_filter",
    # semantic_dedup_drop reads aux vectors only to decide row
    # membership (anti-join) — no aux column ever lands in the schema.
    "semantic_dedup_drop",
}


def _merged_columns_cfg(
    route: Mapping[str, Any],
) -> tuple[Mapping[str, str] | None, dict[str, int]]:
    """The route's columns config, extended with the declared role of
    every aux column an enrich_join projects into the working table,
    plus ``introduced_at``: column → index of the LAST projecting step
    that introduces it (so the DI gate only credits covering steps that
    run after the join — ADVICE r9).  Refuses (a) projecting steps on an
    aux with no columns block and (b) projected aux columns missing from
    that block."""
    cfg = dict(route.get("columns", {}))
    aux_cfg = route.get("aux_inputs", {})
    introduced_at: dict[str, int] = {}
    for idx, step in enumerate(route.get("steps", [])):
        if "aux" not in step or not isinstance(step["aux"], str):
            continue
        if step.get("op") in AUX_OBSERVE_ONLY_OPS:
            continue
        name = step["aux"]
        declared = aux_cfg.get(name, {}).get("columns")
        if declared is None:
            raise SystemExit(
                f"route error: step {step.get('op')!r} projects columns from "
                f"aux input {name!r}, which has no columns declaration — "
                "refusing to bypass the DI-coverage gate"
            )
        if step.get("op") == "knn_label":
            # knn_label projects a DERIVED column (majority vote of the
            # aux's label column).  A vote over a direct identifier is
            # still identifying (k=1 copies it verbatim), so the output
            # column inherits the SOURCE label column's declared role
            # and rides the same order-aware coverage gate.
            src = step.get("label_col", "label")
            if src not in declared:
                raise SystemExit(
                    f"route error: aux input {name!r} does not declare a role "
                    f"for knn_label's label column {src!r}"
                )
            out_col = step.get("out", "knn_label")
            cfg[out_col] = declared[src]
            introduced_at[out_col] = idx
            continue
        projected = step.get("cols", [])
        undeclared = [c for c in projected if c not in declared]
        if undeclared:
            raise SystemExit(
                f"route error: aux input {name!r} does not declare roles for "
                f"projected columns {undeclared}"
            )
        for c in projected:
            cfg[c] = declared[c]
            introduced_at[c] = idx  # last introduction wins
    return (cfg or None), introduced_at


def run_route(spark: SparkSession, route: Mapping[str, Any]) -> DataFrame:
    df = _load_input(spark, route["input"])
    # Named auxiliary inputs for two-table steps (decontaminate_filter
    # references one via {"aux": "<name>"}); each loads like "input".
    tables = {
        name: _load_input(spark, src)
        for name, src in route.get("aux_inputs", {}).items()
    }
    merged_cfg, introduced_at = _merged_columns_cfg(route)
    if merged_cfg is not None:
        _check_di_covered(merged_cfg, route.get("steps", []), introduced_at)
    out = anonymize_pipeline(df, route.get("steps", []), tables=tables)
    sink = route.get("output")
    if sink:
        write_parquet(
            out,
            sink["path"],
            sink.get("partition_by"),
            dynamic=bool(sink.get("dynamic_partition_overwrite", False)),
        )
    return out


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run an anonymization route")
    ap.add_argument("--route", required=True, help="path to route JSON")
    ap.add_argument("--sf-dir", default=None, help="override input sf_dir")
    ap.add_argument("--show", type=int, default=0, help="print first N result rows")
    args = ap.parse_args(argv)

    with open(args.route) as f:
        route = json.load(f)
    if args.sf_dir:
        route.setdefault("input", {})["sf_dir"] = args.sf_dir
        for src in route.get("aux_inputs", {}).values():
            if "path" not in src:
                src["sf_dir"] = args.sf_dir

    owns_session = spark is None
    if owns_session:
        from ma_anonymization_etl_spark.session import get_spark

        spark = get_spark(app_name="mael-route")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        out = run_route(spark, route)
        sink = route.get("output")
        # With a sink the route has already run once; read its parquet
        # back (footer row counts) rather than re-executing the lineage.
        # A dynamic-overwrite sink counts every partition it holds.
        res = spark.read.parquet(sink["path"]) if sink else out
        n = res.count()
        print(f"route ok: {n} rows -> {sink['path'] if sink else '(no sink)'}")
        if args.show:
            for row in res.limit(args.show).collect():
                print(row)
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
