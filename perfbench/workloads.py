"""The benchmark's two workloads, expressed through the engine's public
entry points: ``cli.run_route`` for routes and
``registry.load_all()[name].fn`` for read-only queries.

- ``tabular``: the anonymization routes over the customer/events
  corpus, each ending in a parquet sink, then read-only registry queries
  over the same corpus plus orders/lineitem, their results delivered to
  the client as Arrow.
- ``curation``: the text-dedup and embedding-curation routes over the
  documents/embeddings corpus.

A *job* is one full pass of a workload: every route of it, sink
included, then every query of it.  The route step lists are fixed here
(the curation routes copy the steps of ``examples/route_dedup_stack.json``
and ``examples/route_embedding_curation.json``) so the benchmark does not
move when an example file is edited.
"""

from __future__ import annotations

import copy
import os

# k of the anonymization routes; the output checks hold the routes to it.
K_EVENTS = 5
K_CUSTOMER = 25

_EVENTS_COLUMNS = {
    "user_id": "di", "event_type": "qi", "ts": "qi", "value": "sa",
    "event_id": "keep", "props": "keep",
}

ANON_ETL = [
    {
        "name": "events_k",
        "input": {"table": "events"},
        "columns": _EVENTS_COLUMNS,
        "steps": [
            {"op": "pseudonymize_sha2", "col": "user_id", "salt": "bench-ev|",
             "out": "user_token"},
            {"op": "generalize_date", "col": "ts", "unit": "hour"},
            {"op": "suppress_columns", "cols": ["props"]},
            {"op": "k_enforce_suppress", "qis": ["event_type", "ts"], "k": K_EVENTS},
            {"op": "select", "cols": ["user_token", "event_type", "ts", "value"]},
        ],
        "output": {"partition_by": ["event_type"]},
    },
    {
        "name": "customer_mondrian",
        "input": {"table": "customer"},
        "columns": {
            "c_custkey": "keep", "c_name": "di", "c_nationkey": "qi",
            "c_mktsegment": "qi", "c_acctbal": "sa",
        },
        "steps": [
            {"op": "pseudonymize_sha2", "col": "c_name", "salt": "bench-c|",
             "out": "name_token"},
            {"op": "generalize_numeric", "col": "c_acctbal", "width": 500,
             "out": "bal_bin"},
            {"op": "mondrian_kanon", "qis": ["c_nationkey", "bal_bin"], "k": K_CUSTOMER},
            {"op": "select", "cols": [
                "name_token", "c_mktsegment", "mondrian_pid", "c_nationkey_lo",
                "c_nationkey_hi", "bal_bin_lo", "bal_bin_hi", "c_acctbal"]},
        ],
        "output": {"partition_by": ["c_mktsegment"]},
    },
    {
        "name": "events_dp",
        "input": {"table": "events"},
        "columns": _EVENTS_COLUMNS,
        "steps": [
            {"op": "dp_sum_clipped", "group": "event_type", "col": "value",
             "lo": 0.0, "hi": 200.0, "epsilon": 1.0, "salt": "bench-dp|"},
        ],
        "output": {},
    },
]

# ``dedup_near`` runs the MinHash half of ``examples/route_dedup_stack.json``
# (its edit-distance and substring steps are left out).  Every eager dedup
# step re-runs the whole lineage before it, so the full list cost a job
# 11 s against 2.5 s here on a 4-core VM, more than the benchmark's
# run-time budget allows.
_DOCS_COLUMNS = {"doc_id": "keep", "text": "sa", "lang": "qi", "source": "qi"}

CURATION = [
    {
        "name": "dedup_near",
        "input": {"table": "documents"},
        "columns": _DOCS_COLUMNS,
        "steps": [
            {"op": "dedup_exact", "subset": ["text"]},
            {"op": "near_dedup_drop", "id_col": "doc_id", "text_col": "text",
             "tau": 0.5, "shingle": 3},
            {"op": "quality_filter", "min_words": 5},
            {"op": "split_assign", "id_col": "doc_id", "salt": "ded39|",
             "fractions": [["train", 0.9]]},
            {"op": "select", "cols": ["doc_id", "lang", "source", "split", "text"]},
        ],
        "output": {"partition_by": ["split"], "dynamic_partition_overwrite": True},
    },
    {
        "name": "embed",
        "input": {"table": "documents"},
        "columns": {"doc_id": "keep", "text": "sa", "lang": "qi", "source": "qi",
                    "n_chars": "keep"},
        "aux_inputs": {
            "vectors": {"table": "embeddings",
                        "columns": {"vec_id": "keep", "embedding": "keep",
                                    "label": "qi"}},
        },
        "steps": [
            {"op": "quality_filter", "min_words": 5},
            {"op": "semantic_dedup_drop", "aux": "vectors", "id_col": "doc_id",
             "vec_id_col": "vec_id", "vec_col": "embedding"},
            {"op": "knn_label", "aux": "vectors", "id_col": "doc_id",
             "label_col": "label", "k": 5, "out": "topic_label"},
            {"op": "select", "cols": ["doc_id", "lang", "source", "topic_label", "text"]},
        ],
        "output": {"partition_by": ["topic_label"], "dynamic_partition_overwrite": True},
    },
]

ROUTES = {"tabular": ANON_ETL, "curation": CURATION}

ANALYTICS_READ = [
    "d1_agg_hash_pricing_summary",
    "c2_join_shuffle",
    "e5_win_running",
    "k3_win_session_batch",
    "p2_triangle_count",
]
QUERIES = {"tabular": ANALYTICS_READ, "curation": []}

# Route step op -> the engine module that does the step's work (the
# module its plans.pipeline step function delegates to).  ``select`` and
# ``dedup_exact`` are one-line DataFrame calls inside plans.pipeline.
OP_LAYER = {
    "pseudonymize_sha2": "operators.anonymize",
    "generalize_date": "operators.anonymize",
    "generalize_numeric": "operators.anonymize",
    "suppress_columns": "operators.anonymize",
    "k_enforce_suppress": "operators.anonymize",
    "mondrian_kanon": "operators.anonymize",
    "dp_sum_clipped": "operators.dp",
    "near_dedup_drop": "operators.llm",
    "quality_filter": "operators.llm",
    "split_assign": "operators.llm",
    "semantic_dedup_drop": "operators.similarity",
    "knn_label": "operators.similarity",
    "dedup_exact": "plans.pipeline",
    "select": "plans.pipeline",
}


def bound_routes(workload: str, data_dir: str, out_root: str) -> list[dict]:
    """The workload's routes with input paths under ``data_dir`` and sink
    paths under ``out_root`` (one directory per route)."""
    out = []
    for spec in ROUTES[workload]:
        route = copy.deepcopy(spec)
        for src in [route["input"], *route.get("aux_inputs", {}).values()]:
            src["sf_dir"] = data_dir
        route["output"]["path"] = os.path.join(out_root, spec["name"])
        out.append(route)
    return out


def run_job(spark, workload: str, data_dir: str, out_root: str) -> dict:
    """One job, untraced.  Returns what the output checks read, keyed by
    route or query name: each route's sink directory, each query's Arrow
    result."""
    from ma_anonymization_etl_spark import cli, registry

    results = {}
    for route in bound_routes(workload, data_dir, out_root):
        cli.run_route(spark, route)
        results[route["name"]] = route["output"]["path"]
    queries = registry.load_all()
    for name in QUERIES[workload]:
        results[name] = queries[name].fn(spark, data_dir).toArrow()
    return results


def delivered(results: dict) -> tuple[int, int]:
    """(bytes, files) of the parquet a job's sinks wrote."""
    n_bytes = n_files = 0
    for out in results.values():
        if not isinstance(out, str):
            continue  # a query's Arrow result, not a sink
        for d, _, files in os.walk(out):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(d, f))
    return n_bytes, n_files
