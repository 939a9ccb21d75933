"""Output checks: oracle comparison, route invariants and fingerprints.

- Queries: each query's Arrow result must equal the
  registry's ``oracle_sql`` run in DuckDB over the same generated
  parquet, compared as an order-insensitive multiset of canonicalized
  rows with columns sorted by name (the rule of
  ``tests/conftest.py::compare_query``).
- Routes: invariants on the written sink, read back with pyarrow: every
  QI class holds at least k rows, no declared DI column survives, dedup
  output is a subset of the input with no exact-duplicate text, and
  ``knn_label`` values lie in the aux table's label domain.
- Every job's output fingerprint must equal the run's first job's.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from workloads import K_CUSTOMER, K_EVENTS


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


def read_sink(path: str) -> pa.Table:
    """The sink's rows; hive partition columns come back as strings."""
    table = pq.read_table(path, partitioning="hive")
    for i, f in enumerate(table.schema):
        if pa.types.is_dictionary(f.type):
            table = table.set_column(i, f.name, table.column(i).cast(pa.string()))
    return table


def _canon_value(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v + 0.0)  # -0.0 -> 0.0
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return repr(v)


def canon_rows(table: pa.Table) -> list[tuple[str, ...]]:
    """Sorted multiset of canonical rows, columns ordered by name."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    rows = [tuple(_canon_value(v) for v in row) for row in zip(*cols)]
    rows.sort()
    return rows


def fingerprint(results: dict) -> str:
    """Order-insensitive digest of a job's outputs (Arrow tables or sink
    directories), keyed by route or query name."""
    h = hashlib.sha256()
    for name in sorted(results):
        out = results[name]
        table = read_sink(out) if isinstance(out, str) else out
        h.update(name.encode())
        h.update(repr(sorted(table.column_names)).encode())
        for row in canon_rows(table):
            h.update("\x1f".join(row).encode())
            h.update(b"\x1e")
    return h.hexdigest()


def check_queries(results: dict[str, pa.Table], data_dir: str, oracles: dict[str, str]) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        for name, got in results.items():
            want = con.sql(oracles[name]).arrow()
            _require(sorted(got.column_names) == sorted(want.column_names),
                     f"{name}: columns {got.column_names} vs oracle {want.column_names}")
            _require(got.num_rows > 0, f"{name}: empty result")
            _require(canon_rows(got) == canon_rows(want),
                     f"{name}: {got.num_rows} rows differ from the oracle's {want.num_rows}")
    finally:
        con.close()


def _min_class(table: pa.Table, keys: list[str]) -> int:
    counts = table.group_by(keys).aggregate([([], "count_all")])
    return pc.min(counts.column("count_all")).as_py()


def check_routes(workload: str, results: dict[str, str], data_dir: str) -> None:
    """Invariants of every route's written sink."""
    out = {name: read_sink(path) for name, path in results.items()}
    for name, table in out.items():
        _require(table.num_rows > 0, f"{name}: empty sink")
    if workload == "tabular":
        ev, cu, dp = out["events_k"], out["customer_mondrian"], out["events_dp"]
        for t in (ev, dp):
            _require("user_id" not in t.column_names, "events: DI user_id survived")
        _require("c_name" not in cu.column_names, "customer: DI c_name survived")
        _require(_min_class(ev, ["event_type", "ts"]) >= K_EVENTS,
                 f"events_k: a (event_type, ts) class has < {K_EVENTS} rows")
        _require(_min_class(cu, ["mondrian_pid"]) >= K_CUSTOMER,
                 f"customer_mondrian: a class has < {K_CUSTOMER} rows")
        n_events = pq.read_metadata(os.path.join(data_dir, "events.parquet")).num_rows
        _require(pc.sum(dp.column("n_exact")).as_py() == n_events,
                 "events_dp: group counts do not add up to the input")
        return
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["doc_id", "lang", "source"])
    for name, table in out.items():
        ids = table.column("doc_id")
        _require(pc.all(pc.is_in(ids, value_set=docs.column("doc_id"))).as_py(),
                 f"{name}: output ids not in the input")
        _require(pc.count_distinct(ids).as_py() == table.num_rows, f"{name}: duplicate ids")
        if name.startswith("dedup"):
            _require(pc.count_distinct(table.column("text")).as_py() == table.num_rows,
                     f"{name}: exact-duplicate text survived")
        back = table.select(["doc_id", "lang", "source"]).join(
            docs, "doc_id", join_type="inner", right_suffix="_in")
        _require(pc.all(pc.equal(back.column("lang"), back.column("lang_in"))).as_py()
                 and pc.all(pc.equal(back.column("source"), back.column("source_in"))).as_py(),
                 f"{name}: rows do not match their input rows")
    if "embed" in out:
        labels = pq.read_table(os.path.join(data_dir, "embeddings.parquet"),
                               columns=["label"]).column("label")
        got = pc.drop_null(out["embed"].column("topic_label"))
        domain = pa.array([str(v) for v in pc.unique(labels).to_pylist()])
        _require(len(got) > 0, "embed: no row was labelled")
        _require(pc.all(pc.is_in(got.cast(pa.string()), value_set=domain)).as_py(),
                 "embed: knn label outside the aux label domain")
