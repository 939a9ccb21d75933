"""Seeded input generator for the route benchmark.

``generate(workload, seed, out_dir, scale)`` writes the workload's tables
as single-file parquet (one row group, snappy, the layout of the
engine's shipped TPC-H-ish corpus) and returns the rows and bytes it
wrote.  The tables are a pure function of ``(workload, seed, scale)``:
every random draw comes from one ``numpy`` PCG64 stream seeded with
``seed``, so the same seed gives byte-identical parquet.

Shape, following ``scripts/gen_scale_corpus.py``: a base block is drawn
from the seed and widened into ``replicas`` key-shifted copies (fact
keys shift by ``replica * base_count`` so every foreign key keeps
exactly one parent and replicas never collide), then every table's row
order is permuted.  The seed also sets the planted duplicate shares of
the text and vector corpora, within narrow ranges so that the work per
job stays comparable across seeds.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows of each table at scale 1.0, per workload.  ``base`` rows are
# drawn; ``replicas`` key-shifted copies make the table.
SIZES = {
    "tabular": {"customer": (300, 1), "events": (5_000, 5), "orders": (1_500, 3),
                "lineitem": (6_000, 3)},
    "curation": {"documents": (400, 1), "embeddings": (300, 1)},
}
WORKLOADS = tuple(SIZES)

USERS_PER_BLOCK = 1_500  # events.user_id == orders.o_custkey domain per replica
PARTS_PER_BLOCK = 2_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SOURCES = np.array([f"src{i}" for i in range(20)])
N_LABELS = 10
DIM = 64
EPOCH_EVENTS = np.datetime64("2024-01-01T00:00:00", "us")
EPOCH_ORDERS = np.datetime64("1995-01-01", "D")


def _replicate(block: dict, replicas: int, shifts: dict) -> dict:
    """Concatenate ``replicas`` copies of ``block``; column ``c`` of copy
    ``r`` is shifted by ``r * shifts[c]``."""
    out = {}
    for c, v in block.items():
        parts = [v + r * shifts[c] if c in shifts else v for r in range(replicas)]
        out[c] = np.concatenate(parts)
    return out


def _permute(cols: dict, rng: np.random.Generator) -> dict:
    n = len(next(iter(cols.values())))
    order = rng.permutation(n)
    return {c: (v[order] if isinstance(v, np.ndarray) else [v[i] for i in order])
            for c, v in cols.items()}


def _scaled(workload: str, table: str, scale: float) -> tuple[int, int]:
    base, replicas = SIZES[workload][table]
    return max(int(base * scale), 20), replicas


def _customer(rng, base, replicas):
    key = np.arange(base, dtype=np.int64)
    cols = _replicate(
        {
            "c_custkey": key,
            "c_nationkey": rng.integers(0, 25, base).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, base), 2),
            "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), base)],
        },
        replicas,
        {"c_custkey": base},
    )
    cols["c_name"] = np.array([f"Customer#{k:09d}" for k in cols["c_custkey"]])
    return cols, pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string()),
    ])


def _events(rng, base, replicas):
    span_us = 30 * 86_400 * 1_000_000
    ts = rng.integers(0, span_us, base)
    user = rng.integers(0, USERS_PER_BLOCK, base)
    # Follow-ups: a fifth of the events repeat an earlier event's user
    # within ten minutes, so sessions and short-range self-joins are
    # never empty.
    follow = np.flatnonzero(rng.random(base) < 0.2)
    follow = follow[follow > 0]
    src = (rng.random(len(follow)) * follow).astype(int)
    user[follow] = user[src]
    ts[follow] = np.minimum(ts[src] + rng.integers(0, 600_000_000, len(follow)), span_us - 1)
    block = {
        "event_id": np.arange(base, dtype=np.int64),
        "ts": EPOCH_EVENTS + ts.astype("timedelta64[us]"),
        "user_id": user.astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), base)],
        "value": np.round(rng.exponential(40.0, base), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, base)]),
    }
    cols = _replicate(block, replicas, {"event_id": base, "user_id": USERS_PER_BLOCK})
    return cols, pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ])


def _orders(rng, base, replicas):
    days = (np.datetime64("2001-08-01", "D") - EPOCH_ORDERS).astype(int)
    block = {
        "o_orderkey": np.arange(base, dtype=np.int64),
        "o_custkey": rng.integers(0, USERS_PER_BLOCK, base).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, base)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, base), 2),
        "o_orderdate": (EPOCH_ORDERS + rng.integers(0, days, base)).astype("datetime64[us]"),
        "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), base)],
    }
    cols = _replicate(block, replicas, {"o_orderkey": base, "o_custkey": USERS_PER_BLOCK})
    return cols, pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ])


def _lineitem(rng, base, replicas, n_orders):
    # Popular parts (Zipf-like) give the co-purchase graph repeated pairs,
    # so the support>=2 graph the P family walks is not empty.
    orderkey = np.sort(rng.integers(0, n_orders, base)).astype(np.int64)
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = (np.arange(base) - np.repeat(starts, np.diff(np.r_[starts, base])) + 1)
    part_p = 1.0 / np.arange(1, PARTS_PER_BLOCK + 1) ** 0.8
    part_p /= part_p.sum()
    shipdays = rng.integers(0, 2500, base)
    block = {
        "l_orderkey": orderkey,
        "l_partkey": rng.choice(PARTS_PER_BLOCK, base, p=part_p).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, base).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": rng.integers(1, 51, base).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, base), 2),
        "l_discount": rng.integers(0, 11, base) / 100.0,
        "l_tax": rng.integers(0, 9, base) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, base)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, base)],
        "l_shipdate": (EPOCH_ORDERS + 1 + shipdays).astype("datetime64[us]"),
    }
    cols = _replicate(block, replicas, {"l_orderkey": n_orders, "l_partkey": PARTS_PER_BLOCK,
                                        "l_suppkey": 100})
    return cols, pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us")),
    ])


def _vocabulary(rng, n=400):
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "gu",
            "be", "fi", "ha", "jo"]
    words = set()
    while len(words) < n:
        words.add("".join(syll[i] for i in rng.integers(0, len(syll), rng.integers(2, 4))))
    return np.array(sorted(words))


def _mutate_chars(rng, text: str, edits: int) -> str:
    """``edits`` single-character substitutions away from the text's ends,
    so the prefix/suffix blocks of the fuzzy-dedup step still collide."""
    chars = list(text)
    inner = [i for i in range(16, len(chars) - 16) if chars[i] != " "]
    for i in rng.choice(inner, min(edits, len(inner)), replace=False):
        chars[i] = "x" if chars[i] != "x" else "q"
    return "".join(chars)


def dup_shares(seed: int) -> dict:
    """The planted shares for ``seed``: narrow ranges, so work per job
    barely moves between seeds while outputs do."""
    r = np.random.default_rng([seed, 7])
    return {
        "exact": round(float(r.uniform(0.05, 0.07)), 4),
        "near": round(float(r.uniform(0.05, 0.07)), 4),
        "fuzzy": round(float(r.uniform(0.04, 0.06)), 4),
        "boilerplate": round(float(r.uniform(0.08, 0.10)), 4),
        "near_vector": round(float(r.uniform(0.08, 0.10)), 4),
    }


def _documents(rng, base, shares):
    vocab = _vocabulary(rng)
    word_p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.7
    word_p /= word_p.sum()

    def words(n):
        return list(vocab[rng.choice(len(vocab), n, p=word_p)])

    boiler = [" ".join(words(14)) for _ in range(4)]
    texts: list[str] = []
    kinds = rng.choice(
        ["exact", "near", "fuzzy", "boilerplate", "short", "plain"], base,
        p=[shares["exact"], shares["near"], shares["fuzzy"], shares["boilerplate"], 0.03,
           1.0 - shares["exact"] - shares["near"] - shares["fuzzy"]
           - shares["boilerplate"] - 0.03],
    )
    short_src: list[int] = []  # plain docs of <= 12 words: fuzzy-copy sources
    for i, kind in enumerate(kinds):
        if kind in ("exact", "near") and i > 0:
            src = texts[rng.integers(0, i)].split(" ")
            if kind == "near":
                for j in rng.choice(len(src), max(1, len(src) // 25), replace=False):
                    src[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(src))
        elif kind == "fuzzy" and short_src:
            # Short sources: one substituted word already breaks shingle
            # Jaccard, so only the edit-distance step can catch these.
            src = texts[short_src[rng.integers(0, len(short_src))]]
            texts.append(_mutate_chars(rng, src, 2))
        elif kind == "boilerplate":
            body = words(int(rng.integers(10, 40)))
            at = int(rng.integers(0, len(body) + 1))
            texts.append(" ".join(body[:at] + [boiler[rng.integers(0, 4)]] + body[at:]))
        elif kind == "short":
            texts.append(" ".join(words(int(rng.integers(1, 5)))))
        else:
            n = int(rng.integers(8, 80))
            if n <= 12:
                short_src.append(i)
            texts.append(" ".join(words(n)))
    return texts


def _documents_table(rng, base, shares):
    texts = _documents(rng, base, shares)
    cols = {
        "doc_id": np.arange(base, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": LANGS[rng.choice(len(LANGS), base, p=LANG_P)],
        "source": SOURCES[rng.integers(0, len(SOURCES), base)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    return cols, pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ])


def _embeddings(rng, base, shares):
    centers = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    label = rng.integers(0, N_LABELS, base)
    vecs = centers[label] + rng.normal(0.0, 0.9, (base, DIM))
    # Planted near-identical vectors: copies of a lower id plus tiny noise.
    dup = np.flatnonzero(rng.random(base) < shares["near_vector"])
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(int)
    vecs[dup] = vecs[src] + rng.normal(0.0, 0.01, (len(dup), DIM))
    label[dup] = label[src]
    vecs = vecs.astype(np.float32)
    cols = {
        "vec_id": np.arange(base, dtype=np.int64),
        "embedding": [row for row in vecs],
        "label": label.astype(np.int32),
    }
    return cols, pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
    ])


def _write(cols: dict, schema: pa.Schema, path: str) -> None:
    arrays = [pa.array(cols[f.name], type=f.type) for f in schema]
    table = pa.Table.from_arrays(arrays, schema=schema)
    pq.write_table(table, path, compression="snappy", row_group_size=len(table) + 1)


def generate(workload: str, seed: int, out_dir: str, scale: float = 1.0) -> dict:
    """Write ``workload``'s tables under ``out_dir``; return
    ``{"rows", "bytes", "tables": {name: {"rows", "bytes"}}, "shares"}``."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}; known: {list(SIZES)}")
    rng = np.random.default_rng(seed)
    shares = dup_shares(seed)
    os.makedirs(out_dir, exist_ok=True)
    built: dict[str, tuple[dict, pa.Schema]] = {}
    for table in SIZES[workload]:
        base, replicas = _scaled(workload, table, scale)
        if table == "customer":
            built[table] = _customer(rng, base, replicas)
        elif table == "events":
            built[table] = _events(rng, base, replicas)
        elif table == "orders":
            built[table] = _orders(rng, base, replicas)
        elif table == "lineitem":
            n_orders = _scaled(workload, "orders", scale)[0]
            built[table] = _lineitem(rng, base, replicas, n_orders)
        elif table == "documents":
            built[table] = _documents_table(rng, base, shares)
        elif table == "embeddings":
            built[table] = _embeddings(rng, base, shares)
    report: dict = {"rows": 0, "bytes": 0, "tables": {}, "shares": shares}
    for table, (cols, schema) in built.items():
        cols = _permute(cols, rng)
        path = os.path.join(out_dir, f"{table}.parquet")
        _write(cols, schema, path)
        rows, size = len(cols[schema[0].name]), os.path.getsize(path)
        report["tables"][table] = {"rows": rows, "bytes": size}
        report["rows"] += rows
        report["bytes"] += size
    return report
