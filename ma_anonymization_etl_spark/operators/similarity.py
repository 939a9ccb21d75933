"""Similarity search over the embeddings table — SURVEY.md §2 j8-j12
plus the LSH-bucketed scale path.

Brute-force cosine is the correctness baseline (and is exhaustive at
test SFs); the random-hyperplane LSH signature is the 100 TB path:
bucket vectors by signature, search within buckets (candidates per
query drop from N to N/2^bits on average).  Embedding-cosine near-dup
detection (north star) = j9 with a high threshold.

The ANN top-k family (j10, j20, j28, j55, j57-j59, j63, j64 and the
``knn_label`` route step) is three candidate generators —
``scan_candidates`` (all pairs against a panel), ``cell_candidates``
(IVF cell equality) and ``ring_candidates`` (own cell + Hamming-1
ring) — feeding one exact re-rank, ``rerank_topk``, and for the label
queries one ``majority_vote``.  Cells are signed by one
``hyperplane_cells``.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from ma_anonymization_etl_spark.functions.vectors import as_double, cosine, dot, norm
from ma_anonymization_etl_spark.registry import register
from ma_anonymization_etl_spark.sources.io import load, session_reuse

# DuckDB-side cosine with identical double accumulation order.
_SQL_E = "embedding::DOUBLE[]"


def _vectors(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The embeddings table as (vec_id, *cols, v ARRAY<DOUBLE>)."""
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", *cols, as_double(F.col("embedding")).alias("v")
    )


def _sql_cos(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


_J8_ORACLE = f"""
WITH q AS (SELECT {_SQL_E} AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id, ROUND({_sql_cos(_SQL_E, 'qe')}, 5) AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


@register("j8_sim_topk", oracle=_J8_ORACLE)
def j8_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j8: brute-force cosine top-k for one query vector (vec_id 0) —
    broadcast the query, fold per row, TakeOrderedAndProject for the
    top-k (no global sort)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(as_double(F.col("embedding")).alias("qe"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(as_double(F.col("embedding")), F.col("qe")), 5).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@register(
    "j9_sim_pair_join",
    oracle=f"""
WITH e AS (SELECT vec_id, {_SQL_E} AS v FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND({_sql_cos('a.v', 'b.v')}, 5) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_sql_cos('a.v', 'b.v')} >= 0.4
""",
)
def j9_sim_pair_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j9: all pairs with cosine ≥ 0.4.  Exhaustive self-join — the
    CORRECTNESS baseline, and at τ=0.4 over an isotropic corpus also the
    honest plan: random-hyperplane bands at that angle (66°) collide
    with P≈0.16 per 4-bit band, so OR-amplification to 100% recall
    admits nearly every pair and prunes nothing.  Sub-quadratic pair
    search needs a high threshold; that composition (LSH candidates →
    exact verify, equality-checked against the exhaustive join) is
    ``j9b_sim_pair_lsh`` below — route near-dup workloads there."""
    e = _vectors(spark, sf_dir)
    a, b = e.alias("a"), e.alias("b")
    cos = cosine(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= 0.4)
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            F.round(cos, 5).alias("cos_sim"),
        )
    )


# --- j9b: LSH-bucketed pair search, exact-verified ------------------------
#
# The embeddings corpus is isotropic (no organic pair above cos 0.6), so
# the near-dup regime is demonstrated on a derived corpus: every vector
# plus a deterministically jittered copy (per-element multiplicative
# sin-noise, cos(v, v') ≈ 0.997).  Both engines derive the same corpus,
# so the oracle's exhaustive pair join IS the equality-with-exhaustive
# check for the LSH-composed plan.
# Round-10 fix (VERDICT r9 item 1 / NEXT item c): the old offset 100000
# collided with original vec_ids at sf10 (200k originals → twins
# 100000..299999 overlapped originals 100000..199999).  1e9 clears every
# generated SF (sf10 max orig_id ≈ 2e5) while staying well inside int32,
# so neither engine's types shift.  Bench history note in BASELINE.md —
# j9b-family numbers before round 10 describe the colliding corpus.
_J9B_OFF = 1_000_000_000   # id offset for jittered copies
_J9B_TAU = 0.9             # near-dup threshold
# Banding is DERIVED FROM CORPUS SIZE, not fixed (the round-7 sf10
# sweep of the old fixed 16×12 constants was killed at ~55 min: 200k
# vectors in 2^12 buckets ≈ 50/bucket ≈ 10⁸+ candidate pairs — the
# documented bits ≈ log2(N) rule had to become code).  The rule:
#   bits  = clamp(ceil(log2(N / target_occupancy)), 12, 24)
#     — holds MEAN BUCKET OCCUPANCY ~constant, so random-pair candidate
#       volume stays ~bands·occupancy·N/2 ≈ linear in N;
#   bands = clamp(ceil(ln(miss_target) / ln(1 − p^bits)), 1, 64)
#     with p = 1 − acos(recall_cos)/π (random-hyperplane collision
#       probability, Charikar 2002) — re-spends the same per-pair miss
#       budget as bits rises, so recall does NOT silently decay at 10×.
# At the gate SFs (corpus ≤ 4k) the derivation lands exactly on the
# historical demo constants 16 bands × 12 bits (the 12-bit floor
# binds): a planted pair (cos ≥ 0.996, θ ≤ 4.9°) collides in ≥1 band
# with P ≈ 1−3e-9, while a random pair (cos ≈ 0, P(bit)=0.5) is a
# candidate with P ≈ 16/4096 — the exact verify touches ~0.4% of all
# pairs.  The corpus gap is wide (max non-planted cos 0.60 at sf0.1),
# so band recall is not marginal.  At sf10 (400k corpus) it derives
# 22 bands × 19 bits; candidate volume measured across the sf1→sf10
# decade in BASELINE.md round 8.  Target occupancy is 1.0: each extra
# bit halves the random-candidate mass for ~one extra band of
# signature cost, and the verify stage — ~6 µs per candidate for the
# bit-parity dot fold — is the measured wall-clock bulk at sf10, so
# the knob sits where verify, not signature, sets the price.  (The
# gate plans are occupancy-insensitive: the min_bits clamp binds.)
_J9B_RECALL_COS = 0.996    # similarity the recall budget is spent at
_J9B_MISS = 1e-8           # per-pair miss budget at recall_cos
_J9B_OCC = 1.0             # target mean bucket occupancy N / 2^bits
_J9B_MIN_BITS, _J9B_MAX_BITS = 12, 24
_J9B_MAX_BANDS = 64
# Verify-join broadcast cutover: below this corpus size the two vector
# lookup tables are broadcast (≤ ~50 MB of doubles); above it the hint
# is dropped and AQE picks the shuffle hash join on id.
_J9B_BCAST_MAX = 100_000
# The FLOAT32 screen's cutover is byte-rational, not row-copied from
# the float64 one: the f32 lookup table is N × 64 × 4 B ≈ 1.07 GB at
# 4M vectors — inside the ~2 GB practical broadcast ceiling (torrent
# broadcast, one copy per executor), and broadcasting it removes the
# ENTIRE candidate×vector shuffle whose cumulative spill (map output +
# reduce sort) is what overran the 77 GB local disk at sf100 even
# after the f32 halving (round-12 probe: died at ~60 GB written,
# 419.8 s).  Beyond this the f32 shuffle join returns — at that scale
# per-executor disks on a cluster absorb what one local disk cannot.
_J9B_BCAST_MAX_F32 = 4_200_000


def lsh_band_plan(
    n_vectors: int,
    recall_cos: float = _J9B_RECALL_COS,
    miss_target: float = _J9B_MISS,
    target_occupancy: float = _J9B_OCC,
    min_bits: int = _J9B_MIN_BITS,
    max_bits: int = _J9B_MAX_BITS,
    max_bands: int = _J9B_MAX_BANDS,
) -> tuple[int, int]:
    """Derive (bands, bits) for banded random-hyperplane LSH from the
    corpus size — the scale rule the fixed demo constants lacked (see
    the constants comment above for the math and the sf10 abort that
    motivated it).  ``recall_cos`` is the cosine at which the per-pair
    miss budget is spent; callers whose corpus has no similarity gap
    should pass their threshold τ itself (more bands, honest cost).

    bits is computed with INTEGER arithmetic (bit_length, never
    float log2) so an exact power-of-two corpus cannot flip the result
    by one ulp across engines; the j9c oracle replays the same rule
    with a pow(2,k)-comparison scan for the same reason."""
    import math

    need = max(2, math.ceil(max(int(n_vectors), 1) / target_occupancy))
    bits = max(min_bits, min(max_bits, (need - 1).bit_length()))
    p = 1.0 - math.acos(max(-1.0, min(1.0, recall_cos))) / math.pi
    band_miss = 1.0 - p**bits
    if band_miss <= 0.0:
        bands = 1
    else:
        bands = max(
            1, min(max_bands, math.ceil(math.log(miss_target) / math.log(band_miss)))
        )
    return bands, bits


_LSH_DIM = 64  # embedding dimension


def _seeded_planes(seed: int, n: int) -> list[list[float]]:
    """``n`` 64-dim Gaussian hyperplanes from a fixed seed, rounded to 6
    places, so Spark and the SQL oracle carry identical constants.  Each
    contract keeps its own seed because each oracle replays its own
    planes."""
    rng = random.Random(seed)
    return [[round(rng.gauss(0, 1), 6) for _ in range(_LSH_DIM)] for _ in range(n)]


def _j9b_planes(bands: int, bits: int) -> list[list[float]]:
    return _seeded_planes(43, bands * bits)


@register(
    "j9b_sim_pair_lsh",
    oracle=f"""
WITH e AS (SELECT vec_id AS orig_id, {_SQL_E} AS v FROM embeddings),
corpus AS (
  SELECT orig_id AS vec_id, v FROM e
  UNION ALL
  SELECT orig_id + {_J9B_OFF} AS vec_id,
         list_transform(v, x -> x * (1 + 0.1 * sin(orig_id + x * 1000)))
  FROM e
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND({_sql_cos('a.v', 'b.v')}, 5) AS cos_sim
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE {_sql_cos('a.v', 'b.v')} >= {_J9B_TAU}
""",
)
def j9b_sim_pair_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j9b: the j17∘j9 composition — sub-quadratic near-dup pair search.
    Candidates come from banded random-hyperplane LSH with (bands,
    bits) DERIVED from the corpus size by ``lsh_band_plan`` (bits ≈
    log2(N/occupancy) holds bucket occupancy constant; bands re-spends
    the per-pair miss budget — see the constants comment for the
    math); every candidate is then verified with the exact cosine, so
    false positives are impossible and the oracle's EXHAUSTIVE pair
    join over the same derived corpus doubles as the recall check —
    a missed band collision would show up as a missing row.  The
    derivation does NOT need oracle replay here (i43/j38-style)
    because the released pair set is banding-invariant by design —
    exactly the exhaustive definition; the rule itself is separately
    oracle-attested by j9c_lsh_band_plan.

    100 TB shape: signatures are a map-side Arrow-batched matmul (one
    BLAS (batch × 64) @ (64 × 128) per batch, no shuffle — 128
    declarative fold expressions would be the same FLOPs at ~10× the
    constant and a pathological codegen tree), the candidate self-join
    shuffles on band key (bounded buckets, AQE handles skew), and the
    verify join carries only candidate ids plus two vector lookups.
    The verify cosine itself is the declarative fold, bit-identical to
    the oracle.  Nothing is O(n²) except the provably-pruned verify
    set."""
    corpus, cand, n_corpus = _j9b_corpus_cand(spark, sf_dir)

    def maybe_bcast(df):
        return F.broadcast(df) if n_corpus <= _J9B_BCAST_MAX else df

    # Norms are precomputed ONCE PER CORPUS ROW in the lookup tables,
    # not per candidate: norm(v) is the same sequential fold either
    # way, so cos = dot/(na·nb) is bit-identical to cosine(va, vb) —
    # but the per-candidate work drops from three 64-element folds
    # (dot + 2 norms, each evaluated in both the filter and the
    # release projection) to the one dot fold.  Measured at sf10
    # (9.3M candidates, BASELINE.md round 8): the verify stage is the
    # wall-clock bulk, so this is the knob that matters after the
    # banding fix.
    va = maybe_bcast(
        corpus.select(
            F.col("vec_id").alias("a_id"),
            F.col("v").alias("va"),
            norm(F.col("v")).alias("na"),
        )
    )
    vb = maybe_bcast(
        corpus.select(
            F.col("vec_id").alias("b_id"),
            F.col("v").alias("vb"),
            norm(F.col("v")).alias("nb"),
        )
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .filter(cos >= _J9B_TAU)
        .select("a_id", "b_id", F.round(cos, 5).alias("cos_sim"))
    )


def _j9b_corpus_cand(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int]:
    """Shared j9b/j9d front half: the derived corpus (originals +
    jittered twins), the size-derived banding plan, the cached
    signature table, and the deduped candidate pair list.  Returns
    (corpus, cand, n_corpus)."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("orig_id"), as_double(F.col("embedding")).alias("v")
    )
    # NB: the jitter must key on the ORIGINAL id.  Keep the source id
    # under a distinct name (orig_id) so Spark's lateral column alias
    # resolution cannot capture the `vec_id` projection built in the
    # same select (it silently did, shifting every sin argument by OFF).
    pert = e.select(
        (F.col("orig_id") + _J9B_OFF).alias("vec_id"),
        F.transform(
            F.col("v"),
            lambda x: x * (F.lit(1.0) + F.lit(0.1) * F.sin(F.col("orig_id") + x * F.lit(1000.0))),
        ).alias("v"),
    )
    corpus = e.select(F.col("orig_id").alias("vec_id"), "v").unionByName(pert)

    # The signature table feeds BOTH sides of the band self-join plus two
    # verify lookups, and whether Spark reuses the exchange across those
    # branches is AQE-timing-dependent — the round-3 bench measured a
    # 1.6-3.2 s spread for one plan.  Persisting the 2-column signature
    # table pins the matmul to one execution; one cheap metadata-count
    # job sizes the banding plan, and both are reused per session so
    # repeat invocations pay neither the count nor the matmul again.
    def build():
        n_corpus = 2 * e.count()
        n_bands, n_bits = lsh_band_plan(n_corpus)
        bplanes = spark.sparkContext.broadcast(
            np.array(_j9b_planes(n_bands, n_bits), dtype=np.float64)  # (bands*bits, 64)
        )

        def signatures(batches):
            pm = bplanes.value
            band_base = np.arange(n_bands, dtype=np.int64) * (1 << n_bits)
            bit_w = (1 << np.arange(n_bits, dtype=np.int64))
            for pdf in batches:
                m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                bits = (m @ pm.T) > 0  # (n, bands*bits)
                keys = (
                    bits.reshape(len(m), n_bands, n_bits) * bit_w
                ).sum(axis=2) + band_base  # (n, bands)
                ids = pdf["vec_id"].to_numpy()
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(ids, n_bands),
                        "band": keys.reshape(-1),
                    }
                )

        sig = corpus.mapInPandas(
            signatures, "vec_id BIGINT, band BIGINT"
        ).persist()
        return sig, n_corpus

    sig, n_corpus = session_reuse(spark, sf_dir, "j9b_sig", build)
    # One row per candidate pair straight out of the band join (groupBy
    # == distinct's partial-agg plan, written explicitly); the pair list
    # is ids only, so the dedup shuffle carries two longs per row.
    cand = (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .agg(F.count("*").alias("n_bands"))
        .drop("n_bands")
    )
    # Verify joins broadcast the corpus vector table (~10 MB at bench
    # scale: 2N × 64 doubles), so the candidate pairs never shuffle.
    # The explicit hint is right while the table fits an executor;
    # past _J9B_BCAST_MAX vectors (~50 MB of doubles) the hint is
    # dropped and AQE picks the shuffle hash join on id (candidates
    # and vectors both hash-partition cleanly) — the plan shape is
    # otherwise unchanged.  The same count that sized the banding
    # routes this, so the cutover is deterministic per corpus.
    return corpus, cand, n_corpus


def pair_verify_f32_screen(
    cand: DataFrame,
    corpus: DataFrame,
    tau: float,
    broadcast_lookups: bool,
    eps: float = 1e-4,
) -> DataFrame:
    """Candidate-pair cosine verify with a FLOAT32-SHUFFLED screen and
    exact float64 re-adjudication of the (provably narrow) boundary —
    j9d's verify engine, factored for direct property testing.

    ``cand`` is (a_id, b_id); ``corpus`` is (vec_id, v ARRAY<DOUBLE>).
    Released: the pairs whose float64 numpy cosine is >= ``tau``.

    Why: at the shuffle regime (corpus too big to broadcast) the
    verify join's bytes are the VECTORS, not the pair ids — 8 bytes a
    dim, twice per candidate.  Shipping the lookups as ARRAY<FLOAT>
    halves that shuffle (the round-11 sf100 j9d wall was exactly this
    spill, BASELINE.md round 11).  The screen stays decision-exact by
    the near-tie discipline (_km_assign_arrow's precedent):

    Error bound, written down: float32 quantization perturbs each
    component by <= 2^-24 relative, so for 64-dim vectors the cosine
    computed (in float64) FROM the quantized pair differs from the
    true float64 cosine by <= ~2·sqrt(64)·2^-24·(1+|cos|) ≈ 4e-6; the
    SIMD float64 summation itself adds <= 64·2^-53 ≈ 7e-15.  With
    ``eps`` = 1e-4 (25× slack) a pair whose screen cosine clears
    tau ± eps CANNOT flip under float64; only |cos32 − tau| <= eps
    pairs re-join the float64 vectors — on organic corpora that set is
    ~empty (this family's gap: planted >= 0.99, organic < 0.61), so
    the second lookup join prices at the released-set size, not the
    candidate-set size.

    ``broadcast_lookups`` governs the F32 tables only (cutover
    rationale at _J9B_BCAST_MAX_F32: ~1 GB of floats at 4M vectors is
    broadcastable, and broadcasting removes the whole candidate×vector
    shuffle — the measured sf100 disk wall); the float64 boundary
    lookups are never hinted, AQE broadcasts the ~empty pair side."""
    screened = _f32_screen(cand, corpus, tau, broadcast_lookups, eps)
    # read twice: sure branch + boundary branch
    screened = screened.localCheckpoint(eager=False)
    return _f32_boundary_release(screened, corpus, tau)


def _f32_screen(
    cand: DataFrame,
    corpus: DataFrame,
    tau: float,
    broadcast_lookups: bool,
    eps: float,
) -> DataFrame:
    """The float32-lookup screen half of ``pair_verify_f32_screen``:
    (a_id, b_id) candidates -> (a_id, b_id, sure BOOLEAN) survivors
    (sure = clears tau+eps; not sure = within eps of tau).  Factored
    out so the multipass form can run it per key-space range."""
    import numpy as np

    def maybe_bcast(df):
        return F.broadcast(df) if broadcast_lookups else df

    f32 = F.col("v").cast("array<float>")
    va = maybe_bcast(corpus.select(F.col("vec_id").alias("a_id"), f32.alias("va")))
    vb = maybe_bcast(corpus.select(F.col("vec_id").alias("b_id"), f32.alias("vb")))
    joined = cand.join(va, "a_id").join(vb, "b_id")

    def screen(batches):
        import pandas as pd  # noqa: F401

        for pdf in batches:
            if not len(pdf):
                continue
            a = np.stack(pdf["va"].to_numpy()).astype(np.float64)
            b = np.stack(pdf["vb"].to_numpy()).astype(np.float64)
            cos = np.einsum("ij,ij->i", a, b) / (
                np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            )
            sure = cos >= tau + eps
            boundary = np.abs(cos - tau) <= eps
            keep = sure | boundary
            out = pdf.loc[keep, ["a_id", "b_id"]].copy()
            out["sure"] = sure[keep]
            yield out

    return joined.mapInPandas(screen, "a_id BIGINT, b_id BIGINT, sure BOOLEAN")


def _f32_boundary_release(
    screened: DataFrame, corpus: DataFrame, tau: float
) -> DataFrame:
    """The release half of ``pair_verify_f32_screen``: sure pairs union
    the float64 re-adjudication of the (~empty by construction)
    boundary set."""
    import numpy as np

    def verify64(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.stack(pdf["va"].to_numpy()).astype(np.float64)
            b = np.stack(pdf["vb"].to_numpy()).astype(np.float64)
            cos = np.einsum("ij,ij->i", a, b) / (
                np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            )
            yield pdf.loc[cos >= tau, ["a_id", "b_id"]]

    # The float64 lookups carry NO broadcast hint: the boundary pair
    # set is ~empty by construction, so AQE broadcasts THAT side —
    # hinting the corpus here would ship 2× the f32 table's bytes for
    # a join whose other side is a handful of rows.
    va64 = corpus.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"))
    vb64 = corpus.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"))
    boundary_kept = (
        screened.filter(~F.col("sure"))
        .select("a_id", "b_id")
        .join(va64, "a_id")
        .join(vb64, "b_id")
        .mapInPandas(verify64, "a_id BIGINT, b_id BIGINT")
    )
    return (
        screened.filter(F.col("sure")).select("a_id", "b_id")
        .unionByName(boundary_kept)
    )


def pair_verify_f32_screen_multipass(
    cand: DataFrame,
    corpus: DataFrame,
    tau: float,
    passes: int,
    eps: float = 1e-4,
    scratch: str | None = None,
) -> DataFrame:
    """``pair_verify_f32_screen`` above the broadcast cutover with
    BOUNDED PEAK SHUFFLE FOOTPRINT — the j56d key-space-partition
    pattern applied to the candidate verify (NEXT r12 item filed for
    round 13): the shuffled-f32 form's disk cost is the candidate×
    vector join (two ~4·dims-byte payloads per candidate through one
    exchange — the shape that died at ~60 GB written in round 11's
    sf100 attempt), and above _J9B_BCAST_MAX_F32 vectors the broadcast
    escape hatch is gone.

    The candidate PAIR space is hash-partitioned into ``passes``
    ranges (pmod(xxhash64(a_id, b_id), passes)); each pass joins only
    its range against the f32 lookups and appends its screen survivors
    to session-scoped parquet, with a ContextCleaner nudge releasing
    the pass's shuffle files before the next pass maps.  Peak disk ≈
    one range's candidate join (~1/passes of the single-pass shuffle)
    plus the corpus-side f32 exchange per pass plus the accumulated
    survivor parquet (survivors ≈ released pairs — tiny by the
    corpus-gap construction).  Price: the f32 lookup tables are
    re-shuffled per pass (the external-memory scan-passes-for-
    footprint trade, exactly j56d's).

    BIT-IDENTICAL to the single-pass release by construction: the
    ranges PARTITION pairs, each pair is screened in exactly one pass
    with identical arithmetic, and the float64 boundary
    re-adjudication runs once, globally, on the unioned survivor set —
    property-pinned against both single-pass forms in
    tests/test_new_ops_props.py.

    The candidate table is eagerly localCheckpointed once so the
    banding lineage is not re-run per pass — DISK_ONLY (serialized,
    the _copurchase_edges discipline): at above-cutover scale the pair
    list is the largest bounded object here, and the first probe run
    measured the default deserialized storage OOM-ing the heap while
    every pass streams it exactly once anyway.

    Survivors land in ``scratch``: by default a new directory per
    invocation (``sources.io.fresh_scratch_dir``), so the frame a
    call returns keeps reading its own files; a caller's path must not
    exist yet and is never deleted."""
    from pyspark import StorageLevel

    from ma_anonymization_etl_spark.sources.io import fresh_scratch_dir

    if passes < 2:
        return pair_verify_f32_screen(
            cand, corpus, tau, broadcast_lookups=False, eps=eps
        )
    spark = cand.sparkSession
    out = fresh_scratch_dir(spark, "pair_verify_multipass", scratch)
    cand = cand.localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    for p in range(passes):
        cand_p = cand.filter(
            F.pmod(F.xxhash64("a_id", "b_id"), F.lit(passes)) == p
        )
        _f32_screen(
            cand_p, corpus, tau, broadcast_lookups=False, eps=eps
        ).write.mode("append").parquet(out)
        # Release this pass's shuffle files before the next pass maps
        # (the j56d discipline): the ContextCleaner drops unreachable
        # shuffles, and the JVM only notices promptly under a GC.
        spark._jvm.System.gc()
    screened = spark.read.parquet(out)
    return _f32_boundary_release(screened, corpus, tau)


@register(
    "j9d_sim_pair_lsh_fast",
    # Pair IDs only — no float column — so the oracle is the exhaustive
    # referee's pair SET: hash-safe even though j9d's verify sums in
    # numpy order (see docstring).
    oracle=f"""
WITH e AS (SELECT vec_id AS orig_id, {_SQL_E} AS v FROM embeddings),
corpus AS (
  SELECT orig_id AS vec_id, v FROM e
  UNION ALL
  SELECT orig_id + {_J9B_OFF} AS vec_id,
         list_transform(v, x -> x * (1 + 0.1 * sin(orig_id + x * 1000)))
  FROM e
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE {_sql_cos('a.v', 'b.v')} >= {_J9B_TAU}
""",
)
def j9d_sim_pair_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j9d: j9b's PRODUCTION-VERIFY twin — identical derived corpus,
    identical size-derived banding and candidate join (shared front
    half, so the twins cannot drift), but the exact-verify stage is an
    Arrow-batched numpy cosine instead of the declarative sequential
    fold.  Released columns are the pair IDS ONLY: numpy reduces the
    64-term dot in SIMD order, which can differ from the oracle's
    sequential fold in the last ulp, so a released float would be a
    hash hazard — a pair-set release is decision-identical unless a
    pair's cosine sits within ~1e-12 of τ (this corpus's planted pairs
    are at ≥0.99, organic below 0.61; the boundary caveat is the price
    of the fast path and is stated here rather than hidden).

    Why it exists (NEXT r8 item c): the fold verify costs ~6 µs per
    candidate because Spark evaluates higher-order-function lambdas
    interpretively; at sf10's 9.3M candidates that is the wall-clock
    bulk.  BLAS-bound numpy over Arrow batches is the same FLOPs at a
    fraction of the constant, applied to the pair-search verify.
    Measured side by side in BASELINE.md round 8.

    Scale shape: identical to j9b until the verify; the verify is
    ``pair_verify_f32_screen`` — float32-shuffled lookups (HALF the
    vector bytes through the sf100-regime shuffle, VERDICT r11 item 1)
    with float64 re-adjudication of any pair within 1e-4 of τ, so the
    released set equals the float64 verify's exactly (error bound in
    the engine's docstring; boundary pinned by property test)."""
    corpus, cand, n_corpus = _j9b_corpus_cand(spark, sf_dir)
    if n_corpus <= _J9B_BCAST_MAX_F32:
        return pair_verify_f32_screen(
            cand, corpus, _J9B_TAU, broadcast_lookups=True
        )
    # Above the broadcast cutover the shuffled form's disk footprint is
    # the wall (round-11 sf100: ~60 GB written before death).  The
    # bounded multipass form engages under an EXPLICIT pass count —
    # the j56d no-silent-default discipline: guessing a disk budget
    # wrong defeats the bound, so without the env the honest shuffled
    # single-pass runs (passes=1).  Gate SFs sit far below the cutover
    # and never reach this branch; bit-identity of every branch is
    # property-pinned.
    import os

    passes = int(os.environ.get("SPARK_GRAFT_VERIFY_PASSES", "1"))
    return pair_verify_f32_screen_multipass(
        cand, corpus, _J9B_TAU, passes=passes
    )


@register(
    "j9c_lsh_band_plan",
    # i43/j38-style derivation replay: the oracle re-derives the SAME
    # (bits, bands) rule from COUNT(*) in SQL.  bits uses a pow(2,k)
    # comparison scan (exact double arithmetic — a float log2 of an
    # exact power of two could flip the ceil by one ulp across
    # engines); bands uses the closed form whose quotient sits ≥0.3%
    # from every integer boundary for any corpus size (margin analysis
    # in lsh_band_plan's comment block).
    oracle=f"""
WITH n AS (SELECT 2 * COUNT(*) AS n_vectors FROM embeddings),
b AS (
  SELECT n_vectors,
         GREATEST({_J9B_MIN_BITS}, LEAST({_J9B_MAX_BITS},
           (SELECT MIN(k) FROM range(1, 41) t(k)
            WHERE POW(2.0, k) >= CEIL(n_vectors / {_J9B_OCC})))) AS n_bits
  FROM n),
p AS (
  SELECT n_vectors, n_bits,
         GREATEST(1, LEAST({_J9B_MAX_BANDS},
           CEIL(LN({_J9B_MISS}) /
                LN(1 - POW(1 - ACOS({_J9B_RECALL_COS}) / PI(), n_bits))))) AS n_bands
  FROM b)
SELECT CAST(n_vectors AS BIGINT) AS n_vectors,
       CAST(n_bits AS BIGINT) AS n_bits,
       CAST(n_bands AS BIGINT) AS n_bands,
       CAST(n_vectors * n_bands AS BIGINT) AS n_sig_rows
FROM p
""",
)
def j9c_lsh_band_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j9c (extension): the N-dependent LSH banding rule AS A RELEASED,
    ORACLE-ATTESTED artifact — (corpus size, derived bits, derived
    bands, signature-table rows) for the j9b corpus at this SF.  j9b's
    own released pair set is banding-invariant (exact verify, exhaustive
    oracle), so the derivation itself needs its own attestation: the
    DuckDB oracle re-derives bits and bands from COUNT(*) with the
    identical clamps and budget constants, i43/j38-style.  A drift
    between engine and documented rule — the exact failure mode of
    round 7's fixed constants — turns this row red at every gate SF.

    Scale: one metadata count; the release is a single row."""
    e = load(spark, sf_dir, "embeddings")
    n = 2 * e.count()
    bands, bits = lsh_band_plan(n)
    return spark.createDataFrame(
        [(n, bits, bands, n * bands)],
        "n_vectors LONG, n_bits LONG, n_bands LONG, n_sig_rows LONG",
    )


# j9e plants pairs INSIDE the float32 screen's ±1e-4 band around τ, so
# every planted pair takes the float64 re-adjudication branch — the
# branch no organic gate corpus exercises (their gap: ≥0.99 / <0.61).
# Margins of ±5e-5 keep the DECISION stable across numpy-SIMD vs
# sequential-fold summation (difference ~1e-15), while an exact-τ
# plant would be the documented last-ulp hazard — deliberately absent.
_J9E_EPS = 5e-5
_J9E_OFF = 100_000


def _j9e_consts() -> list[tuple[float, float, int]]:
    """(cos_target, sin_target, id_tag) for the two planted partners,
    computed ONCE in Python and embedded as literals in BOTH engines
    so the constructed vectors are bit-identical."""
    import math

    out = []
    for tag, c in ((1, _J9B_TAU - _J9E_EPS), (2, _J9B_TAU + _J9E_EPS)):
        out.append((c, math.sqrt(1.0 - c * c), tag))
    return out


def _j9e_oracle() -> str:
    (cm, sm, _), (cp, sp, _) = _j9e_consts()
    return f"""
WITH e AS (SELECT vec_id, {_SQL_E} AS v FROM embeddings),
a AS (SELECT vec_id AS i, v AS va FROM e WHERE vec_id < 100),
y AS (SELECT vec_id - 100 AS i, v AS vy FROM e
      WHERE vec_id >= 100 AND vec_id < 200),
j0 AS (SELECT a.i, va, vy FROM a JOIN y USING (i)),
j1 AS (SELECT i, va, vy,
              sqrt(list_dot_product(va, va)) AS na FROM j0),
j2 AS (SELECT i, vy, list_transform(va, x -> x / na) AS ua FROM j1),
j3 AS (SELECT i, ua, vy, list_dot_product(vy, ua) AS proj FROM j2),
j4 AS (SELECT i, ua,
              list_transform(range(1, length(vy) + 1),
                             k -> vy[k] - proj * ua[k]) AS w FROM j3),
j5 AS (SELECT i, ua, w, sqrt(list_dot_product(w, w)) AS nw FROM j4),
j6 AS (SELECT i, ua, list_transform(w, x -> x / nw) AS uw
       FROM j5 WHERE nw > 1e-9),
b AS (
  SELECT i, 1 AS tag, ua,
         list_transform(range(1, length(ua) + 1),
                        k -> {cm!r} * ua[k] + {sm!r} * uw[k]) AS bv
  FROM j6
  UNION ALL
  SELECT i, 2 AS tag, ua,
         list_transform(range(1, length(ua) + 1),
                        k -> {cp!r} * ua[k] + {sp!r} * uw[k]) AS bv
  FROM j6
)
SELECT CAST(i AS BIGINT) AS a_id,
       CAST(i + tag * {_J9E_OFF} AS BIGINT) AS b_id
FROM b
WHERE list_dot_product(ua, bv) /
      (sqrt(list_dot_product(ua, ua)) * sqrt(list_dot_product(bv, bv)))
      >= {_J9B_TAU}
"""


@register("j9e_pair_verify_boundary", oracle=_j9e_oracle())
def j9e_pair_verify_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j9e (extension): the float32-screen verify's BOUNDARY
    RE-ADJUDICATION branch as a gate-attested contract (round 12 —
    the branch j9d's organic corpus never takes).  For each of 100
    anchor vectors, two partners are CONSTRUCTED at cosine exactly
    τ ± 5e-5 (Gram-Schmidt: unit anchor ua, unit residual uw of a
    second organic vector, partner = c·ua + s·uw with c, s Python
    literals shared with the oracle) — both land inside the screen's
    ±1e-4 band, so both re-join the float64 vectors, and only the
    τ+5e-5 partner may release.  The oracle replays the construction
    and the float64 decision from first principles.  Delegates to
    ``pair_verify_f32_screen``."""
    e = _vectors(spark, sf_dir)
    a = e.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("i"), F.col("v").alias("va")
    )
    y = e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)).select(
        (F.col("vec_id") - 100).alias("i"), F.col("v").alias("vy")
    )
    j = (
        a.join(y, "i")
        .withColumn("na", norm(F.col("va")))
        .withColumn("ua", F.transform("va", lambda x: x / F.col("na")))
        .withColumn("proj", dot(F.col("vy"), F.col("ua")))
        .withColumn(
            "w", F.zip_with("vy", "ua", lambda yy, u: yy - F.col("proj") * u)
        )
        .withColumn("nw", norm(F.col("w")))
        .filter(F.col("nw") > 1e-9)
        .withColumn("uw", F.transform("w", lambda x: x / F.col("nw")))
        # Materialize the ~100-row Gram-Schmidt base ONCE (round 12):
        # it feeds the corpus 3 times and the candidate set twice, and
        # pair_verify_f32_screen then joins the corpus on 4 sides, so
        # without this cut the planner re-analyzes (and the executor
        # recomputes) the construction pipeline ~12x — measured 4.6 s
        # of the query's ~9 s warm wall was that planning alone.
        .localCheckpoint(eager=True)
    )
    corpus = j.select(F.col("i").alias("vec_id"), F.col("ua").alias("v"))
    cand = None
    for c, s, tag in _j9e_consts():
        part = j.select(
            (F.col("i") + tag * _J9E_OFF).alias("vec_id"),
            F.zip_with(
                "ua", "uw", lambda u, wv: F.lit(c) * u + F.lit(s) * wv
            ).alias("v"),
        )
        corpus = corpus.unionByName(part)
        pairs = j.select(
            F.col("i").alias("a_id"), (F.col("i") + tag * _J9E_OFF).alias("b_id")
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    return pair_verify_f32_screen(
        cand, corpus, _J9B_TAU, broadcast_lookups=True
    )


# --- The ANN family: candidate generators + one exact re-rank -------------
#
# Every vector top-k here is "candidates -> exact cosine -> per-query
# top-k" (REPOSE's filter-then-refine split, PAPERS.md).  A generator
# returns one row per (query, candidate) with at least (query_id, qv,
# vec_id, v); other corpus columns, such as label, ride along.  The
# caller picks the broadcast side by passing F.broadcast(panel) or the
# bare panel.


def query_panel(df: DataFrame, hi: int, lo: int | None = None) -> DataFrame:
    """The query side: rows with vec_id < ``hi`` — and ``lo`` <= vec_id
    when ``lo`` is given — as (query_id, qv[, qcell]).  The exact and
    inline-IVF oracles select ``vec_id < n`` with no lower bound; the
    prebuilt-index probes select ``lo <= vec_id < hi``."""
    cond = F.col("vec_id") < hi
    if lo is not None:
        cond = (F.col("vec_id") >= lo) & cond
    cols = [F.col("vec_id").alias("query_id"), F.col("v").alias("qv")]
    if "cell" in df.columns:
        cols.append(F.col("cell").alias("qcell"))
    return df.filter(cond).select(*cols)


def scan_candidates(corpus: DataFrame, panel: DataFrame) -> DataFrame:
    """All-pairs generator: every corpus row against every panel query
    but itself — the exact contract, no false negatives."""
    return corpus.join(panel, F.col("vec_id") != F.col("query_id"))


def cell_candidates(index: DataFrame, panel: DataFrame) -> DataFrame:
    """IVF generator: the index rows whose ``cell`` equals the query's
    ``qcell``, self excluded — a cell-keyed equality join."""
    return index.join(
        panel, (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id"))
    )


def hamming1_ring(cell: str, bits: int) -> list[Column]:
    """The probe cells of the ``bits``-character '0'/'1' column
    ``cell``: the cell itself, then each one-bit flip."""
    return [F.col(cell)] + [
        F.concat(
            F.substring(cell, 1, i),
            F.when(F.substring(cell, i + 1, 1) == "1", "0").otherwise("1"),
            F.substring(cell, i + 2, bits - i - 1),
        )
        for i in range(bits)
    ]


def ring_candidates(sig: DataFrame, panel: DataFrame, bits: int) -> DataFrame:
    """Multiprobe generator: each query probes its own cell and its
    ``bits`` Hamming-1 cells — the IVF equality join over the exploded
    probe cells, never a Hamming-distance theta join.  A corpus vector
    has one cell and the bits+1 probe cells are distinct, so no
    candidate repeats."""
    probes = panel.select(
        "query_id", "qv", F.explode(F.array(*hamming1_ring("qcell", bits))).alias("qcell")
    )
    return cell_candidates(sig, probes)


def rerank_topk(cand: DataFrame, k: int) -> DataFrame:
    """The one exact re-rank: ``cos_raw`` = cosine(qv, v) by the
    sequential fold, and each query's top ``k`` by (cos_raw desc,
    vec_id) — the order every oracle ranks by.  The candidate columns
    ride along."""
    w = Window.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (
        cand.withColumn("cos_raw", cosine(F.col("qv"), F.col("v")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def neighbors(top: DataFrame, *extra: Column) -> DataFrame:
    """A re-ranked top-k as the top-k release: (query_id, neighbor_id,
    cos_sim rounded to 5 places, *extra)."""
    return top.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round("cos_raw", 5).alias("cos_sim"),
        *extra,
    )


def majority_vote(top: DataFrame) -> DataFrame:
    """j10's vote over a top-k of labelled neighbours: per query the
    label with the most votes, ties to the smaller label — (query_id,
    label, n_votes)."""
    w = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), F.col("label"))
    return (
        top.groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", "label", "n_votes")
    )


def hyperplane_cells(v: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane cell of the vector column ``v``: per plane '1'
    when dot(v, plane) > 0 else '0', concatenated in plane order."""
    return F.concat(
        *[F.when(dot(v, F.expr(sql_lit_f64_array(p))) > 0, "1").otherwise("0") for p in planes]
    )


_J10_ORACLE = f"""
WITH e AS (SELECT vec_id, label, {_SQL_E} AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 20),
scored AS (
  SELECT q.vec_id AS query_id, e.label,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY {_sql_cos('q.v', 'e.v')} DESC, e.vec_id) AS rn
  FROM q JOIN e ON e.vec_id <> q.vec_id
),
votes AS (
  SELECT query_id, label, COUNT(*) AS n_votes
  FROM scored WHERE rn <= 5 GROUP BY query_id, label
)
SELECT query_id, label AS predicted_label, n_votes FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY n_votes DESC, label) AS r
  FROM votes
) WHERE r = 1
"""


@register("j10_knn_classify", oracle=_J10_ORACLE)
def j10_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j10: 5-NN majority-label classification for the first 20 vectors
    — rank neighbours per query, vote, tie-break on smaller label."""
    e = _vectors(spark, sf_dir, "label")
    top = rerank_topk(scan_candidates(e, query_panel(e, 20)), 5)
    return majority_vote(top).select(
        "query_id", F.col("label").alias("predicted_label"), "n_votes"
    )


@register(
    "j11_label_centroids",
    oracle="""
SELECT label,
       array_to_string(list(CAST(CAST(ROUND(
           CAST(sv AS DOUBLE) / n) AS BIGINT) AS VARCHAR)
                            ORDER BY pos), ',') AS centroid
FROM (
  SELECT label, pos,
         SUM(CAST(ROUND(v * 1000000) AS BIGINT)) AS sv, COUNT(*) AS n
  FROM (SELECT label, unnest(embedding::DOUBLE[]) AS v,
               unnest(range(1, 65)) AS pos
        FROM embeddings)
  GROUP BY label, pos
)
GROUP BY label
""",
)
def j11_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j11: mean vector per label — posexplode → per-(label,dim) avg →
    re-assemble ordered by position.  This is the reduce-side of
    k-means/IVF coarse quantizers; shuffle is (labels × dims) rows.
    The centroid is serialized as ','-joined 1e-6-scaled int64s —
    oracle-checked projections must stay ARRAY-free (driver hasher),
    and integer rendering is engine-identical where double→string
    is not."""
    e = load(spark, sf_dir, "embeddings")
    per_dim = (
        e.select("label", F.posexplode(as_double(F.col("embedding"))).alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            # order-independent mean (int64 sum of quantized inputs,
            # one division) — a raw AVG's float accumulation order
            # could flip the released integer at a .5 ulp boundary
            F.round(
                F.sum(F.round(F.col("v") * 1e6).cast("long")).cast("double")
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("sv")
        )
    )
    return per_dim.groupBy("label").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sv"))),
                lambda s: s.sv.cast("string"),
            ),
            ",",
        ).alias("centroid")
    )


@register(
    "j12_vec_normalize",
    oracle="""
SELECT vec_id,
       array_to_string(list_transform(embedding::DOUBLE[],
                      x -> CAST(CAST(ROUND(x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                                     embedding::DOUBLE[]))
                                           * 1000000) AS BIGINT) AS VARCHAR)), ',')
         AS unit_vec
FROM embeddings
""",
)
def j12_vec_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j12: L2-normalize the embedding column (then cosine ≡ dot —
    normalize once, reuse everywhere).  Output is serialized as
    ','-joined 1e-6-scaled int64s — oracle-checked projections must
    stay ARRAY-free (driver hasher), and integer rendering is
    engine-identical where double→string is not."""
    e = load(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    return (
        e.withColumn("nrm", norm(v))
        .select(
            "vec_id",
            F.array_join(
                F.transform(
                    v, lambda x: F.round(x / F.col("nrm") * 1e6).cast("long").cast("string")
                ),
                ",",
            ).alias("unit_vec"),
        )
    )


_IVF_SQL_CENTROIDS = """
centroids AS (
  SELECT label, list(avg_v ORDER BY pos) AS cent
  FROM (SELECT label, pos,
               CAST(SUM(CAST(ROUND(v * 1000000) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000000.0 AS avg_v
        FROM (SELECT label, unnest(embedding::DOUBLE[]) AS v,
                     unnest(range(1, 65)) AS pos
              FROM embeddings)
        GROUP BY label, pos)
  GROUP BY label
)"""


@register(
    "j20_ivf_ann",
    oracle=f"""
WITH {_IVF_SQL_CENTROIDS},
e AS (SELECT vec_id, {_SQL_E} AS v FROM embeddings),
assign AS (
  SELECT vec_id, label AS cell FROM (
    SELECT e.vec_id, c.label,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sql_cos('e.v', 'c.cent')} DESC, c.label) AS rn
    FROM e, centroids c
  ) WHERE rn = 1
)
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         ROUND({_sql_cos('qv.v', 'xv.v')}, 5) AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY {_sql_cos('qv.v', 'xv.v')} DESC, x.vec_id) AS rn
  FROM assign q
  JOIN assign x ON x.cell = q.cell AND x.vec_id <> q.vec_id
  JOIN e qv ON qv.vec_id = q.vec_id
  JOIN e xv ON xv.vec_id = x.vec_id
  WHERE q.vec_id < 10
) WHERE rn <= 3
""",
)
def j20_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest label
    centroid (the inverted-file cell), then search only within the
    query's cell — candidates drop from N to N/#cells.  Centroids are
    6-dp-rounded per-dimension means, so both engines fold identical
    doubles.  Top-3 neighbours for the first 10 query vectors.
    Delegates to ``ivf_topk`` (the routed entry j55 shares the same
    IVF engine, so one body serves both)."""
    e = _vectors(spark, sf_dir, "label")
    return ivf_topk(e, k=3, n_queries=10)


def _ivf_assign(e: DataFrame) -> DataFrame:
    """The IVF index content: every corpus vector coarse-quantized to
    its nearest label-centroid cell — (vec_id, cell, v).  Centroids are
    6-dp-rounded per-dimension means (order-independent, so DuckDB
    replays them exactly); the centroid table broadcasts (C=10 rows)
    and assignment is one scored map stage + a per-vector window.
    Shared by ``ivf_topk`` (inline build) and ``ivf_index_build`` (the
    persisted, session-cached form j59 probes against)."""
    per_dim = (
        e.select("label", F.posexplode("v").alias("pos0", "x"))
        .groupBy("label", "pos0")
        .agg(
            # order-independent mean — see _km_sql_recompute
            (
                F.sum(F.round(F.col("x") * 1e6).cast("long")).cast("double")
                / F.count(F.lit(1))
                / F.lit(1e6)
            ).alias("avg_v")
        )
    )
    cents = per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos0", "avg_v"))), lambda s: s.avg_v
        ).alias("cent")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("cos_c").desc(), F.col("clabel")
    )
    return (
        e.drop("label")
        .crossJoin(F.broadcast(cents.select(F.col("label").alias("clabel"), "cent")))
        .withColumn("cos_c", cosine(F.col("v"), F.col("cent")))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("clabel").alias("cell"), "v")
    )


def ivf_topk(e: DataFrame, k: int = 3, n_queries: int = 10) -> DataFrame:
    """IVF cell-probed top-k (j20's engine as a public df-first API):
    ``e`` carries (vec_id, label, v double-array); queries are the
    vectors with vec_id < n_queries; release is (query_id, neighbor_id,
    cos_sim) — the true top-k AMONG the query's cell (the IVF recall
    trade: a true neighbour quantized to another cell is lost).  The
    panel is not broadcast: j58b's grows as N/10."""
    assign = _ivf_assign(e)
    return neighbors(rerank_topk(cell_candidates(assign, query_panel(assign, n_queries)), k))


def exact_topk(e: DataFrame, k: int = 3, n_queries: int = 10) -> DataFrame:
    """Brute-force cosine top-k for the query panel (vec_id <
    n_queries) over the FULL corpus — the no-false-negatives contract
    the router pays for while affordable.  One shuffle-free scored scan
    (the query panel broadcasts) + a per-query window top-k."""
    panel = F.broadcast(query_panel(e, n_queries))
    return neighbors(rerank_topk(scan_candidates(e.select("vec_id", "v"), panel), k))


def ann_scan_estimate(e: DataFrame, n_queries: int = 10) -> int:
    """The exact branch's scoring volume, as a deterministic integer an
    oracle can replay (the j38/j50b discipline): n_q × (N − 1), where
    n_q = |{vec_id < n_queries}| and N = |corpus| — exactly the number
    of (query, candidate) cosines a brute-force scan folds.  One
    metadata-cheap aggregate pass; no data-scale collect."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("vec_id") < n_queries, 1).otherwise(0)).alias("nq"),
    ).first()
    return int(row["nq"] or 0) * max(int(row["n"]) - 1, 0)


def ann_topk_routed(
    e: DataFrame,
    k: int = 3,
    scan_budget: int = 1_000_000,
    n_queries: int = 10,
) -> DataFrame:
    """ONE entry point for vector top-k that picks the EXACT brute-force
    scan (``exact_topk``, the reference j28 audits recall against) or
    the IVF cell-probed search (``ivf_topk``, j20's) by
    ESTIMATED scoring volume — VERDICT r9's item 2, the j50b routing
    pattern applied to the vector side: at 100 TB nobody runs the exact
    scan, but below the budget it is both affordable and strictly
    better (no recall trade).  The estimate is a deterministic integer
    (``ann_scan_estimate``), the branch a pure comparison against
    ``scan_budget``, and registered queries replay estimate + branch +
    BOTH release definitions in their oracle, so a routing regression
    mismatches even when both branches are individually correct.

    Contract by branch (declared in the released ``route`` column):
    ``exact`` releases the TRUE top-k per query (no false negatives);
    ``ivf`` releases the top-k among the query's coarse-quantizer cell
    — the standard IVF recall trade (a true neighbour quantized to
    another cell is lost).  Released cosines are exact on both branches
    (IVF re-scores candidates with full vectors).

    100 TB shape: the estimate is one aggregate; the exact branch
    broadcasts the query panel over a scored scan (no shuffle); the IVF
    branch scores only within cells (candidates drop N → N/#cells, and
    a production deployment raises #cells ~ √N — here the coarse
    quantizer is the label-centroid codebook so the decision is
    oracle-replayable).  The budget is a CONTRACT dial, like j50b's:
    pay for exactness while affordable, fall back to cell-probed recall
    when not."""
    est = ann_scan_estimate(e, n_queries)
    route = "exact" if est <= scan_budget else "ivf"
    out = exact_topk(e, k, n_queries) if route == "exact" else ivf_topk(e, k, n_queries)
    return out.withColumn("route", F.lit(route))


# The inline IVF assignment as SQL (j55's and j59's oracles): every
# vector's nearest centroid cell, ties to the smaller label.
_IVF_SQL_ASSIGN = f"""assign AS (
  SELECT vec_id, cell, v FROM (
    SELECT e.vec_id, c.label AS cell, e.v,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sql_cos('e.v', 'c.cent')} DESC, c.label) AS rn
    FROM e, centroids c
  ) WHERE rn = 1)"""


def _j55_oracle(budget: int) -> str:
    """j50b-style routed oracle: BOTH release definitions (brute-force
    exact and the j20 IVF replay) are defined, and the replayed integer
    estimate guards which one emits rows."""
    return f"""
WITH {_IVF_SQL_CENTROIDS},
e AS (SELECT vec_id, {_SQL_E} AS v FROM embeddings),
est AS (SELECT (SELECT COUNT(*) FROM e WHERE vec_id < 10)
             * ((SELECT COUNT(*) FROM e) - 1) AS n_pairs),
exact_rel AS (
  SELECT query_id, neighbor_id, cos_sim, 'exact' AS route FROM (
    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           ROUND({_sql_cos('q.v', 'x.v')}, 5) AS cos_sim,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_cos('q.v', 'x.v')} DESC, x.vec_id) AS rn
    FROM e q JOIN e x ON x.vec_id <> q.vec_id
    WHERE q.vec_id < 10
  ) WHERE rn <= 3),
{_IVF_SQL_ASSIGN},
ivf_rel AS (
  SELECT query_id, neighbor_id, cos_sim, 'ivf' AS route FROM (
    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           ROUND({_sql_cos('q.v', 'x.v')}, 5) AS cos_sim,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_cos('q.v', 'x.v')} DESC, x.vec_id) AS rn
    FROM assign q
    JOIN assign x ON x.cell = q.cell AND x.vec_id <> q.vec_id
    WHERE q.vec_id < 10
  ) WHERE rn <= 3)
SELECT * FROM exact_rel WHERE (SELECT n_pairs FROM est) <= {budget}
UNION ALL
SELECT * FROM ivf_rel WHERE (SELECT n_pairs FROM est) > {budget}
"""


# j55's budget is calibrated like j50b's — to flip INSIDE the measured
# decade so both contracts are exercised at real scale: the estimate is
# 10 × (N − 1) ≈ 5e3 at the gate SFs (N=500), 2e4 at sf0.1, 2e5 at sf1,
# 2e6 at sf10.  1e6 routes EXACT through sf1 and flips to the IVF
# contract at sf10.  j55b pins the budget BELOW the gate-SF estimate so
# the gate also attests the IVF branch and the guard's other side —
# same engine, same oracle template, different constant.
_J55_BUDGET = 1_000_000
_J55B_BUDGET = 1_000


@register("j55_ann_routed", oracle=_j55_oracle(_J55_BUDGET))
def j55_ann_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j55 (extension): ``ann_topk_routed`` — exact scan vs IVF behind
    one size-routed entry (top-3 for the 10-query panel), the j50b
    pattern on the vector side.  The gate SFs route EXACT (estimate
    replayed in the oracle guard); the same registered query flips to
    the IVF contract at the scale where an exact scan stops being the
    plan anyone runs."""
    e = _vectors(spark, sf_dir, "label")
    return ann_topk_routed(e, k=3, scan_budget=_J55_BUDGET)


@register("j55b_ann_routed_ivf", oracle=_j55_oracle(_J55B_BUDGET))
def j55b_ann_routed_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j55b (extension): j55's twin with the budget pinned BELOW the
    gate-SF estimate (1e3 < 10×499), so every gate run attests the IVF
    branch and the routing guard's other side — same engine, same
    oracle template, different constant."""
    e = _vectors(spark, sf_dir, "label")
    return ann_topk_routed(e, k=3, scan_budget=_J55B_BUDGET)


# --- j57: derived-codebook multi-probe ANN --------------------------------
#
# j20/j55's coarse quantizer is the 10-label centroid codebook — fine
# for the oracle-replayable routing demo, but its candidate volume is
# N/10 per query at every scale.  The production IVF rule is
# #cells ~ sqrt(N) (occupancy ~ sqrt(N), so per-query probe cost and
# cell count balance), plus MULTI-PROBE: searching only the query's own
# cell loses any true neighbour whose signature differs by one bit, so
# real deployments also probe the nearest neighbouring cells
# (FAISS nprobe; Lv et al., VLDB'07 multi-probe LSH).  j57 derives the
# cell count from the corpus size with integer arithmetic (the j9c
# discipline — the oracle re-derives it from COUNT(*)), uses seeded
# random-hyperplane cells (replayable in SQL, unlike a k-means
# codebook), and probes the query's cell plus every Hamming-1 cell:
# candidates ~= (bits + 1) · occupancy per query.
_J57_MAX_BITS = 20
_J57_MIN_BITS = 4


def _j57_planes() -> list[list[float]]:
    return _seeded_planes(47, _J57_MAX_BITS)


def multiprobe_cell_bits(n_vectors: int) -> int:
    """bits = ceil(log2(ceil(sqrt(N)))) clamped to [4, 20] — 2^bits
    cells ≈ sqrt(N), INTEGER arithmetic throughout (isqrt + bit_length,
    never float log2) so an exact power-of-two boundary cannot flip the
    result by one ulp across engines."""
    import math

    need = max(2, math.isqrt(max(int(n_vectors), 1) - 1) + 1)  # ceil(sqrt(N))
    return max(_J57_MIN_BITS, min(_J57_MAX_BITS, (need - 1).bit_length()))


def multiprobe_ann_topk(e: DataFrame, k: int = 3, n_queries: int = 10) -> DataFrame:
    """Multi-probe LSH-cell ANN top-k: ``e`` carries (vec_id, v);
    queries are vec_id < n_queries.  Every vector gets a ``bits``-bit
    random-hyperplane cell id (bits derived from corpus size,
    ``multiprobe_cell_bits``); each query probes its own cell plus the
    ``bits`` Hamming-1 cells, candidates are exact-cosine re-ranked,
    and the release is the true top-k AMONG vectors whose cell differs
    from the query's in <= 1 bit — (query_id, neighbor_id, cos_sim,
    n_bits), n_bits riding along so the gate attests the derivation
    (j9c discipline).

    Plan shape (the 100 TB story): signatures are one map stage; the
    probe table is n_queries × (bits + 1) rows and BROADCASTS onto a
    cell-keyed equality join against the signed corpus — never a
    Hamming-distance theta join (which would be a corpus × query
    nested loop).  Candidate volume per query is (bits+1) · N/2^bits ≈
    (log2(sqrt N)+1) · sqrt(N); at N = 10^11 that is ~6e6 cosines per
    query vs the exact scan's 10^11 — and vs own-cell-only IVF the
    Hamming-1 ring buys back exactly the neighbours one sign flip
    away (recall property-tested)."""
    n = e.count()
    bits = multiprobe_cell_bits(n)
    return multiprobe_probe(_mp_sign(e, bits), bits, k=k, lo=0, hi=n_queries)


def _sql_f64_lit(x: float) -> str:
    """One double as exact SQL literal text: ``repr`` emits the shortest
    round-trip decimal and the JVM's correctly-rounded parse recovers
    the identical bits, so the parsed Literal equals ``F.lit(x)``."""
    return repr(float(x)) + "D"


def sql_lit_f64_array(xs) -> str:
    """ARRAY<DOUBLE> literal as SQL text — ``F.expr`` of this is
    bit-identical to ``F.array(*[F.lit(float(x)) for x in xs])`` (same
    folded Literal, same non-nullable element type) at ~1/60 the
    construction cost: ONE Py4J call instead of one per element (the
    per-element form cost 0.65 s of a 0.95 s literal-centroid Lloyd
    round in expression CONSTRUCTION — OPTIMIZATION_r12.md §10).  The
    hyperplane signer (``hyperplane_cells``) uses it."""
    return "array(" + ",".join(_sql_f64_lit(x) for x in xs) + ")"


def _mp_sign(e: DataFrame, bits: int) -> DataFrame:
    """The multiprobe index content: every (vec_id, v) signed into its
    ``bits``-bit random-hyperplane cell — the input columns plus
    ``cell`` (extra columns like a label ride through untouched)."""
    cell = hyperplane_cells(F.col("v"), _j57_planes()[:bits])
    return e.select(*e.columns, cell.alias("cell"))


# --- j63: PREBUILT multiprobe index — the scaling codebook, amortized ------
#
# j59 registered the amortized account for the LABEL-codebook IVF
# (C = 10 cells at every scale); j63 does the same for the codebook
# that actually scales — j57's 2^bits ≈ √N hyperplane cells.  The
# signed corpus persists behind ``session_reuse``; disjoint
# panels probe it (own cell + Hamming-1 ring).  Build cost is one
# bits-plane sign pass (N·bits dot products), probe cost
# (bits+1)·N/2^bits cosines per query — at 100 TB the build amortizes
# over every batch exactly as a production vector store's index does.


def multiprobe_index_build(spark: SparkSession, sf_dir: str):
    """Build — or fetch the session-reused — persisted multiprobe index
    over ``sf_dir``'s embeddings (vec_id, v): the signed corpus plus its
    derived bit count, reused per (applicationId, sf_dir).  Returns
    (sig, bits)."""

    def build():
        e = _vectors(spark, sf_dir)
        bits = multiprobe_cell_bits(e.count())
        return _mp_sign(e, bits).persist(), bits

    return session_reuse(spark, sf_dir, "mp_index", build)


def multiprobe_probe(
    sig: DataFrame, bits: int, k: int = 3, lo: int = 0, hi: int = 10
) -> DataFrame:
    """Probe the panel (lo <= vec_id < hi) against a signed corpus (the
    ``multiprobe_index_build`` table, or ``_mp_sign`` inline): own cell
    + every Hamming-1 cell, the probe table (panel × (bits+1) rows)
    broadcast onto a cell-keyed equality join, exact-cosine re-rank.
    Release is j57's: the true top-``k`` among Hamming<=1 candidates,
    with n_bits riding along so the gate attests the derivation."""
    panel = F.broadcast(query_panel(sig, hi, lo))
    return neighbors(
        rerank_topk(ring_candidates(sig, panel, bits), k),
        F.lit(bits).cast("long").alias("n_bits"),
    )


# The SQL replay of j57's cells, shared by the j57/j63 and j64 oracles:
# the bit count re-derived from COUNT(*) and the per-plane sign terms.
_J57_SQL_NB = f"""nb AS (SELECT GREATEST({_J57_MIN_BITS}, LEAST({_J57_MAX_BITS},
         (SELECT MIN(k) FROM range(1, {_J57_MAX_BITS + 1}) t(k)
          WHERE POW(2.0, k) >= CEIL(SQRT((SELECT COUNT(*) FROM e)))))) AS bits)"""
_J57_SQL_SIGNS = ", ".join(
    f"CASE WHEN list_dot_product(v, {p}::DOUBLE[]) > 0 THEN 1 ELSE 0 END"
    for p in _j57_planes()
)


def _j57_oracle(lo: int = 0, hi: int = 10) -> str:
    """The oracle re-derives bits from COUNT(*) (integer-safe pow-scan,
    j9c-style), rebuilds the seeded-plane signatures, and releases the
    exact top-3 among Hamming<=1 candidates — the multi-probe cell-join
    release re-expressed as the equivalent Hamming filter (affordable
    exhaustively at gate SF; the ENGINE must never join that way)."""
    return f"""
WITH e AS (SELECT vec_id, {_SQL_E} AS v FROM embeddings),
{_J57_SQL_NB},
sig AS (SELECT vec_id, v, [{_J57_SQL_SIGNS}] AS s FROM e),
q AS (SELECT vec_id, v, s FROM sig
      WHERE vec_id >= {lo} AND vec_id < {hi})
SELECT query_id, neighbor_id, cos_sim, n_bits FROM (
  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         ROUND({_sql_cos('q.v', 'x.v')}, 5) AS cos_sim,
         CAST(nb.bits AS BIGINT) AS n_bits,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY {_sql_cos('q.v', 'x.v')} DESC, x.vec_id) AS rn
  FROM q CROSS JOIN nb CROSS JOIN sig x
  WHERE x.vec_id <> q.vec_id
    AND len(list_filter(range(1, nb.bits + 1), i -> q.s[i] <> x.s[i])) <= 1
) WHERE rn <= 3
"""


@register("j57_ann_multiprobe", oracle=_j57_oracle())
def j57_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j57 (extension): derived-codebook multi-probe ANN — 2^bits ≈
    sqrt(N) random-hyperplane cells (bits re-derived from COUNT(*) in
    the oracle), each query probing its own cell + the Hamming-1 ring,
    exact-cosine re-rank, top-3 for the 10-query panel.  Completes the
    ANN family's 100 TB story next to j20/j55 (label-codebook IVF) and
    j33 (SQ8): the cell count now SCALES with the corpus and the
    recall knob (nprobe) is explicit.  Delegates to
    ``multiprobe_ann_topk``."""
    e = _vectors(spark, sf_dir)
    return multiprobe_ann_topk(e, k=3, n_queries=10)


@register("j63_mp_prebuilt_probe", oracle=_j57_oracle(0, 10))
def j63_mp_prebuilt_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j63 (extension): probe panel [0,10) against the PREBUILT,
    session-cached multiprobe index — the amortized contract (j59's
    pattern) for the codebook that actually SCALES (2^bits ≈ √N
    hyperplane cells, j57's derivation).  Release contract identical
    to j57; the cost shape is build-once-probe-forever.  Delegates to
    ``multiprobe_index_build`` + ``multiprobe_probe``."""
    sig, bits = multiprobe_index_build(spark, sf_dir)
    return multiprobe_probe(sig, bits, k=3, lo=0, hi=10)


@register("j63b_mp_prebuilt_reprobe", oracle=_j57_oracle(10, 20))
def j63b_mp_prebuilt_reprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j63b (extension): a SECOND panel ([10,20)) against the SAME
    session-cached multiprobe index — its measured time in a
    sequential gate/bench session is the probe-only amortized cost.
    Cold sessions rebuild and release identically (the oracle replays
    signatures + derivation from first principles either way)."""
    sig, bits = multiprobe_index_build(spark, sf_dir)
    return multiprobe_probe(sig, bits, k=3, lo=10, hi=20)


# --- j58: COST-MODEL routed ANN -------------------------------------------
#
# j55 routes on a scan-volume BUDGET (a contract dial); the round-10
# matrix measurement (BASELINE) showed its inline-IVF branch is the
# slower plan at every measured SF for a fixed 10-query panel, because
# inline IVF pays the full-corpus centroid assignment (N·C cosines)
# inside the query.  j58 closes that loop: it routes on the MODELED
# TOTAL WORK of each branch —
#     est_exact = n_q · (N − 1)                  (the scan's cosines)
#     est_ivf   = N · C + n_q · ⌈N / C⌉          (assignment + probes)
# — all integers, all re-derived from COUNT(*) / COUNT(DISTINCT label)
# in the oracle, so the decision replays exactly.  The query panel is
# DERIVED from the corpus (n_q = max(5, N // panel_divisor)): when the
# panel grows with N, the scan term grows ~N²/div while IVF's grows
# ~N·C + N²/(div·C), so the router genuinely crosses over inside the
# measured range — j58 (div=100) routes exact at the 500-vector gate
# SFs and IVF from sf0.1 up; j58b (div=10) makes the panel large
# enough that IVF wins already at the gate, attesting the other
# branch and the guard's other side.
_J58_DIV = 100
_J58B_DIV = 10


def ann_topk_cost_routed(
    e: DataFrame, k: int = 3, panel_divisor: int = _J58_DIV
) -> DataFrame:
    """Cost-model ANN router (see the block comment above for the
    model): picks the branch with the smaller estimated cosine count.
    Releases (query_id, neighbor_id, cos_sim, route, n_queries) —
    n_queries rides along so the gate attests the panel derivation
    (the j57 n_bits discipline).  One metadata aggregate feeds the
    decision; both estimates are exact integers."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("label").alias("c"),
    ).first()
    n, c = int(row["n"]), max(int(row["c"]), 1)
    n_q = max(5, n // panel_divisor)
    est_exact = n_q * max(n - 1, 0)
    est_ivf = n * c + n_q * ((n + c - 1) // c)
    route = "exact" if est_exact <= est_ivf else "ivf"
    out = exact_topk(e, k, n_q) if route == "exact" else ivf_topk(e, k, n_q)
    return out.select(
        "*",
        F.lit(route).alias("route"),
        F.lit(n_q).cast("long").alias("n_queries"),
    )


def _j58_oracle(div: int) -> str:
    """Routed oracle: the panel size, both work estimates, and both
    release definitions re-derived in SQL; the integer comparison
    guards which branch emits rows."""
    return f"""
WITH {_IVF_SQL_CENTROIDS},
e AS (SELECT vec_id, label, {_SQL_E} AS v FROM embeddings),
est AS (SELECT n, c, nq,
               nq * (n - 1) AS est_exact,
               n * c + nq * ((n + c - 1) // c) AS est_ivf
        FROM (SELECT COUNT(*) AS n, COUNT(DISTINCT label) AS c,
                     GREATEST(5, COUNT(*) // {div}) AS nq
              FROM e)),
exact_rel AS (
  SELECT query_id, neighbor_id, cos_sim, 'exact' AS route,
         CAST((SELECT nq FROM est) AS BIGINT) AS n_queries FROM (
    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           ROUND({_sql_cos('q.v', 'x.v')}, 5) AS cos_sim,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_cos('q.v', 'x.v')} DESC,
                                       x.vec_id) AS rn
    FROM e q JOIN e x ON x.vec_id <> q.vec_id
    WHERE q.vec_id < (SELECT nq FROM est)
  ) WHERE rn <= 3),
assign AS (
  SELECT vec_id, cell, v FROM (
    SELECT e.vec_id, c.label AS cell, e.v,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sql_cos('e.v', 'c.cent')} DESC,
                                       c.label) AS rn
    FROM e, centroids c
  ) WHERE rn = 1),
ivf_rel AS (
  SELECT query_id, neighbor_id, cos_sim, 'ivf' AS route,
         CAST((SELECT nq FROM est) AS BIGINT) AS n_queries FROM (
    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           ROUND({_sql_cos('q.v', 'x.v')}, 5) AS cos_sim,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_cos('q.v', 'x.v')} DESC,
                                       x.vec_id) AS rn
    FROM assign q
    JOIN assign x ON x.cell = q.cell AND x.vec_id <> q.vec_id
    WHERE q.vec_id < (SELECT nq FROM est)
  ) WHERE rn <= 3)
SELECT * FROM exact_rel WHERE (SELECT est_exact <= est_ivf FROM est)
UNION ALL
SELECT * FROM ivf_rel WHERE (SELECT est_exact > est_ivf FROM est)
"""


@register("j58_ann_cost_routed", oracle=_j58_oracle(_J58_DIV))
def j58_ann_cost_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j58 (extension): the cost-model ANN router — exact scan vs IVF
    picked by comparing MODELED TOTAL WORK (scan cosines vs
    assignment + probe cosines), both estimates integer and
    oracle-replayed, panel size derived from the corpus (N // 100,
    floor 5).  Routes exact at the gate SFs (the scan genuinely is
    the cheaper plan there — the round-10 matrix measurement) and
    flips to IVF once the growing panel amortizes the codebook build.
    Delegates to ``ann_topk_cost_routed``."""
    e = _vectors(spark, sf_dir, "label")
    return ann_topk_cost_routed(e, k=3, panel_divisor=_J58_DIV)


@register("j58b_ann_cost_routed_ivf", oracle=_j58_oracle(_J58B_DIV))
def j58b_ann_cost_routed_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j58b (extension): j58's twin with panel_divisor=10 — the larger
    derived panel makes the modeled scan cost exceed build+probe
    already at the 500-vector gate SFs (50·499 > 500·10 + 50·50), so
    every gate run attests the IVF branch and the cost comparison's
    other side.  Same engine, same oracle template, different
    constant."""
    e = _vectors(spark, sf_dir, "label")
    return ann_topk_cost_routed(e, k=3, panel_divisor=_J58B_DIV)


# --- j59: PREBUILT-index ANN probe — the amortized account as a contract --
#
# The round-10 matrix measurement (BASELINE.md) split the IVF cost into
# its two real phases: building the index costs ~N·C cosines ONCE
# (28.8 s at sf10), after which each 10-query probe batch costs 1.63 s
# vs the exact scan's 18.7 s — but j20/j55/j58 all rebuild the index
# INSIDE the query, so the amortized account existed only as a scratch
# measurement.  j59 makes it a registered contract: the index (the
# cell-assigned corpus) is persisted and session-cached keyed on
# (applicationId, sf_dir), and TWO registered queries probe DIFFERENT
# panels against it — j59 ([0,10), pays the build on a cold session),
# j59b ([10,20), a cache HIT in any sequential gate/bench session, so
# its measured time IS the probe-only amortized cost).  The release
# definition never depends on the cache (a cold j59b rebuilds and
# releases identically); only the TIMING account does — exactly how a
# production vector store behaves (build once, probe forever).


def ivf_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build — or fetch the session-reused — persisted IVF index over
    ``sf_dir``'s embeddings (vec_id, label, v): the ``_ivf_assign``
    table (vec_id, cell, v), persisted so every subsequent probe batch
    scans memory instead of re-quantizing the corpus.  Reused per
    (applicationId, sf_dir) through ``session_reuse``."""

    def build():
        e = _vectors(spark, sf_dir, "label")
        return _ivf_assign(e).persist()

    return session_reuse(spark, sf_dir, "ivf_index", build)


def ivf_probe(index: DataFrame, k: int = 3, lo: int = 0, hi: int = 10) -> DataFrame:
    """Probe one query panel (vectors with lo <= vec_id < hi) against a
    prebuilt IVF ``index`` (the ``ivf_index_build`` table).  The panel
    BROADCASTS onto a cell-keyed equality join against the index —
    per-batch work is #panel × occupancy cosines, never N·C.  Release
    is (query_id, neighbor_id, cos_sim): the true top-k among the
    query's cell, identical to ``ivf_topk``'s contract."""
    panel = F.broadcast(query_panel(index, hi, lo))
    return neighbors(rerank_topk(cell_candidates(index, panel), k))


def _j59_oracle(lo: int, hi: int) -> str:
    """The probe release replayed from first principles: the oracle
    rebuilds the index content (centroids + assignment — deterministic,
    so cache state cannot matter) and releases the panel's cell-probed
    top-3."""
    return f"""
WITH {_IVF_SQL_CENTROIDS},
e AS (SELECT vec_id, {_SQL_E} AS v FROM embeddings),
{_IVF_SQL_ASSIGN}
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         ROUND({_sql_cos('q.v', 'x.v')}, 5) AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY {_sql_cos('q.v', 'x.v')} DESC, x.vec_id) AS rn
  FROM assign q
  JOIN assign x ON x.cell = q.cell AND x.vec_id <> q.vec_id
  WHERE q.vec_id >= {lo} AND q.vec_id < {hi}
) WHERE rn <= 3
"""


@register("j59_ann_prebuilt_probe", oracle=_j59_oracle(0, 10))
def j59_ann_prebuilt_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j59 (extension): probe panel [0,10) against the PREBUILT,
    session-cached IVF index — the query that pays the one-time build
    (N·C quantization, persisted) on a cold session.  Release is the
    cell-probed top-3, identical semantics to j20; what's new is the
    COST SHAPE: the index outlives the query.  Delegates to
    ``ivf_index_build`` + ``ivf_probe``."""
    return ivf_probe(ivf_index_build(spark, sf_dir), k=3, lo=0, hi=10)


@register("j59b_ann_prebuilt_reprobe", oracle=_j59_oracle(10, 20))
def j59b_ann_prebuilt_reprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j59b (extension): a SECOND panel ([10,20)) probed against the
    SAME session-cached index — in any sequential gate or bench session
    this is a cache hit, so its measured wall time is the AMORTIZED
    probe-only cost (the 1.63 s/batch account from the round-10 matrix,
    now a registered contract instead of a scratch note).  Cold
    sessions rebuild and release identically; the oracle replays the
    index content from first principles either way."""
    return ivf_probe(ivf_index_build(spark, sf_dir), k=3, lo=10, hi=20)


@register(
    "j33_sq8_ann",
    oracle=f"""
WITH e AS (SELECT vec_id, {_SQL_E} AS v FROM embeddings),
x AS (SELECT vec_id, pos, v[pos] AS x
      FROM e, (SELECT unnest(range(1, 65)) AS pos) p),
dims AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY pos),
q AS (SELECT vec_id, x.pos,
             CASE WHEN mx = mn THEN 0
                  ELSE CAST(FLOOR((x - mn) / (mx - mn) * 255 + 0.5) AS BIGINT) - 128
             END AS qx
      FROM x JOIN dims ON dims.pos = x.pos),
qq AS (SELECT pos, qx AS qqx FROM q WHERE vec_id = 0),
s AS (SELECT q.vec_id, CAST(SUM(q.qx * qq.qqx) AS BIGINT) AS score8
      FROM q JOIN qq ON qq.pos = q.pos WHERE q.vec_id <> 0 GROUP BY q.vec_id),
q0 AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT s.vec_id, score8, ROUND({_sql_cos('e.v', 'qv')}, 5) AS cos_sim
FROM s JOIN e ON e.vec_id = s.vec_id, q0
ORDER BY score8 DESC, s.vec_id
LIMIT 10
""",
)
def j33_sq8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j33 (extension): 8-bit scalar-quantized ANN with exact re-rank —
    the memory-compression path for similarity search (FAISS SQ8 shape).
    Per-dimension global min/max (one 64-row aggregate, broadcast) maps
    every float to an int in [-128, 127]; candidate scoring is then an
    INTEGER dot product (order-independent, engine-exact — no float
    rounding games), and the final projection re-ranks survivors with
    the exact cosine from the full vectors.

    Scale: the quantized corpus is 16× smaller than float32 (64 B vs
    1 KB per vector after int8 packing), so a 100 TB embedding table's
    index fits the cluster's memory at ~6 TB; integer MAC is also the
    SIMD-friendliest inner loop.  Quantization is one map stage; the
    only shuffle is the 64-row stats aggregate.  FLOOR(x + 0.5) is used
    instead of ROUND so both engines make identical half-way choices."""
    e = _vectors(spark, sf_dir)
    per_dim = (
        e.select(F.posexplode("v").alias("pos0", "x"))
        .groupBy("pos0")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    dims = per_dim.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos0", "mn"))), lambda s: s.mn
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos0", "mx"))), lambda s: s.mx
        ).alias("mxs"),
    )
    # Constant dimensions (mx == mn) quantize to 0 rather than NaN —
    # without the guard Spark's floor(NaN) silently casts to 0 while the
    # DuckDB oracle's CAST raises, i.e. wrong-and-unchecked vs crash.
    quant = F.transform(
        F.col("v"),
        lambda x, i: F.when(
            F.element_at(F.col("mxs"), i + 1) == F.element_at(F.col("mns"), i + 1),
            F.lit(0).cast("long"),
        ).otherwise(
            F.floor(
                (x - F.element_at(F.col("mns"), i + 1))
                / (F.element_at(F.col("mxs"), i + 1) - F.element_at(F.col("mns"), i + 1))
                * 255
                + 0.5
            ).cast("long")
            - 128
        ),
    )
    qe = e.crossJoin(F.broadcast(dims)).select("vec_id", quant.alias("q"), "v")
    q0 = qe.filter(F.col("vec_id") == 0).select(
        F.col("q").alias("qq"), F.col("v").alias("qv")
    )
    score8 = F.aggregate(
        F.zip_with(F.col("q"), F.col("qq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, y: acc + y,
    )
    return (
        qe.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q0))
        .select(
            "vec_id",
            score8.alias("score8"),
            F.round(cosine(F.col("v"), F.col("qv")), 5).alias("cos_sim"),
        )
        .orderBy(F.col("score8").desc(), "vec_id")
        .limit(10)
    )


# --- LSH signatures: the approximate scale path --------------------------

_LSH_PLANES = 8


def _hyperplanes() -> list[list[float]]:
    return _seeded_planes(42, _LSH_PLANES)


def _lsh_oracle() -> str:
    planes = _hyperplanes()
    bits = ",\n       ".join(
        f"CASE WHEN list_dot_product({_SQL_E}, {p}::DOUBLE[]) > 0 THEN '1' ELSE '0' END"
        for p in planes
    )
    return f"""
SELECT vec_id, CONCAT({bits}) AS bucket
FROM embeddings
"""


@register("j17_sim_lsh_bucket", oracle=_lsh_oracle())
def j17_sim_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH (SimHash for vectors, Charikar 2002): an
    8-bit signature from fixed seeded hyperplanes.  Same-bucket vectors
    are ANN candidates — at 100 TB, groupBy(bucket) then brute-force
    within buckets replaces the quadratic pair join.  Oracle carries
    the identical hyperplane constants."""
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", hyperplane_cells(as_double(F.col("embedding")), _hyperplanes()).alias("bucket")
    )


@register("j21_sim_topk_vectorized", oracle=_J8_ORACLE)
def j21_sim_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j21: j8's contract and engine under a second registered name.
    No Arrow/BLAS form: its equality with the fold would rest on
    ROUND(5) hiding last-ulp differences, unargued at a boundary."""
    return j8_sim_topk(spark, sf_dir)


@register("j10b_knn_vectorized", oracle=_J10_ORACLE)
def j10b_knn_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j10b: j10's contract and engine under a second registered name.
    An Arrow/BLAS ranking must re-adjudicate the rank-k boundary with
    the exact fold (as ``knn_label_multiprobe_fast`` does): colinear
    copies of a query tie up to the last ulps and flip the top-5."""
    return j10_knn_classify(spark, sf_dir)


def _j25_oracle() -> str:
    corpus = f"""
e AS (SELECT vec_id AS orig_id, {_SQL_E} AS v FROM embeddings),
corpus AS MATERIALIZED (
  SELECT orig_id AS vec_id, v FROM e
  UNION ALL
  SELECT orig_id + {_J9B_OFF} AS vec_id,
         list_transform(v, x -> x * (1 + 0.1 * sin(orig_id + x * 1000)))
  FROM e
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
  WHERE {_sql_cos('a.v', 'b.v')} >= {_J9B_TAU}
),
edges AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM pairs
                       UNION ALL SELECT b_id, a_id FROM pairs)"""
    # Exact transitive closure (recursive CTE), not K rounds of label
    # propagation: a bounded-rounds replay is corpus-dependent — a
    # component whose min-id sits > K hops away diverges from the
    # engine's converged connected_components (round-4 review finding;
    # j24's oracle already used this closure form).
    closure = """
reach AS (
  SELECT u AS node, u AS r FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v AS node, reach.r FROM reach JOIN edges e ON e.u = reach.node
),
comp AS (SELECT node, MIN(r) AS c FROM reach GROUP BY node)"""
    return "WITH RECURSIVE " + ",\n".join([corpus, closure]) + """
, wide AS (SELECT (SELECT COUNT(*) FROM corpus) AS c1,
                  (SELECT COUNT(*) FROM pairs) AS c2,
                  (SELECT COUNT(*) FROM comp WHERE node <> c) AS c3)
SELECT stage, n FROM (
  SELECT '1_raw_vectors' AS stage, c1 AS n FROM wide
  UNION ALL SELECT '2_dup_pairs', c2 FROM wide
  UNION ALL SELECT '3_redundant', c3 FROM wide
  UNION ALL SELECT '4_survivors', c1 - c3 FROM wide
)
"""


@register("j25_embedding_dedup", oracle=_j25_oracle())
def j25_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j25 (extension): end-to-end embedding near-dup DEDUP — the
    vector-side counterpart of j24's text funnel, composing j9b's
    LSH-candidates→exact-verify pair search with connected components
    and a min-id survivor rule.  Returns the funnel accounting (raw
    vectors → verified dup pairs → redundant members → survivors),
    each count hash-checked against an exhaustive-pair + bounded
    label-propagation oracle.  100 TB shape: every stage is the
    already-bounded j9b/j23 machinery — nothing here adds a shuffle
    beyond the pair graph itself."""
    from ma_anonymization_etl_spark.operators.llm import connected_components

    e = load(spark, sf_dir, "embeddings")
    pairs = j9b_sim_pair_lsh(spark, sf_dir).select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    )
    pairs = pairs.localCheckpoint(eager=True)  # one pass for count + CC input
    redundant = connected_components(pairs).filter(F.col("node") != F.col("component"))
    wide = (
        e.agg((F.count("*") * 2).alias("c1"))
        .crossJoin(pairs.agg(F.count("*").alias("c2")))
        .crossJoin(redundant.agg(F.count("*").alias("c3")))
    )
    return wide.selectExpr(
        "stack(4, '1_raw_vectors', c1, '2_dup_pairs', c2, "
        "'3_redundant', c3, '4_survivors', c1 - c3) AS (stage, n)"
    )


@register(
    "j28_ann_recall",
    oracle=f"""
WITH {_IVF_SQL_CENTROIDS},
e AS (SELECT vec_id, {_SQL_E} AS v FROM embeddings),
assign AS (
  SELECT vec_id, label AS cell, v FROM (
    SELECT e.vec_id, c.label, e.v,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sql_cos('e.v', 'c.cent')} DESC, c.label) AS rn
    FROM e, centroids c
  ) WHERE rn = 1
),
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_cos('q.v', 'x.v')} DESC, x.vec_id) AS rn
    FROM assign q
    JOIN assign x ON x.cell = q.cell AND x.vec_id <> q.vec_id
    WHERE q.vec_id < 10
  ) WHERE rn <= 3
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_cos('q.v', 'x.v')} DESC, x.vec_id) AS rn
    FROM e q JOIN e x ON x.vec_id <> q.vec_id
    WHERE q.vec_id < 10
  ) WHERE rn <= 3
)
SELECT ex.query_id,
       COUNT(i.neighbor_id) AS n_hit,
       ROUND(COUNT(i.neighbor_id) / 3.0, 6) AS recall_at_3
FROM exact ex
LEFT JOIN ivf i ON i.query_id = ex.query_id AND i.neighbor_id = ex.neighbor_id
GROUP BY ex.query_id
""",
)
def j28_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j28 (extension): ANN quality report — recall@3 of the IVF index
    (j20's cell-restricted search) against exact brute-force top-3, per
    query.  The evaluation every production ANN deployment runs before
    trusting its index; both the approximate and the exact ranking are
    deterministic (cosine ties broken by vec_id), so per-query recall
    is oracle-checked, not sampled.

    Scale: the exact side is the expensive path and exists only for the
    (bounded, e.g. 10-query) evaluation sample — the pattern at 100 TB
    is exactly this: audit recall on a small random query set, serve
    from the index.  Both sides are the shared engines: ``ivf_topk``
    and ``exact_topk``."""
    e = _vectors(spark, sf_dir, "label")
    ivf = ivf_topk(e, 3, 10).select("query_id", "neighbor_id")
    exact = exact_topk(e, 3, 10).select("query_id", "neighbor_id")
    return (
        exact.alias("ex")
        .join(
            ivf.alias("i"),
            (F.col("i.query_id") == F.col("ex.query_id"))
            & (F.col("i.neighbor_id") == F.col("ex.neighbor_id")),
            "left",
        )
        .groupBy(F.col("ex.query_id").alias("query_id"))
        .agg(
            F.count(F.col("i.neighbor_id")).alias("n_hit"),
            F.round(F.count(F.col("i.neighbor_id")) / 3.0, 6).alias("recall_at_3"),
        )
    )


# --- j43/j44: k-means clustering + SemDeDup ---------------------------------
#
# Lloyd's k-means with fully deterministic replay: seeds are the k
# lowest vec_ids, each round assigns by argmax cosine (ties to the
# lower cluster id) and recomputes integer-quantized per-dimension mean
# centroids, so DuckDB can replay every round as an unrolled CTE chain.
# ONE engine runs it for j43, j43b, j44/j44b and the
# ``semantic_dedup_drop`` route step: ``_km_round_arrow`` inside the
# loop ``_km_fit_arrow``, then one final ``_km_assign_arrow``.
# j44 layers SemDeDup (Abbas et al. 2023, arXiv:2303.09540) on top:
# near-duplicate candidates are confined to k-means cells, giving the
# cluster-bounded (never all-pairs) semantic-dedup shape.
_KM_K = 8          # seeds = vec_id 0..7
_KM_ROUNDS = 2     # Lloyd recompute rounds (then one final assignment)
_KM_TAU = 0.9      # j44 within-cluster near-dup threshold
_KMB_EPS_MICRO = 10   # converged when every centroid moves <= 10 micro-units L1
_KMB_MAX_ROUNDS = 60  # observed need: 15 / 19 / 35 rounds at sf0.001 / 0.01 / 0.1
                      # (movement hits exactly 0 — an assignment fixpoint)


def _km_sql_assign(src_e: str, src_c: str) -> str:
    return f"""(SELECT vec_id, cl, v FROM (
  SELECT e.vec_id, c.cl, e.v,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_sql_cos('e.v', 'c.cent')} DESC, c.cl) AS rn
  FROM {src_e} e, {src_c} c) WHERE rn = 1)"""


def _km_sql_recompute(src_a: str) -> str:
    # Per-dim mean as (exact int64 sum of 1e-6-quantized inputs) / n /
    # 1e6: the sum is order-independent, so the centroid double cannot
    # flip with Spark's partial-aggregate merge order the way a raw
    # float AVG can (an ulp at a ROUND boundary would cascade through
    # every subsequent Lloyd round).  Same formula on the Spark side.
    return f"""(SELECT cl, list(av ORDER BY pos) AS cent FROM (
  SELECT cl, pos,
         CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000000.0 AS av FROM (
    SELECT cl, unnest(v) AS x, unnest(range(1, 65)) AS pos FROM {src_a})
  GROUP BY cl, pos) GROUP BY cl)"""


def _km_sql_chain(k_expr: str = str(_KM_K)) -> str:
    """CTE chain e -> c0 -> a1 -> c1 -> a2 -> c2 -> a3 (expects an `e`
    CTE with (vec_id, v) to exist).  ``k_expr`` is the seed-count SQL
    expression — the fixed _KM_K for j43/j43b, a derived scalar
    subquery for j44 (cell-size-targeted k)."""
    parts = [f"c0 AS (SELECT vec_id AS cl, v AS cent FROM e WHERE vec_id < {k_expr})"]
    prev_c = "c0"
    for i in range(1, _KM_ROUNDS + 1):
        parts.append(f"a{i} AS {_km_sql_assign('e', prev_c)}")
        parts.append(f"c{i} AS {_km_sql_recompute('a' + str(i))}")
        prev_c = f"c{i}"
    parts.append(f"a{_KM_ROUNDS + 1} AS {_km_sql_assign('e', prev_c)}")
    return ",\n".join(parts)


def _km_assign_batch(M, cls_v, C, Cn):
    """The k-means assignment of one batch ``M`` (n×d): argmax cosine
    against the centroids ``C`` (``Cn`` row-normalized), ties to the
    lower cluster id; returns the n cluster ids.  One (n × k) dgemm, no
    join, no window, no shuffle.

    Decision-exactness: BLAS reduces dots in SIMD order, so its cosine
    can differ from the oracle's sequential fold by ~1e-14; any row
    whose top-two BLAS cosines sit within 1e-9 is RE-ADJUDICATED with
    the exact sequential fold (``_exact_cos_py``) over every centroid
    within 1e-9 of the top, ties to the lower cluster id — so the
    released assignment equals the declarative argmax (the oracle's
    ROW_NUMBER replay) decision for decision, while the hot loop stays
    in BLAS.  Rows with a wider gap cannot flip: the BLAS error bound
    for 64-dim unit-vector dots is ~64·eps ≈ 1.4e-14 << 1e-9."""
    import numpy as np

    k = len(cls_v)
    Mn = M / np.linalg.norm(M, axis=1)[:, None]
    S = Mn @ Cn.T  # (n, k) BLAS cosines
    best = S.argmax(axis=1)  # first max = lowest cl on exact ties
    if k > 1:
        top = S[np.arange(len(M)), best]
        second = np.partition(S, k - 2, axis=1)[:, k - 2]
        for i in np.where(top - second < 1e-9)[0]:
            cand = np.where(S[i] >= top[i] - 1e-9)[0]
            best[i] = min(
                cand,
                key=lambda j: (-_exact_cos_py(M[i], C[j]), cls_v[j]),
            )
    return cls_v[best]


def _km_partials(M, cl):
    """One batch's centroid partials for ``_km_sql_recompute``'s
    integer-quantized mean: (cl, pos0) → (int64 sum of the
    1e-6-quantized components, count), so the shuffle carries k×d rows
    PER BATCH instead of a posexplode's d rows per corpus vector (sf10's
    400k vectors: ~26M shuffled rows → tens of thousands).

    BIT-IDENTICAL by integer associativity, not by a near-tie
    argument: the quantization replicates Spark ROUND (half away from
    zero — np.floor(s+0.5)/np.ceil(s−0.5) plus an exact-compare
    correction for the one-ulp case where the ±0.5 add itself crosses
    an integer, e.g. s = 0.5−2⁻⁵⁴ where fl(s+0.5) = 1.0), and partial
    int64 sums add associatively to the same total."""
    import numpy as np
    import pandas as pd

    s = M * 1e6
    r = np.where(s >= 0, np.floor(s + 0.5), np.ceil(s - 0.5))
    r = np.where(r - s > 0.5, r - 1, r)  # add crossed the boundary up
    r = np.where(s - r > 0.5, r + 1, r)  # (negative-side mirror)
    q = r.astype(np.int64)
    uniq, inv = np.unique(cl, return_inverse=True)
    sums = np.zeros((len(uniq), q.shape[1]), dtype=np.int64)
    np.add.at(sums, inv, q)
    counts = np.bincount(inv).astype(np.int64)
    k_, d_ = sums.shape
    return pd.DataFrame(
        {
            "cl": np.repeat(uniq, d_),
            "pos0": np.tile(np.arange(d_, dtype=np.int64), k_),
            "s": sums.reshape(-1),
            "c": np.repeat(counts, d_),
        }
    )


def _km_assigned_map(corpus: DataFrame, cent_rows: list, emit, schema: str) -> DataFrame:
    """One map-side pass over a (vec_id, v) corpus against DRIVER-HELD
    centroids (broadcast): each Arrow batch is assigned
    (``_km_assign_batch``) and ``emit(pdf, M, cl)`` turns it into the
    output batch of ``schema``."""
    import numpy as np

    rows = sorted(cent_rows, key=lambda r: r["cl"])
    cls_arr = np.array([r["cl"] for r in rows], dtype=np.int64)
    cmat = np.array([list(r["cent"]) for r in rows], dtype=np.float64)
    bc = corpus.sparkSession.sparkContext.broadcast((cls_arr, cmat))

    def run(batches):
        cls_v, C = bc.value
        Cn = C / np.linalg.norm(C, axis=1)[:, None]
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            yield emit(pdf, M, _km_assign_batch(M, cls_v, C, Cn))

    return corpus.mapInPandas(run, schema)


def _km_assign_arrow(corpus: DataFrame, cent_rows: list) -> DataFrame:
    """The k-means assignment (vec_id, cl, v) of a (vec_id, v) corpus,
    one map-side pass, no shuffle."""
    import pandas as pd

    return _km_assigned_map(
        corpus,
        cent_rows,
        lambda pdf, M, cl: pd.DataFrame(
            {"vec_id": pdf["vec_id"].to_numpy(), "cl": cl, "v": pdf["v"]}
        ),
        "vec_id BIGINT, cl BIGINT, v ARRAY<DOUBLE>",
    )


def _km_round_arrow(corpus: DataFrame, cent_rows: list) -> DataFrame:
    """One Lloyd round as one Arrow pass: each batch is assigned and
    reduced to its int64 partials (``_km_partials``) in the same
    ``mapInPandas``, then one ``groupBy(cl, pos0)`` divides the merged
    sums — (cl, pos0, av) rows, av = (double)sum / count / 1e6, the same
    two operands as the declarative recompute, so
    ``_km_collect_centroids`` assembles centroids bit-identical to it."""
    return (
        _km_assigned_map(
            corpus,
            cent_rows,
            lambda pdf, M, cl: _km_partials(M, cl),
            "cl BIGINT, pos0 BIGINT, s BIGINT, c BIGINT",
        )
        .groupBy("cl", "pos0")
        .agg((F.sum("s").cast("double") / F.sum("c") / F.lit(1e6)).alias("av"))
    )


def _km_collect_centroids(per_dim: DataFrame) -> list:
    """Collect a round's (cl, pos0, av) rows and assemble the (cl, cent)
    centroid rows on the driver, ordered by cluster id."""
    cents: dict = {}
    for r in per_dim.collect():
        cents.setdefault(r["cl"], {})[r["pos0"]] = r["av"]
    return [
        Row(cl=cl, cent=[dims[p] for p in sorted(dims)])
        for cl, dims in sorted(cents.items())
    ]


def _km_fit_arrow(corpus: DataFrame, k: int = _KM_K, converge: bool = False):
    """The Lloyd loop — the one k-means engine (j43, j43b, j44/j44b and
    the ``semantic_dedup_drop`` route step).  Seeds are the k lowest
    SURVIVING vec_ids (the oracles' `vec_id < k` on the contiguous
    registered corpora; never empty on a non-empty corpus, whatever
    its ids); a round is one ``_km_round_arrow`` pass (assign and
    partial sums in one ``mapInPandas``, one ``groupBy(cl, pos0)``),
    whose k×64 (cl, pos0, av) rows come back to the driver.  ``corpus``
    (vec_id, v) must already be checkpointed: every round re-reads it.
    NOT spread (measured a LOSS: rounds over a
    tiny corpus are task-launch-bound; j43b went ~23 → ~35 s at sf0.1).

    Stop rule: ``_KM_ROUNDS`` rounds (what the j43/j44 oracles unroll),
    or with ``converge`` when every centroid moves at most
    ``_KMB_EPS_MICRO`` 1e-6 units (L1), capped at ``_KMB_MAX_ROUNDS``.
    Integer-sum means and lower-id ties make the movement sequence
    reproducible at any partition count.  A cluster emptied in ANY
    round sets ``saw_cluster_loss``.  Returns
    (final_assign, cents, converged, rounds, saw_cluster_loss), with
    ``cents`` the collected (cl, cent) rows of the final assignment."""
    cents = (
        corpus.select("vec_id", "v")
        .orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cl"), F.col("v").alias("cent"))
        .collect()
    )

    def quantized(rows):
        return {r["cl"]: [round(x * 1e6) for x in r["cent"]] for r in rows}

    prev_q = quantized(cents)
    converged = saw_cluster_loss = False
    for rounds in range(1, (_KMB_MAX_ROUNDS if converge else _KM_ROUNDS) + 1):
        cents = _km_collect_centroids(_km_round_arrow(corpus, cents))
        new_q = quantized(cents)
        move = max(
            (
                sum(abs(a - b) for a, b in zip(new_q[cl], prev_q[cl]))
                for cl in new_q
                if cl in prev_q
            ),
            default=0,
        )
        lost_cluster = bool(set(prev_q) - set(new_q))
        saw_cluster_loss = saw_cluster_loss or lost_cluster
        prev_q = new_q
        if converge and not lost_cluster and move <= _KMB_EPS_MICRO:
            converged = True
            break
    return (
        _km_assign_arrow(corpus, cents),
        cents,
        converged,
        rounds,
        saw_cluster_loss,
    )


@register(
    "j43_kmeans_clusters",
    oracle=f"""
WITH e AS (SELECT vec_id, {_SQL_E} AS v FROM embeddings),
{_km_sql_chain()}
SELECT a.cl AS cluster_id,
       COUNT(*) AS n_members,
       CAST(SUM(CAST(ROUND({_sql_cos('a.v', 'c.cent')} * 1000000) AS BIGINT))
            AS BIGINT) AS sum_qcos,
       array_to_string(list_transform(c.cent,
           x -> CAST(CAST(ROUND(x * 1000000) AS BIGINT) AS VARCHAR)), ',')
         AS centroid
FROM a{_KM_ROUNDS + 1} a JOIN c{_KM_ROUNDS} c ON c.cl = a.cl
GROUP BY a.cl, centroid
""",
)
def j43_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j43 (extension): deterministic Lloyd k-means over the embedding
    corpus — the coarse quantizer that IVF (j20), SemDeDup (j44), and
    curriculum bucketing all sit on.  ``_km_fit_arrow`` with fixed
    rounds: seeds are the k lowest vec_ids; each of the 2 rounds
    assigns by argmax cosine (ties to the lower cluster id) and
    recomputes integer-quantized per-dim mean centroids, so the DuckDB
    oracle replays every round exactly (unrolled CTEs).  Output:
    per-cluster member count, scaled-int64 sum of member-to-centroid
    cosines (order-independent — no float-sum drift), and the
    serialized centroid (the loop's collected doubles).

    100 TB shape: centroids are a k-row broadcast; each round is one
    map-side pass (one dgemm per Arrow batch) that shuffles only
    (k x 64) partial sums per batch.  Rounds
    are a bounded driver loop on a checkpointed corpus — the classic
    distributed Lloyd layout."""
    e = _vectors(spark, sf_dir)
    assign, cents = _km_fit_arrow(e.localCheckpoint(eager=True))[:2]
    cent_str = spark.createDataFrame(cents, "cl BIGINT, cent ARRAY<DOUBLE>").select(
        "cl",
        F.array_join(
            F.transform(F.col("cent"), lambda x: F.round(x * 1e6).cast("long").cast("string")),
            ",",
        ).alias("centroid"),
        "cent",
    )
    return (
        assign.join(F.broadcast(cent_str), "cl")
        .withColumn("qcos", F.round(cosine(F.col("v"), F.col("cent")) * 1e6).cast("long"))
        .groupBy(F.col("cl").alias("cluster_id"), "centroid")
        .agg(F.count("*").alias("n_members"), F.sum("qcos").alias("sum_qcos"))
        .select("cluster_id", "n_members", "sum_qcos", "centroid")
    )


# j44's k is DERIVED (VERDICT r8's docstring-vs-code lesson, applied
# here after the round-9 sf1 sweep OOM'd the fixed-k=8 version): cells
# target ~_J44_CELL_TARGET vectors, so the per-cell gram matrix stays
# ~target^2*8B regardless of corpus size; k = max(_KM_K, ceil(n /
# target)).  The oracle re-derives the same k from COUNT(*) (integer
# ceil via (n + t - 1) // t — no float), so the derivation itself is
# gate-attested (the j9c/i43/j38 discipline).  At the gate SFs k
# collapses to the old constant 8, keeping the release unchanged.
_J44_CELL_TARGET = 10_000


_J44_ORACLE = f"""
WITH e0 AS (SELECT vec_id AS orig_id, {_SQL_E} AS v FROM embeddings),
e AS (
  SELECT orig_id AS vec_id, v FROM e0
  UNION ALL
  SELECT orig_id + {_J9B_OFF} AS vec_id,
         list_transform(v, x -> x * (1 + 0.1 * sin(orig_id + x * 1000)))
  FROM e0
),
kd AS (SELECT GREATEST({_KM_K},
              (COUNT(*) + {_J44_CELL_TARGET} - 1) // {_J44_CELL_TARGET}) AS k
       FROM e),
{_km_sql_chain("(SELECT k FROM kd)")},
a AS (SELECT * FROM a{_KM_ROUNDS + 1}),
dropped AS (
  SELECT x.cl, x.vec_id
  FROM a x JOIN a y ON y.cl = x.cl AND y.vec_id < x.vec_id
  WHERE {_sql_cos('x.v', 'y.v')} >= {_KM_TAU}
  GROUP BY x.cl, x.vec_id
)
SELECT m.cl AS cluster_id,
       m.n AS n_members,
       COALESCE(d.nd, 0) AS n_dropped,
       m.n - COALESCE(d.nd, 0) AS n_kept
FROM (SELECT cl, COUNT(*) AS n FROM a GROUP BY cl) m
LEFT JOIN (SELECT cl, COUNT(*) AS nd FROM dropped GROUP BY cl) d ON d.cl = m.cl
"""


def _j44_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j44's (vec_id, v) corpus: the j9b fixture, every vector plus
    a deterministic sin-jittered copy at id + _J9B_OFF (cos ~= 0.997),
    because the base corpus is isotropic with no organic pair above
    0.6.  The oracle's ``e`` CTE replays it."""
    e0 = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("orig_id"), as_double(F.col("embedding")).alias("v")
    )
    pert = e0.select(
        (F.col("orig_id") + _J9B_OFF).alias("vec_id"),
        F.transform(
            F.col("v"),
            lambda x: x * (F.lit(1.0) + F.lit(0.1) * F.sin(F.col("orig_id") + x * F.lit(1000.0))),
        ).alias("v"),
    )
    return e0.select(F.col("orig_id").alias("vec_id"), "v").unionByName(pert)


def _semdedup_assign(corpus: DataFrame) -> DataFrame | None:
    """SemDeDup's cluster assignment (vec_id, cl, v) over a (vec_id, v)
    corpus, or None when it is empty.  The corpus lineage runs ONCE:
    the count that derives k (integer ceil, replayed by j44's ``kd``
    CTE) and the fixed-round ``_km_fit_arrow`` both read one checkpoint."""
    corpus = corpus.localCheckpoint(eager=True)
    n = corpus.count()
    if n == 0:
        return None
    k = max(_KM_K, (n + _J44_CELL_TARGET - 1) // _J44_CELL_TARGET)
    return _km_fit_arrow(corpus, k=k)[0]


@register("j44_semantic_dedup", oracle=_J44_ORACLE)
def j44_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j44 (extension): SemDeDup — semantic near-dup removal bounded by
    k-means cells (arXiv:2303.09540's shape).  The corpus is
    ``_j44_corpus``; the Lloyd loop (``_km_fit_arrow`` with j43's
    deterministic seeds and fixed rounds, k derived from the corpus
    size) assigns cells; the
    exact-cosine pair scan runs ONLY within a cell, and a member is
    dropped when a lower-id cell-mate sits above tau=0.9 (the greedy
    min-id survivor rule).  Output: per-cluster member/dropped/kept
    accounting.

    The assignment equals the oracle's declarative replay: BLAS
    near-ties are re-adjudicated by the exact fold and the recompute
    sums integers (both pinned against the declarative referee in
    tests).  Also the engine of the ``semantic_dedup_drop`` route
    step.

    100 TB shape: this is the semantic complement of j9b's LSH route —
    clustering caps the candidate set at sum(cell^2) with k sized so
    cells stay ~10k vectors (k ~= N/10k).  After ONE shuffle on cell
    id, each cell runs locally as an Arrow-batched grouped map: a BLAS
    gram matrix generates candidates (10k x 10k x 64 = one dgemm), and
    only the surviving candidates are re-verified with the exact
    sequential float64 fold, so the output is bit-identical to the
    declarative/oracle arithmetic while the hot loop stays in BLAS.
    No all-pairs stage exists at any scale."""
    return semdedup_release(_semdedup_assign(_j44_corpus(spark, sf_dir)))


def semdedup_dropped(assign: DataFrame) -> DataFrame:
    """SemDeDup's DROP LIST over a cluster assignment (vec_id, cl, v):
    (cl, vec_id) for every member with a LOWER-id cell-mate at
    cos >= tau (the greedy min-id survivor rule) — the cell-bounded
    BLAS-candidates / exact-verify two-step shared by j44's
    accounting release and the ``semantic_dedup_drop`` route step."""

    def cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        m = np.stack(pdf["v"].to_numpy()).astype(np.float64)  # (n, 64)
        ids = pdf["vec_id"].to_numpy()
        # BLAS gram over unit vectors generates CANDIDATES with a wide
        # margin (the corpus gap is 0.60 organic vs ~0.997 planted);
        # each candidate is then re-verified with the exact sequential
        # float64 fold — bit-identical to the oracle's
        # list_dot_product over DOUBLE[] — so the emitted pair set
        # cannot depend on BLAS summation order.
        u = m / np.sqrt((m * m).sum(axis=1))[:, None]
        ai, bi = np.where(np.triu((u @ u.T) >= _KM_TAU - 1e-3, k=1))
        keep_b = []
        for i, j in zip(ai, bi):
            x, y = m[i], m[j]
            d = dx = dy = 0.0
            for t in range(x.shape[0]):
                d += x[t] * y[t]
                dx += x[t] * x[t]
                dy += y[t] * y[t]
            if d / (np.sqrt(dx) * np.sqrt(dy)) >= _KM_TAU:
                keep_b.append(max(ids[i], ids[j]))
        out = np.unique(np.array(keep_b, dtype=np.int64))
        return pd.DataFrame(
            {
                "cl": np.full(len(out), pdf["cl"].iloc[0], dtype=np.int64),
                "vec_id": out,
            }
        )

    return assign.groupBy("cl").applyInPandas(cell_pairs, "cl BIGINT, vec_id BIGINT")


def semdedup_release(assign: DataFrame) -> DataFrame:
    """SemDeDup's cell-bounded pair scan + accounting over a cluster
    ASSIGNMENT table (vec_id, cl, v) — j44's release half.  See j44's
    docstring for the BLAS-candidates / exact-verify two-step (in
    ``semdedup_dropped``)."""
    assign = assign.localCheckpoint(eager=False)  # pair scan reads it twice
    dropped = semdedup_dropped(assign)
    members = assign.groupBy("cl").agg(F.count("*").alias("n_members"))
    drops = dropped.groupBy("cl").agg(F.count("*").alias("n_dropped0"))
    return (
        members.join(drops, "cl", "left")
        .select(
            F.col("cl").alias("cluster_id"),
            "n_members",
            F.coalesce(F.col("n_dropped0"), F.lit(0)).alias("n_dropped"),
            (F.col("n_members") - F.coalesce(F.col("n_dropped0"), F.lit(0))).alias("n_kept"),
        )
    )


def semantic_drop_ids(corpus: DataFrame) -> DataFrame:
    """The SemDeDup ACTION for routes: given a (vec_id, v) corpus,
    return the DataFrame of vec_ids a semantic dedup would DROP —
    members with a lower-id near-identical (cos >= 0.9) mate in their
    k-means cell.  Derived k (cells target ~10k vectors, the j44
    discipline), the fixed-round Lloyd loop, exact verify — j44's
    engine.  Lowest-id survivor; everything else identical to the
    gate-attested j44 pair semantics.  The corpus lineage (on a route,
    the aux semi-join and every step above it) runs once.  An EMPTY
    corpus (every working row filtered out upstream, or none with an
    embedding) is a no-op — no vectors, no drops — rather than a
    seed-set crash."""
    assign = _semdedup_assign(corpus)
    if assign is None:
        return corpus.sparkSession.createDataFrame([], "vec_id BIGINT")
    return semdedup_dropped(assign).select("vec_id")


def _knn_label_candidates(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Shared front half of the knn_label twins (the j9b/j9d shared-
    corpus discipline: one candidate derivation, so the exact and
    Arrow forms cannot drift).  Signs both sides into the size-derived
    multiprobe cells (2^bits ≈ √N) and runs ``ring_candidates`` with
    the query side NOT broadcast: it can be a whole working table, so
    both sides shuffle once by cell, and cells are ~√N-balanced by
    construction.  Returns (vec_id, label, v, cell, query_id, qv,
    qcell)."""
    bits = multiprobe_cell_bits(corpus.count())
    panel = _mp_sign(queries, bits).select(
        "query_id", F.col("v").alias("qv"), F.col("cell").alias("qcell")
    )
    return ring_candidates(_mp_sign(corpus, bits), panel, bits)


def knn_label_multiprobe(
    queries: DataFrame, corpus: DataFrame, k: int = 5
) -> DataFrame:
    """ANN k-NN majority-label classification — j10's release contract
    (top-``k`` by exact cosine, majority vote, ties to the smaller
    label, self-excluded) computed over the MULTIPROBE candidate set
    (j57's derivation: 2^bits ≈ √N hyperplane cells, own cell +
    Hamming-1 ring) instead of the exhaustive N×Q scan.

    ``queries`` is (query_id, v); ``corpus`` is (vec_id, label, v).
    Unlike ``multiprobe_probe`` (small fixed panels, broadcast probes),
    the query side here can be a whole working table, so the candidate
    join is a plain equality join on the probe cell — both sides
    shuffle once by cell, cells are ~√N-balanced by construction, and
    nothing is broadcast or all-pairs.  The recall contract is j57's:
    a true neighbour further than Hamming-1 from the query's cell is
    not a candidate."""
    top = rerank_topk(_knn_label_candidates(queries, corpus), k)
    return majority_vote(top).select(
        "query_id", F.col("label").alias("label_pred"), "n_votes"
    )


def _j64_oracle(lo: int = 0, hi: int = 20) -> str:
    """j64's referee: j57's plane/bit replay + j10's vote semantics —
    5-NN among Hamming<=1 candidates, majority label, ties to the
    smaller label, exhaustively recomputed."""
    return f"""
WITH e AS (SELECT vec_id, label, {_SQL_E} AS v FROM embeddings),
{_J57_SQL_NB},
sig AS (SELECT vec_id, label, v, [{_J57_SQL_SIGNS}] AS s FROM e),
q AS (SELECT vec_id, v, s FROM sig
      WHERE vec_id >= {lo} AND vec_id < {hi}),
nn AS (
  SELECT query_id, label FROM (
    SELECT q.vec_id AS query_id, x.label,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_cos('q.v', 'x.v')} DESC, x.vec_id) AS rn
    FROM q CROSS JOIN nb CROSS JOIN sig x
    WHERE x.vec_id <> q.vec_id
      AND len(list_filter(range(1, nb.bits + 1), i -> q.s[i] <> x.s[i])) <= 1
  ) WHERE rn <= 5
),
votes AS (SELECT query_id, label, COUNT(*) AS n_votes
          FROM nn GROUP BY query_id, label)
SELECT query_id, label AS label_pred, n_votes FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY n_votes DESC, label) AS r
  FROM votes
) WHERE r = 1
"""


@register("j64_knn_label_ann", oracle=_j64_oracle())
def j64_knn_label_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j64 (extension): the ``knn_label`` route step's engine as a
    gate-attested query — 5-NN majority-label classification for the
    [0,20) panel over the multiprobe candidate set (j57 cells,
    Hamming<=1 probing, exact-cosine re-rank, j10 vote semantics).
    The oracle replays planes, bit derivation, candidate filter and
    vote exhaustively.  Delegates to ``knn_label_multiprobe``."""
    e = _vectors(spark, sf_dir, "label")
    q = e.filter((F.col("vec_id") >= 0) & (F.col("vec_id") < 20)).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    return knn_label_multiprobe(q, e, k=5)


def _exact_cos_py(x, y) -> float:
    """Python replica of functions.vectors.cosine's SEQUENTIAL fold —
    same operation order (per-element multiply, left-fold add, sqrt,
    one divide), so it produces the bit-identical IEEE double and can
    adjudicate BLAS near-ties exactly (the j44 cell_pairs precedent)."""
    import math

    d = 0.0
    for t in range(len(x)):
        d += x[t] * y[t]
    dx = 0.0
    for t in range(len(x)):
        dx += x[t] * x[t]
    dy = 0.0
    for t in range(len(y)):
        dy += y[t] * y[t]
    return d / (math.sqrt(dx) * math.sqrt(dy))


_KNN_LABEL_EPS = 1e-9


def knn_label_multiprobe_fast(
    queries: DataFrame, corpus: DataFrame, k: int = 5, eps: float = _KNN_LABEL_EPS
) -> DataFrame:
    """``knn_label_multiprobe``'s Arrow-reranked PERFORMANCE twin —
    identical candidate derivation (shared ``_knn_label_candidates``,
    so the twins cannot drift), but the per-candidate exact-cosine
    fold + full per-query window sort is replaced by a numpy cosine
    per Arrow batch with LOCAL top-k banding, and only the (provably
    narrow) rank-k boundary is re-adjudicated with the bit-exact
    sequential fold.  At the measured 20k-working-table decade the
    interpreted fold over ~78-234M candidates is the wall (BASELINE.md
    round 12); BLAS per batch is the same FLOPs at a fraction of the
    constant, and the JVM-side windows see only (batches × ~k) rows
    per query instead of every candidate.

    Decision-identity argument, written down (the release is top-k SET
    membership — j10's vote ignores order within the k):  let δ bound
    |numpy SIMD cosine − sequential-fold cosine| per candidate (64-dim
    float64: δ ≤ ~1e-13; ``eps`` = 1e-9 is 10⁴× wider).  Per batch we
    keep every row with cos_np ≥ (batch k-th cos_np) − eps.  A row of
    the GLOBAL fold top-k dropped locally would need k strictly-better
    rows in its own batch (each > it by more than eps > 2δ, so better
    under the fold too) — contradiction, so the global top-k and every
    row within eps of the global k-th survive banding.  Globally, a
    row with cos_np > kth_np + eps is IN under the fold (at most k−1
    rows exceed kth_np at all); a row with cos_np < kth_np − eps is
    OUT (the k rows at ≥ kth_np all beat it under the fold); only the
    |cos_np − kth_np| ≤ eps band is undecided, and those rows re-join
    the float64 vectors and are ranked by ``_exact_cos_py`` (the
    bit-exact fold replica, the j44 cell_pairs precedent) with the
    contract's vec_id tiebreak.  On organic embeddings the band is
    ~empty (exact cosine ties require planted/duplicated vectors), so
    the re-join prices at ~zero rows — no broadcast hint, AQE
    broadcasts the band side.  Equality with the exact twin is pinned
    in tests on an adversarial planted-tie corpus."""
    import numpy as np
    import pandas as pd

    cand = _knn_label_candidates(queries, corpus)
    label_t = cand.schema["label"].dataType.simpleString()

    def band_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["qv"].to_numpy()).astype(np.float64)
            m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            cos = np.einsum("ij,ij->i", q, m) / (
                np.linalg.norm(q, axis=1) * np.linalg.norm(m, axis=1)
            )
            out = pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    "cos": cos,
                }
            ).sort_values(
                ["query_id", "cos", "vec_id"], ascending=[True, False, True]
            )
            grp = out.groupby("query_id", sort=False)
            size = grp["cos"].transform("size").to_numpy()
            rank = grp.cumcount().to_numpy()
            kth_rows = out[rank == np.minimum(k - 1, size - 1)]
            kth = out["query_id"].map(
                kth_rows.set_index("query_id")["cos"]
            ).to_numpy()
            yield out[out["cos"].to_numpy() >= kth - eps]

    local = cand.select("query_id", "vec_id", "label", "qv", "v").mapInPandas(
        band_topk, f"query_id BIGINT, vec_id BIGINT, label {label_t}, cos DOUBLE"
    )

    wq = Window.partitionBy("query_id")
    w_nn = wq.orderBy(F.col("cos").desc(), F.col("vec_id"))
    ranked = (
        local.withColumn("rn", F.row_number().over(w_nn))
        .withColumn("cnt", F.count(F.lit(1)).over(wq))
        .withColumn(
            "kth_cos",
            F.max(
                F.when(
                    F.col("rn") == F.least(F.lit(k), F.col("cnt")), F.col("cos")
                )
            ).over(wq),
        )
        .localCheckpoint(eager=False)  # read twice: sure branch + boundary branch
    )
    sure = ranked.filter(F.col("cos") > F.col("kth_cos") + eps)
    n_sure = sure.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_sure"))
    boundary = ranked.filter(
        (F.col("cos") >= F.col("kth_cos") - eps)
        & (F.col("cos") <= F.col("kth_cos") + eps)
    ).select("query_id", "vec_id", "label")

    def fold64(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = pdf[["query_id", "vec_id", "label"]].copy()
            out["cos_ex"] = [
                _exact_cos_py(q, c) for q, c in zip(pdf["qv"], pdf["cv"])
            ]
            yield out

    # The float64 boundary lookups carry NO broadcast hint: the band
    # side is ~empty by construction, AQE broadcasts THAT (the
    # pair_verify_f32_screen precedent).
    adj = (
        boundary.join(queries.select("query_id", F.col("v").alias("qv")), "query_id")
        .join(corpus.select("vec_id", F.col("v").alias("cv")), "vec_id")
        .mapInPandas(
            fold64,
            f"query_id BIGINT, vec_id BIGINT, label {label_t}, cos_ex DOUBLE",
        )
    )
    w_b = Window.partitionBy("query_id").orderBy(
        F.col("cos_ex").desc(), F.col("vec_id")
    )
    band_kept = (
        adj.join(n_sure, "query_id", "left")
        .withColumn("rb", F.row_number().over(w_b))
        .filter(F.col("rb") <= F.lit(k) - F.coalesce(F.col("n_sure"), F.lit(0)))
        .select("query_id", "label")
    )
    topk = sure.select("query_id", "label").unionByName(band_kept)
    return majority_vote(topk).select(
        "query_id", F.col("label").alias("label_pred"), "n_votes"
    )


@register("j64b_knn_label_ann_fast", oracle=_j64_oracle())
def j64b_knn_label_ann_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j64b (extension): j64's Arrow-reranked twin as a gate-attested
    query — the SAME [0,20) panel, candidate set and vote semantics,
    computed by ``knn_label_multiprobe_fast`` (numpy batch cosine,
    rank-k boundary re-adjudicated with the bit-exact fold), so it
    carries j64's exhaustive oracle verbatim: the release is
    decision-identical by the engine's written eps argument, and the
    gate attests the fast path end-to-end (the j9d precedent)."""
    e = _vectors(spark, sf_dir, "label")
    q = e.filter((F.col("vec_id") >= 0) & (F.col("vec_id") < 20)).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    return knn_label_multiprobe_fast(q, e, k=5)


@register("j44b_semdedup_fast", oracle=_J44_ORACLE)
def j44b_semdedup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j44b (extension): j44's contract and engine under a second
    registered name."""
    return semdedup_release(_semdedup_assign(_j44_corpus(spark, sf_dir)))


# --- j43b: convergence-driven Lloyd ------------------------------------------


@register(
    "j43b_kmeans_converged",
    # Release-invariant oracle (p1b's exact-value + boolean-claim
    # pattern): the round count is data-dependent so the oracle cannot
    # replay the loop; it pins the exact corpus size and the claims the
    # release must satisfy — the loop CONVERGED under the cap, all k
    # seeded clusters SURVIVED every round and are non-empty in the
    # final assignment, and the per-cluster counts sum back to the
    # corpus size.  An unconverged run, a silently-shrunk k, an empty
    # final cluster, or a member-accounting leak mismatches the oracle.
    oracle=f"""
SELECT (SELECT COUNT(*) FROM embeddings) AS n_vectors,
       CAST({_KM_K} AS BIGINT) AS k_seeds,
       CAST({_KM_K} AS BIGINT) AS n_clusters_final,
       TRUE AS converged,
       FALSE AS saw_cluster_loss,
       TRUE AS members_accounted
""",
)
def j43b_kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j43b (extension): j43's k-means iterated to a fixpoint — the
    same Lloyd loop (``_km_fit_arrow``: lowest surviving vec_id seeds,
    argmax-cosine assignment with ties to the lower cluster id,
    order-independent quantized-mean centroids) in its converge mode:
    until the max cluster L1 centroid movement is <= 10 micro-units
    (cap 60 rounds), instead of j43's fixed 2 rounds.

    SPHERICAL Lloyd: the corpus is unit-normalized once up front, so
    cosine assignment + mean update is the textbook spherical k-means
    step whose objective sum_i cos(v_i, c_a(i)) is monotone
    non-decreasing — both half-steps maximize it — and the loop
    terminates at an assignment fixpoint.  (On raw vectors the two
    half-steps optimize DIFFERENT objectives and assignments can
    2-cycle forever, observed on this very corpus.)

    Scale: per round = one map-side Arrow pass over N rows (assign +
    partial sums) + one (k x 64)-row aggregate + its collect; driver
    state is O(k x dims); rounds are data-bounded by the fixpoint
    (observed 15 / 19 / 35 at sf0.001 / 0.01 / 0.1).  At 100 TB the same
    loop holds: centroids always fit a broadcast."""
    e = _vectors(spark, sf_dir)
    unit = e.withColumn("v", F.transform("v", lambda x: x / norm(F.col("v"))))
    assign, cents, converged, _rounds, saw_loss = _km_fit_arrow(
        unit.localCheckpoint(eager=True), converge=True
    )
    n_vectors = e.count()
    # Falsifiable accounting (ADVICE r6 — "every row gets a cl via
    # withColumn" is vacuous): per-cluster counts must (a) cover
    # EXACTLY the surviving centroid ids — no stray id, no empty final
    # cluster — and (b) sum back to the pre-normalization corpus count
    # (the localCheckpoint + unit-normalize pipeline dropped no rows).
    counts = {
        r["cl"]: r["n"]
        for r in assign.groupBy("cl").agg(F.count("*").alias("n")).collect()
    }
    surviving = {r["cl"] for r in cents}
    members_accounted = (
        set(counts) == surviving
        and all(n > 0 for n in counts.values())
        and sum(counts.values()) == n_vectors
    )
    return spark.range(1).select(
        F.lit(n_vectors).cast("long").alias("n_vectors"),
        F.lit(_KM_K).cast("long").alias("k_seeds"),
        F.lit(len(surviving)).cast("long").alias("n_clusters_final"),
        F.lit(bool(converged)).alias("converged"),
        F.lit(bool(saw_loss)).alias("saw_cluster_loss"),
        F.lit(bool(members_accounted)).alias("members_accounted"),
    )
