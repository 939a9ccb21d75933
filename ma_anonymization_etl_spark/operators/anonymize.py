"""Anonymization operator library — SURVEY.md §2 group I, the reference's
core domain (statistical disclosure control: pseudonymization,
suppression, generalization, perturbation, k-anonymity and friends —
Sweeney 2002, LeFevre 2006, Machanavajjhala 2007, Li 2007, Dwork 2006).

Every operator is a pure ``DataFrame -> DataFrame`` (or ``-> Column``)
transform built from native expressions, so the whole pipeline stays
inside Catalyst/whole-stage codegen and predicate pushdown survives
around it.  Demo queries + oracle SQL live in ``anonymize_queries``;
the config-driven composer (i23) in ``plans.pipeline``.

Scale notes: the only shuffles introduced are groupBys on the
quasi-identifier (QI) columns — exactly the equivalence-class semantics
k-anonymity needs; everything else is map-side.  Seeded randomness
(`F.rand(seed)`) is per-partition deterministic: pin partitioning
(`repartition(n, key)`) before seeded ops if bit-reproducibility across
cluster sizes matters (SURVEY §4).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Pseudonymization & masking (i2-i5)
# ---------------------------------------------------------------------------


def pseudonymize_sha2(col: Column | str, salt: str = "") -> Column:
    """i2: deterministic surrogate via salted SHA-256.  Same input → same
    token, so referential integrity (joins) survives anonymization."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(F.concat(F.lit(salt), c.cast("string")), 256)


def pseudonymize_md5(col: Column | str) -> Column:
    """i3: compact legacy surrogate (md5)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("string"))


def tokenize_consistent(
    df: DataFrame, col: str, out: str, max_cardinality: int = 10_000_000
) -> DataFrame:
    """i4: dense integer surrogate keys (smallest value → 1).

    The rank window runs over *distinct values only*, not the full
    table, and the full table gets the token via a broadcast join — so
    no global sort of the fact data at scale.  But "distinct is small"
    is a CARDINALITY-CONDITIONAL claim (round-7 review): it holds for
    the QI/category columns dense ranks exist for, and fails exactly
    when someone points i4 at a direct identifier, where distinct ≈
    rows, the rank window is O(n) on ONE task, and the broadcast ships
    an O(n) mapping to every executor.  ``max_cardinality`` makes the
    contract explicit: above it (default 10M — roughly where a 2-column
    broadcast stops being a broadcast) this raises with a pointer to
    ``pseudonymize_sha2`` (i2), which gives per-row surrogates with NO
    distinct, NO window, and NO broadcast — the right tool for
    direct-identifier columns.  Pass ``max_cardinality=None`` only when
    dense 1..K tokens are a hard requirement and the caller accepts the
    single-task rank.
    """
    vals = df.select(col).distinct()
    if max_cardinality is not None:
        n = vals.limit(int(max_cardinality) + 1).count()
        if n > int(max_cardinality):
            raise ValueError(
                f"tokenize_consistent({col!r}): > {max_cardinality:,} distinct "
                "values — a dense-rank surrogate would single-task the rank "
                "window and broadcast an O(n) mapping.  Use pseudonymize_sha2 "
                "(i2) for high-cardinality / direct-identifier columns, or "
                "pass max_cardinality=None to accept the cost explicitly."
            )
    mapping = vals.withColumn(out, F.dense_rank().over(Window.orderBy(col)))
    return df.join(F.broadcast(mapping), on=col, how="left")


def mask_partial(col: Column | str, keep_last: int = 4, mask_char: str = "*") -> Column:
    """i5: partial masking — 'Customer#0001' → '*********0001'.  Strings
    shorter than keep_last pass through whole (mirrors SQL right());
    negative-start substring semantics differ across engines, so the
    short case is branched explicitly."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(c) <= keep_last, c).otherwise(
        F.concat(
            F.repeat(F.lit(mask_char), F.length(c) - keep_last),
            F.substring(c, -keep_last, keep_last),
        )
    )


# ---------------------------------------------------------------------------
# Suppression (i6-i7)
# ---------------------------------------------------------------------------


def suppress_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """i6: remove direct identifiers entirely."""
    return df.drop(*cols)


def null_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """i6 (schema-preserving variant): null direct identifiers in place."""
    out = df
    for c in cols:
        out = out.withColumn(c, F.lit(None).cast(df.schema[c].dataType))
    return out


def suppress_rows_if(df: DataFrame, pred: Column) -> DataFrame:
    """i7: drop rows matching a predicate (outliers, small cells)."""
    return df.filter(~pred)


def suppress_cell_if(df: DataFrame, col: str, pred: Column) -> DataFrame:
    """i7: null a single cell where the predicate holds."""
    return df.withColumn(col, F.when(pred, F.lit(None)).otherwise(F.col(col)))


# ---------------------------------------------------------------------------
# Generalization (i8-i11)
# ---------------------------------------------------------------------------


def generalize_numeric(col: Column | str, width: float) -> Column:
    """i8: bin to fixed width — floor(x/w)*w; handles negatives (floor
    rounds toward -inf consistently in Spark and DuckDB)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c / width) * width


def generalize_range_label(col: Column | str, width: int) -> Column:
    """i9: human-readable band '[500,600)'.  Bounds rendered as BIGINT —
    double→string rendering differs across engines, integers don't."""
    c = F.col(col) if isinstance(col, str) else col
    lo = (F.floor(c / width) * width).cast("bigint")
    return F.concat(
        F.lit("["), lo.cast("string"), F.lit(","), (lo + width).cast("string"), F.lit(")")
    )


def generalize_date(col: Column | str, unit: str = "month") -> Column:
    """i10: truncate timestamps to month/year/etc."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_trunc(unit, c)


def generalize_hierarchy(
    df: DataFrame, col: str, hier: DataFrame, key_col: str, parent_col: str, out: str
) -> DataFrame:
    """i11: replace a value with its ancestor in a hierarchy table
    (e.g. nation → region) via broadcast join."""
    mapping = hier.select(F.col(key_col), F.col(parent_col).alias(out))
    return df.join(F.broadcast(mapping), df[col] == mapping[key_col], "left").drop(key_col)


# ---------------------------------------------------------------------------
# Statistical protection (i12-i15)
# ---------------------------------------------------------------------------


def top_bottom_code(df: DataFrame, col: str, p_lo: float = 0.05, p_hi: float = 0.95,
                    out: str | None = None) -> DataFrame:
    """i12: clamp tails to percentiles (outlier re-identification guard).

    The two exact percentiles are a 1-row aggregate cross-joined back —
    Spark broadcasts the scalar, so this is two passes, no repartition.
    """
    out = out or col
    bounds = df.agg(
        F.percentile(col, F.lit(p_lo)).alias("__lo"),
        F.percentile(col, F.lit(p_hi)).alias("__hi"),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(out, F.least(F.greatest(F.col(col), F.col("__lo")), F.col("__hi")))
        .drop("__lo", "__hi")
    )


def perturb_uniform(col: Column | str, scale: float, seed: int) -> Column:
    """i13: additive uniform noise in [-scale/2, +scale/2), seeded."""
    c = F.col(col) if isinstance(col, str) else col
    return c + (F.rand(seed) - 0.5) * scale


def perturb_laplace(col: Column | str, epsilon: float, sensitivity: float, seed: int,
                    uniform: Column | None = None) -> Column:
    """i14: Laplace(b = sensitivity/epsilon) noise via inverse-CDF over a
    seeded uniform — closed form, no UDF (Dwork 2006 DP mechanism).

    ``uniform`` overrides the seeded U[0,1) draw (tests inject boundary
    values; production callers leave it None).
    """
    c = F.col(col) if isinstance(col, str) else col
    b = sensitivity / epsilon
    # Clamp the uniform away from the tails: u = ±0.5 would make the
    # log argument 0 and the noise ±inf.  1e-12 bounds |noise| at ~27.6b.
    u = F.greatest(
        F.lit(-0.5 + 1e-12),
        F.least(F.lit(0.5 - 1e-12), (uniform if uniform is not None else F.rand(seed)) - 0.5),
    )
    noise = -b * F.signum(u) * F.log(1 - 2 * F.abs(u))
    return c + noise


def swap_within_group(df: DataFrame, col: str, group_cols: Sequence[str], seed: int) -> DataFrame:
    """i15: permute a sensitive column among rows of the same group
    (rank-matching two independent seeded shuffles).  Per-group value
    multisets are preserved exactly; the row↔value pairing is destroyed.
    """
    gcols = list(group_cols)
    w1 = Window.partitionBy(*gcols).orderBy(F.rand(seed))
    w2 = Window.partitionBy(*gcols).orderBy(F.rand(seed + 1))
    left = df.withColumn("__rn", F.row_number().over(w1))
    donors = (
        df.select(*gcols, F.col(col).alias("__swapped"))
        .withColumn("__rn", F.row_number().over(w2))
    )
    return (
        left.join(donors, on=gcols + ["__rn"])
        .drop("__rn")
        .withColumn(col, F.col("__swapped"))
        .drop("__swapped")
    )


# ---------------------------------------------------------------------------
# k-anonymity family (i16-i21)
# ---------------------------------------------------------------------------


def class_sizes(df: DataFrame, qis: Sequence[str]) -> DataFrame:
    """Equivalence classes = GROUP BY the quasi-identifiers (the single
    most load-bearing Spark mapping of SDC — SURVEY §1.4)."""
    return df.groupBy(*qis).agg(F.count("*").alias("class_size"))


def k_anonymity_metric(df: DataFrame, qis: Sequence[str]) -> DataFrame:
    """i16: 1-row frame — k (min class size) and the class count."""
    return class_sizes(df, qis).agg(
        F.min("class_size").alias("k_anonymity"),
        F.count("*").alias("n_classes"),
    )


def k_enforce_suppress(df: DataFrame, qis: Sequence[str], k: int) -> DataFrame:
    """i17: drop every row whose equivalence class is smaller than k —
    one window count over the QI partition, no join-back needed."""
    w = Window.partitionBy(*qis)
    return (
        df.withColumn("__cnt", F.count("*").over(w))
        .filter(F.col("__cnt") >= k)
        .drop("__cnt")
    )


def k_enforce_generalize(
    df: DataFrame, qis: Sequence[str], k: int,
    ladder: Sequence[tuple[str, Column]], generalized_col: str,
):
    """i18: full-domain generalization — walk a coarsening ladder
    (level 0 = finest) until every class has ≥ k rows; returns
    ``(df_with_generalized_col_and_level, level_index)``.  The loop runs
    driver-side but each step is one distributed groupBy; at most
    len(ladder) passes (Samarati/Sweeney full-domain generalization).
    """
    other_qis = list(qis)
    chosen = len(ladder) - 1  # fallback: coarsest
    for i, (_, expr) in enumerate(ladder):
        staged = df.withColumn(generalized_col, expr)
        k_now = (
            class_sizes(staged, other_qis + [generalized_col])
            .agg(F.min("class_size"))
            .collect()[0][0]
        )
        if k_now is not None and k_now >= k:
            chosen = i
            break
    name, expr = ladder[chosen]
    out = df.withColumn(generalized_col, expr).withColumn(
        "gen_level", F.lit(chosen).cast("int")
    )
    return out, chosen


def l_diversity_metric(df: DataFrame, qis: Sequence[str], sa: str) -> DataFrame:
    """i19: distinct sensitive-attribute values per equivalence class."""
    return df.groupBy(*qis).agg(F.countDistinct(sa).alias("l_diversity"))


def l_diversity_enforce(df: DataFrame, qis: Sequence[str], sa: str, l: int) -> DataFrame:
    """i19: keep only rows in classes with ≥ l distinct SA values.
    COUNT(DISTINCT) over a window isn't portable — grouped subquery +
    join back on the QIs (broadcast when classes are few)."""
    ok = (
        l_diversity_metric(df, qis, sa)
        .filter(F.col("l_diversity") >= l)
        .select(*qis)
    )
    return df.join(ok, on=list(qis), how="left_semi")


def t_closeness_metric(df: DataFrame, qis: Sequence[str], sa: str) -> DataFrame:
    """i20: per-class total-variation distance between the class SA
    distribution and the global SA distribution (categorical EMD —
    Li 2007).  Three aggregates + one join, all on small grouped data."""
    gcols = list(qis)
    total = df.count()
    # NULL is a legitimate SA value: join null-safely so NULL-SA cells
    # keep their global mass instead of silently dropping out (they are
    # counted in n_class either way, so an equi-join understates TVD).
    global_dist = (
        df.groupBy(sa).agg((F.count("*") / total).alias("p_global"))
        .withColumnRenamed(sa, "__sa_g")
    )
    cls_tot = df.groupBy(*gcols).agg(F.count("*").alias("n_class"))
    cls_dist = df.groupBy(*gcols, sa).agg(F.count("*").alias("n_cell"))
    joined = (
        cls_dist.join(cls_tot, on=gcols)
        .join(global_dist, on=F.col(sa).eqNullSafe(F.col("__sa_g")))
        .drop("__sa_g")
        .withColumn("p_class", F.col("n_cell") / F.col("n_class"))
    )
    # NB: SA values absent from a class contribute p_global/2 each; the
    # sum over present values of |p_class - p_global| plus absent mass
    # equals the TVD.  Compute via sum(|pc-pg|) + (1 - sum(pg present))
    # folded into one pass: TVD = 0.5 * (Σ|pc-pg| + Σ_absent pg), and
    # Σ_absent pg = 1 - Σ_present pg.
    return (
        joined.groupBy(*gcols)
        .agg(
            F.round(
                0.5
                * (
                    F.sum(F.abs(F.col("p_class") - F.col("p_global")))
                    + (1 - F.sum("p_global"))
                ),
                6,
            ).alias("t_closeness")
        )
    )


def utility_metrics(df: DataFrame, qis: Sequence[str], k: int) -> DataFrame:
    """i24 (extension): utility/information-loss report for an
    anonymized release — class count, average equivalence class size,
    the discernibility metric Σ|class|² (Bayardo & Agrawal, ICDE 2005),
    and C_avg = (n/#classes)/k (normalized average class size; 1.0 is
    the k-anonymity optimum).  One grouped pass + a 1-row aggregate."""
    sizes = class_sizes(df, qis)
    return sizes.agg(
        F.count("*").alias("n_classes"),
        F.round(F.avg("class_size"), 4).alias("avg_class_size"),
        F.sum(F.col("class_size") * F.col("class_size")).alias("discernibility"),
        F.round((F.sum("class_size") / F.count("*")) / k, 4).alias("c_avg"),
    )


def uniqueness_risk(df: DataFrame, qis: Sequence[str]) -> DataFrame:
    """i21: re-identification risk report — share of singleton classes
    and share of rows that are unique on the QIs (1-row frame)."""
    sizes = class_sizes(df, qis)
    return sizes.agg(
        (F.sum(F.when(F.col("class_size") == 1, 1).otherwise(0)) / F.count("*")).alias(
            "frac_singleton_classes"
        ),
        (
            F.sum(F.when(F.col("class_size") == 1, 1).otherwise(0))
            / F.sum("class_size")
        ).alias("frac_unique_rows"),
    )


# ---------------------------------------------------------------------------
# Mondrian multidimensional k-anonymity (i22, stretch)
# ---------------------------------------------------------------------------


def mondrian_kanon(df: DataFrame, qis: Sequence[str], k: int, max_depth: int = 16) -> DataFrame:
    """i22: multidimensional k-anonymity via recursive median splits
    (LeFevre, ICDE 2006 — strict partitioning variant, widest-dimension
    cut selection per §choose_dimension).

    Distributed shape: the *data* never leaves the cluster; each level
    runs ONE stats job covering ALL dimensions — rows melt to
    (pid, dim, value) pairs with map-side partial agg, a cumulative-count
    window over the (much smaller) histogram yields per (pid, dim) the
    exact lower-median, left-side count, and value range together, so the
    "allowable cut" check (median ties can leave one side < k) needs no
    second pass.  Only O(#live partitions × #dims) rows reach the driver,
    which picks per partition the allowable dim with the widest
    *normalized* span and re-broadcasts the split decisions.  Every
    splittable partition advances every level, so the loop converges in
    ~log2(n/k) levels independent of #dims (a round-robin dim schedule
    needs up to #dims× that) and terminates exactly when no partition has
    an allowable cut on ANY dimension.  At most ``max_depth`` passes.

    Returns the input rows + ``mondrian_pid`` plus per-partition
    ``<qi>_lo / <qi>_hi`` range columns (the generalized output).
    """
    qis = list(qis)
    out = df.withColumn("mondrian_pid", F.lit(0).cast("long"))
    # Global per-dim spans (one job, up front): widths normalize to
    # [0,1] so "widest dim" is scale-free across heterogeneous QIs.
    g = df.agg(
        *[F.min(F.col(q).cast("double")).alias(f"{q}_lo") for q in qis],
        *[F.max(F.col(q).cast("double")).alias(f"{q}_hi") for q in qis],
    ).first()
    span = {q: max((g[f"{q}_hi"] or 0.0) - (g[f"{q}_lo"] or 0.0), 1e-12) for q in qis}

    melted = F.explode(
        F.array(
            *[
                F.struct(F.lit(q).alias("dim"), F.col(q).cast("double").alias("val"))
                for q in qis
            ]
        )
    ).alias("dv")
    live: list | None = None  # None = level 0, every pid unresolved
    for _depth in range(max_depth):
        # A pid with no allowable cut can never split again, so only the
        # children of last level's splits are worth re-measuring: filter
        # them BEFORE the melt and the stats shuffle stops carrying
        # finished partitions (at convergence that's most of the data).
        src = out if live is None else out.filter(F.col("mondrian_pid").isin(live))
        vc = (
            src.select("mondrian_pid", melted)
            .select("mondrian_pid", "dv.dim", "dv.val")
            .groupBy("mondrian_pid", "dim", "val")
            .agg(F.count("*").alias("cnt"))
        )
        wo = (
            Window.partitionBy("mondrian_pid", "dim")
            .orderBy("val")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wp = Window.partitionBy("mondrian_pid", "dim")
        cum = (
            vc.withColumn("cum", F.sum("cnt").over(wo))
            .withColumn("n", F.sum("cnt").over(wp))
            .withColumn("lo", F.min("val").over(wp))
            .withColumn("hi", F.max("val").over(wp))
        )
        # Lower median = smallest value whose cumulative count reaches n/2;
        # its cum IS count(val <= med), exact even under heavy ties.
        stats = (
            cum.filter(F.col("cum") * 2 >= F.col("n"))
            .groupBy("mondrian_pid", "dim")
            .agg(
                F.min("val").alias("med"),
                F.min_by("cum", "val").alias("n_le"),
                F.max("n").alias("n"),
                F.max("lo").alias("lo"),
                F.max("hi").alias("hi"),
            )
            .collect()
        )
        best: dict = {}
        for r in stats:
            if r["n_le"] >= k and r["n"] - r["n_le"] >= k:
                width = (r["hi"] - r["lo"]) / span[r["dim"]]
                cur = best.get(r["mondrian_pid"])
                if cur is None or (width, cur[1]) > (cur[0], r["dim"]):
                    best[r["mondrian_pid"]] = (width, r["dim"], float(r["med"]))
        if not best:
            break
        live = [c for pid in best for c in (pid * 2 + 1, pid * 2 + 2)]
        # Round 13: the split decisions are applied as FOLDABLE MAP
        # LITERALS (pid -> med, pid -> dim) instead of a broadcast join
        # against a createDataFrame table.  The profiled join form
        # paid, per level, a defaultParallelism-task Python-deserialize
        # job just to build the broadcast (createDataFrame of a driver
        # list parallelizes it), plus the BroadcastExchange and the
        # join itself — all to look up <= |live pids| (dim, med) pairs
        # the driver already holds.  create_map over literals constant-
        # folds to one MapData literal, so the projection's expression
        # tree stays O(|qis|) at every depth (a flat WHEN chain was
        # tried first and blew up codegen at deep levels: i22's level-9
        # ~300-branch CASE tripled its wall).  Lookup semantics mirror
        # the join exactly: try_element_at yields NULL for non-splitting
        # pids on every ANSI setting, which keeps their pid unchanged.
        pid = F.col("mondrian_pid")
        med_map = F.create_map(
            *[
                x
                for p, (_, _d, m) in best.items()
                for x in (F.lit(p).cast("long"), F.lit(float(m)))
            ]
        )
        dim_map = F.create_map(
            *[
                x
                for p, (_, d, _m) in best.items()
                for x in (F.lit(p).cast("long"), F.lit(d))
            ]
        )
        med = F.try_element_at(med_map, pid)
        dim = F.try_element_at(dim_map, pid)
        gt = F.lit(False)
        for q in qis:
            gt = gt | ((dim == q) & (F.col(q).cast("double") > med))
        out = out.withColumn(
            "mondrian_pid",
            F.when(dim.isNotNull() & gt, pid * 2 + 2)
            .when(dim.isNotNull(), pid * 2 + 1)
            .otherwise(pid),
        )
        # Iterative algorithm: truncate the lineage each level, or every
        # later collect recomputes the whole join chain from the scan
        # (on a real cluster use reliable checkpoint(); localCheckpoint
        # stores to executor storage).  Lazy: materializes with the next
        # level's stats job instead of spending a dedicated job.
        out = out.localCheckpoint(eager=False)
    return _attach_ranges(out, qis)


def _attach_ranges(out: DataFrame, qis: Sequence[str]) -> DataFrame:
    """Per-partition QI [lo,hi] ranges — the generalized representation.
    One select (round 13): the former per-qi withColumn chain re-analyzed
    the whole accumulated plan 2·|qis| times."""
    w = Window.partitionBy("mondrian_pid")
    range_cols = []
    for q in qis:
        range_cols.append(F.min(q).over(w).alias(f"{q}_lo"))
        range_cols.append(F.max(q).over(w).alias(f"{q}_hi"))
    return out.select("*", *range_cols)


def mondrian_range_labels(out: DataFrame, qis: Sequence[str]) -> DataFrame:
    """Closed-form i9-style labels '[lo,hi]' from the Mondrian range
    columns — the publishable generalized QI values."""
    for q in qis:
        out = out.withColumn(
            f"{q}_range",
            F.concat(
                F.lit("["),
                F.col(f"{q}_lo").cast("string"),
                F.lit(","),
                F.col(f"{q}_hi").cast("string"),
                F.lit("]"),
            ),
        )
    return out


def mondrian_kanon_relaxed(
    df: DataFrame, qis: Sequence[str], k: int, max_depth: int = 32
) -> DataFrame:
    """i22 (relaxed partitioning, LeFevre ICDE 2006 §relaxed): split by
    balanced *rank* instead of median value — ties on the split dimension
    may land on either side, so every partition with n ≥ 2k is always
    splittable and final class sizes sit in [k, 2k-1].

    Distributed shape: because sides are exactly ⌊n/2⌋/⌈n/2⌉, the whole
    recursion's partition sizes are computable driver-side from the
    single initial count — ZERO per-level stats jobs (vs one for strict).
    Each level is a rank window keyed by the current pid; the chain
    executes as one job with one shuffle per level.  The rank tie-break
    is a row hash, so the assignment is deterministic for a given input.

    Scale caveat: the first levels have few pids, so their rank windows
    concentrate data (level 0 is one partition — Spark will warn).  At
    100 TB, run strict Mondrian (broadcast median splits, fully parallel)
    for the top ~log2(parallelism) levels, then switch to relaxed within
    the resulting pids; this implementation is the small/medium-partition
    engine of that hybrid."""
    qis = list(qis)
    n0 = df.count()
    # Driver-side size evolution: which pids split at each level.
    sizes = {0: n0}
    levels: list[list[int]] = []
    for _ in range(max_depth):
        live = sorted(p for p, n in sizes.items() if n >= 2 * k)
        if not live:
            break
        levels.append(live)
        nxt: dict[int, int] = {}
        for p, n in sizes.items():
            if n >= 2 * k:
                nxt[2 * p + 1] = n // 2
                nxt[2 * p + 2] = n - n // 2
            else:
                nxt[p] = n
        sizes = nxt
    out = df.withColumn("mondrian_pid", F.lit(0).cast("long")).withColumn(
        "__tb", F.xxhash64(*[F.col(c) for c in df.columns])
    )
    for depth, live in enumerate(levels):
        dim = qis[depth % len(qis)]
        w = Window.partitionBy("mondrian_pid").orderBy(F.col(dim), F.col("__tb"))
        wp = Window.partitionBy("mondrian_pid")
        # One select per level (round 13): the former withColumn chain
        # re-analyzed the whole accumulated window plan 3x per level.
        # (A driver-side size-map literal in place of the COUNT window
        # was tried and REJECTED: element_at on a ~500-entry folded map
        # per row measured 2.4x slower than the count window — the
        # window shares the rank's exchange+sort and is near-free.)
        new_pid = (
            F.when(~F.col("mondrian_pid").isin(live), F.col("mondrian_pid"))
            .when(
                F.row_number().over(w)
                <= F.floor(F.count("*").over(wp) / 2),
                F.col("mondrian_pid") * 2 + 1,
            )
            .otherwise(F.col("mondrian_pid") * 2 + 2)
        )
        out = out.select(
            *[
                new_pid.alias("mondrian_pid") if c == "mondrian_pid"
                else c
                for c in out.columns
            ]
        )
    return _attach_ranges(out.drop("__tb"), qis)


def mondrian_kanon_hybrid(
    df: DataFrame,
    qis: Sequence[str],
    k: int,
    strict_levels: int = 4,
    max_depth: int = 32,
) -> DataFrame:
    """i22c: the 100 TB Mondrian shape — STRICT median splits for the top
    ``strict_levels`` (fully parallel: per-pid histograms + broadcast
    split decisions, no single-partition windows), then RELAXED
    rank-balanced recursion inside each resulting pid (its windows key on
    thousands of pids, so work spreads across the cluster; sizes in
    [k, 2k-1] wherever a pid is still splittable).

    strict_levels ≈ log2(cluster parallelism) in production: after that
    many levels there are ~2^strict_levels pids — enough keys for the
    relaxed windows to parallelize.
    """
    qis = list(qis)
    # (coarse, local) pid packing: coarse heap ids need strict_levels+1
    # bits, local heap ids after max_depth relaxed levels need
    # max_depth+1 bits — both must fit one signed int64 without the
    # local slot bleeding into the coarse slot.
    local_bits = max_depth + 1
    if (strict_levels + 1) + local_bits > 63:
        raise ValueError(
            f"strict_levels={strict_levels} + max_depth={max_depth} "
            "exceeds the 63-bit pid budget"
        )
    coarse = mondrian_kanon(df, qis, k, max_depth=strict_levels)
    coarse = coarse.drop(*[c for c in coarse.columns if c.endswith(("_lo", "_hi"))])
    coarse = coarse.withColumnRenamed("mondrian_pid", "__coarse_pid")
    # Relaxed recursion within each coarse pid: driver-side size
    # evolution needs per-pid counts — ONE stats job total, then the
    # whole refinement is a single chained-window job.
    sizes = {
        r["__coarse_pid"]: r["n"]
        for r in coarse.groupBy("__coarse_pid").agg(F.count("*").alias("n")).collect()
    }
    # Encode (coarse, local) as coarse * 2^depth_budget + local-heap-id.
    # Track per-coarse local trees independently.
    out = coarse.withColumn("__local", F.lit(0).cast("long")).withColumn(
        "__tb", F.xxhash64(*[F.col(c) for c in df.columns])
    )
    local_sizes: dict[tuple[int, int], int] = {(c, 0): n for c, n in sizes.items()}
    strict_offset = strict_levels % len(qis)
    for depth in range(max_depth):
        dim = qis[(strict_offset + depth) % len(qis)]
        live = sorted(
            {(c, p) for (c, p), n in local_sizes.items() if n >= 2 * k},
            key=lambda t: (t[0], t[1]),
        )
        if not live:
            break
        nxt: dict[tuple[int, int], int] = {}
        live_local_by_coarse: dict[int, set[int]] = {}
        for (c, p), n in local_sizes.items():
            if n >= 2 * k:
                nxt[(c, 2 * p + 1)] = n // 2
                nxt[(c, 2 * p + 2)] = n - n // 2
                live_local_by_coarse.setdefault(c, set()).add(p)
            else:
                nxt[(c, p)] = n
        local_sizes = nxt
        live_keys = [
            c * (1 << local_bits) + p
            for c, ps in live_local_by_coarse.items() for p in ps
        ]
        key_col = F.col("__coarse_pid") * (1 << local_bits) + F.col("__local")
        w = Window.partitionBy("__coarse_pid", "__local").orderBy(F.col(dim), F.col("__tb"))
        wp = Window.partitionBy("__coarse_pid", "__local")
        # One select per level (round 13) — see mondrian_kanon_relaxed
        # (the size-map-literal alternative is rejected there).
        new_local = (
            F.when(~key_col.isin(live_keys), F.col("__local"))
            .when(
                F.row_number().over(w)
                <= F.floor(F.count("*").over(wp) / 2),
                F.col("__local") * 2 + 1,
            )
            .otherwise(F.col("__local") * 2 + 2)
        )
        out = out.select(
            *[
                new_local.alias("__local") if c == "__local" else c
                for c in out.columns
            ]
        )
    out = out.withColumn(
        "mondrian_pid", F.col("__coarse_pid") * (1 << local_bits) + F.col("__local")
    ).drop("__coarse_pid", "__local", "__tb")
    return _attach_ranges(out, qis)


def mondrian_utility_compare(
    df: DataFrame, qis: Sequence[str], k: int
) -> DataFrame:
    """i25: information-loss comparison of strict vs relaxed Mondrian on
    the same input — class-count/size stats plus NCP (normalized
    certainty penalty: mean over rows of avg_qi (hi-lo)/global_range,
    Xu et al. KDD 2006).  Lower NCP = better utility.  The trade-off is
    data-dependent: relaxed guarantees class sizes ≤ 2k-1 and never
    stalls on tied medians, while strict's unbalanced value-splits can
    cut deeper on well-spread dimensions — this report quantifies which
    effect dominates on the given input."""
    qis = list(qis)
    ranges = df.agg(
        *[(F.max(q) - F.min(q)).cast("double").alias(q) for q in qis]
    ).first()
    ncp = sum(
        (F.col(f"{q}_hi") - F.col(f"{q}_lo")).cast("double")
        / F.lit(max(float(ranges[q]), 1e-12))
        for q in qis
    ) / len(qis)

    def summarize(out: DataFrame, mode: str) -> DataFrame:
        # ncp is constant within a class (built from the class's hi/lo),
        # so avg() just reads it; the outer agg re-weights by class size
        # to make avg_ncp the per-TUPLE mean (Xu et al. definition).
        per_class = out.groupBy("mondrian_pid").agg(
            F.count("*").alias("n"), F.avg(ncp).alias("cls_ncp")
        )
        return per_class.agg(
            F.lit(mode).alias("mode"),
            F.count("*").alias("n_classes"),
            F.sum("n").alias("n_rows"),
            F.min("n").alias("min_class_size"),
            F.round(F.avg("n"), 4).alias("avg_class_size"),
            F.round(F.sum(F.col("cls_ncp") * F.col("n")) / F.sum("n"), 6).alias("avg_ncp"),
        )

    strict = summarize(mondrian_kanon(df, qis, k), "strict")
    relaxed = summarize(mondrian_kanon_relaxed(df, qis, k), "relaxed")
    return strict.unionByName(relaxed)


def cell_suppression_release(
    df: DataFrame, qis: Sequence[str], threshold: int = 5
) -> DataFrame:
    """i35: frequency-table release with primary + one-round
    complementary cell suppression (Willenborg & de Waal 2001 ch. 4).
    Cells (one per QI combination) with count < ``threshold`` are
    primary-suppressed; any group over the leading QIs left with
    exactly ONE suppressed cell also loses its smallest remaining cell
    (deterministic tie-break on the last QI), so a published row total
    cannot reconstruct the hidden value.  The complementary guarantee
    applies to groups with ≥ 2 cells; a single-cell group has no cell
    to sacrifice — protecting it requires suppressing the group's
    MARGIN, which is the publisher's row-total policy, not this
    cell-level pass (document it in the release).  Returns the
    publishable table: (*qis, status, published) with published NULL
    where suppressed.

    One aggregate + two windows over the #classes-sized cell table."""
    qis = list(qis)
    lead, last = qis[:-1], qis[-1]
    cells = df.groupBy(*qis).agg(F.count(F.lit(1)).alias("cnt"))
    prim = F.col("cnt") < threshold
    w_grp = Window.partitionBy(*lead)
    w_rn = Window.partitionBy(*lead).orderBy(prim.cast("int"), "cnt", last)
    flagged = (
        cells.withColumn("prim", prim)
        .withColumn("n_prim", F.sum(prim.cast("int")).over(w_grp))
        .withColumn("rn", F.row_number().over(w_rn))
    )
    comp = (~F.col("prim")) & (F.col("n_prim") == 1) & (F.col("rn") == 1)
    return flagged.select(
        *qis,
        F.when(F.col("prim"), "primary")
        .when(comp, "complementary")
        .otherwise("ok")
        .alias("status"),
        F.when(F.col("prim") | comp, F.lit(None).cast("long"))
        .otherwise(F.col("cnt"))
        .alias("published"),
    )


def microaggregate(
    df: DataFrame, cls: str, col: str, tiebreak: str, k: int = 10, out: str | None = None
) -> DataFrame:
    """i40 as a route step: replace ``col`` IN PLACE (or into ``out``)
    with its k-member sorted-group mean within each ``cls`` class —
    every published value becomes shared by ≥ k records.  The trailing
    partial group merges into its predecessor (sizes k..2k−1); the
    grouping is deterministic given a total order (col, tiebreak).

    Precondition enforced: a class with fewer than k members cannot form
    any ≥k-shared group (in the extreme, a singleton's "mean" IS the raw
    value), so its output is SUPPRESSED to NULL rather than published.
    This keeps the rewrite genuinely unconditional — every emitted value
    is either a ≥k-member mean or NULL — which is what cli.py's
    DI-coverage guard assumes when it lists microaggregate among the
    unconditional_rewrites."""
    out = out or col
    w_ord = Window.partitionBy(cls).orderBy(col, tiebreak)
    w_all = Window.partitionBy(cls)
    g = (
        df.withColumn("__rn", F.row_number().over(w_ord))
        .withColumn("__n", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "__grp",
            F.least(F.expr(f"(__rn - 1) div {k}"), F.expr(f"__n div {k} - 1")),
        )
    )
    w_grp = Window.partitionBy(cls, "__grp")
    return (
        g.withColumn(
            out,
            F.when(F.col("__n") >= k, F.avg(col).over(w_grp)),
        )
        .drop("__rn", "__n", "__grp")
    )


def delta_presence(
    population: DataFrame,
    qis: list[str],
    present_col: str,
    dmin: float = 0.2,
    dmax: float = 0.6,
) -> DataFrame:
    """δ-presence audit (Nergiz, Atzori & Clifton, SIGMOD'07): given
    the PUBLIC population table and a boolean ``present_col`` marking
    which individuals a release contains, the adversary's inference
    probability for QI class c is δ(c) = |release ∩ c| / |c| — an
    attacker who knows someone's QIs and the public table learns they
    are in the release with probability δ(c).  The release satisfies
    (δ_min, δ_max)-presence iff every class keeps δ inside the band:
    δ too HIGH pins presence (the k-anonymity-style disclosure), δ too
    LOW pins ABSENCE (the disclosure k-anonymity cannot see — being
    provably absent from, e.g., a disease registry is also sensitive).

    One row per QI class: (qis…, n_pop, n_sample, delta, violates).
    Scale: a single partial-aggregated groupBy over the population —
    O(classes) output, no join, no window."""
    agg = population.groupBy(*qis).agg(
        F.count(F.lit(1)).alias("n_pop"),
        F.sum(F.when(F.col(present_col), 1).otherwise(0))
        .cast("long")
        .alias("n_sample"),
    )
    delta = F.col("n_sample").cast("double") / F.col("n_pop")
    return agg.select(
        *qis,
        "n_pop",
        "n_sample",
        F.round(delta, 6).alias("delta"),
        ((delta < F.lit(float(dmin))) | (delta > F.lit(float(dmax)))).alias("violates"),
    )


def recursive_cl_diversity(
    df: DataFrame,
    qis: list[str],
    sa: str,
    c: float = 2.0,
    l: int = 2,  # noqa: E741 — the paper's parameter name
) -> DataFrame:
    """Recursive (c,l)-diversity audit (Machanavajjhala et al., TKDD'07
    §4.2) — the third member of the l-diversity family next to the
    distinct count (i19) and entropy (i36) checks: sort each QI class's
    sensitive-value frequencies r_1 >= r_2 >= ... >= r_m; the class is
    recursive-(c,l)-diverse iff r_1 < c · (r_l + r_{l+1} + ... + r_m) —
    the most common sensitive value must not dominate even after the
    adversary eliminates the l−1 next-most-common values.  Frequencies
    and the tail sum are exact integers; the single c· comparison is
    one int→double product, identical across engines.

    One row per class: (qis…, n_rows, m_distinct, r1, tail_sum,
    diverse).  Scale: one (QI, SA)-grained partial agg, a window
    PARTITIONED by the class (never global) to rank frequencies, one
    class-grained agg — i19's shuffle shape plus a per-class sort."""
    freq = df.groupBy(*qis, sa).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(*qis).orderBy(F.col("n").desc(), F.col(sa))
    ranked = freq.withColumn("rk", F.row_number().over(w))
    agg = ranked.groupBy(*qis).agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("m_distinct"),
        F.max(F.when(F.col("rk") == 1, F.col("n"))).cast("long").alias("r1"),
        F.coalesce(
            F.sum(F.when(F.col("rk") >= l, F.col("n"))), F.lit(0)
        ).cast("long").alias("tail_sum"),
    )
    return agg.select(
        *qis,
        "n_rows",
        "m_distinct",
        "r1",
        "tail_sum",
        (F.col("r1") < F.lit(float(c)) * F.col("tail_sum")).alias("diverse"),
    )
