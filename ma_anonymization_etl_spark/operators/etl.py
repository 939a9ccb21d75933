"""Warehouse-maintenance ETL operators (group N): MERGE/upsert and SCD2
historization — the write-side primitives an anonymization ETL deploys
around (refresh the cleaned table from a delta feed; keep auditable
history of changing attributes).

Scale shapes:
- merge_upsert is one shuffle join on the merge key (broadcast when the
  delta is small, which is the common nightly-feed case) — never a
  row-at-a-time driver loop.  On a real lakehouse the same plan runs
  under a transactional table format's MERGE; this is the engine
  semantics underneath.
- scd2_historize is two window passes over (key, order) — change
  detection via lag, version numbering via running sum, interval close
  via lead.  Partition-local after one shuffle on the key.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ma_anonymization_etl_spark.registry import register
from ma_anonymization_etl_spark.sources.io import load


def merge_upsert(base: DataFrame, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """MERGE semantics on matching schemas: update rows win on key match,
    unmatched update rows insert, unmatched base rows survive.
    (WHEN MATCHED THEN UPDATE ∪ WHEN NOT MATCHED THEN INSERT.)"""
    keys = list(keys)
    kept = base.join(updates.select(*keys), on=keys, how="left_anti")
    return kept.unionByName(updates)


def scd2_historize(
    snapshots: DataFrame,
    key: str,
    attr: str,
    order_col: str,
    tiebreak: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension build from an append-only
    snapshot/event feed: collapse consecutive runs of the same ``attr``
    per ``key`` into versioned validity intervals
    (valid_from, valid_to, version, is_current)."""
    w = Window.partitionBy(key).orderBy(order_col, tiebreak)
    marked = snapshots.withColumn(
        "__chg",
        F.when(
            ~F.lag(attr).over(w).eqNullSafe(F.col(attr)), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("__version", F.sum("__chg").over(w))
    per_version = marked.groupBy(key, "__version").agg(
        F.first(attr).alias("state"),
        F.min(order_col).alias("valid_from"),
    )
    wv = Window.partitionBy(key).orderBy("__version")
    return (
        per_version.withColumn("valid_to", F.lead("valid_from").over(wv))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(
            key,
            F.col("__version").alias("version"),
            "state",
            "valid_from",
            "valid_to",
            "is_current",
        )
    )


_ORDER_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
)


@register(
    "n1_merge_upsert",
    oracle=f"""
WITH updates AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 100 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT {_ORDER_COLS} FROM updates
UNION ALL
SELECT {_ORDER_COLS} FROM orders
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
""",
)
def n1_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n1: MERGE/upsert — a synthetic delta feed (10% price updates +
    1% inserts under new keys) merged into orders; anti-join keeps
    untouched rows, updates win on key.  +100 not *1.1: identical IEEE
    addition on both engines, no rounding-mode parity risk."""
    o = load(spark, sf_dir, "orders")
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 100)
        .unionByName(
            o.filter(F.col("o_orderkey") % 100 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + 10000000)
            .withColumn("o_orderstatus", F.lit("N"))
        )
    )
    return merge_upsert(o, updates, ["o_orderkey"])


@register(
    "n2_scd2_historize",
    oracle="""
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
  FROM events
), versioned AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
  FROM marked
), per_version AS (
  SELECT user_id, version, MIN(event_type) AS state, MIN(ts) AS valid_from
  FROM versioned GROUP BY user_id, version
)
SELECT user_id, CAST(version AS BIGINT) AS version, state, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL AS is_current
FROM per_version
""",
)
def n2_scd2_historize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n2: SCD2 — the event feed becomes a versioned dimension: runs of
    identical event_type per user collapse to validity intervals; the
    open interval is the current state.  (state = MIN(event_type) in the
    oracle is safe: every row in a version has the same event_type.)"""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    return scd2_historize(e, key="user_id", attr="event_type", order_col="ts", tiebreak="event_id")


def merge_agg_partials(
    partials: Sequence[DataFrame], keys: Sequence[str]
) -> DataFrame:
    """Algebraic-aggregate refresh: union per-partition partial
    aggregates (count + scaled-int64 sum columns) and re-aggregate by
    key.  The shuffle carries only GROUP rows, never the raw inputs —
    at 100 TB the stored base partial is read back (or kept bucketed by
    the key) and only the delta's groups are recomputed, instead of
    rescanning the whole fact table.  Columns other than ``keys`` must
    all be associatively mergeable (counts / scaled-int sums)."""
    keys = list(keys)
    out = partials[0]
    for p in partials[1:]:
        out = out.unionByName(p)
    vals = [c for c in out.columns if c not in keys]
    return out.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in vals])


@register(
    "n3_incremental_agg_refresh",
    oracle="""
SELECT o_custkey, COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 10000) AS BIGINT)) AS DOUBLE)
         / 10000 AS total_spend
FROM orders GROUP BY o_custkey
""",
)
def n3_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n3: incremental refresh of a per-customer aggregate table — the
    fact table splits into a 'stored' base partial (orders before
    1997-01-01) and a 'new' delta partial; merging the partials must
    equal the full recompute (the oracle).  Partials stay scaled-int64
    until the final divide, so the merge is bit-exact and
    order-independent — the property that makes the refresh correct no
    matter how many increments are applied."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 10000).cast("long")).alias("__spend_scaled"),
        )

    cut = "1997-01-01"
    base = partial(o.filter(F.col("o_orderdate") < cut))
    delta = partial(o.filter(F.col("o_orderdate") >= cut))
    merged = merge_agg_partials([base, delta], ["o_custkey"])
    return merged.select(
        "o_custkey",
        "n_orders",
        (F.col("__spend_scaled").cast("double") / 10000).alias("total_spend"),
    )


@register(
    "n5_zorder_layout",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey AS x,
         datediff('day', DATE '1992-01-01', o_orderdate)::BIGINT AS y
  FROM orders
), ranked AS (
  SELECT *, (NTILE(256) OVER (ORDER BY x, o_orderkey) - 1)::BIGINT AS rx,
            (NTILE(256) OVER (ORDER BY y, o_orderkey) - 1)::BIGINT AS ry
  FROM base
), zed AS (
  SELECT *, list_reduce(
    list_prepend(0::BIGINT,
      list_transform(range(0, 8),
        i -> (((rx >> i) & 1) << (2*i)) | (((ry >> i) & 1) << (2*i + 1)))),
    (acc, v) -> acc | v) AS z
  FROM ranked
)
SELECT bucket, COUNT(*) AS n, MIN(x) AS min_cust, MAX(x) AS max_cust,
       MIN(y) AS min_day, MAX(y) AS max_day
FROM (SELECT x, y, NTILE(16) OVER (ORDER BY z, o_orderkey) AS bucket FROM zed)
GROUP BY bucket
""",
)
def n5_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n5: Z-order data layout — interleave the bit planes of the
    256-quantile RANKS of two cluster keys (ranks, not raw values, so
    neither key's width dominates — the Delta OPTIMIZE ZORDER recipe),
    then cut the z-ordered table into 16 buckets and report each
    bucket's min/max per key: the exact footer stats multi-dimensional
    file skipping would prune on.  Locality pinned in tests: both keys'
    average per-bucket range shrinks to ~30-40% of global, where a
    single-key sort leaves the other key at ~100%.

    Scale shape: the deterministic ntile ranks here are the
    oracle-checkable twin of what a cluster runs — approx-quantile
    range partitioning per key for ranks, repartitionByRange(z) +
    sortWithinPartitions(z) for the write, so no global window ever
    materializes on one node."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("x"),
        F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1992-01-01")))
        .cast("long")
        .alias("y"),
    )
    rx = (F.ntile(256).over(Window.orderBy("x", "o_orderkey")) - 1).cast("long")
    ry = (F.ntile(256).over(Window.orderBy("y", "o_orderkey")) - 1).cast("long")
    z = F.expr(
        """aggregate(
  transform(sequence(0, 7),
            i -> shiftleft((rx >> i) & 1, 2*i) | shiftleft((ry >> i) & 1, 2*i + 1)),
  0L, (acc, v) -> acc | v)"""
    )
    return (
        o.withColumn("rx", rx)
        .withColumn("ry", ry)
        .withColumn("z", z)
        .withColumn("bucket", F.ntile(16).over(Window.orderBy("z", "o_orderkey")))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("x").alias("min_cust"),
            F.max("x").alias("max_cust"),
            F.min("y").alias("min_day"),
            F.max("y").alias("max_day"),
        )
    )


@register(
    "n7_dynamic_partition_pruning",
    # Layout is invisible to semantics: the result must equal the plain
    # year-filtered aggregate over the original parquet.  The PLAN claim
    # (a dynamic pruning subquery on the partitioned scan) is pinned by
    # tests/test_plans.py::test_n7_scan_is_dynamically_pruned.
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 10000) AS BIGINT)) AS DOUBLE)
         / 10000 AS sum_price
FROM orders
WHERE year(o_orderdate) BETWEEN 1995 AND 1996
GROUP BY 1
""",
)
def n7_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n7 (extension): dynamic partition pruning — orders written ONCE
    partitioned by order year (hive-style directories under session
    scratch), then joined to a year dimension that is only filtered at
    runtime.  Catalyst broadcasts the filtered dim and injects its key
    set as a partition filter into the fact scan (DynamicPruning
    subquery), so only the 2 matching year directories are read even
    though the fact-side predicate is not statically known.  This is
    THE mechanism that makes star-schema date filters cheap on a
    partitioned 100 TB fact table: pruning happens before I/O, scaling
    with surviving partitions, not table size."""
    from ma_anonymization_etl_spark.sources.io import ensure_staged

    def _write(p: str) -> None:
        (
            load(spark, sf_dir, "orders")
            .withColumn("o_year", F.year("o_orderdate"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(p)
        )

    fact = spark.read.parquet(ensure_staged(spark, "n7_orders_by_year", sf_dir, _write))
    dim = (
        load(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").alias("dim_year"))
        .distinct()
        .filter(F.col("dim_year").between(1995, 1996))
    )
    return (
        fact.join(F.broadcast(dim), fact.o_year == dim.dim_year)
        .groupBy(F.col("o_year").cast("int").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                F.sum(F.floor(F.col("o_totalprice") * 10000).cast("long")).cast("double")
                / 10000
            ).alias("sum_price"),
        )
    )


@register(
    "n6_bucketed_join",
    # Bucketing is storage layout only — the join RESULT must equal the
    # plain join over the original parquet, which is what the oracle
    # computes.  The layout claim itself (SortMergeJoin with ZERO
    # Exchange, bucket-pruned point scans) is pinned by
    # tests/test_bucketing.py.
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 10000) AS BIGINT)) AS DOUBLE)
         / 10000 AS sum_price
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
)
def n6_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n6 (extension): the bucketed fact-fact join — both tables are
    written ONCE bucketed+sorted by the join key (external tables under
    session scratch), after which every orderkey join runs as a
    SortMergeJoin with no Exchange on either side.  This is the 100 TB
    answer to c2's shuffle: pay the distribution at write time, join
    shuffle-free forever after.  The aggregate must equal the plain
    parquet join (bucketing must never change results)."""
    import os

    from ma_anonymization_etl_spark.sources.io import ensure_staged

    def _write(p: str) -> None:
        for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            (
                load(spark, sf_dir, name)
                .write.mode("overwrite")
                .option("path", os.path.join(p, name))
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(f"n6_b_{name}_{os.path.basename(p)}")
            )

    # The staged path ends in stage_key(sf_dir), so the table names carry
    # the sf and one session serves several sfs without a stale layout.
    sfx = os.path.basename(ensure_staged(spark, "n6", sf_dir, _write))
    o = spark.table(f"n6_b_orders_{sfx}").select("o_orderkey", "o_orderpriority")
    li = spark.table(f"n6_b_lineitem_{sfx}").select("l_orderkey", "l_extendedprice")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (
                F.sum(F.floor(F.col("l_extendedprice") * 10000).cast("long")).cast(
                    "double"
                )
                / 10000
            ).alias("sum_price"),
        )
    )


@register(
    "n8_record_linkage",
    oracle="""
WITH u AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         (('0x' || substr(md5('rl1|' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT)
           / 1152921504606846976.0 AS u1,
         (('0x' || substr(md5('rl2|' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT)
           / 1152921504606846976.0 AS u2
  FROM customer
), dirty AS (
  SELECT c_custkey AS d_key,
         CASE WHEN u1 < 0.3
              THEN substr(c_name, 1, length(c_name) - 1) || 'X'
              ELSE c_name END AS d_name,
         c_nationkey AS d_nat,
         CASE WHEN u2 < 0.2 THEN c_acctbal + 0.5 ELSE c_acctbal END AS d_bal,
         c_mktsegment AS d_seg
  FROM u
), pairs AS (
  SELECT c.c_custkey, d.d_key,
         (CASE levenshtein(c.c_name, d.d_name) WHEN 0 THEN 3 WHEN 1 THEN 2 ELSE 0 END
          + CASE WHEN c.c_mktsegment = d.d_seg THEN 1 ELSE 0 END
          + CASE WHEN ABS(c.c_acctbal - d.d_bal) <= 0.5 THEN 2 ELSE 0 END) AS score
  FROM customer c JOIN dirty d
    ON d.d_nat = c.c_nationkey AND d.d_seg = c.c_mktsegment
   AND FLOOR(d.d_bal / 100) = FLOOR(c.c_acctbal / 100)
), tot AS (SELECT COUNT(*) AS n_records FROM customer)
SELECT COUNT(*) AS n_pairs_blocked,
       CAST(SUM(CASE WHEN score >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN score >= 5 AND c_custkey = d_key THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true,
       ROUND(SUM(CASE WHEN score >= 5 AND c_custkey = d_key THEN 1 ELSE 0 END)::DOUBLE
             / SUM(CASE WHEN score >= 5 THEN 1 ELSE 0 END), 6) AS precision,
       ROUND(SUM(CASE WHEN score >= 5 AND c_custkey = d_key THEN 1 ELSE 0 END)::DOUBLE
             / (SELECT n_records FROM tot), 6) AS recall
FROM pairs
""",
)
def n8_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n8 (extension): probabilistic record linkage, Fellegi-Sunter
    shape (JASA 1969) — the entity-resolution step an anonymization ETL
    runs BEFORE masking (you must know two records are the same person
    before pseudonymizing them consistently).  A deterministically
    corrupted copy of customer plays the second source (30% mangled
    names, 20% shifted balances — md5-derived, so the oracle replays
    the corruption exactly); candidate pairs come from BLOCKING on
    nationkey; each pair scores a weighted agreement vector (name edit
    distance, segment equality, balance proximity) and pairs ≥ the
    threshold are declared matches.  The release is the linkage-quality
    report (pair counts, precision, recall vs the known ground truth).

    Scale: blocking is the whole story — candidate pairs are
    O(Σ block²), never n², and the block key join is one shuffle.  The
    block key is (nation, segment, balance-bin-100): nation alone gave
    Σ block² ≈ 900M pairs / 52 s at sf0.1 (measured, round 4), the
    3-part key gives ~2M.  The bin term can split a true pair whose
    balance shift crosses a bin edge (~0.1% of matches) — the standard
    blocking-recall trade, and the report MEASURES it: recall divides
    by the full source count, not by blocked pairs.  With skewed
    blocks, salt the block key (c10) or add a second blocking pass on
    a different key and union candidates.  Levenshtein is a
    JVM-codegen builtin — no Python."""
    from ma_anonymization_etl_spark.operators.dp import hash_uniform

    c = load(spark, sf_dir, "customer")
    u1 = hash_uniform("c_custkey", "rl1|")
    u2 = hash_uniform("c_custkey", "rl2|")
    dirty = c.select(
        F.col("c_custkey").alias("d_key"),
        F.when(
            u1 < 0.3,
            F.expr("substring(c_name, 1, length(c_name) - 1) || 'X'"),
        )
        .otherwise(F.col("c_name"))
        .alias("d_name"),
        F.col("c_nationkey").alias("d_nat"),
        F.when(u2 < 0.2, F.col("c_acctbal") + 0.5)
        .otherwise(F.col("c_acctbal"))
        .alias("d_bal"),
        F.col("c_mktsegment").alias("d_seg"),
    )
    lev = F.levenshtein(F.col("c_name"), F.col("d_name"))
    score = (
        F.when(lev == 0, 3).when(lev == 1, 2).otherwise(0)
        + F.when(F.col("c_mktsegment") == F.col("d_seg"), 1).otherwise(0)
        + F.when(F.abs(F.col("c_acctbal") - F.col("d_bal")) <= 0.5, 2).otherwise(0)
    )
    block = (
        (dirty.d_nat == c.c_nationkey)
        & (dirty.d_seg == c.c_mktsegment)
        & (F.floor(dirty.d_bal / 100) == F.floor(c.c_acctbal / 100))
    )
    return record_linkage_report(
        c, dirty, block, score, "c_custkey", "d_key", threshold=5
    )


def record_linkage_report(
    left: DataFrame,
    right: DataFrame,
    block_cond,
    score,
    left_id: str,
    right_id: str,
    threshold: int = 5,
) -> DataFrame:
    """n8's engine, parameterized Fellegi-Sunter linkage: candidate
    pairs from the blocking join condition ``block_cond``, each scored
    by the Column expression ``score``; pairs >= ``threshold`` are
    matches.  Ground truth for precision/recall is ``left_id ==
    right_id`` (the known-identity evaluation setup); recall divides
    by the full ``left`` count, so blocking losses are measured, not
    hidden."""
    pairs = left.join(right, block_cond).select(
        left_id, right_id, score.alias("score")
    )
    is_m = F.col("score") >= threshold
    is_t = is_m & (F.col(left_id) == F.col(right_id))
    rep = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs_blocked"),
        F.sum(is_m.cast("int")).cast("long").alias("n_matched"),
        F.sum(is_t.cast("int")).cast("long").alias("n_true"),
    )
    tot = left.agg(F.count(F.lit(1)).alias("n_records"))
    return rep.crossJoin(tot).select(
        "n_pairs_blocked",
        "n_matched",
        "n_true",
        F.round(F.col("n_true").cast("double") / F.col("n_matched"), 6).alias(
            "precision"
        ),
        F.round(F.col("n_true").cast("double") / F.col("n_records"), 6).alias(
            "recall"
        ),
    )


@register(
    "n9_incremental_join_refresh",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100
         AS sum_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
)
def n9_incremental_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n9 (extension): incremental JOIN maintenance — the delta algebra
    Δ(A ⋈ B) = (ΔA ⋈ B_old) ∪ (A_old ⋈ ΔB) ∪ (ΔA ⋈ ΔB), the join
    counterpart to n3's aggregate partial-merge.  Both fact tables
    split at a date cut into a stored 'old' part and a delta; the
    maintained result unions the stored base join with the three delta
    joins and must equal the full recompute (the oracle).

    Scale: this is how a materialized join view absorbs a nightly feed
    without re-joining history — the three delta joins each carry a
    delta as one side, so at 100 TB they broadcast (small ΔA/ΔB) or
    shuffle only delta-sized data; the base A_old ⋈ B_old term is READ
    from storage, not recomputed (here it is a subplan because nothing
    persists between driver runs — the algebra is what is being
    proved).  Pair with n3 downstream: join maintenance feeds aggregate
    maintenance."""
    cut = "1997-01-01"
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_shipdate"
    )
    a_old, a_new = o.filter(F.col("o_orderdate") < cut), o.filter(
        F.col("o_orderdate") >= cut
    )
    b_old, b_new = li.filter(F.col("l_shipdate") < cut), li.filter(
        F.col("l_shipdate") >= cut
    )

    def part(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a.o_orderkey == b.l_orderkey).select(
            "o_orderpriority", "l_quantity"
        )

    maintained = (
        part(a_old, b_old)          # the stored base result
        .unionByName(part(a_new, b_old))   # ΔA ⋈ B_old
        .unionByName(part(a_old, b_new))   # A_old ⋈ ΔB
        .unionByName(part(a_new, b_new))   # ΔA ⋈ ΔB
    )
    return maintained.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        (
            F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).cast("double")
            / 100
        ).alias("sum_qty"),
    )


@register(
    "n10_schema_evolution",
    # The staged layout: batch=1 files carry the v1 schema (orderkey,
    # totalprice), batch=2 files the evolved v2 schema (+ o_channel).
    # mergeSchema unions the schemas and null-fills v1 rows; the oracle
    # replays the whole release from the original table (even keys =
    # v1 legacy rows -> NULL channel).
    oracle="""
SELECT CASE WHEN o_orderkey % 2 = 1 THEN CAST(o_orderkey % 3 AS VARCHAR) END
         AS o_channel,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
         AS sum_price
FROM orders
GROUP BY 1
""",
)
def n10_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n10 (extension): SCHEMA EVOLUTION across a table's file history —
    the unavoidable ETL reality that yesterday's files lack today's
    columns: a v1 batch (o_orderkey, o_totalprice) and a v2 batch with
    an added o_channel column land in one dataset; the read side unions
    them with ``mergeSchema`` (a footer-level schema union — no file
    rewrite), v1 rows surface NULL for the new column, and the release
    aggregates across the generations (NULL channel = legacy rows).

    Scale: mergeSchema costs a footer read per file at planning time —
    at 100 TB pin the evolved schema in a table catalog instead of
    inferring per query, but the null-fill semantics are identical;
    column pruning and predicate pushdown still reach each file with
    its own physical schema."""
    import os

    from ma_anonymization_etl_spark.sources.io import ensure_staged

    def _write(p: str) -> None:
        o = load(spark, sf_dir, "orders")
        v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_totalprice",
            (F.col("o_orderkey") % 3).cast("string").alias("o_channel"),
        )
        v1.write.mode("overwrite").parquet(os.path.join(p, "batch=1"))
        v2.write.mode("overwrite").parquet(os.path.join(p, "batch=2"))

    base = ensure_staged(spark, "n10_evo", sf_dir, _write)
    back = spark.read.option("mergeSchema", "true").parquet(base)
    return back.groupBy("o_channel").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).cast("double")
            / 100
        ).alias("sum_price"),
    )


@register(
    "n11_cdc_apply",
    oracle="""
WITH log AS (
  SELECT CASE WHEN o_orderkey % 20 = 1 THEN o_custkey + 1000000
              ELSE o_custkey END AS k,
         o_orderkey AS seq,
         CASE WHEN o_orderkey % 20 = 0 THEN 'D'
              WHEN o_orderkey % 20 = 1 THEN 'I'
              ELSE 'U' END AS op,
         o_totalprice AS val
  FROM orders
),
last AS (
  SELECT k, seq, op, val FROM (
    SELECT k, seq, op, val,
           ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM log) WHERE rn = 1
),
base AS (SELECT c_custkey AS k, c_acctbal AS val FROM customer)
SELECT COALESCE(b.k, l.k) AS key,
       CASE WHEN l.k IS NULL THEN 'carry'
            WHEN b.k IS NULL THEN 'insert'
            ELSE 'update' END AS action,
       CAST(ROUND(CASE WHEN l.k IS NULL THEN b.val ELSE l.val END * 100)
            AS BIGINT) AS value_cents,
       CAST(l.seq AS BIGINT) AS last_seq
FROM base b FULL OUTER JOIN last l ON l.k = b.k
WHERE COALESCE(l.op, '') <> 'D'
""",
)
def n11_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n11: CDC changelog apply — the Debezium/change-data-feed shape
    that n1's snapshot upsert does not cover: an ORDERED op log with
    inserts, updates, and delete tombstones is compacted to
    last-writer-wins per key (one window over the log) and merged onto
    the base table with a full outer join; a trailing 'D' removes the
    key even if it exists in the base.  The log is derived
    deterministically from orders (seq = o_orderkey; keys %20==1
    become new-key inserts, %20==0 tombstones, the rest updates on
    customer keys).

    100 TB shape: compaction is ONE shuffle on key (the window), the
    merge one key-partitioned join — the standard streaming-CDC
    materialization; no per-op driver loop, no re-scan of the base per
    batch.

    Delegates to ``cdc_apply`` — hand it your own base snapshot and
    ordered changelog."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    log = o.select(
        F.when(F.col("o_orderkey") % 20 == 1, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("k"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 20 == 0, F.lit("D"))
        .when(F.col("o_orderkey") % 20 == 1, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_totalprice").alias("val"),
    )
    base = c.select(F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("val"))
    merged = cdc_apply(base, log)
    return merged.select(
        "key",
        "action",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        "last_seq",
    )


def cdc_apply(base: DataFrame, log: DataFrame) -> DataFrame:
    """n11's engine, parameterized: compact an ORDERED changelog
    ``log`` (k, seq, op in I/U/D, val) to last-writer-wins per key and
    merge it onto ``base`` (k, val) with a full outer join; a trailing
    'D' tombstone removes the key even if present in base.  Returns
    (key, action in carry/insert/update, value, last_seq)."""
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    last = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "seq", "op", "val")
    )
    merged = base.select(F.col("k").alias("bk"), F.col("val").alias("bval")).join(
        last.select(
            F.col("k").alias("lk"), F.col("seq").alias("last_seq"), "op",
            F.col("val").alias("lval"),
        ),
        F.col("lk") == F.col("bk"),
        "full_outer",
    ).filter(F.coalesce(F.col("op"), F.lit("")) != "D")
    return merged.select(
        F.coalesce(F.col("bk"), F.col("lk")).alias("key"),
        F.when(F.col("lk").isNull(), F.lit("carry"))
        .when(F.col("bk").isNull(), F.lit("insert"))
        .otherwise(F.lit("update"))
        .alias("action"),
        F.when(F.col("lk").isNull(), F.col("bval")).otherwise(F.col("lval")).alias(
            "value"
        ),
        F.col("last_seq"),
    )


@register(
    "n12_partition_overwrite_backfill",
    oracle="""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN year(o_orderdate) = 1997
                     THEN CAST(FLOOR((o_totalprice + 1) * 100) AS BIGINT)
                     ELSE CAST(FLOOR(o_totalprice * 100) AS BIGINT) END)
            AS BIGINT) AS sum_cents
FROM orders
GROUP BY 1
""",
)
def n12_partition_overwrite_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n12: DYNAMIC partition overwrite — the backfill primitive: a
    correction job rewrites exactly ONE partition (o_year=1997 gets a
    +$1.00 price fix; the oracle replays the identical float-then-floor
    arithmetic rather than assuming +100 cents survives IEEE addition)
    while
    every other partition's files are untouched; with static overwrite
    (the default) the same write would have DELETED all other years.
    Each call stages its own copy of the table in a fresh scratch
    directory, since the backfill rewrites it, and the corrected rows
    derive from the source table, so re-runs neither compound nor touch
    an earlier call's files.  The read back aggregates the whole table
    and the oracle recomputes the expected post-backfill state from
    first principles.

    Scale: overwrite cost is O(one partition), not O(table) — at
    100 TB with daily partitions a backfill touches 1/3650th of the
    data; commit atomicity is per-partition-directory (a table format
    upgrades that to a transaction, same write shape)."""
    from ma_anonymization_etl_spark.sources.io import fresh_scratch_dir

    base = fresh_scratch_dir(spark, "n12")
    o = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("long")
    )
    o.write.partitionBy("o_year").parquet(base)
    fix = o.filter(F.col("o_year") == 1997).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1
    )
    (
        fix.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_year")
        .parquet(base)
    )
    back = spark.read.parquet(base)
    # partitionColumnTypeInference types the o_year directory key as INT
    # regardless of the long written upstream — re-cast so the released
    # schema matches the oracle's BIGINT.
    return back.groupBy(F.col("o_year").cast("long").alias("o_year")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("sum_cents"),
    )
