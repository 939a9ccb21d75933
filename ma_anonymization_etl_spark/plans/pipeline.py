"""Config-driven anonymization pipeline — SURVEY.md §2 i1 (column
classification) and i23 (the composer, the reference's raison d'être).

The reference's lifecycle (SURVEY §3) is *read → classify DI/QI/SA →
ordered transforms → metrics → write*.  Here the "route" is a plain
JSON-able list of steps; folding it over a DataFrame builds one lazy
Catalyst plan between cuts, so each stretch of steps optimizes as a
unit (filters reordered around map-side transforms, etc.).

The cut rule: the fold cuts the lineage (``sources.io.materialize``, a
local checkpoint) before each step in ``REREADS_INPUT`` that is not the
route's first step, and nowhere else.  Those dedup steps read their
input more than once (a self-join, an eager job while planning, then
the anti-join back), so without a cut every read re-runs every step
before them.  A cut costs one job, so row-local and map-side steps
stay in one plan.

Ordering caveat encoded by design (SURVEY §4): suppression does NOT
commute with joins/aggregations — anonymize-then-join ≠
join-then-anonymize.  The composer applies steps strictly in config
order and never reorders them itself.
"""

from __future__ import annotations

import inspect
from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ma_anonymization_etl_spark.operators import anonymize as A
from ma_anonymization_etl_spark.sources.io import materialize

ROLES = ("di", "qi", "sa", "keep")


def classify_columns(cfg: Mapping[str, str]) -> dict[str, list[str]]:
    """i1: validate a {column: role} config into role → columns lists.
    Roles: di (direct identifier), qi (quasi-identifier), sa (sensitive
    attribute), keep (pass through untouched)."""
    out: dict[str, list[str]] = {r: [] for r in ROLES}
    for col, role in cfg.items():
        if role not in ROLES:
            raise ValueError(f"unknown role {role!r} for column {col!r}; roles: {ROLES}")
        out[role].append(col)
    return out


def _step_pseudonymize_sha2(df, col, salt="", out=None):
    return df.withColumn(out or col, A.pseudonymize_sha2(col, salt))


def _step_pseudonymize_md5(df, col, out=None):
    return df.withColumn(out or col, A.pseudonymize_md5(col))


def _step_mask_partial(df, col, keep_last=4, mask_char="*", out=None):
    return df.withColumn(out or col, A.mask_partial(col, keep_last, mask_char))


def _step_suppress_columns(df, cols):
    return A.suppress_columns(df, cols)


def _step_null_columns(df, cols):
    return A.null_columns(df, cols)


def _step_suppress_rows_if(df, pred):
    return A.suppress_rows_if(df, F.expr(pred))


def _step_suppress_cell_if(df, col, pred):
    return A.suppress_cell_if(df, col, F.expr(pred))


def _step_generalize_numeric(df, col, width, out=None):
    return df.withColumn(out or col, A.generalize_numeric(col, width))


def _step_generalize_range_label(df, col, width, out=None):
    return df.withColumn(out or col, A.generalize_range_label(col, width))


def _step_generalize_date(df, col, unit="month", out=None):
    return df.withColumn(out or col, A.generalize_date(col, unit))


def _step_top_bottom_code(df, col, p_lo=0.05, p_hi=0.95, out=None):
    return A.top_bottom_code(df, col, p_lo, p_hi, out)


def _step_perturb_uniform(df, col, scale, seed, out=None):
    return df.withColumn(out or col, A.perturb_uniform(col, scale, seed))


def _step_perturb_laplace(df, col, epsilon, sensitivity, seed, out=None):
    return df.withColumn(out or col, A.perturb_laplace(col, epsilon, sensitivity, seed))


def _step_swap_within_group(df, col, group_cols, seed):
    return A.swap_within_group(df, col, group_cols, seed)


def _step_k_enforce_suppress(df, qis, k):
    return A.k_enforce_suppress(df, qis, k)


def _step_l_diversity_enforce(df, qis, sa, l):
    return A.l_diversity_enforce(df, qis, sa, l)


def _step_select(df, cols):
    return df.select(*cols)


def _step_dp_count(df, group, epsilon, salt=""):
    from ma_anonymization_etl_spark.operators.dp import dp_count

    return dp_count(df, group, epsilon, salt)


def _step_dp_sum_clipped(df, group, col, lo, hi, epsilon, salt=""):
    from ma_anonymization_etl_spark.operators.dp import dp_sum_clipped

    return dp_sum_clipped(df, group, col, lo, hi, epsilon, salt)


def _step_mondrian_kanon(df, qis, k, max_depth=16):
    return A.mondrian_kanon(df, qis, k, max_depth)


def _step_cell_suppression(df, qis, threshold=5):
    return A.cell_suppression_release(df, qis, threshold)


def _step_microaggregate(df, cls, col, tiebreak, k=10, out=None):
    return A.microaggregate(df, cls, col, tiebreak, k, out)


# --- Curation steps (j/q families as route ops) ---------------------------
# Each delegates to the parameterized library function in operators.llm /
# operators.quality; lazy imports keep pipeline.py import-light.


def _step_dedup_exact(df, subset=None):
    return df.dropDuplicates(subset)


def _step_substring_dedup(
    df, id_col="doc_id", text_col="text", ngram=8, mask_min=0.15, drop_min=0.6
):
    """Curation step: Lee et al. substring dedup as a route ACTION
    (j32b's engine) — docs above ``drop_min`` duplicated-gram coverage
    are DROPPED from the working table; docs above ``mask_min`` get
    their duplicated spans removed (``text_col`` is replaced with the
    masked rebuild); the rest keep.  The release text is lowercase
    (gram semantics are lowercase — same contract as j32b).  All other
    working columns ride along via the id join."""
    from ma_anonymization_etl_spark.operators.llm import substring_dedup_release

    rel = substring_dedup_release(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        ngram=ngram, mask_min=mask_min, drop_min=drop_min,
    )
    keep = rel.filter(F.col("action") != "drop").select(
        F.col("doc_id").alias(id_col), F.col("text_out")
    )
    return (
        df.drop(text_col)
        .join(keep, id_col)
        .withColumnRenamed("text_out", text_col)
    )


def _step_near_dedup_drop(df, id_col="doc_id", text_col="text", tau=0.5, shingle=3):
    """Curation step: MinHash-LSH near-duplicate REMOVAL — docs that
    band-collide with and exact-verify Jaccard >= ``tau`` against a
    LOWER-id doc drop (the canonical lowest-id-survives rule); every
    other doc keeps.  Delegates to ``minhash_lsh_pairs`` (j3's engine),
    so the pair semantics are the gate-attested ones; the drop list is
    the pair graph's b_id side (a_id < b_id always), anti-joined back —
    never a corpus self-join.  ``id_col`` must identify a row."""
    from ma_anonymization_etl_spark.operators.llm import (
        minhash_lsh_pairs,
        word_shingles,
    )

    sh = df.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(text_col, shingle).alias("shingles"),
    )
    drops = minhash_lsh_pairs(sh, tau).select(F.col("b_id").alias(id_col)).distinct()
    return df.join(drops, id_col, "left_anti")


def _step_fuzzy_dedup_drop(df, id_col="doc_id", text_col="text", tau=3, block_len=16):
    """Curation step: edit-distance fuzzy-duplicate REMOVAL — docs
    within ``tau`` character edits of a LOWER-id doc (found via j60's
    prefix/suffix blocking + banded Levenshtein verify, the
    gate-attested pair semantics) drop; every other doc keeps.
    Completes the dedup-action trio next to near_dedup_drop (shingle
    Jaccard) and substring_dedup (span masking)."""
    from ma_anonymization_etl_spark.operators.llm import fuzzy_dup_pairs

    pairs = fuzzy_dup_pairs(df, tau=tau, block_len=block_len,
                            id_col=id_col, text_col=text_col)
    drops = pairs.select(F.col("b_id").alias(id_col)).distinct()
    return df.join(drops, id_col, "left_anti")


def _step_semantic_dedup_drop(
    df, aux, id_col="doc_id", vec_id_col="vec_id", vec_col="embedding"
):
    """Curation step: SemDeDup REMOVAL over an embeddings aux table —
    working rows whose vector (looked up in ``aux`` by id) is
    semantically near-identical (cos >= 0.9 within its k-means cell)
    to a LOWER-id row's vector drop; everything else keeps.  Only
    vectors of rows still in the working table participate (semi-join
    first), so the step composes after text-side filters: dedup runs
    on the CURRENT corpus, not the original.  Rows with no embedding
    keep (no vector, no semantic evidence) — that covers BOTH ids
    absent from ``aux`` and aux rows whose vector value is NULL (the
    null filter below; a None entry would crash the Arrow np.stack —
    ADVICE r11).  Delegates to
    ``semantic_drop_ids`` (j44's gate-attested derived-k Arrow Lloyd
    + exact-verify engine); completes the dedup-action family's
    embedding modality next to near/fuzzy/substring dedup."""
    from ma_anonymization_etl_spark.functions.vectors import as_double
    from ma_anonymization_etl_spark.operators.similarity import semantic_drop_ids

    corpus = aux.filter(F.col(vec_col).isNotNull()).select(
        F.col(vec_id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    ).join(
        df.select(F.col(id_col).alias("vec_id")), "vec_id", "left_semi"
    )
    drops = semantic_drop_ids(corpus).select(F.col("vec_id").alias(id_col))
    return df.join(drops, id_col, "left_anti")


def _step_knn_label(
    df, aux, id_col="doc_id", vec_id_col="vec_id", vec_col="embedding",
    label_col="label", k=5, out="knn_label",
):
    """Enrichment step: attach the majority label of each working
    row's ``k`` nearest labelled neighbours (exact cosine over the
    multiprobe candidate set — j64's gate-attested engine) as ``out``.
    The row's own vector comes from ``aux`` by id; the labelled corpus
    is every aux row with a non-null ``label_col``; the row's own
    vector is self-excluded from its neighbours (j10 semantics).
    Rows without an embedding or without candidates get NULL (left
    join — enrichment must not drop working rows).  DI safety: the
    route runner records ``out`` under ``label_col``'s declared role
    (cli._merged_columns_cfg) — a vote over a direct identifier is
    still identifying, so such routes must cover ``out`` downstream.
    The step has one engine, ``knn_label_multiprobe``; its Arrow form
    stays a registered query (j64b), not a route option."""
    from ma_anonymization_etl_spark.functions.vectors import as_double
    from ma_anonymization_etl_spark.operators.similarity import knn_label_multiprobe

    if out in df.columns:
        raise ValueError(
            f"knn_label: output column {out!r} already exists in the working "
            "table — rename via 'out' or drop it before labelling"
        )
    # NULL-vector aux rows are no evidence on either side: not a
    # labelled neighbour, not a query (the row gets NULL via the left
    # join) — same rationale as _step_semantic_dedup_drop's filter.
    corpus = aux.filter(F.col(vec_col).isNotNull()).select(
        F.col(vec_id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        as_double(F.col(vec_col)).alias("v"),
    ).filter(F.col("label").isNotNull())
    queries = aux.filter(F.col(vec_col).isNotNull()).select(
        F.col(vec_id_col).alias("query_id"), as_double(F.col(vec_col)).alias("v")
    ).join(df.select(F.col(id_col).alias("query_id")), "query_id", "left_semi")
    pred = knn_label_multiprobe(queries, corpus, k=k).select(
        F.col("query_id").alias(id_col), F.col("label_pred").alias(out)
    )
    return df.join(pred, id_col, "left")


def _step_repetition_filter(df, id_col="doc_id", dup2_max=0.05, top_max=0.12):
    from ma_anonymization_etl_spark.operators.llm import repetition_signals

    keep = repetition_signals(df.select(F.col(id_col).alias("doc_id"), "text"),
                              dup2_max, top_max).filter("keep").select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def _step_split_assign(df, id_col="doc_id", salt="split|", fractions=None):
    from ma_anonymization_etl_spark.operators.llm import split_assign

    fr = [tuple(x) for x in (fractions or [["train", 0.8], ["val", 0.9]])]
    return split_assign(df, id_col, salt=salt, fractions=fr)


def _step_group_sample_exact_k(df, group_col, id_col="doc_id", k=5, salt="sample|"):
    from ma_anonymization_etl_spark.operators.llm import group_sample_exact_k

    return group_sample_exact_k(df, group_col, id_col, k=k, salt=salt, project=False)


def _step_domain_quota_filter(df, host_col, id_col="doc_id", quota=10, salt="quota|"):
    from ma_anonymization_etl_spark.operators.llm import group_sample_exact_k

    # A quota cap IS an exact-k group sample with the host as the group
    # (j49's window, j46's engine) — keep at most `quota` per host.
    return group_sample_exact_k(
        df, host_col, id_col, k=quota, salt=salt, project=False
    )


def _step_quality_filter(df, id_col="doc_id", min_words=30, min_stop_frac=0.0):
    """Keep rows whose j14 signals (``quality_signals`` over ``text``)
    reach ``min_words`` words and ``min_stop_frac`` stopword share — a
    filter in place, each row judged alone.  ``id_col`` is accepted for
    route compatibility; as under the earlier id semi-join, a row whose
    id is NULL drops."""
    from ma_anonymization_etl_spark.operators.llm import quality_signals

    q = quality_signals()
    return df.filter(
        F.col(id_col).isNotNull()
        & (q["n_words"] >= min_words)
        & (q["stop_frac"] >= min_stop_frac)
    )


def _step_lang_filter(df, id_col="doc_id", keep_langs=("en",)):
    """Keep rows whose j13 prediction (``lang_pred`` over ``text``) is
    in ``keep_langs`` — a filter in place, each row judged alone.
    ``id_col`` is accepted for route compatibility; as under the
    earlier id semi-join, a row whose id is NULL drops."""
    from ma_anonymization_etl_spark.operators.llm import lang_pred

    return df.filter(F.col(id_col).isNotNull() & lang_pred().isin(*keep_langs))


def _step_decontaminate_filter(
    df, aux, id_col="doc_id", text_col="text", ngram=3, overlap_max=0.65
):
    """Drop working-table rows whose distinct word-n-gram overlap with
    the ``aux`` benchmark table reaches ``overlap_max`` — the
    "training side loses eval content" direction of j29.  ``aux`` is a
    DataFrame injected by the route runner (the step's JSON says
    ``{"aux": "<input name>"}``)."""
    from ma_anonymization_etl_spark.operators.llm import overlap_against

    scores = overlap_against(
        df, aux, ngram=ngram, overlap_min=overlap_max,
        id_col=id_col, text_col=text_col,
    )
    keep = scores.filter(~F.col("contaminated")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def _step_bm25_filter(
    df, aux, id_col="doc_id", text_col="text",
    n_terms=10, max_score_micro=2_000_000,
):
    """BM25-scored decontamination (the j54 stretch item): derive the
    ``n_terms`` most frequent words of the ``aux`` benchmark corpus
    (bounded driver scalar), score every working-table doc against
    them with the integer micro-BM25 core, and DROP docs scoring above
    ``max_score_micro`` — the retrieval-grade complement of
    decontaminate_filter's exact n-gram overlap: saturating tf and
    length normalization rank short benchmark-wordy docs that raw
    overlap fractions miss.  Docs with no query term score 0 and
    always survive."""
    from ma_anonymization_etl_spark.operators.llm import bm25_scores, top_terms

    terms = top_terms(aux, n_terms, text_col=text_col)
    scores = bm25_scores(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        query_terms=terms,
    )
    hot = scores.filter(F.col("bm25_micro") > max_score_micro).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(hot, id_col, "left_anti")


def _step_constraint_report(df, checks, aux=None, tables=None):
    """Terminal release: (check_name, n_violations) over the route's
    working table.  Each JSON check is {"name", "type": "unique"|
    "violation"|"fk", "col"|"predicate"|"child_key"+"parent_key"} —
    predicates are SQL strings so routes serialize.  "fk" checks name
    their parent: either the step-level {"aux": "<name>"} (one shared
    parent, the round-8 form) or a per-check {"parent_aux": "<name>"}
    — a SUITE of fks against several parents in one step (VERDICT r8
    item 5); the child is always the working table."""
    from ma_anonymization_etl_spark.operators.quality import run_constraint_checks

    compiled = []
    for ck in checks:
        c = dict(ck)
        if c["type"] == "violation":
            c["predicate"] = F.expr(c["predicate"])
        if c["type"] == "fk":
            parent = aux
            pname = c.pop("parent_aux", None)
            if pname is not None:
                if not tables or pname not in tables:
                    raise ValueError(
                        f"fk check {c.get('name')!r} references parent_aux "
                        f"{pname!r} but the route declares aux_inputs: "
                        f"{sorted(tables or {})}"
                    )
                parent = tables[pname]
            if parent is None:
                raise ValueError(
                    f"fk check {c.get('name')!r} needs a parent table: either "
                    "the step-level aux or a per-check parent_aux"
                )
            c["child"], c["parent"] = df, parent
        else:
            c["df"] = df
        compiled.append(c)
    return run_constraint_checks(compiled)


def _step_enrich_join(df, aux, on, cols, how="left"):
    """Aux-joined ENRICHMENT: project ``cols`` from the ``aux`` table
    onto the working table by equality on ``on`` ({child_col:
    parent_col}).  The aux side is reduced to join keys + projected
    columns and BROADCAST — the route-config shape of the classic
    fact × dimension join (c1), never a shuffle of the working table.
    ``how`` is left (default — enrichment must not drop working rows)
    or inner.  DI safety is enforced by the route runner: an
    enrich_join aux must carry a columns declaration and the merged
    config goes through the same DI-coverage gate as the main input
    (cli._check_di_covered)."""
    if how not in ("left", "inner"):
        raise ValueError(f"enrich_join: how must be left|inner, got {how!r}")
    keys = dict(on)
    missing = [c for c in list(keys.values()) + list(cols) if c not in aux.columns]
    if missing:
        raise ValueError(f"enrich_join: aux table lacks columns {missing}")
    # Refuse name collisions with the working table (ADVICE r9): a
    # projected column that already exists would yield duplicate column
    # names after the join — ambiguous references downstream, and the
    # merged DI config's one-role-per-name assumption breaks.
    clash = [c for c in cols if c in df.columns]
    if clash:
        raise ValueError(
            f"enrich_join: projected columns {clash} already exist in the "
            "working table — rename or drop them before enriching"
        )
    aux_sel = aux.select(*dict.fromkeys(list(keys.values()) + list(cols)))
    cond = None
    for ck, pk in keys.items():
        eq = df[ck] == aux_sel[pk]
        cond = eq if cond is None else (cond & eq)
    out = df.join(F.broadcast(aux_sel), cond, how)
    drop_keys = [k for k in keys.values() if k not in cols]
    return out.drop(*[aux_sel[k] for k in drop_keys]) if drop_keys else out


def _step_fd_report(df, dependencies):
    """Terminal release: one row per candidate FD {"lhs", "rhs"}."""
    from ma_anonymization_etl_spark.operators.quality import fd_violation_profile

    parts = [fd_violation_profile(df, d["lhs"], d["rhs"]) for d in dependencies]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


STEPS = {
    "pseudonymize_sha2": _step_pseudonymize_sha2,
    "pseudonymize_md5": _step_pseudonymize_md5,
    "mask_partial": _step_mask_partial,
    "suppress_columns": _step_suppress_columns,
    "null_columns": _step_null_columns,
    "suppress_rows_if": _step_suppress_rows_if,
    "suppress_cell_if": _step_suppress_cell_if,
    "generalize_numeric": _step_generalize_numeric,
    "generalize_range_label": _step_generalize_range_label,
    "generalize_date": _step_generalize_date,
    "top_bottom_code": _step_top_bottom_code,
    "perturb_uniform": _step_perturb_uniform,
    "perturb_laplace": _step_perturb_laplace,
    "swap_within_group": _step_swap_within_group,
    "k_enforce_suppress": _step_k_enforce_suppress,
    "l_diversity_enforce": _step_l_diversity_enforce,
    "select": _step_select,
    # Release steps: each AGGREGATES the route's working table into a
    # publishable summary (only the group key and the release metrics
    # survive), so they are terminal in any sensible route.
    "dp_count": _step_dp_count,
    "dp_sum_clipped": _step_dp_sum_clipped,
    "mondrian_kanon": _step_mondrian_kanon,
    "cell_suppression": _step_cell_suppression,
    "microaggregate": _step_microaggregate,
    # Curation steps (the j/q families as route ops) — delegating to
    # operators.llm / operators.quality library functions.
    "dedup_exact": _step_dedup_exact,
    "substring_dedup": _step_substring_dedup,
    "near_dedup_drop": _step_near_dedup_drop,
    "fuzzy_dedup_drop": _step_fuzzy_dedup_drop,
    "semantic_dedup_drop": _step_semantic_dedup_drop,
    "knn_label": _step_knn_label,
    "repetition_filter": _step_repetition_filter,
    "quality_filter": _step_quality_filter,
    "lang_filter": _step_lang_filter,
    "decontaminate_filter": _step_decontaminate_filter,
    "bm25_filter": _step_bm25_filter,
    "split_assign": _step_split_assign,
    "group_sample_exact_k": _step_group_sample_exact_k,
    "domain_quota_filter": _step_domain_quota_filter,
    "constraint_report": _step_constraint_report,
    "fd_report": _step_fd_report,
    "enrich_join": _step_enrich_join,
}

# Dedup steps that read their input more than once: the fold cuts the
# lineage before them (see the module docstring).  semantic_dedup_drop
# and knn_label are left out on purpose: they read the working table
# only for its ids (a semi-join into the aux vectors, then the join
# back), so a map-side chain before them is cheap to re-run, and a cut
# there measured two more jobs and no gain on the embedding-curation
# route.
REREADS_INPUT = frozenset({"near_dedup_drop", "fuzzy_dedup_drop", "substring_dedup"})

# Steps that may consume SEVERAL named aux tables; anonymize_pipeline
# hands them the full `tables` mapping so per-item references
# (constraint_report's parent_aux) resolve at run time.
TABLES_AWARE_OPS = {"constraint_report"}

# Ops whose OUTPUT contains only their group key and release metrics —
# the DI-coverage guard treats them as an implicit projection down to
# the group column.  NOT mondrian_kanon: it returns the input rows
# (+pid/ranges), so raw DIs survive it and still need their own step.
AGGREGATE_RELEASE_OPS = {"dp_count", "dp_sum_clipped", "cell_suppression"}


def anonymize_pipeline(
    df: DataFrame,
    steps: Sequence[Mapping[str, Any]],
    tables: Mapping[str, DataFrame] | None = None,
) -> DataFrame:
    """i23: fold an ordered list of anonymization steps over a DataFrame.

    Each step is ``{"op": <name>, **params}``; predicates are SQL
    strings so routes serialize to JSON.  Returns one lazy plan from
    the last cut on: before each ``REREADS_INPUT`` step after the first,
    the working table is materialized (``sources.io.materialize``).

    ``tables`` holds named AUXILIARY DataFrames (the route JSON's
    ``aux_inputs``); a step whose params include ``"aux": "<name>"``
    receives ``tables[name]`` in its place — how two-input ops
    (decontaminate_filter against a benchmark table) stay
    JSON-serializable.

    Every step is resolved and its params bound to the step function's
    signature before the first step runs: several steps run Spark jobs
    while they are planned, so a bad op, aux name or param key in step
    N must fail before steps 1..N-1 do any work.
    """
    bound = []
    for i, step in enumerate(steps, 1):
        params = dict(step)
        op = params.pop("op")
        if op not in STEPS:
            raise ValueError(f"unknown pipeline op {op!r}; known: {sorted(STEPS)}")
        if "aux" in params:
            name = params["aux"]
            if not tables or name not in tables:
                raise ValueError(
                    f"step {op!r} references aux input {name!r} but the route "
                    f"declares aux_inputs: {sorted(tables or {})}"
                )
            params["aux"] = tables[name]
        if op in TABLES_AWARE_OPS:
            params["tables"] = tables
        try:
            inspect.signature(STEPS[op]).bind(df, **params)
        except TypeError as err:
            raise ValueError(f"route step {i} ({op!r}): {err}") from None
        bound.append((i, op, params))
    out = df
    for i, op, params in bound:
        if op in REREADS_INPUT and i > 1:
            out = materialize(out, f"route step {i} ({op}): cut before a re-reading step")
        out = STEPS[op](out, **params)
    return out
