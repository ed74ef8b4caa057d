"""Data-quality expectations over a DataFrame (the Deequ/Great-Expectations
pattern, Spark-native): declare per-column rules, get back one row per rule
with its violation count and verdict — the gate a pipeline runs before
publishing a table or handing a corpus to training.

All rules are evaluated in ONE aggregation pass (a single job, map-side
combined): each rule contributes one aggregate expression, `stack` pivots
the wide result row into (rule, violations, passed) rows. No rule adds a
scan; uniqueness uses exact count-distinct inside the same aggregation.
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# rule names are interpolated into the stack(...) pivot expression; a
# config-supplied name containing a quote or backtick would be SQL
# injection from config, so names are restricted to identifiers
_RULE_NAME = re.compile(r"^[A-Za-z0-9_]+$")


# kinds whose aggregate counts distinct values, which Spark does not allow
# in observed metrics (``observed`` in metastore/persistence.py)
DISTINCT_KINDS = frozenset({"unique"})


def expectation_aggregates(
    rules: Sequence[Tuple[str, str, Dict[str, Any]]]
) -> List[Column]:
    """One aggregate per rule, aliased by the rule's name, counting the
    rows that violate it (NULL over no rows); the rules are as in
    ``validate_expectations``. Rules of the ``DISTINCT_KINDS`` count
    distinct values; every other aggregate can ride on a write as an
    observed metric."""
    aggs = []
    for name, kind, p in rules:
        if not _RULE_NAME.match(name):
            raise ValueError(
                f"expectation rule name must match [A-Za-z0-9_]+ (it is "
                f"interpolated into a SQL pivot expression): {name!r}"
            )
        if kind == "not_null":
            bad = F.col(p["col"]).isNull()
            aggs.append(F.sum(bad.cast("long")).alias(name))
        elif kind == "unique":
            c = F.col(p["col"])
            # countDistinct ignores NULLs; add the NULL "value" back so a
            # column of N NULLs reports N-1 duplicates, not N
            n_distinct = F.countDistinct(c) + F.max(c.isNull().cast("long"))
            aggs.append((F.count(F.lit(1)) - n_distinct).alias(name))
        elif kind == "in_range":
            c = F.col(p["col"])
            ok = c.isNotNull() & (c >= F.lit(p["lo"])) & (c <= F.lit(p["hi"]))
            aggs.append(F.sum((~ok).cast("long")).alias(name))
        elif kind == "matches":
            c = F.col(p["col"])
            # rlike (like DuckDB regexp_matches) is a substring search;
            # wrap the pattern so the docstring's full-string promise holds
            ok = c.isNotNull() & c.rlike("^(?:" + p["pattern"] + ")$")
            aggs.append(F.sum((~ok).cast("long")).alias(name))
        elif kind == "predicate":
            ok = F.expr(p["sql"])
            aggs.append(F.sum((~ok).cast("long")).alias(name))
        else:
            raise ValueError(f"unknown expectation kind: {kind!r}")
    return aggs


def validate_expectations(
    df: DataFrame, rules: Sequence[Tuple[str, str, Dict[str, Any]]]
) -> DataFrame:
    """``rules`` is a list of (rule_name, kind, params):

    - ``("id_not_null", "not_null", {"col": "id"})`` — no NULLs
    - ``("id_unique", "unique", {"col": "id"})`` — no duplicate values
      (violations = rows - distinct values, NULLs count as one value)
    - ``("len_range", "in_range", {"col": "n", "lo": 0, "hi": 100})`` —
      values inside [lo, hi]; NULLs violate
    - ``("lang_shape", "matches", {"col": "lang", "pattern": r"^[a-z]{2}$"})``
      — full-string regex match; NULLs violate
    - ``("custom", "predicate", {"sql": "a < b"})`` — rows violating the
      SQL predicate

    Returns (rule, violations, passed), one row per rule, in rule order.
    """
    wide = df.agg(*expectation_aggregates(rules))
    pairs = ", ".join(f"'{name}', `{name}`" for name, _, _ in rules)
    stacked = wide.select(
        F.expr(f"stack({len(rules)}, {pairs}) AS (rule, violations)")
    )
    return stacked.select(
        "rule",
        F.coalesce(F.col("violations"), F.lit(0)).cast("long").alias("violations"),
        (F.coalesce(F.col("violations"), F.lit(0)) == 0).alias("passed"),
    )


def profile_columns(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Per-column data profile in ONE aggregation pass:
    (col_name, n_rows, n_null, n_distinct, min_value, max_value) — the
    table-shape summary a pipeline records alongside the reference's
    record-count stats (metastore/persistence.py) before publishing, and
    the first thing an operator looks at when a feed drifts. min/max are
    cast to string so heterogeneous columns share one output schema.

    Every column contributes its aggregates to the same `agg(...)` call:
    one job, map-side combined, then an array-of-structs explode pivots
    the single wide row into per-column rows (no F.expr string
    interpolation — column names go through Column objects only, so
    arbitrary names are safe).

    Scale (100 TB): with ``exact_distinct`` each distinct count adds an
    Expand branch (rows x columns duplication before the partial
    aggregate) — exact, oracle-checkable, fine into the tens of columns;
    at extreme width or cardinality pass ``exact_distinct=False`` to use
    approx_count_distinct (HLL, one pass, ~2% error) like the sketch
    queries do.
    """
    cols = list(columns) if columns is not None else list(df.columns)
    distinct_of = (
        (lambda c: F.countDistinct(F.col(c)))
        if exact_distinct
        else (lambda c: F.approx_count_distinct(F.col(c)))
    )
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for i, c in enumerate(cols):
        aggs += [
            F.count(F.col(c)).alias(f"__cnt_{i}"),
            distinct_of(c).alias(f"__dst_{i}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{i}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{i}"),
        ]
    wide = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                (F.col("__n_rows") - F.col(f"__cnt_{i}"))
                .cast("long")
                .alias("n_null"),
                F.col(f"__dst_{i}").cast("long").alias("n_distinct"),
                F.col(f"__min_{i}").alias("min_value"),
                F.col(f"__max_{i}").alias("max_value"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return wide.select(
        F.col("__n_rows").cast("long").alias("n_rows"), F.explode(per_col).alias("p")
    ).select(
        "p.col_name", "n_rows", "p.n_null", "p.n_distinct", "p.min_value", "p.max_value"
    )


def key_skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """One-row join/shuffle-skew diagnostic for a candidate key: per-key
    counts, then their distribution summary — (n_rows, n_keys, max_rows,
    top1_share, p50/p90/p99 of rows-per-key, mean, skew_ratio =
    max/mean). This is the measurement behind every salting / AQE-skew
    decision in this repo (operators/partitioning.py, the dedup bucket
    caps): before shuffling 100 TB on a key, ask the data how lopsided
    the key is.

    Two aggregations — a map-side-combined count per key, then a global
    summary over one row per key (exact interpolating percentiles over
    the already-aggregated counts, matching DuckDB quantile_cont). The
    second pass reduces n_keys rows to one; no raw row is shuffled twice.
    """
    counts = df.groupBy(F.col(key_col)).agg(
        F.count(F.lit(1)).cast("long").alias("rows_per_key")
    )
    c = F.col("rows_per_key")
    return counts.agg(
        F.sum(c).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max(c).cast("long").alias("max_rows"),
        F.round(F.max(c) / F.sum(c), 6).alias("top1_share"),
        F.percentile(c, F.lit(0.5)).alias("p50_rows"),
        F.percentile(c, F.lit(0.9)).alias("p90_rows"),
        F.percentile(c, F.lit(0.99)).alias("p99_rows"),
        F.round(F.avg(c), 6).alias("mean_rows"),
        F.round(F.max(c) / F.avg(c), 6).alias("skew_ratio"),
    )


def orphan_audit(
    child: DataFrame,
    parent: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """Referential-integrity audit between a fact table and a dimension:
    one row with (n_child, n_orphan_child, n_parent, n_childless_parent)
    — the pre-publish check that every foreign key resolves (orphaned
    facts silently vanish from inner joins downstream; the count here is
    the difference between "join looks fine" and "we dropped 2% of
    revenue"). Counts are ROW counts, so duplicate keys weigh what they
    weigh in downstream joins.

    Scale: one lazy plan — two count-only scans plus two anti-join
    counts, each a hash-partitioned pass with the distinct-key probe side
    AQE-broadcast when small; the four 1-row aggregates crossJoin into
    the single result row (broadcast loop joins over one row each). No
    full join is materialized and nothing collects on the driver."""
    keys = list(on)
    cnt = lambda df, name: df.agg(F.count(F.lit(1)).cast("long").alias(name))
    n_child = cnt(child, "n_child")
    n_parent = cnt(parent, "n_parent")
    n_orphan = cnt(
        child.join(parent.select(*keys).distinct(), keys, "left_anti"),
        "n_orphan_child",
    )
    n_childless = cnt(
        parent.join(child.select(*keys).distinct(), keys, "left_anti"),
        "n_childless_parent",
    )
    return (
        n_child.crossJoin(n_orphan)
        .crossJoin(n_parent)
        .crossJoin(n_childless)
        .select("n_child", "n_orphan_child", "n_parent", "n_childless_parent")
    )


def k_anonymity_audit(
    df: DataFrame, qi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """Privacy audit: the k-anonymity profile of a quasi-identifier set.

    A release is k-anonymous when every combination of the
    quasi-identifier columns (`qi_cols`) is shared by at least ``k``
    rows — singleton combinations re-identify individuals. Returns one
    row per observed GROUP SIZE: (group_size, n_groups, n_rows,
    below_k), so ``min(group_size)`` is the dataset's k-anonymity level
    and the ``below_k`` rows quantify exactly how much data a
    suppress-below-k policy would drop.

    Scale: two aggregations — the first shuffles on the QI combination
    (map-side combined, output is one row per combination), the second
    groups the combination SIZES (domain = distinct group sizes, tiny).
    No window, no join; the raw table is touched once.
    """
    sizes = df.groupBy(*[F.col(c) for c in qi_cols]).agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return (
        sizes.groupBy("group_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("group_size").cast("long").alias("n_rows"),
        )
        .select(
            F.col("group_size").cast("long").alias("group_size"),
            "n_groups",
            "n_rows",
            (F.col("group_size") < F.lit(k)).alias("below_k"),
        )
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    epsilon: float = 1.0,
    seed: str = "dp",
) -> DataFrame:
    """Differential-privacy-style noisy group counts: exact counts plus
    Laplace(1/epsilon) noise via the inverse CDF over a DERANDOMIZED
    md5-hash uniform of the group key — the release pattern for sharing
    aggregate statistics of a sensitive corpus. Deterministic by design
    (same groups + seed => same noise) so pipelines re-running a
    backfill publish identical numbers and the DuckDB oracle reproduces
    them; a production release would rotate ``seed`` per publication.

    Returns (group_cols..., n_true, n_noisy, epsilon). n_noisy =
    n_true + noise rounded to 6 (n_true stays for auditability —
    drop it at the release edge).

    Scale: one map-side-combined aggregation; the noise is a pure
    column expression over the group key. Count sensitivity is 1, so
    the Laplace scale is 1/epsilon.
    """
    # uniform [0,1) from the md5 of the seeded group key (the
    # sampling._hash_unit construction, kept oracle-portable)
    key = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in group_cols], F.lit(seed)
    )
    u = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double") / F.lit(
        float(16 ** 8)
    )
    # inverse-CDF Laplace; |u - 0.5| clamped below 0.5 so ln(0) can't
    # fire on the (2^-32-probability) all-zero hash prefix
    centered = F.least(F.abs(u - F.lit(0.5)), F.lit(0.5 - 1e-12))
    sign = F.when(u >= F.lit(0.5), F.lit(1.0)).otherwise(F.lit(-1.0))
    noise = -sign * F.log(F.lit(1.0) - F.lit(2.0) * centered) / F.lit(
        float(epsilon)
    )
    return (
        df.groupBy(*[F.col(c) for c in group_cols])
        .agg(F.count(F.lit(1)).cast("long").alias("n_true"))
        .select(
            *group_cols,
            "n_true",
            F.round(F.col("n_true") + noise, 6).alias("n_noisy"),
            F.lit(float(epsilon)).alias("epsilon"),
        )
    )


def benford_digit_audit(
    df: DataFrame, col: str, decimal_type: str = "decimal(18,2)"
) -> DataFrame:
    """Benford's-law first-digit audit — the classic fraud / synthetic-
    data screen for monetary columns: compare the observed leading-digit
    distribution of ``col`` (values >= 1 only) against the Benford
    expectation ``log10(1 + 1/d)``.

    The leading digit is extracted with PURE DECIMAL arithmetic (a
    magnitude CASE ladder of exact comparisons and divisions), never
    ``log10`` of the value: at exact powers of ten, float ``log10``
    differs between engines in the last ulp and flips the digit, while
    decimal compare/divide is exact everywhere.

    Returns one row per observed digit: (digit, n, observed_p,
    expected_p), shares rounded to 6.

    Scale: one filter + one map-side-combined 9-group aggregation over
    the column; the total re-aggregates the <=9-row digit table and
    broadcasts back. Nothing else touches row volume.
    """
    x = F.col(col).cast(decimal_type)
    # decimal(18,2) holds <16 integer digits; ladder from the top so the
    # outermost WHEN catches the widest magnitude first
    digit = F.floor(x).cast("int")
    for k in range(1, 16):
        digit = F.when(
            x >= F.lit(10 ** k), F.floor(x / F.lit(10 ** k)).cast("int")
        ).otherwise(digit)
    g = (
        df.where(x >= F.lit(1))
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = g.agg(F.sum("n").cast("long").alias("_tot"))
    return g.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("_tot"), 6).alias("observed_p"),
        F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6).alias(
            "expected_p"
        ),
    )


def key_gap_audit(
    df: DataFrame,
    key_col: str,
    bucket_size: int = 1_000_000,
) -> DataFrame:
    """Sequence-completeness audit over an integer key space: how many
    gaps interrupt the distinct keys, the widest gap, and coverage of
    the observed [min, max] span — the "did ingestion silently drop a
    range" check for surrogate-key and offset columns.

    The global-ORDER-BY-lag formulation funnels every key through one
    partition; this one buckets keys by ``key DIV bucket_size`` so the
    intra-bucket LAG window is partitioned (perfectly parallel), and
    bucket-boundary gaps come from a second LAG over the per-bucket
    (min, max) summary table — bounded by the key DOMAIN / bucket_size,
    not by key count. Empty buckets between populated ones are covered
    automatically: the summary-level gap spans them.

    Returns one row: (n_keys, min_key, max_key, n_gaps, max_gap_len,
    missing_keys) — all exact integers. ``n_gaps`` counts maximal
    missing runs; ``missing_keys`` = span - n_keys.
    """
    keys = df.select(F.col(key_col).cast("long").alias("_k")).distinct()
    bucketed = keys.withColumn(
        "_b", F.expr(f"_k DIV {int(bucket_size)}")
    )
    w_in = Window.partitionBy("_b").orderBy("_k")
    intra = bucketed.select(
        (F.col("_k") - F.lag("_k").over(w_in)).alias("_d")
    ).where(F.col("_d") > 1)
    intra_stats = intra.agg(
        F.count(F.lit(1)).cast("long").alias("_g_in"),
        F.max(F.col("_d") - 1).alias("_mx_in"),
    )
    summary = bucketed.groupBy("_b").agg(
        F.min("_k").alias("_lo"), F.max("_k").alias("_hi")
    )
    w_b = Window.orderBy("_b")
    boundary = summary.select(
        (F.col("_lo") - F.lag("_hi").over(w_b)).alias("_d")
    ).where(F.col("_d") > 1)
    boundary_stats = boundary.agg(
        F.count(F.lit(1)).cast("long").alias("_g_b"),
        F.max(F.col("_d") - 1).alias("_mx_b"),
    )
    totals = keys.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.min("_k").alias("min_key"),
        F.max("_k").alias("max_key"),
    )
    return (
        totals.crossJoin(F.broadcast(intra_stats))
        .crossJoin(F.broadcast(boundary_stats))
        .select(
            "n_keys",
            "min_key",
            "max_key",
            (F.col("_g_in") + F.col("_g_b")).cast("long").alias("n_gaps"),
            F.greatest(
                F.coalesce("_mx_in", F.lit(0)), F.coalesce("_mx_b", F.lit(0))
            ).cast("long").alias("max_gap_len"),
            (F.col("max_key") - F.col("min_key") + 1 - F.col("n_keys"))
            .cast("long")
            .alias("missing_keys"),
        )
    )


def duplicate_transaction_screen(
    df: DataFrame,
    entity_col: str,
    amount_col: str,
    date_col: str,
    id_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Double-charge / double-entry screen: CONSECUTIVE transactions by
    the same entity for the same exact amount within ``window_days`` —
    the first query a billing incident review runs. Consecutive (not
    all-pairs) is the operational semantics: a burst of k repeats
    flags k−1 adjacent pairs, and the window threshold applies between
    neighbors in (date, id) order, so the screen never silently
    explodes quadratically on a hot (entity, amount) key.

    One window partitioned by (entity, amount) with a deterministic
    (date, id) tiebreak; all arithmetic is integer day gaps.

    Returns (entity, amount, first_id, second_id, gap_days).
    """
    base = df.select(
        F.col(entity_col).alias("entity"),
        F.col(amount_col).alias("amount"),
        F.unix_date(F.to_date(date_col)).cast("long").alias("_dayn"),
        F.col(id_col).alias("_id"),
    )
    w = Window.partitionBy("entity", "amount").orderBy("_dayn", "_id")
    paired = base.select(
        "entity",
        "amount",
        F.lag("_id").over(w).alias("first_id"),
        F.col("_id").alias("second_id"),
        (F.col("_dayn") - F.lag("_dayn").over(w)).alias("gap_days"),
    )
    return paired.where(
        F.col("gap_days").isNotNull()
        & (F.col("gap_days") <= window_days)
    ).select(
        "entity", "amount", "first_id", "second_id",
        F.col("gap_days").cast("long").alias("gap_days"),
    )


def nzv_screen(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Near-zero-variance feature screen (the caret ``nearZeroVar``
    audit): per numeric column, the share held by its most common
    value and the distinct-to-rows ratio — the two numbers that catch
    constant and almost-constant features before they waste model
    capacity or blow up one-hot encoders.

    Each column reduces to its value histogram independently (one
    map-side-combined aggregation per column over a projected single
    column — k columns never force k scans of full rows thanks to
    parquet column pruning); the mode is an argmax over a
    (count, value) struct with a deterministic value tiebreak.

    Returns one row per column: (col_name, n, n_distinct, mode_value,
    mode_share, distinct_ratio), rounds 6.
    """
    outs = []
    for c in columns:
        g = (
            df.select(F.col(c).cast("double").alias("_v"))
            .groupBy("_v")
            .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        )
        outs.append(
            g.agg(
                F.lit(c).alias("col_name"),
                F.sum("_c").cast("long").alias("n"),
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
                F.max(F.struct(F.col("_c"), F.col("_v"))).alias("_top"),
            ).select(
                "col_name",
                "n",
                "n_distinct",
                F.round(F.col("_top._v"), 6).alias("mode_value"),
                F.round(
                    F.col("_top._c").cast("double")
                    / F.col("n").cast("double"),
                    6,
                ).alias("mode_share"),
                F.round(
                    F.col("n_distinct").cast("double")
                    / F.col("n").cast("double"),
                    6,
                ).alias("distinct_ratio"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def cross_cardinality_audit(
    df: DataFrame, pairs: Sequence[Tuple[str, str]]
) -> DataFrame:
    """Feature-cross cardinality audit: for each (a, b) column pair,
    the observed combination count vs the |a|·|b| maximum — the number
    that decides whether a crossed feature is a reasonable embedding
    table or a one-hot explosion, and (low fill rates) flags
    structurally-coupled columns that crossing cannot help.

    Each pair is one exact three-distinct aggregation (observed
    combos via a distinct over the pair); pairs union into one
    report. Returns (cross_name, n_a, n_b, n_observed, max_possible,
    fill_rate), round 6.
    """
    outs = []
    for a, b in pairs:
        agg = df.agg(
            F.lit(f"{a} x {b}").alias("cross_name"),
            F.countDistinct(F.col(a)).cast("long").alias("n_a"),
            F.countDistinct(F.col(b)).cast("long").alias("n_b"),
            F.countDistinct(F.struct(F.col(a), F.col(b)))
            .cast("long")
            .alias("n_observed"),
        ).select(
            "cross_name",
            "n_a",
            "n_b",
            "n_observed",
            (F.col("n_a") * F.col("n_b")).cast("long").alias(
                "max_possible"
            ),
            F.round(
                F.col("n_observed").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("fill_rate"),
        )
        outs.append(agg)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def l_diversity_audit(
    df: DataFrame,
    qi_cols: Sequence[str],
    sensitive_expr,
    l: int = 3,
) -> DataFrame:
    """l-diversity audit — k_anonymity_audit's stronger sibling: a
    quasi-identifier group can be large (k-anonymous) yet expose its
    members anyway if everyone in it shares the same sensitive value.
    Per QI group, count DISTINCT sensitive values; report how many
    groups fail the ``l`` threshold.

    One aggregation to the QI-group table (map-side combined), one
    summary reduce. Returns one row: (n_groups, n_failing,
    share_failing, min_l, n_rows_exposed) — exposed rows live in
    failing groups.
    """
    g = df.groupBy(*[F.col(c) for c in qi_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.countDistinct(sensitive_expr).cast("long").alias("_l"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("_l") < l).cast("int")).cast("long").alias(
            "n_failing"
        ),
        F.round(
            F.sum((F.col("_l") < l).cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("share_failing"),
        F.min("_l").cast("long").alias("min_l"),
        F.sum(F.when(F.col("_l") < l, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("n_rows_exposed"),
    )
