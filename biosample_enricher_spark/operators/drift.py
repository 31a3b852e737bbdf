"""Distribution-drift constraints: two-sample Kolmogorov–Smirnov over
span-length and kind-frequency histograms (SURVEY.md §2.9), plus the
TV, PSI and EMD tiers over the same histogram inputs.

Reference analog: before/after coverage deltas and improvement
categorization (``/root/reference/biosample_enricher/weather/metrics.py:
225-268``) and distribution consistency analysis
(``random_sampling_demo.py:607-640``) — re-expressed as a statistical
test instead of hand-binned categories.

Scale shape: the raw corpora are first reduced to tiny histogram tables
by distributed ``groupBy(keys..., bucket).count()`` (map-side partial
agg bounds the shuffle to |buckets| × partitions rows — skew-immune).
``_align`` full-outer-joins the two histograms on ``keys + bucket`` with
zero-filled counts for every statistic. TV, PSI and EMD fold the aligned
rows with expressions; KS is ONE grouped-map Arrow UDF
(``applyInPandas``) keyed by ``constraint_id`` plus optional keys —
``drift_check`` feeds both constraints to one call, and
``drift_check_by_partition`` adds ``partition_id`` to the keys. Python
only ever sees histograms, never documents. The weighted two-sample KS
on binned data is exact for the binned distributions:
D = max_bucket |CDF_a - CDF_b|.

The pass threshold uses the standard large-sample critical value
D_crit = c(alpha) * sqrt((n_a + n_b) / (n_a * n_b)), c(0.05) ≈ 1.358.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..constraints.core import stable_partition_id
from ..spec import C_DRIFT_KIND_FREQ, C_DRIFT_SPAN_LEN
from .stats import kind_histogram, span_length_histogram

_KS_STATS_SCHEMA = (
    "ks_stat double, n_base long, n_cur long, d_crit double, passed boolean"
)
KS_RESULT_SCHEMA = "constraint_id string, " + _KS_STATS_SCHEMA

_KS_C_ALPHA_05 = 1.3581015157406195  # sqrt(-0.5 * ln(0.05/2))


def _ks_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Weighted two-sample KS from one metric's histogram rows.

    Input rows: (constraint_id, bucket, n_base, n_cur) — full outer
    union of the two histograms with zero-filled counts.
    """
    cid = pdf["constraint_id"].iloc[0]
    # CDF order: numeric when every bucket parses as a number (span
    # lengths), else lexicographic (kind categories — deterministic).
    order = pd.to_numeric(pdf["bucket"], errors="coerce")
    if order.notna().all():
        pdf = pdf.assign(_ord=order).sort_values("_ord", kind="mergesort")
    else:
        pdf = pdf.sort_values("bucket", kind="mergesort")
    n_a = float(pdf["n_base"].sum())
    n_b = float(pdf["n_cur"].sum())
    if n_a == 0 or n_b == 0:
        # degenerate: one side empty → maximal drift unless both empty
        stat = 0.0 if (n_a == 0 and n_b == 0) else 1.0
        d_crit = float("nan")
        passed = n_a == n_b
    else:
        cdf_a = pdf["n_base"].cumsum() / n_a
        cdf_b = pdf["n_cur"].cumsum() / n_b
        stat = float((cdf_a - cdf_b).abs().max())
        d_crit = _KS_C_ALPHA_05 * math.sqrt((n_a + n_b) / (n_a * n_b))
        passed = stat <= d_crit
    return pd.DataFrame(
        [
            {
                "constraint_id": cid,
                "ks_stat": stat,
                "n_base": int(n_a),
                "n_cur": int(n_b),
                "d_crit": d_crit,
                "passed": bool(passed),
            }
        ]
    )


def _align(
    base_hist: DataFrame,
    cur_hist: DataFrame,
    bucket_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Full-outer join of two ``(keys..., bucket_col, n)`` histograms on
    ``keys + bucket`` → ``(keys..., bucket, n_base, n_cur)`` with the
    counts of a bucket missing on one side zero-filled."""
    a = base_hist.select(
        *keys, F.col(bucket_col).alias("bucket"), F.col("n").alias("n_base")
    )
    b = cur_hist.select(
        *keys, F.col(bucket_col).alias("bucket"), F.col("n").alias("n_cur")
    )
    return a.join(b, [*keys, "bucket"], "full_outer").select(
        *keys,
        "bucket",
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )


def _ks(aligned: dict[str, DataFrame], keys: Sequence[str] = ()) -> DataFrame:
    """One grouped-map KS over the ``_align`` output of each constraint
    id in ``aligned``: their rows are unioned and ``_ks_group`` runs per
    ``(constraint_id, keys...)`` group; each result row carries its key
    values after ``constraint_id``."""
    ks_input = reduce(
        DataFrame.unionByName,
        [
            hist.select(
                F.lit(cid).alias("constraint_id"),
                *keys,
                F.col("bucket").cast("string").alias("bucket"),
                "n_base",
                "n_cur",
            )
            for cid, hist in aligned.items()
        ],
    )
    key_fields = "".join(
        f"{f.name} {f.dataType.simpleString()}, "
        for f in ks_input.select(*keys).schema
    )

    def ks_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        res = _ks_group(pdf)
        for i, k in enumerate(keys, 1):
            res.insert(i, k, pdf[k].iloc[0])
        return res

    return ks_input.groupBy("constraint_id", *keys).applyInPandas(
        ks_rows, f"constraint_id string, {key_fields}{_KS_STATS_SCHEMA}"
    )


def ks_from_histograms(
    base_hist: DataFrame,
    cur_hist: DataFrame,
    constraint_id: str,
    bucket_col: str,
) -> DataFrame:
    """Align two histograms on their bucket key and compute the KS
    statistic in a grouped-map Arrow UDF."""
    return _ks({constraint_id: _align(base_hist, cur_hist, bucket_col)})


def _drift_ks(
    baseline_docs: DataFrame,
    current_docs: DataFrame,
    span_len_bucket_width: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Both KS drift constraints in one grouped map over the aligned
    span-length and kind histograms, grouped by ``keys`` too."""
    span_len = _align(
        span_length_histogram(baseline_docs, span_len_bucket_width, keys),
        span_length_histogram(current_docs, span_len_bucket_width, keys),
        "bucket",
        keys,
    )
    kind_freq = _align(
        kind_histogram(baseline_docs, keys),
        kind_histogram(current_docs, keys),
        "kind",
        keys,
    )
    return _ks({C_DRIFT_SPAN_LEN: span_len, C_DRIFT_KIND_FREQ: kind_freq}, keys)


def drift_check(
    baseline_docs: DataFrame,
    current_docs: DataFrame,
    span_len_bucket_width: int = 16,
) -> DataFrame:
    """Run both drift constraints baseline-vs-current → one result row
    per constraint: (constraint_id, ks_stat, n_base, n_cur, d_crit,
    passed). Row order is unspecified; sort by ``constraint_id`` when
    it matters."""
    return _drift_ks(baseline_docs, current_docs, span_len_bucket_width)


def tv_from_histograms(
    base_hist: DataFrame,
    cur_hist: DataFrame,
    constraint_id: str,
    bucket_col: str,
    threshold: float = 0.05,
) -> DataFrame:
    """Total-variation drift: TV = 0.5 * sum_b |p_base(b) - p_cur(b)|.

    Order-independent (unlike KS, whose statistic depends on the bucket
    ordering — fine for span lengths, arguable for categorical kind
    frequencies; SURVEY.md §2.9 note). Pure expressions end-to-end: the
    histogram alignment is a full-outer join on the bucket key and the
    statistic is one aggregate — no Python at all, so this tier also
    serves as the SQL-oracled drift path.
    """
    joined = _align(base_hist, cur_hist, bucket_col)
    # whole-frame window over the tiny aggregated histogram (|buckets|
    # rows) to turn counts into probabilities before the final fold.
    # Zero-mass guard (nullif → null division → coalesce 0) keeps the
    # per-bucket math defined; the degenerate verdicts are pinned
    # explicitly below: one empty side = maximal drift (tv 1.0, fails),
    # both empty = no evidence of drift (tv 0.0, passes) — never a null
    # passed column.
    w = Window.partitionBy()
    probs = joined.select(
        "n_base",
        "n_cur",
        (
            F.coalesce(
                F.col("n_base") / F.nullif(F.sum("n_base").over(w), F.lit(0)),
                F.lit(0.0),
            )
            - F.coalesce(
                F.col("n_cur") / F.nullif(F.sum("n_cur").over(w), F.lit(0)),
                F.lit(0.0),
            )
        ).alias("pdiff"),
    )
    tot = probs.groupBy().agg(
        F.coalesce(F.sum("n_base"), F.lit(0)).alias("na"),
        F.coalesce(F.sum("n_cur"), F.lit(0)).alias("nb"),
        F.coalesce(F.sum(F.abs(F.col("pdiff"))), F.lit(0.0)).alias("_absdiff"),
    )
    tv = (
        F.when((F.col("na") == 0) & (F.col("nb") == 0), F.lit(0.0))
        .when((F.col("na") == 0) | (F.col("nb") == 0), F.lit(1.0))
        .otherwise(F.col("_absdiff") / 2)
    )
    return tot.select(
        F.lit(constraint_id).alias("constraint_id"),
        tv.alias("tv_stat"),
        F.col("na").cast("long").alias("n_base"),
        F.col("nb").cast("long").alias("n_cur"),
        F.lit(float(threshold)).alias("threshold"),
        (tv <= threshold).alias("passed"),
    )


def psi_from_histograms(
    base_hist: DataFrame,
    cur_hist: DataFrame,
    constraint_id: str,
    bucket_col: str,
    threshold: float = 0.1,
    eps: float = 1e-6,
) -> DataFrame:
    """Population stability index: PSI = Σ_b (p_b − q_b)·ln(p_b/q_b).

    The industry-standard drift score next to KS (order-sensitive) and
    TV (order-free, bounded): PSI weights re-distributed mass by its
    log-ratio, so a bucket going 1% → 0.1% counts as much as one going
    10% → 1%. Zero-proportion buckets are floored at ``eps`` (pinned,
    so the SQL oracle reproduces it exactly); conventional reading:
    <0.1 stable, 0.1–0.25 moderate, >0.25 major shift. Pure
    expressions end-to-end like TV — histograms are the only input, so
    Python never sees data rows."""
    joined = _align(base_hist, cur_hist, bucket_col)
    w = Window.partitionBy()

    def prop(col: str) -> Column:
        raw = F.coalesce(
            F.col(col) / F.nullif(F.sum(col).over(w), F.lit(0)), F.lit(0.0)
        )
        return F.when(raw <= 0, F.lit(float(eps))).otherwise(raw)

    p, q = prop("n_base"), prop("n_cur")
    scored = joined.select(
        "n_base",
        "n_cur",
        ((p - q) * F.log(p / q)).alias("contrib"),
    )
    tot = scored.groupBy().agg(
        F.coalesce(F.sum("n_base"), F.lit(0)).alias("na"),
        F.coalesce(F.sum("n_cur"), F.lit(0)).alias("nb"),
        F.coalesce(F.sum("contrib"), F.lit(0.0)).alias("_psi"),
    )
    # float-sum reduction order differs across engines at the last
    # ulp — report at 9 dp like the TV tier's oracle contract
    psi = F.round(F.col("_psi"), 9)
    return tot.select(
        F.lit(constraint_id).alias("constraint_id"),
        psi.alias("psi_stat"),
        F.col("na").cast("long").alias("n_base"),
        F.col("nb").cast("long").alias("n_cur"),
        F.lit(float(threshold)).alias("threshold"),
        (psi <= threshold).alias("passed"),
    )


def drift_check_by_partition(
    baseline_docs: DataFrame,
    current_docs: DataFrame,
    span_len_bucket_width: int = 16,
    n_buckets: int = 64,
    partition_col: str | None = None,
) -> DataFrame:
    """Per-content-partition drift: the same two KS constraints, one
    verdict row per (constraint_id, partition_id) — the drift tier at
    the north_rule's per-partition pass/fail granularity, so an
    operator can see WHICH content buckets drifted instead of one
    corpus-global verdict (and the checkpoint table can carry drift
    lineage rows next to the row-scope ones).

    It is ``drift_check`` with ``partition_id`` added to the keys:
    distributed groupBy((partition, bucket)) histograms first — shuffle
    bounded by |partitions| × |buckets| — then the same single grouped
    map, keyed by (constraint_id, partition_id), so Python still only
    ever sees histograms.

    ``partition_col`` names a caller-supplied partition-id column on
    BOTH input frames (any deterministic int key — e.g. an
    SQL-portable ``doc_id % k`` when an external oracle must replay
    the bucketing); default is the engine's content-addressed
    ``stable_partition_id`` (pmod(xxhash64(doc_id), n_buckets))."""

    def keyed(docs: DataFrame) -> DataFrame:
        if partition_col is None:
            pid = stable_partition_id(F.col("doc_id"), n_buckets)
        else:
            pid = F.col(partition_col).cast("int")
        return docs.withColumn("partition_id", pid)

    return _drift_ks(
        keyed(baseline_docs),
        keyed(current_docs),
        span_len_bucket_width,
        ("partition_id",),
    )


def emd_from_histograms(
    base_hist: DataFrame,
    cur_hist: DataFrame,
    constraint_id: str,
    bucket_col: str,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Earth-mover / Wasserstein-1 drift between two histograms over a
    NUMERIC bucket key, in bucket-width units:

        EMD = sum_b |CDF_base(b) - CDF_cur(b)| * (next_bucket - b)

    The gap weight matters: histograms are sparse (only observed
    buckets materialize), and the CDF difference persists across an
    unobserved run of buckets, so each term is weighted by the distance
    to the next observed bucket. The last bucket's term is 0 (both
    CDFs have reached their total there).

    Complements the KS tier (max deviation — localized shifts) with
    total transported mass (broad shifts KS under-weights). Reference
    analog: the KS drift constraint family of the metrics scorer
    (``/root/reference/biosample_enricher/metrics/score.py``) — EMD is
    the additive counterpart over the same histogram inputs.

    Cross-engine exactness: the statistic is assembled as ONE exact
    integer numerator ``sum(|ca*nb - cb*na| * gap)`` (ca/cb integer
    cumulative counts, na/nb integer totals — an order-independent
    sum, carried in DECIMAL(38,0) because ca·nb exceeds int64 once
    both histograms pass ~3×10⁹ rows; oracle twin: HUGEINT) and
    divided by ``na*nb`` exactly once, so Spark and any ANSI-SQL
    oracle produce bit-identical doubles. The pass verdict is
    likewise the exact-integer predicate
    ``den*num <= threshold_num*na*nb`` — no float boundary. Window note: the cumsum window runs over the tiny
    aggregated histogram (|buckets| rows), not the corpus — the same
    single-partition-window contract as ``tv_from_histograms``.

    Degenerate verdicts mirror the TV tier: one empty side = maximal
    drift (emd null, fails); both empty = no evidence (emd 0.0, passes).
    """
    def long_buckets(hist: DataFrame) -> DataFrame:
        return hist.withColumn(bucket_col, F.col(bucket_col).cast("long"))

    aligned = _align(long_buckets(base_hist), long_buckets(cur_hist), bucket_col)
    joined = aligned.select(
        "bucket",
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
    )
    w = Window.partitionBy().orderBy("bucket")
    wall = Window.partitionBy()
    terms = joined.select(
        F.sum("n_base").over(w).alias("ca"),
        F.sum("n_cur").over(w).alias("cb"),
        (F.coalesce(F.lead("bucket").over(w), F.col("bucket")) - F.col("bucket"))
        .alias("gap"),
        F.sum("n_base").over(wall).alias("na"),
        F.sum("n_cur").over(wall).alias("nb"),
    )
    # ca·nb products overflow int64 once both sides exceed ~3×10⁹ rows
    # (exactly the 100 TB tier this targets), and Spark's non-ANSI long
    # multiply would wrap SILENTLY while a HUGEINT-summing SQL oracle
    # would not — so the numerator and the na·nb denominator are
    # computed in exact DECIMAL(38,0) (oracle twin: HUGEINT). Safe
    # while na·nb·max_gap·|buckets| < 10³⁸; the wide-int→double
    # conversions below are round-to-nearest in both engines and the
    # final ops correctly-rounded IEEE, so bit-identity survives the
    # widening.
    dec = "decimal(38,0)"
    tot = terms.groupBy().agg(
        F.coalesce(
            F.sum(
                F.abs(
                    F.col("ca").cast(dec) * F.col("nb")
                    - F.col("cb").cast(dec) * F.col("na")
                )
                * F.col("gap")
            ),
            F.lit(0).cast(dec),
        ).alias("num"),
        F.coalesce(F.max("na"), F.lit(0)).cast("long").alias("na"),
        F.coalesce(F.max("nb"), F.lit(0)).cast("long").alias("nb"),
    )
    denom = F.col("na").cast(dec) * F.col("nb")
    emd = (
        F.when((F.col("na") == 0) & (F.col("nb") == 0), F.lit(0.0))
        .when((F.col("na") == 0) | (F.col("nb") == 0), F.lit(None).cast("double"))
        .otherwise(
            F.col("num").cast("double") / denom.cast("double")
        )
    )
    passed = (
        F.when((F.col("na") == 0) & (F.col("nb") == 0), F.lit(True))
        .when((F.col("na") == 0) | (F.col("nb") == 0), F.lit(False))
        .otherwise(
            F.lit(int(threshold_den)).cast(dec) * F.col("num")
            <= F.lit(int(threshold_num)).cast(dec) * denom
        )
    )
    return tot.select(
        F.lit(constraint_id).alias("constraint_id"),
        emd.alias("emd_buckets"),
        F.col("na").alias("n_base"),
        F.col("nb").alias("n_cur"),
        F.lit(float(threshold_num) / float(threshold_den)).alias("threshold"),
        passed.alias("passed"),
    )


def chi2_contingency(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence over the contingency
    table of two categorical columns — the drift family's ASSOCIATION
    member (KS/TV/PSI/EMD compare one marginal against a baseline;
    this asks whether two dimensions of ONE corpus are independent,
    e.g. does violation kind depend on ingest source — the smoking gun
    for a broken provider).

    Per cell (i, j): observed O, row/column/grand totals r, c, n, the
    exact integer deviation n·O − r·c (zero ⟺ exactly independent
    cell — an integer verdict with no float), and the chi² term
    (n·O − r·c)² / (n·r·c), algebraically (O − E)²/E with E = r·c/n.
    The UNOBSERVED cells of the grid matter (O = 0 still contributes
    r·c/n): the observed pairs are gap-filled against the full
    distinct-rows × distinct-cols grid before totals are taken.

    Cross-engine float discipline (the a22/a23 rules): dev is an
    exact int64; its double image and square are correctly rounded
    from the same integer in any engine; the denominator is built
    left-associated double products of exact ints; ONE division, then
    9dp rounding. ``chi2_term_q`` additionally quantizes each term to
    DECIMAL(28,9), so downstream sums of the statistic are EXACT
    decimal additions — order-independent across partitions (a float
    sum of terms would be association-order-dependent and diverge
    between engines).

    Scale shape: one map-side-combined groupBy over the corpus; the
    grid/totals passes run on the |rows|×|cols| cell frame (bounded by
    category cardinalities, never the corpus). Overflow: dev² is
    computed in DECIMAL(38,0) → exact up to n·O ~ 10¹⁸.
    """
    o = (
        df.groupBy(
            F.col(row_col).alias("rk"), F.col(col_col).alias("ck")
        ).agg(F.count(F.lit(1)).alias("obs"))
    )
    grid = (
        o.select("rk").distinct().crossJoin(o.select("ck").distinct())
    )
    f = grid.join(o, ["rk", "ck"], "left").select(
        "rk", "ck", F.coalesce("obs", F.lit(0)).alias("obs")
    )
    wr, wc, wn = (
        Window.partitionBy("rk"),
        Window.partitionBy("ck"),
        Window.partitionBy(),
    )
    tot = f.select(
        "rk",
        "ck",
        "obs",
        F.sum("obs").over(wr).alias("r"),
        F.sum("obs").over(wc).alias("c"),
        F.sum("obs").over(wn).alias("n"),
    )
    dec = "decimal(38,0)"
    dev = (F.col("n") * F.col("obs") - F.col("r") * F.col("c"))
    dev_sq = (dev.cast(dec) * dev.cast(dec)).cast("double")
    den = (
        F.col("n").cast("double") * F.col("r").cast("double")
        * F.col("c").cast("double")
    )
    term = F.round(dev_sq / den, 9)
    return tot.select(
        F.col("rk"),
        F.col("ck"),
        "obs",
        F.col("r").alias("row_total"),
        F.col("c").alias("col_total"),
        F.col("n").alias("grand_total"),
        dev.alias("dev_num"),
        term.alias("chi2_term_9dp"),
        term.cast("decimal(28,9)").alias("chi2_term_q"),
    )
