"""The output checks catch a corrupted op. Pure Python, no Spark::

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import inputs  # noqa: E402

from biosample_enricher_spark.constraints.reference import validate_rows  # noqa: E402

DOCS = [
    {"doc_id": "d1", "spans": [{"kind": "text", "text": "hi", "media_ref": None, "offset": 0},
                               {"kind": "image", "text": None, "media_ref": "a-miss", "offset": 8}]},
    {"doc_id": "d2", "spans": [{"kind": "video", "text": "x", "media_ref": None, "offset": 0}]},
    {"doc_id": "d2", "spans": [{"kind": "text", "text": "n/a", "media_ref": None, "offset": -1}]},
    {"doc_id": "d3", "spans": []},
]
BUCKETS = {"d1": 0, "d2": 1, "d3": 1}


def truth():
    return inputs.corpus_truth(DOCS, {"a-hit"}, BUCKETS, {0, 1}, validate_rows)


def sink_rows(t):
    return {b: [tuple(r) for r in t["expected_bucket_rows"][str(b)]] for b in (0, 1)}


def summary(t):
    rows = []
    for b in (0, 1):
        total = t["rows_per_bucket"][str(b)] - t["dup_extra_per_bucket"].get(str(b), 0)
        failed = Counter(
            cid for cid, doc in {(r[1], r[0]) for r in t["expected_bucket_rows"][str(b)]}
        )
        for cid in checks.SUITE_CONSTRAINTS:
            rows.append({"constraint_id": cid, "partition_id": b, "total": total,
                         "failed": failed[cid], "passed": total - failed[cid]})
    return rows


def test_recount_sees_every_constraint_class():
    t = truth()
    assert t["seeded_violations"] == {
        "doc_id_unique": 1, "kind_vocabulary": 1, "media_ref_referential": 1,
        "offset_ordering": 1, "spans_nonempty": 1, "text_presence": 1,
    }
    assert t["dup_extra_per_bucket"] == {"1": 1}


def test_correct_output_passes():
    t = truth()
    got = sink_rows(t)
    assert checks.check_bucket_rows(t["expected_bucket_rows"], got) == []
    assert checks.check_summary(summary(t), t, [0, 1], got) == []


def test_corrupted_row_is_caught():
    t = truth()
    got = sink_rows(t)
    doc, cid, field, msg = got[1][0]
    got[1][0] = (doc, cid, field, msg + " ")
    assert checks.check_bucket_rows(t["expected_bucket_rows"], got)


def test_dropped_and_duplicated_rows_are_caught():
    t = truth()
    dropped = sink_rows(t)
    dropped[0].pop()
    assert checks.check_bucket_rows(t["expected_bucket_rows"], dropped)
    doubled = sink_rows(t)
    doubled[1].append(doubled[1][0])
    assert checks.check_bucket_rows(t["expected_bucket_rows"], doubled)


def test_summary_total_and_failed_are_checked():
    t = truth()
    got = sink_rows(t)
    wrong_total = summary(t)
    wrong_total[-1]["total"] += 1
    wrong_total[-1]["passed"] += 1
    assert checks.check_summary(wrong_total, t, [0, 1], got)
    too_many_failed = summary(t)
    too_many_failed[0]["failed"] += 1
    too_many_failed[0]["passed"] -= 1
    assert checks.check_summary(too_many_failed, t, [0, 1], got)
    missing_bucket = [r for r in summary(t) if r["partition_id"] == 0]
    assert checks.check_summary(missing_bucket, t, [0, 1], got)


def test_stream_duplicates_are_numbered_across_increments():
    seen = Counter()
    first = inputs.stream_dup_rows([{"doc_id": "a"}, {"doc_id": "a"}], seen)
    second = inputs.stream_dup_rows([{"doc_id": "a"}, {"doc_id": "b"}], seen)
    assert [r[3] for r in first] == ["duplicate doc_id: occurrence 2"]
    assert [r[3] for r in second] == ["duplicate doc_id: occurrence 3"]
    expected = {"rows": [], "dups": second}
    assert checks.check_stream_increment(expected, [tuple(r) for r in second]) == []
    wrong = [("a", "doc_id_unique", "doc_id", "duplicate doc_id: occurrence 2")]
    assert checks.check_stream_increment(expected, wrong)


def test_drift_sample_sizes_are_checked():
    t = {"drift_n": {"drift_kind_frequency": [10, 12], "drift_span_length": [7, 9]}}
    rows = [
        {"constraint_id": "drift_kind_frequency", "n_base": 10, "n_cur": 12, "ks_stat": 0.1},
        {"constraint_id": "drift_span_length", "n_base": 7, "n_cur": 9, "ks_stat": 0.2},
    ]
    assert checks.check_drift(rows, t) == []
    rows[1]["n_cur"] = 8
    assert checks.check_drift(rows, t)
