"""Output checks, one call per op. Each returns a list of problems; an
empty list means the op's output is correct.

The expectations come from ``inputs.py``'s Python recount
(``constraints/reference.py`` for the row constraints, plus a recount of
duplicate keys and catalog misses), never from the Spark program.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

from biosample_enricher_spark.spec import (
    C_DOC_ID_UNIQUE,
    C_MEDIA_REF_REFERENTIAL,
    ROW_CONSTRAINTS,
)

SUITE_CONSTRAINTS = (*ROW_CONSTRAINTS, C_DOC_ID_UNIQUE, C_MEDIA_REF_REFERENTIAL)
VIOLATION_COLUMNS = ["doc_id", "constraint_id", "field", "message"]


def _diff(label: str, want: list, got: list) -> list[str]:
    w, g = Counter(map(tuple, want)), Counter(map(tuple, got))
    if w == g:
        return []
    missing, extra = w - g, g - w
    return [
        f"{label}: {sum(missing.values())} expected rows missing, "
        f"{sum(extra.values())} unexpected rows; "
        f"e.g. missing {next(iter(missing), None)}, extra {next(iter(extra), None)}"
    ]


def read_sink_buckets(sink: str, buckets: list[int]) -> dict[int, list[tuple]]:
    """Violation rows of the given ``partition_id`` directories of a
    dynamically partitioned sink."""
    import pyarrow.parquet as pq

    out = {}
    for b in buckets:
        files = sorted(glob.glob(os.path.join(sink, f"partition_id={b}", "*.parquet")))
        rows = []
        for f in files:
            t = pq.read_table(f, columns=VIOLATION_COLUMNS)
            rows.extend(zip(*(t.column(c).to_pylist() for c in VIOLATION_COLUMNS)))
        out[b] = rows
    return out


def check_bucket_rows(
    expected: dict[str, list], got: dict[int, list[tuple]]
) -> list[str]:
    """Row-for-row comparison of the sampled buckets' violation rows."""
    problems = []
    for b, rows in got.items():
        problems += _diff(f"bucket {b} violations", expected[str(b)], rows)
    return problems


def check_summary(
    summary: list[dict],
    truth: dict,
    buckets: list[int],
    sink_rows: dict[int, list[tuple]],
) -> list[str]:
    """``summary`` rows must cover exactly ``buckets`` x the suite's
    constraints; ``total`` = rows - sum(n-1) over duplicate keys of the
    bucket; ``failed`` <= distinct violating docs in the sink, per
    (constraint, bucket), for the buckets in ``sink_rows``."""
    problems = []
    violating = _violating_docs(sink_rows)
    keys = Counter((r["constraint_id"], r["partition_id"]) for r in summary)
    want = {(c, b) for c in SUITE_CONSTRAINTS for b in buckets}
    if set(keys) != want or any(n != 1 for n in keys.values()):
        problems.append(
            f"summary covers {len(keys)} (constraint, bucket) keys, "
            f"expected {len(want)} distinct"
        )
    for r in summary:
        b = str(r["partition_id"])
        total = truth["rows_per_bucket"].get(b, 0) - truth["dup_extra_per_bucket"].get(
            b, 0
        )
        if r["total"] != total:
            problems.append(
                f"summary total {r['total']} != {total} for "
                f"({r['constraint_id']}, {b})"
            )
        if r["passed"] + r["failed"] != r["total"]:
            problems.append(f"summary passed+failed != total for ({r['constraint_id']}, {b})")
        if r["partition_id"] in sink_rows:
            limit = violating.get((r["constraint_id"], r["partition_id"]), 0)
            if r["failed"] > limit:
                problems.append(
                    f"summary failed {r['failed']} > {limit} violating docs for "
                    f"({r['constraint_id']}, {b})"
                )
    return problems


def _violating_docs(bucket_rows: dict[int, list[tuple]]) -> dict[tuple[str, int], int]:
    """Distinct violating doc ids per (constraint, bucket)."""
    docs: dict[tuple[str, int], set] = {}
    for b, rows in bucket_rows.items():
        for doc, cid, _, _ in rows:
            docs.setdefault((cid, b), set()).add(doc)
    return {k: len(v) for k, v in docs.items()}


def check_drift(rows: list[dict], truth: dict) -> list[str]:
    """Two rows, one per drift constraint, with recounted sample sizes."""
    problems = []
    got = {r["constraint_id"]: r for r in rows}
    if sorted(got) != sorted(truth["drift_n"]) or len(rows) != len(got):
        return [f"drift rows {sorted(got)} != {sorted(truth['drift_n'])}"]
    for cid, (n_base, n_cur) in truth["drift_n"].items():
        r = got[cid]
        if (r["n_base"], r["n_cur"]) != (n_base, n_cur):
            problems.append(
                f"{cid} sample sizes {(r['n_base'], r['n_cur'])} != {(n_base, n_cur)}"
            )
        if not 0.0 <= r["ks_stat"] <= 1.0:
            problems.append(f"{cid} ks_stat {r['ks_stat']} outside [0, 1]")
    return problems


def check_stream_increment(expected: dict, got: list[tuple]) -> list[str]:
    """Streamed rows of one increment: row-scope rows equal the batch
    reference's rows for the increment's documents, and the uniqueness
    rows equal the recount of occurrences across increments."""
    unique = [r for r in got if r[1] == C_DOC_ID_UNIQUE]
    row_scope = [r for r in got if r[1] != C_DOC_ID_UNIQUE]
    return _diff("stream row-scope", expected["rows"], row_scope) + _diff(
        "stream uniqueness", expected["dups"], unique
    )
