"""Seeded benchmark inputs, generated once per seed and cached as parquet.

Everything under ``<work>/inputs/seed-<n>/`` is a pure function of the
seed. Generation runs in a Spark child process *after* its
``get_spark`` returns, so it never counts toward ``setup_s``, and the
measuring process only reads the cached files.

Layout of one seed directory (each part is written to a temporary name
and renamed into place, so a killed run never leaves a half part):

- ``corpus/``: ``docs`` (``synth.gen_documents`` with the default seeded
  violations and skew), ``catalog`` (``synth.gen_asset_catalog``),
  ``baseline`` (the clean corpus for the drift check), ``truth.json``
  (Python recount: doc rows, spans, bytes on disk, seeded-violation
  counts per constraint, and the expected violation rows of the checked
  buckets).
- ``resume/``: ``cp60`` (the checkpoint table of a finished run with the
  rows of the pending buckets dropped) and ``meta.json``.
- ``stream/``: ``inc=<k>`` parquet increments (with duplicates that span
  increments) and ``truth.json`` (expected rows per increment).
"""

from __future__ import annotations

import json
import os
import random
import shutil
from collections import Counter

import pyarrow.parquet as pq

N_DOCS = 50_000
N_ASSETS = 100_000
N_BUCKETS = 64
CHECK_BUCKETS = 3          # buckets whose violation rows are compared row by row
PENDING_BUCKETS = 4        # resume_tail: buckets left pending (60 of 64 done)
STREAM_INCREMENTS = 24
STREAM_INC_DOCS = 2_000
STREAM_CARRY_PER_MILLE = 20  # rows of increment k re-sent in increment k+1


def check_buckets(seed: int) -> list[int]:
    return sorted(random.Random(seed).sample(range(N_BUCKETS), CHECK_BUCKETS))


def pending_buckets(seed: int) -> list[int]:
    return sorted(random.Random(seed + 1).sample(range(N_BUCKETS), PENDING_BUCKETS))


def seed_dir(work: str, seed: int) -> str:
    return os.path.join(work, "inputs", f"seed-{seed}")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "truth.json")) or os.path.exists(
        os.path.join(path, "meta.json")
    )


def _publish(tmp: str, final: str) -> None:
    if os.path.exists(final):
        shutil.rmtree(final)
    os.rename(tmp, final)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def read_rows(path: str, columns: list[str] | None = None) -> list[dict]:
    """Rows of a parquet file or directory, read with pyarrow (no Spark)."""
    return pq.read_table(path, columns=columns).to_pylist()


def parts_needed(workload: str) -> list[str]:
    return {
        "batch_full": ["corpus"],
        "batch_arrow": ["corpus"],
        "resume_tail": ["corpus", "resume"],
        "stream_dedup": ["stream"],
    }[workload]


def missing_parts(work: str, seed: int, workload: str) -> list[str]:
    base = seed_dir(work, seed)
    return [p for p in parts_needed(workload) if not _done(os.path.join(base, p))]


def generate(spark, work: str, seed: int, workload: str) -> None:
    """Write every part ``workload`` needs that the cache lacks."""
    for part in missing_parts(work, seed, workload):
        {"corpus": _gen_corpus, "resume": _gen_resume, "stream": _gen_stream}[
            part
        ](spark, work, seed)


# --- corpus -----------------------------------------------------------------


def bucket_col():
    """The content-addressed bucket of ``doc_id``, written out here rather
    than taken from the package so a change to the package's bucketing
    shows as a failed check instead of moving the expectation with it."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(N_BUCKETS)).cast("int")


def _gen_corpus(spark, work: str, seed: int) -> None:
    from biosample_enricher_spark.constraints.reference import validate_rows
    from biosample_enricher_spark.synth import (
        GenParams,
        gen_asset_catalog,
        gen_documents,
    )

    final = os.path.join(seed_dir(work, seed), "corpus")
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    params = GenParams(seed=seed, n_assets=N_ASSETS)
    gen_documents(spark, N_DOCS, params).write.parquet(f"{tmp}/docs")
    gen_asset_catalog(spark, params).write.parquet(f"{tmp}/catalog")
    gen_documents(spark, N_DOCS, params.clean()).write.parquet(f"{tmp}/baseline")
    buckets = {
        r.doc_id: r.b
        for r in spark.read.parquet(f"{tmp}/docs")
        .select("doc_id", bucket_col().alias("b"))
        .distinct()
        .collect()
    }

    docs = read_rows(f"{tmp}/docs")
    catalog = set(pq.read_table(f"{tmp}/catalog", columns=["media_ref"]).column(0).to_pylist())
    wanted = set(check_buckets(seed)) | set(pending_buckets(seed))
    truth = {"seed": seed, **corpus_truth(docs, catalog, buckets, wanted, validate_rows)}
    base_spans, base_text = span_counts(f"{tmp}/baseline")
    truth["drift_n"] = {
        # drift_check's sample sizes: all spans for the kind histogram,
        # spans with text for the span-length histogram
        "drift_kind_frequency": [base_spans, truth["spans"]],
        "drift_span_length": [base_text, truth["text_spans"]],
    }
    truth["bytes_on_disk"] = {
        name: _dir_bytes(f"{tmp}/{name}") for name in ("docs", "catalog", "baseline")
    }
    with open(f"{tmp}/truth.json", "w") as f:
        json.dump(truth, f)
    _publish(tmp, final)


def referential_misses(docs, catalog: set[str]) -> list[tuple[str, str, str, str]]:
    """Python recount of catalog misses as violation rows."""
    from biosample_enricher_spark.spec import (
        C_MEDIA_REF_REFERENTIAL,
        MEDIA_KINDS,
        MSG_REF_DANGLING,
    )

    out = []
    for d in docs:
        for pos, s in enumerate(d["spans"] or []):
            ref = s["media_ref"]
            if s["kind"] in MEDIA_KINDS and ref is not None and ref not in catalog:
                out.append(
                    (
                        d["doc_id"],
                        C_MEDIA_REF_REFERENTIAL,
                        f"spans[{pos}].media_ref",
                        MSG_REF_DANGLING.format(ref=ref),
                    )
                )
    return out


def span_counts(path: str) -> tuple[int, int]:
    """(spans, spans with non-null text) of a documents parquet."""
    import pyarrow.compute as pc

    spans = pc.list_flatten(pq.read_table(path, columns=["spans"]).column(0))
    return len(spans), len(spans) - pc.struct_field(spans, "text").null_count


def corpus_truth(docs, catalog, buckets, wanted, validate_rows) -> dict:
    """Independent recount of what a correct suite run must produce; the
    expected violation rows are kept for the ``wanted`` buckets."""
    from biosample_enricher_spark.spec import (
        C_DOC_ID_UNIQUE,
        MEDIA_KINDS,
        MSG_DUP_DOC_ID,
    )

    counts = Counter(d["doc_id"] for d in docs)
    dups = {k: n for k, n in counts.items() if n > 1}
    rows_per_bucket = Counter(buckets[d["doc_id"]] for d in docs)
    refs_per_bucket = Counter(
        buckets[d["doc_id"]]
        for d in docs
        for s in (d["spans"] or [])
        if s["kind"] in MEDIA_KINDS and s["media_ref"] is not None
    )
    extra_per_bucket = Counter()
    for k, n in dups.items():
        extra_per_bucket[buckets[k]] += n - 1

    row_viol = validate_rows(docs)
    misses = referential_misses(docs, catalog)
    seeded = Counter(v[1] for v in row_viol) + Counter(v[1] for v in misses)
    seeded[C_DOC_ID_UNIQUE] = len(dups)

    expected = {str(b): [] for b in sorted(wanted)}
    for v in row_viol + misses:
        b = buckets[v[0]]
        if b in wanted:
            expected[str(b)].append(list(v))
    for k, n in dups.items():
        if buckets[k] in wanted:
            expected[str(buckets[k])].append(
                [k, C_DOC_ID_UNIQUE, "doc_id", MSG_DUP_DOC_ID.format(n=n)]
            )
    for rows in expected.values():
        rows.sort()

    spans = [sp for d in docs for sp in (d["spans"] or [])]
    return {
        "doc_rows": len(docs),
        "distinct_doc_ids": len(counts),
        "spans": len(spans),
        "text_spans": sum(1 for sp in spans if sp["text"] is not None),
        "media_refs_per_bucket": {
            str(b): n for b, n in sorted(refs_per_bucket.items())
        },
        "seeded_violations": dict(sorted(seeded.items())),
        "rows_per_bucket": {str(b): n for b, n in sorted(rows_per_bucket.items())},
        "dup_extra_per_bucket": {
            str(b): n for b, n in sorted(extra_per_bucket.items())
        },
        "expected_bucket_rows": expected,
    }


# --- resume -----------------------------------------------------------------

RESUME_RUN_ID = "resume-template"


def _gen_resume(spark, work: str, seed: int) -> None:
    """A finished run's checkpoint with the pending buckets' rows dropped."""
    from pyspark.sql import functions as F

    from biosample_enricher_spark.checkpoint import ResumableRun
    from biosample_enricher_spark.constraints import ConstraintSuite
    from biosample_enricher_spark.operators.dedup import free_local_checkpoint

    corpus = os.path.join(seed_dir(work, seed), "corpus")
    final = os.path.join(seed_dir(work, seed), "resume")
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    run = ResumableRun(
        spark,
        f"{tmp}/full",
        run_id=RESUME_RUN_ID,
        suite=ConstraintSuite(n_buckets=N_BUCKETS),
    )
    summary = run.run(
        spark.read.parquet(f"{corpus}/docs"), spark.read.parquet(f"{corpus}/catalog")
    )
    free_local_checkpoint(summary)
    pending = pending_buckets(seed)
    (
        run.table.read()
        .where(~F.col("partition_id").isin(pending))
        .coalesce(1)
        .write.parquet(f"{tmp}/cp60")
    )
    shutil.rmtree(f"{tmp}/full")
    with open(f"{tmp}/meta.json", "w") as f:
        json.dump({"run_id": RESUME_RUN_ID, "pending_buckets": pending}, f)
    _publish(tmp, final)


# --- stream -----------------------------------------------------------------


def _gen_stream(spark, work: str, seed: int) -> None:
    """Increments of ``STREAM_INC_DOCS`` synth documents. Increment k+1
    also re-sends a seeded ~2% of increment k's rows, so duplicates span
    increments as well as sit inside one (synth's own duplicates)."""
    from pyspark.sql import functions as F

    from biosample_enricher_spark.constraints.reference import validate_rows
    from biosample_enricher_spark.synth import GenParams, gen_documents

    final = os.path.join(seed_dir(work, seed), "stream")
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    n = STREAM_INCREMENTS * STREAM_INC_DOCS
    docs = gen_documents(spark, n, GenParams(seed=seed, n_assets=N_ASSETS))
    key = F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long")
    base = docs.withColumn("inc", (key / STREAM_INC_DOCS).cast("int"))
    carry = base.where(
        (F.pmod(F.xxhash64(F.lit(seed), F.lit("carry"), "doc_id"), F.lit(1000))
         < STREAM_CARRY_PER_MILLE)
        & (F.col("inc") < STREAM_INCREMENTS - 1)
    ).withColumn("inc", F.col("inc") + 1)
    base.unionByName(carry).write.partitionBy("inc").parquet(f"{tmp}/data")

    seen: Counter = Counter()
    truth = []
    for k in range(STREAM_INCREMENTS):
        rows = read_rows(f"{tmp}/data/inc={k}")
        truth.append(
            {
                "docs": len(rows),
                "rows": [list(v) for v in validate_rows(rows)],
                "dups": stream_dup_rows(rows, seen),
            }
        )
    with open(f"{tmp}/truth.json", "w") as f:
        json.dump(truth, f)
    _publish(tmp, final)


def stream_dup_rows(rows, seen: Counter) -> list[list[str]]:
    """Expected in-stream uniqueness rows for one increment: the
    occurrences after a key's first, numbered across increments.
    Updates ``seen`` with this increment's keys."""
    from biosample_enricher_spark.spec import C_DOC_ID_UNIQUE

    here = Counter(r["doc_id"] for r in rows)
    out = []
    for k, c in here.items():
        for occ in range(seen[k] + 1, seen[k] + c + 1):
            if occ > 1:
                out.append(
                    [k, C_DOC_ID_UNIQUE, "doc_id", f"duplicate doc_id: occurrence {occ}"]
                )
        seen[k] += c
    return sorted(out)
