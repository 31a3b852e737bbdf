"""The workloads. Each op calls the package's public entry points
exactly as ``jobs/validate.py`` and the streaming tier do; ``prepare``
(untimed) lays out the op's fresh paths and ``check`` (untimed) compares
its output with the Python recount.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import shutil

import checks
import inputs
from tracing import EventLog, job_group


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _row_dicts(rows) -> list[dict]:
    return [r.asDict() for r in rows]


class Batch:
    """``batch_full`` / ``batch_arrow``: the ``jobs/validate.py`` batch
    sequence under a fresh run id. ``resume_tail`` overrides the pieces
    that differ."""

    drift = True

    def __init__(self, spark, work: str, seed: int, arrow: bool) -> None:
        self.spark, self.work, self.seed, self.arrow = spark, work, seed, arrow
        corpus = os.path.join(inputs.seed_dir(work, seed), "corpus")
        with open(f"{corpus}/truth.json") as f:
            self.truth = json.load(f)
        self.docs = spark.read.parquet(f"{corpus}/docs")
        self.catalog = spark.read.parquet(f"{corpus}/catalog")
        self.baseline = spark.read.parquet(f"{corpus}/baseline")
        self.ops_dir = os.path.join(work, "ops")
        self.buckets = list(range(inputs.N_BUCKETS))
        self.checked = inputs.check_buckets(seed)

    # --- op ---------------------------------------------------------------

    def available(self, k: int) -> bool:
        return True

    def job_groups(self, k: int) -> list[str]:
        """Job groups besides the op's own that run op ``k``'s jobs."""
        return []

    def op_metrics(self, k: int) -> dict[str, float]:
        return {}

    def docs_per_op(self, k: int) -> int:
        return sum(self.truth["rows_per_bucket"].get(str(b), 0) for b in self.buckets)

    def run_id(self, k: int) -> str:
        return f"op-{k}"

    def paths(self, k: int) -> tuple[str, str]:
        return f"{self.ops_dir}/cp-{k}", f"{self.ops_dir}/viol-{k}"

    def prepare(self, k: int) -> None:
        shutil.rmtree(self.ops_dir, ignore_errors=True)
        os.makedirs(self.ops_dir)

    def suite(self, arrow: bool | None = None):
        from biosample_enricher_spark.constraints import ConstraintSuite

        return ConstraintSuite(
            n_buckets=inputs.N_BUCKETS,
            use_arrow_udf=self.arrow if arrow is None else arrow,
        )

    def op(self, k: int, spans) -> dict:
        from biosample_enricher_spark.checkpoint import ResumableRun
        from biosample_enricher_spark.operators.dedup import free_local_checkpoint
        from biosample_enricher_spark.operators.drift import drift_check

        cp, viol = self.paths(k)
        out = {}
        with spans.span("checkpoint.ResumableRun.run"):
            run = ResumableRun(self.spark, cp, run_id=self.run_id(k), suite=self.suite())
            summary = run.run(self.docs, self.catalog, violations_path=viol)
        with spans.span("summary.collect"):
            out["summary"] = _row_dicts(summary.collect())
        with spans.span("operators.dedup.free_local_checkpoint"):
            free_local_checkpoint(summary)
        if self.drift:
            with spans.span("operators.drift.drift_check"):
                out["drift"] = _row_dicts(drift_check(self.baseline, self.docs).collect())
        return out

    def check(self, k: int, out: dict) -> list[str]:
        _, viol = self.paths(k)
        got = checks.read_sink_buckets(viol, self.checked)
        problems = checks.check_bucket_rows(self.truth["expected_bucket_rows"], got)
        problems += checks.check_summary(
            out["summary"], self.truth, self.buckets, got
        )
        if self.drift:
            problems += checks.check_drift(out["drift"], self.truth)
        return problems

    # --- traced layers ----------------------------------------------------

    def layers(self, k: int, spans, group) -> dict[str, float]:
        """Re-run the op's pieces one layer at a time, each under its own
        job group, timing the Python build apart from the execution."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from biosample_enricher_spark.checkpoint import (
            ResumableRun,
            checkpoint_rows_from_summary,
        )
        from biosample_enricher_spark.constraints import exprs
        from biosample_enricher_spark.operators.dedup import free_local_checkpoint
        from biosample_enricher_spark.operators.drift import drift_check

        m: dict[str, float] = {}
        seq = itertools.count()

        def timed_exec(layer: str, df, observe: bool = False) -> float | None:
            obs = Observation(f"l{k}-{next(seq)}") if observe else None
            if obs is not None:
                df = df.observe(obs, F.count(F.lit(1)).alias("n"))
            with spans.span(f"{layer}.exec") as s, job_group(self.spark, group(layer)):
                _noop(df)
            m[f"{layer}.exec_s"] = s["end"] - s["start"]
            return obs.get["n"] if obs is not None else None

        def timed(name: str, fn):
            with spans.span(name) as s:
                r = fn()
            m[name] = s["end"] - s["start"]
            return r

        cp, viol = self.paths(k)
        cp, viol = cp + "-layers", viol + "-layers"
        self.prepare_layers(k, cp)
        suite = self.suite()
        timed("exprs.fold_build_s", lambda: exprs.span_violations(F.col("spans")))
        run = ResumableRun(self.spark, cp, run_id=self.run_id(k), suite=suite)

        def build():
            todo = run.pending(self.docs, with_referential=True)
            return todo, suite.run(todo, self.catalog)

        todo, res = timed("core.run.build_s", build)
        timed_exec(
            "checkpoint.completed_partitions",
            run.table.completed_partitions(
                run.run_id, constraint_ids=suite.active_constraints(True)
            ),
        )
        pending = timed_exec("checkpoint.pending", todo, observe=True)
        m["_pending_docs"] = pending
        docs_p = suite.with_partition_id(todo)
        # both row paths on the same input, whichever one the op uses
        m["core.row_fold.violations"] = timed_exec(
            "core.row_fold", self.suite(arrow=False).row_violations(docs_p), observe=True
        )
        timed_exec("udf.row_fold", self.suite(arrow=True).row_violations(docs_p))
        m["core.uniqueness.dup_keys"] = timed_exec(
            "core.uniqueness", suite.uniqueness_violations(docs_p), observe=True
        )
        m["_ref_misses"] = timed_exec(
            "core.referential",
            suite.referential_violations(docs_p, self.catalog),
            observe=True,
        )
        timed_exec("core.run.materialize", res.violations)
        m["core.summarize.rows"] = timed_exec("core.summarize", res.summary, observe=True)
        with spans.span("checkpoint.violations_write") as s, job_group(
            self.spark, group("checkpoint.violations_write")
        ):
            (
                res.violations.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("partition_id")
                .parquet(viol)
            )
        m["checkpoint.violations_write_s"] = s["end"] - s["start"]
        with job_group(self.spark, group("checkpoint.summary_checkpoint")):
            summary = res.summary.localCheckpoint(eager=True)
        with spans.span("checkpoint.append") as s, job_group(
            self.spark, group("checkpoint.append")
        ):
            run.table.append(checkpoint_rows_from_summary(summary, run.run_id))
        m["checkpoint.append_s"] = s["end"] - s["start"]
        res.unpersist()
        free_local_checkpoint(summary)
        if self.drift:
            m["drift.ks_groups"] = timed_exec(
                "drift.check", drift_check(self.baseline, self.docs), observe=True
            )
        shutil.rmtree(cp, ignore_errors=True)
        shutil.rmtree(viol, ignore_errors=True)
        return m

    def prepare_layers(self, k: int, cp: str) -> None:
        shutil.rmtree(cp, ignore_errors=True)

    def layer_log_metrics(self, m: dict, log: EventLog, group) -> dict[str, float]:
        """Event-log numbers of one op's layer pass."""
        out = {
            "core.uniqueness.shuffle_bytes": log.task(
                group("core.uniqueness"), "shuffle_write_bytes"
            ),
            "checkpoint.bytes_written": log.task(
                group("checkpoint.violations_write"), "bytes_written"
            )
            + log.task(group("checkpoint.append"), "bytes_written"),
        }
        scanned = log.task(group("checkpoint.pending"), "records_read")
        out["checkpoint.scan_useful_ratio"] = m["_pending_docs"] / scanned if scanned else 0
        probes = sum(
            self.truth["media_refs_per_bucket"].get(str(b), 0) for b in self.buckets
        )
        out["core.referential.probe_rows"] = probes
        out["core.referential.miss_ratio"] = m["_ref_misses"] / probes if probes else 0
        fold = group("udf.row_fold")
        out["udf.py_bytes_sent"] = log.sql_metric(fold, "data sent to Python workers")
        out["udf.py_bytes_returned"] = log.sql_metric(
            fold, "data returned from Python workers"
        )
        return out


class Resume(Batch):
    """``resume_tail``: the checkpoint already holds complete rows for 60
    of 64 buckets; the op resumes the finished run's id."""

    drift = False

    def __init__(self, spark, work: str, seed: int) -> None:
        super().__init__(spark, work, seed, arrow=False)
        self.resume_dir = os.path.join(inputs.seed_dir(work, seed), "resume")
        with open(f"{self.resume_dir}/meta.json") as f:
            meta = json.load(f)
        self.template_run_id = meta["run_id"]
        self.buckets = meta["pending_buckets"]
        self.checked = self.buckets

    def run_id(self, k: int) -> str:
        return self.template_run_id

    def _copy_cp60(self, cp: str) -> None:
        shutil.rmtree(cp, ignore_errors=True)
        shutil.copytree(f"{self.resume_dir}/cp60", cp)

    def prepare(self, k: int) -> None:
        super().prepare(k)
        self._copy_cp60(self.paths(k)[0])

    def prepare_layers(self, k: int, cp: str) -> None:
        self._copy_cp60(cp)


class Stream:
    """``stream_dedup``: land one increment, then drain it with in-stream
    uniqueness against the run's one checkpoint, so dedup state carries
    across ops."""

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.src = os.path.join(inputs.seed_dir(work, seed), "stream")
        with open(f"{self.src}/truth.json") as f:
            self.truth = json.load(f)
        base = os.path.join(work, "ops")
        shutil.rmtree(base, ignore_errors=True)
        self.input, self.sink, self.cp = (f"{base}/{d}" for d in ("in", "sink", "cp"))
        os.makedirs(self.input)
        self.seen_files: set[str] = set()
        self.progress: dict[int, list[dict]] = {}
        self.query_ids: dict[int, str] = {}

    def available(self, k: int) -> bool:
        return k < len(self.truth)

    def job_groups(self, k: int) -> list[str]:
        # micro-batch jobs run on the query's thread under its run id
        return [self.query_ids[k]] if k in self.query_ids else []

    def docs_per_op(self, k: int) -> int:
        return self.truth[k]["docs"]

    def prepare(self, k: int) -> None:
        pass

    def op(self, k: int, spans) -> dict:
        from biosample_enricher_spark.streaming import run_streaming_validation

        with spans.span("land_increment"):
            for i, f in enumerate(sorted(glob.glob(f"{self.src}/data/inc={k}/*.parquet"))):
                shutil.copy(f, f"{self.input}/inc{k:04d}-{i}.parquet")
        with spans.span("streaming.run_streaming_validation"):
            q = run_streaming_validation(
                self.spark,
                self.input,
                self.sink,
                self.cp,
                n_buckets=inputs.N_BUCKETS,
                with_uniqueness=True,
            )
        self.query_ids[k] = str(q.runId)
        self.progress[k] = [json.loads(p.json) for p in q.recentProgress]
        return {}

    def check(self, k: int, out: dict) -> list[str]:
        import pyarrow.parquet as pq

        files = set(glob.glob(f"{self.sink}/*.parquet")) - self.seen_files
        self.seen_files |= files
        rows = []
        for f in sorted(files):
            t = pq.read_table(f, columns=checks.VIOLATION_COLUMNS)
            rows += zip(*(t.column(c).to_pylist() for c in checks.VIOLATION_COLUMNS))
        return checks.check_stream_increment(self.truth[k], rows)

    def layers(self, k: int, spans, group) -> dict[str, float]:
        from pyspark.sql import functions as F

        from biosample_enricher_spark.constraints import exprs

        with spans.span("exprs.fold_build_s") as s:
            exprs.span_violations(F.col("spans"))
        return {"exprs.fold_build_s": s["end"] - s["start"]}

    def op_metrics(self, k: int) -> dict[str, float]:
        """Totals of the op's micro-batches from ``recentProgress``; state
        size as of the last one."""
        prog = self.progress.get(k, [])
        state = [o for p in prog[-1:] for o in p.get("stateOperators", [])]
        return {
            "stream.add_batch_ms": sum(p["durationMs"].get("addBatch", 0) for p in prog),
            "stream.trigger_ms": sum(
                p["durationMs"].get("triggerExecution", 0) for p in prog
            ),
            "stream.input_rows": sum(p["numInputRows"] for p in prog),
            "stream.state_rows": sum(o["numRowsTotal"] for o in state),
            "stream.state_mem_bytes": sum(o["memoryUsedBytes"] for o in state),
        }

    def layer_log_metrics(self, m: dict, log: EventLog, group) -> dict[str, float]:
        return {}


def make(name: str, spark, work: str, seed: int):
    if name == "batch_full":
        return Batch(spark, work, seed, arrow=False)
    if name == "batch_arrow":
        return Batch(spark, work, seed, arrow=True)
    if name == "resume_tail":
        return Resume(spark, work, seed)
    if name == "stream_dedup":
        return Stream(spark, work, seed)
    raise ValueError(name)
