"""Spark-side half of the benchmark; ``run.py`` starts it as a fresh
process for each role.

- ``prepare``: build a session, generate the seed's missing inputs,
  report, then wait to be killed.
- ``measure``: build the session, run the cold op, then warm ops for
  ``--seconds``; check every op's output; report times, per-op Spark
  counts, peak memory and, with ``--trace 1``, per-layer numbers.

Messages to the parent are JSON lines on stdout prefixed with ``@@``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

# a run's median needs warm ops even when one op outlasts --seconds; a
# traced run alternates plain and traced ops, and brackets a traced op
# with plain ones so the warm-up trend cancels in the overhead
MIN_WARM_OPS = {False: 5, True: 3}

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def emit(kind: str, **payload) -> None:
    print("@@" + json.dumps({"kind": kind, **payload}), flush=True)


def build_session(work: str, trace: bool, role: str):
    from biosample_enricher_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # no .crc sidecar per file: the sink writes ~1k small files per op
        # and the sidecars double the local-disk metadata work, which
        # the real targets (object stores, Iceberg) do not pay
        "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
        "spark.hadoop.fs.file.impl.disable.cache": "true",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{role}", extra_conf=conf)
    return spark, time.time() - t0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(spark, args) -> tuple[dict, list[dict], object]:
    spans = tracing.Spans()
    wl = workloads.make(args.workload, spark, args.work, args.seed)
    ops: list[dict] = []

    def group(k):
        return lambda layer: f"L{k}:{layer}"

    def one(k: int, layers: bool) -> None:
        """Run and check op ``k``; with ``layers``, its layer pass follows."""
        wl.prepare(k)
        spans.op_id = f"op-{k}"
        rec = {"k": k, "docs": wl.docs_per_op(k)}
        try:
            with spans.span("op") as s, tracing.job_group(spark, spans.op_id):
                out = wl.op(k, spans)
            rec["wall_s"] = s["end"] - s["start"]
            problems = wl.check(k, out)
        except Exception:  # an op that raises counts as failed, the run goes on
            problems = [traceback.format_exc(limit=4)]
            rec["wall_s"] = None
        rec["problems"] = problems
        rec["counts"] = tracing.status_counts(spark, [spans.op_id, *wl.job_groups(k)])
        rec["op_metrics"] = wl.op_metrics(k)
        if layers:
            rec["layers"] = wl.layers(k, spans, group(k))
        ops.append(rec)

    one(0, layers=False)
    start = time.time()
    k = 1
    while wl.available(k) and (
        k <= MIN_WARM_OPS[bool(args.trace)] or time.time() - start < args.seconds
    ):
        # traced runs: odd ops plain, even ops followed by their layer pass
        one(k, layers=bool(args.trace) and k % 2 == 0)
        k += 1
    rss = tracing.peak_rss_mb()

    warm = [o for o in ops[1:] if o["wall_s"] is not None and not o["problems"]]
    plain = [o["wall_s"] for o in warm if "layers" not in o]
    traced = [o["wall_s"] for o in warm if "layers" in o]
    result = {
        "first_op_s": ops[0]["wall_s"],
        "op_walls": [o["wall_s"] for o in ops],
        "op_s_p50": median(plain),
        "traced_op_s_p50": median(traced),
        "docs_per_s": median([o["docs"] / o["wall_s"] for o in warm if "layers" not in o]),
        "peak_rss_mb": rss,
        "attempted": len(ops),
        "failed": sum(1 for o in ops if o["problems"]),
        "problems": [p for o in ops for p in o["problems"]][:5],
        "counts": [o["counts"] for o in ops],
    }
    spans.dump(os.path.join(args.work, f"spans-{'trace' if args.trace else 'plain'}.json"))
    return result, ops, wl


def per_layer(ops: list[dict], wl, work: str) -> dict[str, float]:
    """Median over traced ops of every layer number, after the event log
    of the stopped session is parsed."""
    log = tracing.EventLog(tracing.find_event_log(os.path.join(work, "eventlog")))
    rows = []
    for o in ops[1:]:
        if "layers" not in o:
            continue
        g = (lambda k: lambda layer: f"L{k}:{layer}")(o["k"])
        m = {key: v for key, v in o["layers"].items() if not key.startswith("_")}
        m.update(wl.layer_log_metrics(o["layers"], log, g))
        m.update(o["op_metrics"])
        op_group = f"op-{o['k']}"
        groups = [op_group, *wl.job_groups(o["k"])]
        busy = sum(log.busy_s(gr) for gr in groups)
        m["core.run.jobs_s"] = busy
        m["core.run.unattributed_s"] = (
            (o["wall_s"] or 0) - busy - m.get("core.run.build_s", 0)
        )
        for key in ("executor_run_s", "executor_cpu_s", "gc_s", "spill_bytes"):
            m[f"spark.{key}"] = sum(log.task(gr, key) for gr in groups)
        m["spark.peak_exec_mem"] = max(log.task(gr, "peak_exec_mem") for gr in groups)
        for key, v in o["counts"].items():
            m[f"spark.{key}"] = v
        m["_call_sites"] = log.busy_by_call_site(op_group)
        rows.append(m)
    keys = sorted({key for r in rows for key in r if not key.startswith("_")})
    out = {key: median([r.get(key, 0) for r in rows]) for key in keys}
    out["_call_sites"] = rows[-1]["_call_sites"]
    return out


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("role", choices=["prepare", "measure"])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--work", required=True)
    args = p.parse_args()

    spark, get_spark_s = build_session(args.work, bool(args.trace), args.role)
    emit("ready", t=time.time(), get_spark_s=get_spark_s)
    if args.role == "prepare":
        inputs.generate(spark, args.work, args.seed, args.workload)
        emit("done")
        sys.stdin.read()  # the parent kills this process tree
        return

    result, ops, wl = measure(spark, args)
    result["get_spark_s"] = get_spark_s
    if args.trace:
        spark.stop()  # flushes and closes the event log
        result["layers"] = per_layer(ops, wl, args.work)
    emit("result", **result)
    sys.stdin.read()  # the parent kills this process tree


if __name__ == "__main__":
    main()
