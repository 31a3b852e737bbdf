#!/usr/bin/env python3
"""Benchmark of the constraint-suite validator, run from the repo root::

    python3 perfbench/run.py --workload batch_full --seed 1 --seconds 8 --trace 0

Workloads: ``batch_full``, ``resume_tail`` and ``stream_dedup`` (the
ones in ``BENCHMARK.json``), and ``batch_arrow``, which no longer fits the
benchmark's time budget but still runs by hand; see ``perfbench/README.md``.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the
end-to-end ones, measured untraced; with ``--trace 1`` they are the
per-layer ones from a traced session, plus the tracing overhead against
an untraced session of the same command. The line before it records the
pinned environment, the inputs and every op's time.

All working files go to ``.perfbench/`` under the repo root; inputs are
cached there per seed. The run exits non-zero, printing no result, when
the package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

import inputs
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("batch_full", "batch_arrow", "resume_tail", "stream_dedup")
CHILD_TIMEOUT_S = 150


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pinned_env() -> dict[str, str]:
    """The environment every Spark child gets, recorded in the output."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            # well below host RAM: the package default (16g) exceeds a 15 GiB host
            "SPARK_DRIVER_MEMORY": f"{min(3072, host_ram_mb() // 4)}m",
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            # Python workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_SUBMIT_OPTS": " ".join(
                [os.environ.get("SPARK_SUBMIT_OPTS", ""),
                 f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
            ).strip(),
        }
    )
    return env


class Child:
    """One Spark child process; its process tree is killed and reaped on
    ``close``."""

    def __init__(self, args: list[str], env: dict[str, str], log: str) -> None:
        self.log = log
        self.t_spawn = time.time()
        with open(log, "a") as err:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "child.py"), *args, "--work", WORK],
                cwd=ROOT,
                env=env,
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                stderr=err,
            )
        self.deadline = self.t_spawn + CHILD_TIMEOUT_S
        self._buf = b""

    def next_message(self) -> dict:
        """The child's next ``@@`` line, read unbuffered so that ``select``
        sees every byte not yet consumed."""
        import select

        fd = self.proc.stdout.fileno()
        while True:
            while b"\n" in self._buf:
                line, self._buf = self._buf.split(b"\n", 1)
                if line.startswith(b"@@"):
                    return json.loads(line[2:])
            left = self.deadline - time.time()
            if left <= 0 or not select.select([fd], [], [], left)[0]:
                raise RuntimeError(f"child timed out; see {self.log}")
            chunk = os.read(fd, 1 << 16)
            if not chunk:
                raise RuntimeError(f"child exited early; see {self.log}")
            self._buf += chunk

    def close(self) -> None:
        tree = tracing.descendants(self.proc.pid)
        for pid in [self.proc.pid, *tree]:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait()
        deadline = time.time() + 30
        while any(os.path.exists(f"/proc/{p}") and _alive(p) for p in tree):
            if time.time() > deadline:
                raise RuntimeError(f"processes {tree} did not exit")
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def prepare_child(args, env) -> None:
    """Generate the seed's missing inputs in a session of its own."""
    cmd = ["prepare", "--workload", args.workload, "--seed", str(args.seed)]
    c = Child(cmd, env, _log("prepare"))
    try:
        c.next_message()  # ready
        c.next_message()  # done
    finally:
        c.close()


def measure_child(args, env) -> tuple[float, dict]:
    """Run the measuring process; return its setup time and its result."""
    # start from clean page cache state: input generation and earlier
    # runs leave dirty pages whose writeback would compete with the ops
    os.sync()
    cmd = [
        "measure", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    c = Child(cmd, env, _log("measure"))
    try:
        ready = c.next_message()
        return ready["t"] - c.t_spawn, c.next_message()
    finally:
        c.close()


def _log(role: str) -> str:
    return os.path.join(WORK, f"{role}.log")


def input_summary(seed: int, workload: str) -> dict:
    base = inputs.seed_dir(WORK, seed)
    out = {}
    for part in inputs.parts_needed(workload):
        path = os.path.join(base, part, "truth.json")
        if os.path.exists(path):
            with open(path) as f:
                t = json.load(f)
            if isinstance(t, list):  # stream increments
                out[part] = {
                    "increments": len(t),
                    "docs": sum(i["docs"] for i in t),
                    "row_violations": sum(len(i["rows"]) for i in t),
                    "dup_rows": sum(len(i["dups"]) for i in t),
                }
            else:
                out[part] = {
                    k: t[k]
                    for k in ("doc_rows", "distinct_doc_ids", "spans",
                              "bytes_on_disk", "seeded_violations")
                }
    return out


def versions() -> dict:
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0]}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "biosample_enricher_spark", "__init__.py")):
        print(f"perfbench: no biosample_enricher_spark package in {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    for role in ("prepare", "measure"):
        open(_log(role), "w").close()
    env = pinned_env()
    load_start = os.getloadavg()

    if inputs.missing_parts(WORK, args.seed, args.workload):
        prepare_child(args, env)
    setup, res = measure_child(args, env)
    if args.trace:
        layers = res["layers"]
        layers["trace.op_s_p50"] = res["traced_op_s_p50"]
        layers["trace.overhead_s"] = res["traced_op_s_p50"] - res["op_s_p50"]
        layers["session.get_spark_s"] = res["get_spark_s"]
        metrics = {m: layers.get(m, 0.0) for m in metric_names("per_layer")}
        extra = {"call_sites_last_op_s": layers["_call_sites"]}
    else:
        metrics = {
            "setup_s": setup,
            "first_op_s": res["first_op_s"],
            "op_s_p50": res["op_s_p50"],
            "docs_per_s": res["docs_per_s"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
        extra = {}

    attempted, failed = res["attempted"], res["failed"]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY",
                                    "SPARK_LOCAL_DIRS", "PYTHONPATH")},
        "versions": versions(),
        "host_load_start": load_start,
        "host_load_end": os.getloadavg(),
        "inputs": input_summary(args.seed, args.workload),
        "ops_failed_ratio": failed / attempted,
        "op_walls_s": res["op_walls"],
        "spark_counts_per_op": res["counts"],
        "problems": res["problems"],
        **extra,
    }
    print(json.dumps({"perfbench_info": info}))
    units = metric_names("end_to_end") | metric_names("per_layer")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


def metric_names(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())
