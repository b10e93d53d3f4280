#!/usr/bin/env python3
"""User-flow benchmark for lintdb_spark.

    python3 perfbench/run.py --workload {index_serve,dedup_update}
                             --seed N --seconds S --trace {0,1}

Starts one Spark session on local[4], generates the workload's inputs
from the seed, builds the store, makes a fixed sequence of commits,
serves reads in a closed loop with one client for S seconds, checks
every output, and prints one JSON line: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. A record of the run (raw
samples, seed, code version, host load) is written under
.perfbench/records/ at the checkout root; a traced run also writes its
span tree and per-layer budget there.

Runs from any working directory; reads and writes only inside the
checkout that holds this file. Exits non-zero without a result line
when the library is not next to it.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

# setup_s counts from here. The process's start time in /proc is its
# fork, which can precede the exec of this script by any amount (a
# shell that runs several commands in a row execs the last one in
# place), so it is not used.
T0 = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
HARD_LIMIT_S = 130.0  # a serve loop starts no new round past this age

WORKLOADS = ("index_serve", "dedup_update")

# end-to-end metrics: name -> unit (computed in end_to_end below)
END_TO_END = {
    "setup_s": "s",
    "commit_p50_s": "s",
    "read_p50_s": "s",
    "request_p50_s": "s",
    "space_amp": "ratio",
}

# per-layer metrics: <op>.<field> for the registered ops, from the call
# spans (the record's budget holds every counter of every op)
OPS = (
    "train", "add", "search_batch", "search_http",
    "stream_cycle", "update", "dedup_gate", "dedup_read", "dedup_read_first",
)
MAIN_OPS = ("train", "add", "search_batch", "stream_cycle", "update")
COMMIT_OPS = ("add", "stream_cycle", "update")
FIELDS = {
    "spark.jobs": ("count", lambda c: c["jobs"]),
    "spark.stages": ("count", lambda c: c["stages"]),
    "spark.tasks": ("count", lambda c: c["tasks"]),
    "driver.cpu_s": ("s", lambda c: c["driver_cpu_s"]),
    "driver.exec_idle_frac": ("ratio", lambda c: c["exec_idle_frac"]),
    "udf.python_cpu_s": ("s", lambda c: c["python_cpu_s"]),
    "spark.executor_cpu_s": ("s", lambda c: c["executor_cpu_ns"] / 1e9),
    "spark.shuffle_write_bytes": ("bytes", lambda c: c["shuffle_write_bytes"]),
}
MAIN_FIELDS = {
    "spark.executor_run_s": ("s", lambda c: c["executor_run_ms"] / 1e3),
    "spark.gc_s": ("s", lambda c: c["gc_ms"] / 1e3),
    "spark.shuffle_read_bytes": ("bytes", lambda c: c["shuffle_read_bytes"]),
    "spark.spill_bytes": ("bytes", lambda c: c["spill_disk_bytes"]),
    "spark.output_bytes": ("bytes", lambda c: c["output_bytes"]),
}
COMMIT_FIELDS = {
    "spark.input_bytes": ("bytes", lambda c: c["input_bytes"]),
}
ALL_FIELDS = {**FIELDS, **MAIN_FIELDS, **COMMIT_FIELDS}
RUN_LAYER = {
    "store.files": "count",
    "store.bytes": "bytes",
    "maintenance.count": "count",
    "maintenance.s": "s",
    "streaming.trigger_overhead_s": "s",
    "session.start_s": "s",
}


def per_layer_names() -> dict[str, str]:
    """Every registered per-layer metric -> unit (BENCHMARK.json)."""
    out = {}
    for op in OPS:
        fields = {**FIELDS, **(MAIN_FIELDS if op in MAIN_OPS else {}),
                  **(COMMIT_FIELDS if op in COMMIT_OPS else {})}
        out.update({f"{op}.{f}": u for f, (u, _) in fields.items()})
    out.update(RUN_LAYER)
    return out


def _cpu_ticks() -> list[int]:
    """Host-wide CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _code_version() -> dict:
    """Git commit when the checkout is a repository, and always a hash
    of the library sources (checkouts without .git have no commit)."""
    h = hashlib.sha256()
    lib = os.path.join(ROOT, "lintdb_spark")
    for root, dirs, names in os.walk(lib):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(root, n)
                h.update(os.path.relpath(p, lib).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {"git_commit": commit, "lintdb_spark_sha256": h.hexdigest()}


class Context:
    """What a workload gets: the session, tracer, seed and clock, plus
    the places it reports samples, checks and sizes to."""

    def __init__(self, args, spark, tracer, work, t0):
        import numpy as np

        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds = args.seed, args.seconds
        self.rng = np.random.RandomState(args.seed + 1)
        self._t0 = t0
        self.samples: dict[str, list[float]] = {}
        self.scalars: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.checks: list[dict] = []
        self.input_bytes = 0
        self.store_dirs: list[str] = []

    def record(self, name: str, value: float) -> None:
        self.scalars[name] = float(value)

    def record_samples(self, name: str, values: list[float]) -> None:
        self.samples[name] = [float(v) for v in values]

    def setup_done(self) -> None:
        self.record("setup_s", time.perf_counter() - self._t0)

    def rounds(self, at_least: int):
        """Closed loop: yield round numbers until --seconds have passed
        and at least ``at_least`` rounds are done, never starting a
        round past the hard limit."""
        n, start = 0, time.perf_counter()
        while n < at_least or (time.perf_counter() - start < self.seconds
                               and time.perf_counter() - self._t0 < HARD_LIMIT_S):
            yield n
            n += 1

    def measure_stores(self) -> None:
        """Files and bytes on disk under the store dirs, taken before
        the work directory is removed."""
        from perfbench.tracer import dir_usage

        usage = [dir_usage(d) for d in self.store_dirs]
        self.store_files = sum(f for f, _ in usage)
        self.store_bytes = sum(b for _, b in usage)

    def verify(self, verify, corrupt, out) -> None:
        from perfbench.checks import self_test

        self.checks = verify(out)
        if all(c["ok"] for c in self.checks):
            # the checks must also reject broken copies of these outputs
            self.checks += self_test(verify, corrupt, out)


def end_to_end(ctx) -> dict[str, float]:
    med = statistics.median
    return {
        "setup_s": ctx.scalars["setup_s"],
        "commit_p50_s": med(ctx.samples["commit_s"]),
        "read_p50_s": med(ctx.samples["read_s"]),
        "request_p50_s": med(ctx.samples["request_s"]),
        "space_amp": ctx.store_bytes / ctx.input_bytes,
    }


def per_layer(ctx) -> dict[str, float]:
    tr = ctx.tracer
    out = {}
    for name in per_layer_names():
        op, _, field = name.partition(".")
        if op not in OPS:
            continue
        calls = tr.calls(op)
        fn = ALL_FIELDS[field][1]
        out[name] = float(statistics.median(fn(s["counters"]) for s in calls)) if calls else 0.0
    out["store.files"] = float(ctx.store_files)
    out["store.bytes"] = float(ctx.store_bytes)
    out["maintenance.count"] = float(ctx.extra.get("maintenance_count", 0))
    out["maintenance.s"] = float(ctx.extra.get("maintenance_s", 0.0))
    out["streaming.trigger_overhead_s"] = float(
        ctx.extra.get("streaming_trigger_overhead_s", 0.0))
    out["session.start_s"] = ctx.extra["session_start_s"]
    return out


def budget(tr) -> dict:
    """Per-op totals of every counter, and per-phase wall, self time
    (wall not covered by child spans) and counters."""
    ops: dict[str, dict] = {}
    for s in tr.spans:
        if s["kind"] != "call" or not s.get("ok"):
            continue
        b = ops.setdefault(s["op"], {"calls": 0, "wall_s": 0.0})
        b["calls"] += 1
        b["wall_s"] += s["wall_s"]
        for f, (_, fn) in ALL_FIELDS.items():
            b[f] = b.get(f, 0) + fn(s["counters"])
    for b in ops.values():  # a ratio of the sums, not a sum of ratios
        b["driver.exec_idle_frac"] = 1.0 - b["spark.executor_run_s"] / (
            max(b["wall_s"], 1e-9) * tr.cores)
    phases = {}
    for s in tr.spans:
        if s["kind"] != "phase":
            continue
        kids = [c["wall_s"] for c in tr.spans if c["parent"] == s["id"]]
        phases[s["name"]] = {
            "wall_s": s["wall_s"],
            "self_s": s["wall_s"] - sum(kids),
            **{f: fn(s["counters"]) for f, (_, fn) in ALL_FIELDS.items()},
        }
    return {"ops": ops, "phases": phases}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for every one of them to exit."""
    from perfbench.tracer import proc_table, jvm_pid

    sc = spark.sparkContext
    gateway, proc = sc._gateway, sc._gateway.proc
    jvm = jvm_pid(spark)
    table = proc_table()
    stack, tree = [jvm], set()
    while stack:
        pid = stack.pop()
        tree.add(pid)
        stack.extend(p for p, (pp, _) in table.items() if pp == pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its launcher's stdin closes
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lintdb_spark", "__init__.py")):
        print(f"lintdb_spark not found next to {os.path.dirname(__file__)}",
              file=sys.stderr)
        return 2

    load_before, ticks_before = os.getloadavg(), _cpu_ticks()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    records = os.path.join(base, "records")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(records, exist_ok=True)
    # UDF workers do not inherit sys.path; they get the library from
    # PYTHONPATH. Temp files of the driver, JVM and workers stay here.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    from lintdb_spark.session import get_spark
    from perfbench import dedup_update, index_serve
    from perfbench.tracer import Tracer

    ts = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}", cpus=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # JVM temp files stay in the checkout; no /tmp/hsperfdata
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - ts
    error = None
    try:
        tracer = Tracer(spark, enabled=bool(args.trace), cores=CORES)
        ctx = Context(args, spark, tracer, work, T0)
        ctx.extra["session_start_s"] = session_start_s
        module = {"index_serve": index_serve, "dedup_update": dedup_update}[args.workload]
        with tracer.span(args.workload, kind="workload"):
            module.run(ctx)
        ctx.measure_stores()
    except Exception as exc:  # noqa: BLE001 — reported as a failed run below
        import traceback

        traceback.print_exc()
        error = repr(exc)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if error is not None:
        print(f"run failed: {error}", file=sys.stderr)
        return 1
    ticks = [b - a for a, b in zip(ticks_before, _cpu_ticks())]
    e2e = end_to_end(ctx)
    correct = bool(ctx.checks) and all(c["ok"] for c in ctx.checks)
    record = {
        "run_wall_s": time.perf_counter() - T0,
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "local_cores": CORES,
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        # share of the host's CPU time stolen by the hypervisor and
        # left idle during the run: a slow run on a busy host shows here
        "cpu_steal_frac": ticks[7] / max(sum(ticks), 1),
        "cpu_idle_frac": ticks[3] / max(sum(ticks), 1),
        **_code_version(),
        "correct": correct, "attempted": tracer.attempted, "failed": tracer.failed,
        "failed_ops_ratio": tracer.failed / max(tracer.attempted, 1),
        "errors": tracer.errors, "checks": ctx.checks,
        "end_to_end": e2e, "extra": ctx.extra,
        "samples": ctx.samples, "scalars": ctx.scalars,
    }
    if args.trace:
        metrics = per_layer(ctx)
        units = per_layer_names()
        record["per_layer"] = metrics
        record["budget"] = budget(tracer)
        record["spans"] = tracer.spans
        untraced = sorted(glob.glob(os.path.join(
            records, f"{args.workload}-s{args.seed}-t0-*.json")))
        if untraced:
            with open(untraced[-1]) as fh:
                base_e2e = json.load(fh)["end_to_end"]
            record["tracing_overhead"] = {k: e2e[k] - base_e2e[k] for k in e2e}
        else:
            record["tracing_overhead"] = None  # no untraced run of this seed yet
    else:
        metrics = e2e
        units = END_TO_END
    stamp = time.strftime("%Y%m%dT%H%M%S") + f"-{os.getpid()}"
    path = os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for c in ctx.checks:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": tracer.attempted,
        "failed": tracer.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
