"""Spans around public library calls, timed from outside the library.

Every span records its wall time; the run's end-to-end samples come
from these walls. With tracing on, a span also records counters taken
at its boundaries:

- Spark: exact per-span deltas by job-ID and stage-ID watermarks read
  from the DAG scheduler, with each stage's task metrics summed from
  the status store. Jobs are not filtered by job group, so stages the
  library submits from its own worker threads are counted too. A stage
  in the window that the status store has already evicted fails the
  run instead of being silently skipped.
- Python UDF workers: utime+stime, reaped children included, of every
  process below the JVM (the `pyspark.daemon` tree). The JVM's
  executorCpuTime counts JVM threads only.
- Driver: CPU time of this process (plan building, py4j calls,
  driver-side numpy).
- Store: files and bytes under the store directory the call touched.

Spans nest (workload -> phase -> call), stay in memory, and are
written out once by the caller when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

# the stage fields summed per span (status-store names -> record names)
_STAGE_SUMS = {
    "numTasks": "tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
}


class StageEvicted(RuntimeError):
    """A stage inside a traced window left the status store before the
    window was read: its counters are lost, so the span is not exact."""


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file below ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
            except FileNotFoundError:  # vacuumed while walking
                continue
            files += 1
    return files, size


def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in clock ticks)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # comm may contain spaces; the fields after it are fixed
        rest = raw[raw.rfind(b")") + 2 :].split()
        out[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return out


class WorkerCpu:
    """CPU seconds spent by the processes below the JVM.

    A live process contributes its own utime+stime plus the cutime and
    cstime of the children it has reaped; the JVM contributes only the
    reaped-children part (its own threads are executor and driver JVM
    time, reported elsewhere). A worker that exits moves its time into
    its parent's cutime, so it is counted once either way."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._tick = os.sysconf("SC_CLK_TCK")

    def seconds(self) -> float:
        table = proc_table()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        total = 0
        jvm = table.get(self.jvm_pid)
        if jvm is not None:
            total += self._reaped(self.jvm_pid)
        stack = list(children.get(self.jvm_pid, []))
        while stack:
            pid = stack.pop()
            total += table[pid][1]
            stack.extend(children.get(pid, []))
        return total / self._tick

    def _reaped(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            return 0
        rest = raw[raw.rfind(b")") + 2 :].split()
        return int(rest[13]) + int(rest[14])


def jvm_pid(spark) -> int:
    """PID of the JVM behind ``spark``: the gateway launcher execs it,
    or, when a wrapper shell stays in between, its java descendant."""
    root = spark.sparkContext._gateway.proc.pid
    table = proc_table()
    stack = [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            pass
        stack.extend(p for p, (pp, _) in table.items() if pp == pid)
    return root


class SparkCounters:
    """Exact job/stage deltas between two watermarks."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        # both counters are AtomicIntegers, which py4j hands back as
        # plain ints: read them afresh at every watermark
        self._dag = jsc.dagScheduler()
        self._stage_field = self._dag.getClass().getDeclaredField("nextStageId")
        self._stage_field.setAccessible(True)
        jvm = spark.sparkContext._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        )
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._stages: dict[int, dict] = {}

    def watermark(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._stage_field.get(self._dag))

    def window(self, start: tuple[int, int], end: tuple[int, int]) -> dict:
        """Summed counters of every job and stage created in
        [start, end). Waits for the listener bus to drain first, so a
        stage that just finished is already in the status store."""
        self._bus.waitUntilEmpty(60_000)
        j0, s0 = start
        j1, s1 = end
        out = {"jobs": j1 - j0, "stages": 0, "stages_skipped": 0,
               "job_names": [self._job_name(j) for j in range(j0, j1)]}
        out.update({v: 0 for v in _STAGE_SUMS.values()})
        for sid in range(s0, s1):
            st = self._stage(sid)
            if st["status"] == "SKIPPED":
                out["stages_skipped"] += 1
                continue
            out["stages"] += 1
            for k, v in _STAGE_SUMS.items():
                out[v] += int(st.get(k) or 0)
        return out

    def _job_name(self, jid: int) -> str:
        """The job's call site, so two traces that differ in job count
        show which job differs."""
        try:
            return str(self._store.job(jid).name())
        except Exception:  # noqa: BLE001 — evicted: the name is only a label
            return "?"

    def _stage(self, sid: int) -> dict:
        cached = self._stages.get(sid)
        if cached is not None:
            return cached
        try:
            raw = self._mapper.writeValueAsString(self._store.lastStageAttempt(sid))
        except Exception as exc:  # py4j wraps the JVM NoSuchElementException
            raise StageEvicted(
                f"stage {sid} is no longer in the status store"
            ) from exc
        st = json.loads(raw)
        st = {k: st.get(k) for k in ("status", *_STAGE_SUMS)}
        if st["status"] not in ("ACTIVE", "PENDING"):
            # only final stages are cached: a stage still running when
            # a child span closes is re-read by the enclosing span
            self._stages[sid] = st
        return st


class Tracer:
    """Records spans. ``enabled`` turns the counters on; the walls and
    the tree are always kept (they cost two clock reads a span)."""

    def __init__(self, spark, enabled: bool, cores: int):
        self.enabled = enabled
        self.cores = cores
        self.spans: list[dict] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.last: dict | None = None  # span of the latest call()
        self._stack: list[int] = []
        self._spark_counters = SparkCounters(spark) if enabled else None
        self._workers = WorkerCpu(jvm_pid(spark)) if enabled else None

    def _probe(self) -> dict:
        return {
            "wm": self._spark_counters.watermark(),
            "driver_cpu": time.process_time(),
            "python_cpu": self._workers.seconds(),
        }

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "call", op: str | None = None,
             store: str | None = None, **attrs):
        """Time the block as one span. ``op`` groups call spans for the
        per-layer budget; ``store`` names the directory whose files and
        bytes are recorded when the span ends."""
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "kind": kind,
            "op": op,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        before = self._probe() if self.enabled else None
        rec["start"] = time.perf_counter()
        ok = False
        try:
            yield rec
            ok = True
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["ok"] = ok
            self._stack.pop()
            if self.enabled:
                after = self._probe()
                c = self._spark_counters.window(before["wm"], after["wm"])
                c["driver_cpu_s"] = after["driver_cpu"] - before["driver_cpu"]
                c["python_cpu_s"] = after["python_cpu"] - before["python_cpu"]
                wall = max(rec["wall_s"], 1e-9)
                c["exec_idle_frac"] = 1.0 - (
                    c["executor_run_ms"] / 1000.0
                ) / (wall * self.cores)
                if store is not None:
                    c["store_files"], c["store_bytes"] = dir_usage(store)
                rec["counters"] = c

    def call(self, name: str, op: str, fn, *args, store: str | None = None,
             required: bool = False, **attrs):
        """One timed public call. A call that raises counts as failed
        and returns None; a ``required`` one (set-up the rest of the
        run depends on) re-raises after being counted."""
        self.attempted += 1
        try:
            with self.span(name, op=op, store=store, **attrs) as rec:
                self.last = rec
                return fn(*args)
        except Exception as exc:  # noqa: BLE001 — counted, run goes on
            self.failed += 1
            self.errors.append(f"{name}: {exc!r}"[:500])
            if required:
                raise
            return None

    def calls(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and s.get("ok")]

    def walls(self, op: str) -> list[float]:
        return [s["wall_s"] for s in self.calls(op)]
