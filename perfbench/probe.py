"""Measurement helpers: result fingerprints, spans, per-operation Spark
counters and a py4j command counter.

Everything here observes the engine from outside: spans wrap calls into
the engine's public entry points, counts come from Spark's status store
(read per job group) and from the py4j client the session already owns.
No engine code is modified.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Stage fields summed per operation, as (metric suffix, StageData getter).
STAGE_FIELDS = (
    ("task_run_ms", "executorRunTime"),
    ("task_cpu_ms", "executorCpuTime"),  # ns in the store, scaled below
    ("input_bytes", "inputBytes"),
    ("output_bytes", "outputBytes"),
    ("shuffle_bytes", "shuffleWriteBytes"),
    ("spill_bytes", "diskBytesSpilled"),
    ("gc_ms", "jvmGcTime"),
    ("tasks", "numTasks"),
    ("failed_tasks", "numFailedTasks"),
)
COUNTER_KEYS = ("jobs", "stages") + tuple(k for k, _ in STAGE_FIELDS)


def fingerprint_df(df: DataFrame) -> DataFrame:
    """One-row (rows, xxhash-max, xxhash-xor) aggregate over every column.

    The full-width row hash forces the complete plan (a bare count()
    lets Catalyst prune cardinality-preserving operators); it is the
    same hash ``bench.py`` forces with, plus an order-free XOR so a
    changed row changes the fingerprint even when the max survives.
    """
    h = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("h").alias("hmax"),
        F.expr("bit_xor(h)").alias("hxor"),
    )


def row_fingerprint(row) -> list[int]:
    return [int(row["n"]), int(row["hmax"] or 0), int(row["hxor"] or 0)]


class Py4jCounter:
    """Counts commands sent over the session's py4j gateway client.

    Installed only in traced runs: it replaces ``send_command`` on the
    one client object every JVM proxy of the session holds.
    """

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.count = 0
        self._orig = self.client.send_command
        self.install()

    def install(self) -> None:
        orig = self._orig

        def counting(*args, **kwargs):
            self.count += 1
            return orig(*args, **kwargs)

        self.client.send_command = counting

    def close(self) -> None:
        self.client.send_command = self._orig


class Tracer:
    """Spans plus per-job-group Spark counters, kept in memory.

    A disabled tracer runs the wrapped calls with nothing added: no job
    group, no status-store reads, no span records.
    """

    def __init__(self, spark, enabled: bool, cores: int):
        self.spark = spark
        self.enabled = enabled
        self.cores = cores
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._groups = itertools.count(1)
        self._group_stack: list[str | None] = []
        self.py4j = Py4jCounter(spark) if enabled else None
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._status = sc.statusTracker()

    @contextlib.contextmanager
    def span(self, name: str, op: str, jobs: bool = False):
        """Time one call; with ``jobs`` also give it its own job group and
        attach that group's Spark counters to the span record."""
        if not self.enabled:
            rec: dict = {}
            t0 = time.perf_counter()
            yield rec
            rec["ms"] = (time.perf_counter() - t0) * 1e3
            return
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "op": op,
        }
        group = None
        if jobs:
            group = f"perfbench-{next(self._groups)}"
            self._push_group(group)
        self._stack.append(sid)
        calls0 = self.py4j.count
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["ms"] = (rec["end"] - rec["start"]) * 1e3
            rec["py4j_calls"] = self.py4j.count - calls0
            self._stack.pop()
            if group is not None:
                self._pop_group()
            self.spans.append(rec)
        if group is not None:
            rec.update(self.group_counters(group))

    def _push_group(self, group: str) -> None:
        sc = self.spark.sparkContext
        self._group_stack.append(sc.getLocalProperty("spark.jobGroup.id"))
        sc.setJobGroup(group, group)

    def _pop_group(self) -> None:
        outer = self._group_stack.pop()
        sc = self.spark.sparkContext
        if outer is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(outer, outer)

    def group_counters(self, group: str) -> dict:
        """Jobs, stages and summed stage metrics of one job group.

        Read right after the operation, so the status store's job and
        stage retention limits never drop any of them.
        """
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(COUNTER_KEYS, 0)
        job_ids = self._status.getJobIdsForGroup(group)
        out["jobs"] = len(job_ids)
        stage_ids = set()
        for jid in job_ids:
            info = self._status.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j wraps NoSuchElementException
                continue  # never ran (skipped by AQE stage reuse)
            if str(st.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            for key, getter in STAGE_FIELDS:
                out[key] += int(getattr(st, getter)())
        out["task_cpu_ms"] = out["task_cpu_ms"] / 1e6
        return out

    @contextlib.contextmanager
    def paused(self):
        """Run a block exactly as an untraced run would: no spans, no
        job groups, the py4j client unwrapped."""
        if not self.enabled:
            yield
            return
        self.enabled = False
        self.py4j.close()
        try:
            yield
        finally:
            self.py4j.install()
            self.enabled = True

    def close(self) -> None:
        if self.py4j is not None:
            self.py4j.close()


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the session's JVM (VmHWM), in MB."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant: the session's JVM and its Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = (int(fields[11]) + int(fields[12])) / tick
    me = os.getpid()

    def mine(pid: int) -> bool:
        while pid > 1:
            if pid == me:
                return True
            pid = parent.get(pid, 0)
        return False

    return sum(c for pid, c in cpu.items() if mine(pid))


def dir_bytes(path: str) -> int:
    """Bytes of regular files under ``path``; symlinks are not followed."""
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total
