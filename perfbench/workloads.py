"""The benchmark's workloads: one client thread, closed loop.

``run_headline`` runs the 15 headline query keys in seeded order, pass
after pass.  ``run_backup_cycle`` drives a ``BackupEngine`` through backup
→ retention plan → prune → restore on a simulated clock.  Both call
``ready()`` when set-up ends and timing starts, and fill a ``Result`` with
per-operation outcomes, per-round walls and, in a traced run, per-layer
numbers computed from the tracer's spans.

In a traced run every timed round is run three times: untraced (the
tracer paused, exactly as in an untraced run), traced, untraced again.
The traced round minus the mean of the two untraced ones is the tracing
overhead, and that mean is what each traced construct + plan + exec sum
is checked against; taking the mean cancels warm-up drift.

``HEADLINE_LAYERS`` and ``BACKUP_LAYERS`` name the per-layer metrics each
runner reports; the harness treats a missing one as a fault.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from probe import Tracer, dir_bytes, fingerprint_df, row_fingerprint, tree_cpu_s

#: The ``bench.py`` headline set, frozen here so the benchmark's
#: definition does not move when that script does.
HEADLINE = (
    "agg_basic",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "join_broadcast",
    "join_inner",
    "win_keep_newest",
    "topk_per_group",
    "backup_retention_plan",
    "dedup_exact",
    "dedup_minhash",
    "sim_topk_cosine",
    "text_tokenize_count",
    "stream_session",
    "join_asof",
)

#: backup_cycle's tables, spread across two dbs.
BACKUP_TABLES = {"db0": ("orders", "lineitem"), "db1": ("events",)}
#: Every generation window is one day (keep_weeks/keep_months 0 → 1 day
#: by the reference's ``N*7+1`` / ``N*31+1`` arithmetic) and the clock
#: steps 25-35 h, so from the second cycle on every generation keeps the
#: newest snapshot set and prunes the one before it: stored bytes are
#: level from the first timed cycle, which follows the cold one.
RETENTION = dict(keep_mins=1440, keep_days=1, keep_weeks=0, keep_months=0)
STEP_MINUTES = (25 * 60, 35 * 60)
GENERATION_DIRS = ("last", "daily", "weekly", "monthly")
PHASES = ("construct", "plan", "exec")
EXEC_COUNTERS = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
                 "shuffle_bytes", "spill_bytes", "input_bytes", "gc_ms",
                 "failed_tasks")
#: Timed round walls every run collects at least, whatever ``seconds`` is.
MIN_ROUNDS = 2

PHASE_LAYERS = ("construct.ms", "construct.py4j_calls", "construct.eager_jobs",
                "plan.ms", "exec.ms", "exec.busy_ratio",
                *(f"exec.{k}" for k in EXEC_COUNTERS))
HEADLINE_LAYERS = (*PHASE_LAYERS, "trace.overhead_ms", "trace.keys_within_10pct",
                   "trace.span_coverage", *(f"query.{k}.ms" for k in HEADLINE))
BACKUP_LAYERS = (
    *PHASE_LAYERS, "trace.overhead_ms", "cycle.ms", "backup.ms", "snapshot.ms",
    "snapshot.jobs", "snapshot.input_bytes", "snapshot.output_bytes",
    "catalog.append_ms", "catalog.files", "catalog.rows", "latest.ms",
    "latest.pointers", "retention.plan_ms", "prune.ms", "prune.jobs",
    "prune.paths_removed", "restore.ms", "restore.jobs", "hooks.fired",
    "hooks.failed", "cycle.write_amp", "cycle.space_amp",
)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    op_ms: list[tuple[str, float]] = field(default_factory=list)  # timed ops only
    round_s: list[float] = field(default_factory=list)  # timed rounds only
    round_cpu_s: list[float] = field(default_factory=list)
    first_round_s: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _medians(rounds: list[dict]) -> dict[str, float]:
    keys = {k for d in rounds for k in d}
    return {k: float(statistics.median(d.get(k, 0.0) for d in rounds)) for k in keys}


def _force(tracer: Tracer, op: str, build) -> list[int]:
    """Build a DataFrame and force it through the fingerprint aggregate,
    as construct → plan → exec spans when tracing.  ``plan`` covers
    wrapping the result in that aggregate (analysed eagerly) and
    Catalyst optimization and physical planning of the whole query."""
    with tracer.span("construct", op, jobs=True):
        df = build()
    with tracer.span("plan", op):
        fp = fingerprint_df(df)
        if tracer.enabled:
            fp._jdf.queryExecution().executedPlan()
    with tracer.span("exec", op, jobs=True):
        row = fp.collect()[0]
    return row_fingerprint(row)


def _phase_sums(spans: list[dict], cores: int) -> dict[str, float]:
    """construct/plan/exec totals over a list of spans."""
    out = {"construct.ms": 0.0, "construct.py4j_calls": 0,
           "construct.eager_jobs": 0, "plan.ms": 0.0, "exec.ms": 0.0}
    out.update({f"exec.{k}": 0 for k in EXEC_COUNTERS})
    for s in spans:
        if s["name"] not in PHASES:
            continue
        out[f"{s['name']}.ms"] += s["ms"]
        if s["name"] == "construct":
            out["construct.py4j_calls"] += s["py4j_calls"]
            out["construct.eager_jobs"] += s["jobs"]
        elif s["name"] == "exec":
            for k in EXEC_COUNTERS:
                out[f"exec.{k}"] += s[k]
    out["exec.busy_ratio"] = out["exec.task_run_ms"] / max(out["exec.ms"] * cores, 1e-9)
    return out


def _timed_loop(res: Result, seconds: float, one_round) -> None:
    """Closed loop of whole rounds: until ``res.round_s`` holds
    ``MIN_ROUNDS`` walls, then on while the next round, taking as long as
    the last, would end within ``seconds`` of the start."""
    start = time.perf_counter()
    while True:
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        one_round()
        res.round_cpu_s.append(tree_cpu_s() - cpu0)
        now = time.perf_counter()
        if len(res.round_s) >= MIN_ROUNDS and 2 * now - t0 - start > seconds:
            return


# -- headline ---------------------------------------------------------------


def run_headline(spark, specs, data_dir, fingerprints, rng: random.Random,
                 seconds: float, tracer: Tracer, ready) -> Result:
    res = Result()
    per_pass: list[dict] = []

    def one(key: str) -> float:
        """Run one key, check its fingerprint; latency in ms."""
        t0 = time.perf_counter()
        try:
            if tracer.enabled:
                with tracer.span("query", key):
                    got = _force(tracer, key, lambda: specs[key].fn(spark, data_dir))
            else:
                df = specs[key].fn(spark, data_dir)
                got = row_fingerprint(fingerprint_df(df).collect()[0])
            ok = got == fingerprints[key]
            what = f"{key}: fingerprint {got} != {fingerprints[key]}"
        except Exception as exc:  # noqa: BLE001 - an operation that raises is counted failed
            ok, what = False, f"{key}: {type(exc).__name__}: {exc}"
        res.outcome(ok, what)
        return (time.perf_counter() - t0) * 1e3

    def run_keys(keys: list[str]) -> tuple[float, dict[str, float]]:
        """One pass over ``keys``; its wall in seconds and per-key ms."""
        t0 = time.perf_counter()
        lat = {key: one(key) for key in keys}
        return time.perf_counter() - t0, lat

    def one_round() -> None:
        keys = list(HEADLINE)
        rng.shuffle(keys)
        if not tracer.enabled:
            wall, lat = run_keys(keys)
            res.round_s.append(wall)
            res.op_ms.extend(lat.items())
            return
        # traced run: the traced pass between two untraced ones in the same
        # key order, compared with their mean, which cancels warm-up drift
        with tracer.paused():
            u1_wall, u1 = run_keys(keys)
        n0 = len(tracer.spans)
        t_wall, _ = run_keys(keys)
        spans = tracer.spans[n0:]
        with tracer.paused():
            u2_wall, u2 = run_keys(keys)
        u_wall = (u1_wall + u2_wall) / 2
        u_ms = {k: (u1[k] + u2[k]) / 2 for k in keys}
        res.round_s.extend((u1_wall, u2_wall))
        res.op_ms.extend((*u1.items(), *u2.items()))
        layers = _phase_sums(spans, tracer.cores)
        layers["trace.overhead_ms"] = (t_wall - u_wall) * 1e3
        layers["trace.keys_within_10pct"] = 0
        layers["trace.span_coverage"] = (
            sum(s["ms"] for s in spans if s["name"] in PHASES)
            / sum(s["ms"] for s in spans if s["name"] == "query"))
        for key in keys:
            parts = sum(s["ms"] for s in spans if s["op"] == key and s["name"] in PHASES)
            layers[f"query.{key}.ms"] = parts
            layers["trace.keys_within_10pct"] += abs(parts - u_ms[key]) <= 0.10 * u_ms[key]
        per_pass.append(layers)

    with tracer.paused():
        wall, _ = run_keys(list(HEADLINE))
        res.first_round_s = wall
        ready()
    _timed_loop(res, seconds, one_round)
    if per_pass:
        res.layers = _medians(per_pass)
    return res


# -- backup_cycle -------------------------------------------------------------


def run_backup_cycle(spark, specs, data_dir, fingerprints, rng: random.Random,
                     seconds: float, tracer: Tracer, ready, work_dir: str) -> Result:
    import clickhousebackup_spark.engine as engine_mod
    from clickhousebackup_spark.backup.config import BackupConfig, RetentionPolicy
    from clickhousebackup_spark.engine import BackupEngine
    from clickhousebackup_spark.tables import load_table

    res = Result()
    backup_dir = os.path.join(work_dir, "backups")
    shutil.rmtree(backup_dir, ignore_errors=True)
    os.makedirs(backup_dir)
    tables = {
        db: {t: load_table(spark, data_dir, t) for t in names}
        for db, names in BACKUP_TABLES.items()
    }
    user_bytes = sum(
        os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
        for names in BACKUP_TABLES.values() for t in names
    )
    eng = BackupEngine(spark, BackupConfig(
        host="localhost", dbs=",".join(BACKUP_TABLES), user="perfbench",
        password="perfbench", backup_dir=backup_dir,
        retention=RetentionPolicy(**RETENTION),
    ))
    hooks = {"fired": 0, "failed": 0}

    def count_hook(action: str) -> None:
        hooks["fired"] += 1
        hooks["failed"] += action == "error"

    eng.add_hook(count_hook)

    if tracer.enabled:
        # spans around the calls run_backup makes into the snapshot,
        # catalog and pointer layers (no-ops while the tracer is paused)
        orig_snapshot = engine_mod.snapshot_table
        orig_append, orig_latest = eng._append_catalog, eng.materialize_latest

        def snapshot_table(*a, **kw):
            with tracer.span("snapshot", "backup", jobs=True):
                return orig_snapshot(*a, **kw)

        def append_catalog(df):
            with tracer.span("catalog.append", "backup", jobs=True):
                return orig_append(df)

        def materialize_latest():
            with tracer.span("latest", "backup", jobs=True) as rec:
                written = orig_latest()
            rec["pointers"] = len(written)
            return written

        engine_mod.snapshot_table = snapshot_table
        eng._append_catalog = append_catalog
        eng.materialize_latest = materialize_latest

    clock = [dt.datetime(2024, 1, 1)]

    def snapshot_dirs() -> set[str]:
        return {
            os.path.join(backup_dir, db, d)
            for db in BACKUP_TABLES if os.path.isdir(os.path.join(backup_dir, db))
            for d in os.listdir(os.path.join(backup_dir, db))
        }

    def step(name: str, fn, timed: bool) -> None:
        t0 = time.perf_counter()
        try:
            with tracer.span(name, "cycle", jobs=name in ("backup", "prune")):
                ok, what = fn()
        except Exception as exc:  # noqa: BLE001 - a step that raises is counted failed
            ok, what = False, f"{type(exc).__name__}: {exc}"
        res.outcome(ok, f"{name}: {what}")
        if timed:
            res.op_ms.append((name, (time.perf_counter() - t0) * 1e3))

    def cycle(timed: bool) -> float:
        """One backup cycle; returns its wall in seconds."""
        clock[0] += dt.timedelta(minutes=rng.randint(*STEP_MINUTES))
        n0 = len(tracer.spans)
        hooks0 = dict(hooks)
        plan: list = []
        dirs_before: set[str] = set()

        def backup():
            eng.run_backup(tables, now=clock[0])
            return True, ""

        def retention():
            def build():
                plan.append(eng.retention_plan())
                return plan[0]

            got = _force(tracer, "retention", build)
            return got[0] > 0, "empty retention plan"

        def prune():
            dirs_before.update(snapshot_dirs())
            eng.prune(plan[0] if plan else None, apply=True)
            return True, ""

        def restore(db: str, t: str):
            got = _force(tracer, "restore", lambda: eng.restore(db, t))
            return got == fingerprints[t], f"{db}.{t} {got} != {fingerprints[t]}"

        t0 = time.perf_counter()
        step("backup", backup, timed)
        step("retention", retention, timed)
        step("prune", prune, timed)
        for db, names in BACKUP_TABLES.items():
            for t in names:
                step("restore", lambda db=db, t=t: restore(db, t), timed)
        wall = time.perf_counter() - t0
        if timed and tracer.enabled:
            per_cycle.append(cycle_layers(tracer.spans[n0:], hooks0, dirs_before, wall))
        return wall

    def check() -> None:
        """Untimed consistency checks after a cycle: catalog paths exist,
        pointers resolve.  Run after ``ready()``, so not part of set-up."""
        cat_paths = {r["path"] for r in eng.catalog().select("path").distinct().collect()}
        missing = sorted(p for p in cat_paths if not os.path.isdir(p))
        res.outcome(not missing, f"catalog paths missing: {missing[:3]}")
        pointers = [
            os.path.join(backup_dir, g, p)
            for g in GENERATION_DIRS if os.path.isdir(os.path.join(backup_dir, g))
            for p in os.listdir(os.path.join(backup_dir, g))
        ]
        dangling = [p for p in pointers if not os.path.exists(os.path.realpath(p))]
        expected = len(BACKUP_TABLES) * len(GENERATION_DIRS)
        res.outcome(len(pointers) == expected and not dangling,
                    f"latest pointers: {len(pointers)} of {expected}, dangling {dangling[:3]}")

    def cycle_layers(spans, hooks0, dirs_before, wall) -> dict[str, float]:
        def total(name, key="ms"):
            return sum(s.get(key, 0) for s in spans if s["name"] == name)

        d = _phase_sums([s for s in spans if s["op"] in ("retention", "restore")],
                        tracer.cores)
        d.update({
            "cycle.ms": wall * 1e3,
            "backup.ms": total("backup"),
            "snapshot.ms": total("snapshot"),
            "snapshot.jobs": total("snapshot", "jobs"),
            "snapshot.input_bytes": total("snapshot", "input_bytes"),
            "snapshot.output_bytes": total("snapshot", "output_bytes"),
            "catalog.append_ms": total("catalog.append"),
            "catalog.files": sum(len(f) for _, _, f in os.walk(eng.catalog_path)),
            "catalog.rows": eng.catalog().count(),
            "latest.ms": total("latest"),
            "latest.pointers": total("latest", "pointers"),
            "retention.plan_ms": total("retention"),
            "prune.ms": total("prune"),
            "prune.jobs": total("prune", "jobs"),
            "prune.paths_removed": len(dirs_before - snapshot_dirs()),
            "restore.ms": total("restore"),
            "restore.jobs": sum(s.get("jobs", 0) for s in spans if s["op"] == "restore"),
            "hooks.fired": hooks["fired"] - hooks0["fired"],
            "hooks.failed": hooks["failed"] - hooks0["failed"],
            # every job runs in exactly one (innermost) group, so this
            # sum counts each written byte once
            "cycle.write_amp": sum(s.get("output_bytes", 0) for s in spans) / user_bytes,
        })
        return d

    per_cycle: list[dict] = []
    traced_s: list[float] = []
    with tracer.paused():
        res.first_round_s = cycle(timed=False)
    ready()
    check()

    def checked_cycle() -> float:
        wall = cycle(timed=True)
        check()
        return wall

    def one_round() -> None:
        if not tracer.enabled:
            res.round_s.append(checked_cycle())
            return
        with tracer.paused():
            res.round_s.append(checked_cycle())
        traced_s.append(checked_cycle())
        with tracer.paused():
            res.round_s.append(checked_cycle())

    try:
        _timed_loop(res, seconds, one_round)
    finally:
        if tracer.enabled:
            engine_mod.snapshot_table = orig_snapshot
    if per_cycle:
        res.layers = _medians(per_cycle)
        res.layers["trace.overhead_ms"] = (
            statistics.median(traced_s) - statistics.median(res.round_s)) * 1e3
        res.layers["cycle.space_amp"] = dir_bytes(backup_dir) / user_bytes
    return res
