"""spark-graft benchmark: one command, every metric by name with its unit.

    python3 perfbench/run.py --workload headline_sf0.01 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Reads its input tables from
``perfbench/data/sf0.01`` (byte copies of the project's sf0.01 fixture
tables), starts one ``local[N]`` session through the engine's own factory (N =
``$SPARK_GRAFT_CPUS``, default: the CPUs this process may run on), runs
the workload, checks every result against ``fingerprints.json`` and
prints, as the last stdout line, ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it is the box record.  Spans
and the full record go to ``perfbench/.work/<workload>-seed<N>-trace<T>.json``.
See ``perfbench/README.md`` for what each metric means.
"""

import time

T0 = time.perf_counter()  # process start, as near as Python gets

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HARNESS_VERSION = "2"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: The one data set both workloads read: the project's sf0.01 fixture
#: tables, copied byte for byte.  ``fingerprints.json`` is recorded on it.
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(HERE, ".work")

#: workload → runner name
WORKLOADS = {"headline_sf0.01": "headline", "backup_cycle": "backup_cycle"}
#: Per-layer metrics every workload reports.
SESSION_LAYERS = ("registry.import_s", "session.start_s", "registry.load_s",
                  "session.jvm_peak_rss_mb", "session.first_round_s")


def declared_metrics(kind: str) -> dict[str, str]:
    """Metric name → unit, as ``BENCHMARK.json`` declares them (``kind`` is
    ``end_to_end`` or ``per_layer``)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def box_record(args, load_start: float) -> dict:
    """Where and how the run was made; taken after the session stopped."""
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return {
        "harness_version": HARNESS_VERSION,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpu_count(),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "load1_start": load_start,
        "load1_end": os.getloadavg()[0],
        "cpu_probe_s": cpu_probe_s(),
        "spark": pyspark.__version__,
        "java": (java.stderr.splitlines() or ["?"])[0],
        "python": platform.python_version(),
        "data_bytes": {
            f: os.path.getsize(os.path.join(DATA_DIR, f))
            for f in sorted(os.listdir(DATA_DIR)) if f.endswith(".parquet")
        },
    }


def cpu_probe_s() -> float:
    """Median wall of a fixed single-thread Python loop: how fast this box
    runs right now, to tell a contended run from a slow program."""
    def once() -> float:
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i % 7
        return time.perf_counter() - t0

    return statistics.median(once() for _ in range(5))


def stop_jvm(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if importlib.util.find_spec("clickhousebackup_spark") is None:
        print("perfbench: the engine package clickhousebackup_spark is not in "
              "this checkout", file=sys.stderr)
        return 2
    load_start = os.getloadavg()[0]

    # Everything Spark and Python write goes under the checkout.
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpu_count()))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    runner = WORKLOADS[args.workload]
    with open(os.path.join(HERE, "fingerprints.json")) as fh:
        fingerprints = json.load(fh)

    layers: dict[str, float] = {}
    t = time.perf_counter()
    from clickhousebackup_spark.registry import all_specs
    from clickhousebackup_spark.session import get_spark

    from probe import Tracer, jvm_peak_rss_mb, tree_cpu_s
    from workloads import (BACKUP_LAYERS, HEADLINE_LAYERS, run_backup_cycle,
                           run_headline)

    layers["registry.import_s"] = time.perf_counter() - t
    t = time.perf_counter()
    spark = get_spark("perfbench")
    layers["session.start_s"] = time.perf_counter() - t
    try:
        t = time.perf_counter()
        specs = all_specs()
        layers["registry.load_s"] = time.perf_counter() - t
        tracer = Tracer(spark, bool(args.trace), cores)
        marks = {}
        common = dict(spark=spark, specs=specs, data_dir=DATA_DIR,
                      fingerprints=fingerprints, rng=random.Random(args.seed),
                      seconds=args.seconds, tracer=tracer,
                      ready=lambda: marks.update(ready=time.perf_counter(),
                                                 ready_cpu=tree_cpu_s()))
        if runner == "headline":
            res = run_headline(**common)
        else:
            work = os.path.join(WORK, "backup_cycle")
            res = run_backup_cycle(**common, work_dir=work)
        tracer.close()
        layers["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    finally:
        stop_jvm(spark)
    if runner != "headline":
        shutil.rmtree(os.path.join(WORK, "backup_cycle"), ignore_errors=True)

    layers["session.first_round_s"] = res.first_round_s
    layers.update(res.layers)
    e2e = {
        "setup_s": marks["ready"] - T0,
        "round_s": statistics.median(res.round_s),
    }
    values = layers if args.trace else e2e
    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    own = set(e2e)
    if args.trace:
        own = set(SESSION_LAYERS) | set(
            HEADLINE_LAYERS if runner == "headline" else BACKUP_LAYERS)
    # A declared metric of this workload's own layers that was not
    # measured is a harness fault, not a 0: the run is not correct.
    unmeasured = sorted((own - set(values)) & set(declared))
    for name in sorted((set(values) | own) - set(declared)):
        print(f"perfbench: {name} is reported but not declared in BENCHMARK.json",
              file=sys.stderr)
    for name in unmeasured:
        print(f"perfbench: {name} was not measured", file=sys.stderr)
    # only the other workload's layers read 0
    metrics = {k: {"value": values[k] if k in own else 0, "unit": u}
               for k, u in declared.items() if k not in unmeasured}

    box = box_record(args, load_start)
    record = {"box": box, "end_to_end": e2e, "layers": layers,
              "setup_cpu_s": marks["ready_cpu"], "round_cpu_s": res.round_cpu_s,
              "op_ms": res.op_ms, "round_s": res.round_s, "errors": res.errors,
              "spans": tracer.spans}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, name), "w") as fh:
        json.dump(record, fh)
    for err in res.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(json.dumps({"box": box}))
    print(json.dumps({
        "correct": res.failed == 0 and not unmeasured,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
