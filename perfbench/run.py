"""One benchmark run of the engine through its public surface.

    python3 perfbench/run.py --workload cluster_ops --seed 1 --seconds 12 --trace 0

Drives ``session.get_spark()`` -> ``catalog.load_model()`` ->
``__spark_entry__.queries()[q](spark, fixture_dir).toPandas()`` as a
closed loop with one client on ``local[nproc]``, over the sf0.01 test
fixtures committed under ``data/``.  The benchmark adds no session
configuration, caching or cache release of its own, so the timed
configuration is the one the tests gate.

Set-up (``setup_s``) runs from the start of ``get_spark()`` to the end
of the untimed warm-up pass over the workload's mix, which builds the
memoized artifacts and compiles each query's plans once.  The timed
loop then runs whole cycles over the mix, each in an order drawn from
``--seed``, as many as ``--seconds`` over ``CYCLE_S``.  Every timed
result is checked against the DuckDB oracle (``oracle.py``); failures
and mismatches count in ``failed``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same loop with the per-layer trace (``layers.py``), writes the spans to
``<state-dir>/spans/``, and prints the per-layer metrics.  Both write
a full report to ``<state-dir>/runs/``.  Only the result line goes to
stdout; everything else, Spark's console output included, goes to
stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import CYCLE_S, FIXTURE_DIR, MIN_OPS, MODULES, WORKLOADS  # noqa: E402

#: Host-speed diagnostic.  The capacity a shared 4-core VM gives a run
#: changes by 30-200 % over minutes (the hypervisor reported up to a
#: quarter of CPU time stolen), and every query of a run moves with it.
#: A fixed CPython loop run at once in one forked process per CPU, timed
#: before each operation outside its timed region, follows that
#: capacity.  The run report and the stderr summary give the timed
#: figures also scaled to a host on which it takes ``HOST_PROBE_REF_S``
#: (by the run's median probe), to tell host drift from a change in the
#: program.  The result line carries the wall-clock figures only: work
#: the program left running between operations would slow the probe and
#: flatter a scaled figure.
HOST_PROBE_ITERS = 600_000
HOST_PROBE_REF_S = 0.1

#: End-to-end metrics on the ``--trace 0`` result line (BENCHMARK.json
#: ``end_to_end``), with their units.
RESULT_METRICS = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}

#: Every end-to-end metric a run computes.  The tail percentile and
#: peak memory spread too widely between runs of this length to bound
#: a change (see README.md), so they are reported, not gated.
E2E_UNITS = {
    **RESULT_METRICS,
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
    "failed_frac": "fraction",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--state-dir", default=os.path.join(ROOT, ".perfbench"),
        help="oracle cache, spans and run reports",
    )
    return p.parse_args(argv)


def tail_percentile(samples: list[float]) -> tuple[int, float]:
    """The highest integer percentile with at least ten samples beyond
    it (nearest rank), and its value."""
    n = len(samples)
    if n <= 10:
        raise ValueError(f"{n} samples: a tail percentile needs at least 11")
    p = (100 * (n - 10)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(samples)[rank - 1]


def host_probe() -> float:
    """Wall seconds of a fixed CPython loop run at once in one forked
    process per CPU: a yardstick of the host's parallel capacity."""
    t = time.perf_counter()
    pids = []
    for _ in range(cpu_count()):
        pid = os.fork()
        if pid == 0:
            s = 0
            for i in range(HOST_PROBE_ITERS):
                s += i * i
            os._exit(0)
        pids.append(pid)
    for pid in pids:
        os.waitpid(pid, 0)
    return time.perf_counter() - t


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def run(args, log) -> dict:
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        raise SystemExit(f"no __spark_entry__.py in {ROOT}: the engine is missing")
    sys.path.insert(0, ROOT)
    # Python workers import the engine too; local mode starts them from
    # the JVM's environment.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    # The session's temporary files (Spark's scratch, the engine's
    # tempfile directories, native libraries the JVM unpacks) go to a
    # directory of this run inside the state directory.
    tmp_root = os.path.join(args.state_dir, "tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=tmp_root)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}") if o
    )
    tempfile.tempdir = None
    try:
        return measure(args, log)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def measure(args, log) -> dict:
    import duckdb
    import oracle
    import pyspark
    from layers import Tracer, read_hwm_kb

    workload = WORKLOADS[args.workload]
    names = workload["queries"]
    fixture_dir = FIXTURE_DIR

    import __spark_entry__ as entry
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.registry import QUERIES
    from hbase_tools_spark.session import get_spark

    normalize = oracle.load_normalize(ROOT)
    oracles = entry.oracle_sql()
    missing = [q for q in names if q not in oracles]
    if missing:
        raise SystemExit(f"queries without a DuckDB oracle: {missing}")
    checker = oracle.Checker(
        oracle.reference_fingerprints(
            fixture_dir, names, oracles, normalize,
            os.path.join(args.state_dir, "oracle"),
        ),
        normalize,
    )

    t0 = time.perf_counter()
    spark = get_spark()
    try:
        t1 = time.perf_counter()
        load_model(spark, fixture_dir)
        t2 = time.perf_counter()
        queries = entry.queries()
        warmup = {}
        for q in names:
            w0 = time.perf_counter()
            try:
                queries[q](spark, fixture_dir).toPandas()
            except Exception:  # counted when the timed loop hits it again
                log(f"warm-up {q} raised:\n{traceback.format_exc()}")
            warmup[q] = time.perf_counter() - w0
        t3 = time.perf_counter()
        setup = {
            "session.get_spark_s": t1 - t0,
            "catalog.load_model_s": t2 - t1,
            "registry.warmup_s": t3 - t2,
        }
        tracer = Tracer(spark, MODULES) if args.trace else None
        ops = timed_loop(args, spark, queries, names, fixture_dir, checker, tracer, QUERIES, log)
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        java_version = spark._jvm.java.lang.System.getProperty("java.version")
        peak_kb = read_hwm_kb(jvm_pid) + read_hwm_kb("self")
        layers = spans = None
        if tracer is not None:
            layers = {**tracer.layer_metrics(), **setup}
            spans = tracer.finish_spans()
    finally:
        stop(spark)
    host_s = statistics.median(o["probe_s"] for o in ops)
    scale = HOST_PROBE_REF_S / host_s

    failed = [o for o in ops if not o["ok"]]
    wall = latency_metrics(ops)
    e2e = {
        "setup_s": t3 - t0,
        **wall,
        "peak_rss_mb": peak_kb / 1024.0,
        "failed_frac": len(failed) / len(ops),
    }

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "meta": {
            "nproc": cpu_count(),
            "fixture": os.path.relpath(fixture_dir, ROOT),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "java": java_version,
            "cycles": max(o["cycle"] for o in ops) + 1,
            "ops": len(ops),
            "tail_percentile": tail_percentile(timed_samples(ops))[0],
            "tail_samples": len(timed_samples(ops)),
        },
        "end_to_end": e2e,
        "host_probe_s": host_s,
        "host_scaled": {
            "op_p50_s": wall["op_p50_s"] * scale,
            "op_tail_s": wall["op_tail_s"] * scale,
            "ops_per_s": wall["ops_per_s"] / scale,
        },
        "failed_by_query": {
            q: sum(1 for o in failed if o["query"] == q)
            for q in sorted({o["query"] for o in failed})
        },
        "setup_phases_s": setup,
        "warmup_query_s": warmup,
        "query_p50_s": {
            q: statistics.median(o["wall_s"] for o in ops if o["query"] == q) for q in names
        },
        "per_layer": layers,
        "ops": [
            {k: o[k] for k in ("query", "cycle", "wall_s", "probe_s", "ok")}
            for o in ops
        ],
        "attempted": len(ops),
        "failed": len(failed),
    }
    if tracer is not None:
        report["spans_file"] = write_json(
            os.path.join(args.state_dir, "spans", f"{args.workload}-seed{args.seed}.json"),
            {"schema": 1, "workload": args.workload, "seed": args.seed, "spans": spans},
        )
        check_predicted_zeros(args.workload, layers)
    write_json(
        os.path.join(
            args.state_dir, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        ),
        report,
    )
    return report


def timed_loop(args, spark, queries, names, fixture_dir, checker, tracer, registry, log):
    """Whole cycles over the mix in seed-drawn orders; one record per
    operation."""
    cycles = max(math.ceil(MIN_OPS / len(names)), round(args.seconds / CYCLE_S))
    rng = random.Random(args.seed)
    ops = []
    for cycle in range(cycles):
        order = list(names)
        rng.shuffle(order)
        for q in order:
            probe = host_probe()
            snap = tracer.begin() if tracer else None
            start_wall = time.time()
            t0 = time.perf_counter()
            t1 = None
            try:
                df = queries[q](spark, fixture_dir)
                t1 = time.perf_counter()
                pdf = df.toPandas()
                ok = True
            except Exception:
                log(f"{q} raised:\n{traceback.format_exc()}")
                ok = False
            t2 = time.perf_counter()
            if t1 is None:
                t1 = t2
            op = {
                "op_id": len(ops), "query": q, "cycle": cycle,
                "module": registry[q].fn.__module__.removeprefix("hbase_tools_spark."),
                "start_s": start_wall, "build_s": t1 - t0, "collect_s": t2 - t1,
                "wall_s": t2 - t0, "ok": ok, "probe_s": probe,
            }
            if ok and not checker.check(q, pdf):
                log(f"{q}: result differs from the DuckDB oracle")
                op["ok"] = False
            if tracer:
                tracer.end(snap, op)
            ops.append(op)
    return ops


def timed_samples(ops: list[dict]) -> list[float]:
    """Latencies of the completed operations, or of all when none
    completed (the run is then marked incorrect anyway)."""
    return [o["wall_s"] for o in ops if o["ok"]] or [o["wall_s"] for o in ops]


def latency_metrics(ops: list[dict]) -> dict[str, float]:
    """Wall-clock median and tail latency of the completed operations,
    and completed operations per second of the timed loop."""
    lat = timed_samples(ops)
    return {
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_percentile(lat)[1],
        "ops_per_s": sum(o["ok"] for o in ops) / sum(o["wall_s"] for o in ops),
    }


def check_predicted_zeros(workload: str, layers: dict) -> None:
    """Fail the traced run when a counter predicted to be zero is not."""
    bad = {k: layers[k] for k in WORKLOADS[workload]["zero"] if layers[k] != 0}
    if bad:
        raise SystemExit(
            f"predicted-zero counters are not zero on {workload}: {bad} "
            "(memo.builds > 0 means artifact builds leaked into timed "
            "latency; streaming.batches > 0 means the mix now drains streams)"
        )


def stop(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers it started) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def write_json(path: str, obj) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    # Keep stdout for the result line only: the JVM and Python workers
    # inherit fd 1, so point it at stderr and keep a private copy.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    def log(msg):
        print(msg, file=sys.stderr, flush=True)

    report = run(args, log)
    if args.trace:
        metrics = report["per_layer"]
        units = layer_units(metrics)
    else:
        metrics = {k: report["end_to_end"][k] for k in RESULT_METRICS}
        units = RESULT_METRICS
    log(summary(report))
    line = {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    result_out.write(json.dumps(line) + "\n")
    result_out.flush()
    return 0


def layer_units(metrics: dict) -> dict[str, str]:
    from layers import LAYER_METRICS

    return {
        k: LAYER_METRICS.get(k) or ("s" if k.endswith("_s") else "count") for k in metrics
    }


def summary(report: dict) -> str:
    m = report["meta"]
    lines = [
        f"workload={report['workload']} seed={report['seed']} trace={report['trace']} "
        f"nproc={m['nproc']} fixture={m['fixture']} pyspark={m['pyspark']} duckdb={m['duckdb']} "
        f"java={m['java']} cycles={m['cycles']} ops={m['ops']}"
    ]
    notes = {
        "op_tail_s": f"p{m['tail_percentile']} of {m['tail_samples']} completed ops",
        "failed_frac": ", ".join(f"{q}: {n}" for q, n in report["failed_by_query"].items()),
    }
    for k, v in report["host_scaled"].items():
        notes[k] = f"{notes.get(k, '')} (host-scaled {v:.4f})".strip()
    lines.append(
        f"  host probe {report['host_probe_s']:.4f} s (reference {HOST_PROBE_REF_S} s)"
    )
    for k, v in report["end_to_end"].items():
        lines.append(f"  {k:<12} {v:12.4f} {E2E_UNITS[k]:<8} {notes.get(k, '')}")
    return "\n".join(lines)


if __name__ == "__main__":
    sys.exit(main())
