"""Pipeline benchmark: one workload, one client, closed loop.

    python3 perfbench/run.py --workload hourly --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run pins its environment (Spark on
``local[<usable cores>]``, ``SPARK_GRAFT_CPUS``, local dirs, temp dirs
and a fresh state directory under ``.perfbench_work/``, deleted at the
end), generates its inputs from ``--seed``, sets the engine up, runs the
workload's warm-up ops (as many as its ops need to become steady), then
times whole rounds of ops for at least ``--seconds`` and checks every
op's output.  The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans around every call into the engine and reports the per-layer
metrics instead.  The line before it records the environment and the
time of every op; the same record and the spans are written to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

DRIVER_MEMORY = "2g"


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that has at least ten
    samples beyond it; the median when there are too few samples."""
    s = sorted(values)
    k = max(len(s) - 11, (len(s) - 1) // 2)
    return (k + 1) / len(s), s[k]


def peak_rss_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies of the machine from /proc/stat: time the
    hypervisor ran someone else while this VM had work, over all time."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def pin_environment(work: str) -> dict:
    """Everything the engine reads from the environment, fixed per run."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),  # session.py otherwise defaults to 32
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # no hsperfdata files in /tmp from the launcher or the driver JVM
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    }
    os.environ.update(env)
    time.tzset()
    return {"cpus": cpus, **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "SPARK_DRIVER_MEMORY")}}


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM (and the Python workers it
    forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: str, out_dir: str) -> dict:
    env = pin_environment(work)
    t0 = time.perf_counter()
    from merl_etl_spark.session import get_spark  # noqa: E402  (after pinning)

    import workloads
    from tracer import Tracer

    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    env.update(
        seed=args.seed,
        workload=args.workload,
        trace=args.trace,
        python=sys.version.split()[0],
        pyspark=spark.version,
        java=sc._jvm.System.getProperty("java.version"),
        master=sc.master,
        jvm_exe=os.readlink(f"/proc/{jvm_pid}/exe"),
    )
    tracer = Tracer(spark, enabled=bool(args.trace))
    try:
        wl = workloads.WORKLOADS[args.workload](spark, tracer, work, args.seed)
        t1 = time.perf_counter()
        wl.setup_inputs()
        inputs_s = time.perf_counter() - t1

        records = []  # (op, seconds, rows, error)

        def one_op(i: int) -> None:
            wl.prepare(i)
            error = None
            start = time.perf_counter()
            try:
                with tracer.span("op", i):
                    rows = wl.run(i)
            except Exception:
                rows, error = 0, traceback.format_exc()
                print(f"op {i} raised:\n{error}", file=sys.stderr)
            records.append((i, time.perf_counter() - start, rows, error))

        t2 = time.perf_counter()
        for i in range(wl.warmup_ops):
            one_op(i)
        warmup_s = time.perf_counter() - t2
        overhead_before = tracer.overhead_s

        steal0, total0 = cpu_counters()
        deadline = time.perf_counter() + args.seconds
        i = wl.warmup_ops
        while True:
            one_op(i)
            i += 1
            if time.perf_counter() >= deadline and (i - wl.warmup_ops) % wl.ops_per_round == 0:
                break
        steal1, total1 = cpu_counters()
        measured = records[wl.warmup_ops :]
        op_ids = [r[0] for r in measured]
        overhead_s = tracer.overhead_s - overhead_before
        rss = {"driver": peak_rss_mb("self"), "jvm": peak_rss_mb(jvm_pid)}

        t3 = time.perf_counter()
        failed, notes = wl.check([r[0] for r in records])
        failed |= {r[0] for r in records if r[3]}
        check_s = time.perf_counter() - t3
        for n in notes:
            print(f"check: {n}", file=sys.stderr)

        times = [r[1] for r in measured]
        setup = {"session_s": session_s, "inputs_s": inputs_s, "warmup_s": warmup_s}
        metrics = {
            "setup_s": sum(setup.values()),
            "op_p50_s": statistics.median(times),
            "op_geomean_s": math.exp(statistics.fmean(math.log(t) for t in times)),
            "ops_per_min": 60 * len(times) / sum(times),
            "peak_rss_mb": rss["driver"] + rss["jvm"],
            "rows_per_s": sum(r[2] for r in measured) / sum(times),
        }
        if args.trace:
            metrics = layer_metrics(wl, tracer, measured, setup, overhead_s)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        q1, q2, q3 = quartiles(times)
        record = {
            "env": env,
            "setup": setup,
            "check_s": check_s,
            "warmup_ops": [[r[0], r[1]] for r in records[: wl.warmup_ops]],
            "ops": [[r[0], r[1], r[2], r[0] in failed] for r in measured],
            "op_quartiles_s": [q1, q2, q3],
            "op_tail": tail(times),
            "peak_rss_mb": rss,
            # CPU stolen by the hypervisor while ops ran: the first place to
            # look when a run is slower than its neighbours
            "steal_pct": 100 * (steal1 - steal0) / max(1, total1 - total0),
            "notes": notes,
        }
        attempted = len(measured)
        n_failed = sum(1 for i in op_ids if i in failed)
        correct = not failed and not notes
    finally:
        stop_spark(spark)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record))
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }


UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_geomean_s": "s",
    "ops_per_min": "1/min",
    "peak_rss_mb": "MB",
    "rows_per_s": "1/s",
}


def _p50(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(wl, tracer, measured, setup: dict, overhead_s: float) -> dict:
    """Per-layer metrics of the traced run; a layer a workload does not
    exercise reports 0 so every workload prints the same names."""
    tracer.resolve_counts()
    op_ids = [r[0] for r in measured]
    roots = {sp.op: k for k, sp in enumerate(tracer.spans) if sp.name == "op" and sp.op in op_ids}
    per_op: dict[int, list] = {i: tracer.subtree(k) for i, k in roots.items()}

    def p50(name: str) -> float:
        return _p50([sum(s.seconds for s in spans if s.name == name) for spans in per_op.values()
                     if any(s.name == name for s in spans)])

    times = [r[1] for r in measured]
    written = sum(s.output_bytes for i, spans in per_op.items() for s in spans
                  if s.name not in ("op", "sources.merl_paged"))
    in_bytes = sum(wl.input_bytes(i) for i in per_op)
    m = {
        "plans.ingest_transfers.p50_s": p50("plans.ingest_transfers"),
        "sinks.cursor_merge.p50_s": p50("sinks.cursor_merge"),
        "plans.activity_report.p50_s": p50("plans.activity_report"),
        "plans.ingest_transfers.new_ratio": 0.0,
        "sources.tables.transfer_files": 0.0,
        "sources.merl_paged.p50_s": p50("sources.merl_paged"),
        "streaming.trigger.p50_s": 0.0,
        "streaming.add_batch.p50_s": 0.0,
        "streaming.overhead.p50_s": 0.0,
        "streaming.rows_read_per_row": 0.0,
        "sinks.bytes_written_per_input_byte": written / in_bytes if in_bytes else 0.0,
    }
    m.update(wl.layer_metrics(list(roots), p50))
    m.update(
        {
            "spark.jobs_per_op": statistics.fmean(sum(s.jobs for s in sp) for sp in per_op.values()),
            "spark.tasks_per_op": statistics.fmean(sum(s.tasks for s in sp) for sp in per_op.values()),
            "setup.session_s": setup["session_s"],
            "setup.inputs_s": setup["inputs_s"],
            "setup.warmup_s": setup["warmup_s"],
            "op_tail_s": tail(times)[1],
            "op_count": float(len(times)),
            "trace.overhead_pct": 100 * overhead_s / sum(times),
        }
    )
    return m


LAYER_UNITS = {"new_ratio": "ratio", "transfer_files": "count", "rows_read_per_row": "ratio",
               "bytes_written_per_input_byte": "ratio", "jobs_per_op": "count",
               "tasks_per_op": "count", "op_count": "count", "overhead_pct": "%"}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    last = name.rsplit(".", 1)[-1]
    return LAYER_UNITS.get(last, "s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["hourly", "snapshot-6h", "lake-queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if importlib.util.find_spec("merl_etl_spark") is None:
        print("perfbench: the merl_etl_spark package is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        result = run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
