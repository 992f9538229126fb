"""KG-construction benchmark driver.

    python3 kgbench/run.py --workload build_12k --seed 1 --seconds 10 --trace 0
    python3 kgbench/run.py --workload all --seed 1 --seconds 10
    python3 kgbench/run.py --workload build_12k --smoke   # tiny inputs

One run: start a Spark session on local[<cores>], materialize the
workload's seeded input, warm the workload's own path up, then repeat the
workload's operation until ``--seconds`` of operation time are measured, and
check every output against the repo's oracles. The last stdout line is one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and the layer wrappers (kgbench/trace.py) and reports the
per-layer metrics instead (names and units: BENCHMARK.json). The command
exits non-zero when any operation raised or produced wrong output.
Everything it writes goes under ``.kgbench_work/`` in the checkout root.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ["build_12k", "ingest_500", "operators_heavy"]
SETUP_REPEATS = 3
PROBE_REPEATS = 3
E2E_UNITS = {"setup_s": "s", "op_s": "s", "items_per_s": "1/s"}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def per_layer_units(stages: list[str], queries: list[str], streaming: bool) -> dict[str, str]:
    """Per-layer metric names and units; the streaming pair only for the
    workload that runs the streaming layer."""
    units = {}
    for s in stages:
        units.update({
            f"stage.{s}.wall_s": "s", f"stage.{s}.jobs": "count",
            f"stage.{s}.tasks": "count", f"stage.{s}.task_s": "s",
            f"stage.{s}.shuffle_mb": "MB", f"stage.{s}.spill_mb": "MB",
        })
    units.update({
        "pipeline.wall_s": "s", "pipeline.jobs": "count",
        "pipeline.untagged_jobs": "count",
        "pipeline.parse_s": "s", "pipeline.busy_share": "ratio",
        "lineage.commits": "count", "lineage.commit_s": "s",
        "lineage.mark_done_s": "s", "lineage.load_s": "s",
        "lineage.written_mb": "MB", "lineage.resume_s": "s",
        "extract.task_s": "s", "mentions.task_s": "s",
        "link.task_s": "s", "propagate.task_s": "s",
    })
    if streaming:
        units.update({"streaming.state_read_s": "s", "streaming.acc_write_s": "s"})
    for q in queries:
        units.update({
            f"contract.{q}.s": "s", f"contract.{q}.task_s": "s",
            f"contract.{q}.shuffle_mb": "MB", f"contract.{q}.spill_mb": "MB",
        })
    units["trace.op_s"] = "s"
    units["process.peak_rss_mb"] = "MB"
    return units


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _prepare_env(work: str) -> None:
    """Python workers (the corpus generator runs in mapInPandas) import the
    package from the checkout root whatever the cwd; Spark scratch and temp
    files stay inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def _jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (read from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended while we looked
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: list[int], timeout: float) -> None:
    """Wait for processes that are not our children (the JVM's Python
    workers, orphaned when the JVM exits); kill those still alive at the
    deadline and wait for them too."""
    deadline = time.time() + timeout
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


def _kill_descendants() -> None:
    """Kill every process still running below this one and wait for each:
    the last step on every path out of a run."""
    _reap(_descendants(os.getpid()), timeout=0)


def _stop(spark) -> None:
    """Stop the session, the JVM it runs in and the JVM's Python workers,
    and wait for all of them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = _jvm_proc()
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap(workers, timeout=30)


class OracleProc:
    """The workload's oracle computed in a child process (a plain
    subprocess: no helper process outlives it), joined before timing."""

    def __init__(self, args, work: str):
        self.path = os.path.join(work, "oracle.pickle")
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--oracle-out", self.path]
        self.proc = subprocess.Popen(cmd + (["--smoke"] if args.smoke else []))

    def result(self):
        if self.proc.wait() != 0:
            raise RuntimeError(f"oracle process exited {self.proc.returncode}")
        with open(self.path, "rb") as f:
            return pickle.load(f)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def run_oracle(args) -> int:
    sys.path.insert(0, ROOT)
    from kgbench import workloads as W

    fn, fargs = W.WORKLOADS[args.workload](args.seed, args.smoke).oracle_job()
    result = fn(*fargs)
    with open(args.oracle_out + ".tmp", "wb") as f:
        pickle.dump(result, f)
    os.replace(args.oracle_out + ".tmp", args.oracle_out)
    return 0


def _quiesce(spark) -> None:
    """Collect garbage in both processes before a timed operation, and move
    the driver's long-lived objects (inputs, oracle sets) out of the
    collector's reach, so no operation pays for its predecessors' garbage."""
    gc.collect()
    gc.freeze()
    spark.sparkContext._jvm.System.gc()


def _measure(args, wl, ctx, session_s: float, future) -> dict:
    """Set-up, probe, timed window and output checks; returns the samples."""
    from pyspark.sql import functions as F

    # -- set-up: input materialization (repeated), warm-up ------------------
    mats = []
    t = time.time()
    wl.materialize(ctx)  # the ingest warm-up feeds batch 0 of this input
    mats.append(time.time() - t)
    t = time.time()
    wl.warmup(ctx)
    warm_s = time.time() - t
    for _ in range(SETUP_REPEATS - 1):
        t = time.time()
        wl.materialize(ctx)
        mats.append(time.time() - t)
    if future is not None:
        ctx.state["oracle"] = future.result()

    # -- host-noise context: the embarrassingly parallel corpus-scan probe --
    probe = (
        wl.probe_docs(ctx)
        .select(F.explode("spans").alias("s"))
        .where("s.kind = 'text'")
        .select(F.explode(F.split("s.text", " ")).alias("w"))
    )
    probe_runs = []
    for _ in range(PROBE_REPEATS):
        t = time.time()
        probe.agg(F.count(F.lit(1))).collect()
        probe_runs.append(time.time() - t)

    # -- timed window: operations until --seconds of operation time ---------
    ops, errors = [], []
    measured = 0.0
    while measured < args.seconds and len(ops) < wl.max_ops(ctx):
        _quiesce(ctx.spark)
        try:
            op = wl.op(ctx, len(ops))
        except Exception:  # counted as a failed operation; the run stops
            traceback.print_exc()
            ops.append(None)
            errors.append("raised")
            break
        ops.append(op)
        errors.append(None)
        measured += op.wall_s
    done = [op for op in ops if op is not None]
    if done:
        verdicts = iter(wl.verify(ctx, done))
        errors = [e if op is None else next(verdicts) for op, e in zip(ops, errors)]
    ctx.at("setup", 0)

    rss = _vm_hwm_mb(os.getpid())
    proc = _jvm_proc()
    if proc is not None:
        rss += _vm_hwm_mb(proc.pid)
    return {
        "ops": ops,
        "errors": errors,
        "samples": {
            "setup_s": [session_s + warm_s + m for m in mats],
            "op_s": [op.wall_s for op in done],
            "items_per_s": [op.items / op.wall_s for op in done],
        },
        "peak_rss_mb": rss,
        "context": {
            "workload": wl.name, "seed": args.seed, "cores": ctx.cores,
            "session_s": round(session_s, 3), "warmup_s": round(warm_s, 3),
            "materialize_s": [round(m, 3) for m in mats],
            "probe_s": round(statistics.median(probe_runs), 4),
            "probe_runs": [round(p, 4) for p in probe_runs],
            "peak_rss_mb": round(rss, 1),
        },
    }


def _layer_metrics(work: str, wl, tracer, res: dict, cores: int) -> dict:
    from entity_extractor_spark.plans.pipeline import STAGE_ORDER
    from kgbench import trace as T
    from kgbench.workloads import QUERIES

    done = [op for op in res["ops"] if op is not None]
    intervals = [(ph, i, t0, t1) for i, op in enumerate(done) for ph, t0, t1 in op.intervals]
    log = T.fold_event_log(os.path.join(work, "eventlog"))
    # stage names are read at run time; names BENCHMARK.json lists but the
    # pipeline no longer has read as 0
    stages = list(STAGE_ORDER)
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    units = per_layer_units(stages, QUERIES, streaming=wl.name == "ingest_500")
    if os.path.exists(bench_file):
        with open(bench_file) as f:
            for m in json.load(f)["per_layer"]:
                units.setdefault(m["name"], m["unit"])
    values, (attributed, total) = T.layer_metrics(
        tracer, log, intervals, len(done), cores, stages, QUERIES
    )
    ok = abs(attributed - total) <= 1e-3 * max(1.0, total)
    print(f"# {wl.name} trace check: {attributed:.3f} task-s attributed of "
          f"{total:.3f} in the event log ({'ok' if ok else 'MISMATCH'})")
    values["trace.op_s"] = statistics.median(op.wall_s for op in done) if done else 0.0
    values["process.peak_rss_mb"] = res["peak_rss_mb"]
    return {name: {"value": values.get(name, 0.0), "unit": unit} for name, unit in units.items()}


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    from entity_extractor_spark.session import get_spark
    from kgbench import workloads as W

    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")

    def terminated(*_):
        _kill_descendants()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(143)

    signal.signal(signal.SIGTERM, terminated)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)

    wl = W.WORKLOADS[args.workload](args.seed, args.smoke)
    cores = _cores()
    # the oracle replay is pure Python and quadratic in the corpus size; it
    # runs in its own process during set-up, joined before timing
    future = OracleProc(args, work) if wl.oracle_job() is not None else None
    try:
        # the driver JVM's temp files stay in the checkout too
        extra = {"spark.driver.extraJavaOptions":
                 f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"}
        if args.trace:
            from kgbench import trace as T

            extra.update(T.eventlog_conf(os.path.join(work, "eventlog")))
        t0 = time.time()
        spark = get_spark(
            "kgbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=extra
        )
        session_s = time.time() - t0
        tracer = None
        try:
            if args.trace:
                tracer = T.Tracer(spark)
                tracer.install()
            ctx = W.Ctx(spark=spark, work=work, seed=args.seed, smoke=args.smoke,
                        cores=cores, tracer=tracer)
            res = _measure(args, wl, ctx, session_s, future)
        finally:
            if tracer is not None:
                tracer.uninstall()
            _stop(spark)

        for i, e in enumerate(res["errors"]):
            if e is not None:
                print(f"# {wl.name} op {i} FAILED: {e}")
        for name, xs in res["samples"].items():
            q1, med, q3 = quartiles(xs) if xs else (0.0, 0.0, 0.0)
            print(f"# {wl.name} {name} [{E2E_UNITS[name]}] median={med:.4f} "
                  f"q1={q1:.4f} q3={q3:.4f} n={len(xs)}")
        print("# context " + json.dumps(res["context"]))

        if args.trace:
            metrics = _layer_metrics(work, wl, tracer, res, cores)
        else:
            metrics = {
                name: {"value": statistics.median(xs) if xs else 0.0, "unit": E2E_UNITS[name]}
                for name, xs in res["samples"].items()
            }
        failed = sum(1 for e in res["errors"] if e is not None)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(res["ops"]),
            "failed": failed,
            "metrics": metrics,
        }), flush=True)
        return 0 if failed == 0 else 1
    finally:
        if future is not None:
            future.close()
        _kill_descendants()  # a JVM left by a failed session start
        shutil.rmtree(work, ignore_errors=True)


def run_all(args) -> int:
    """Every workload in its own process (a fresh JVM each), then one
    summary of each end-to-end metric per workload."""
    rc = 0
    summary = []
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        sys.stdout.write("".join(f"{ln}\n" for ln in lines[:-1]))
        rc = rc or proc.returncode
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"# {name}: no result (exit {proc.returncode})")
            rc = rc or 1
            continue
        summary.append({"workload": name, **result})
    print(json.dumps({"workloads": summary}))
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: checks that every metric is emitted")
    ap.add_argument("--oracle-out", help=argparse.SUPPRESS)  # the oracle child
    args = ap.parse_args(argv)
    if args.oracle_out:
        return run_oracle(args)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
