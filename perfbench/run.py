"""Run one benchmark workload in a fresh process and SparkSession.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run sets up (Spark at local[4], seeded
inputs, output-check references, warm-up), then one client drives whole
blocks of the workload's op mix in a closed loop, for at least --seconds and
at least the workload's minimum block count, checking every op's output.
The last line of stdout is one JSON object: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1 (Spark event log on). The
exit code is 0 only if every check passed. Everything the run writes goes
under .perfbench_work/ in the checkout and is removed at the end.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPANS = (
    "build", "tree", "join", "commit", "read_tile", "get_by_key",
    "apply_diff", "time_travel", "knn", "ann", "topk_exact",
)
SPAN_METRICS = {
    "wall_ms": "ms", "cpu_ms": "ms", "jobs": "count", "tasks": "count",
    "task_s": "s", "gap_ms": "ms", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
}
FACT_UNITS = {
    "build.docs": "count", "join.rows": "count", "commit.bytes": "bytes",
    "commit.empty_buckets": "count", "read_tile.files": "count",
    "get_by_key.files": "count", "apply_diff.bytes": "bytes",
    "apply_diff.rewrite_frac": "frac", "ann.base_cand": "count",
    "ann.exact_queries": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, name: str, traced: bool):
    from tiledspark.session import get_spark

    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if traced:
        os.makedirs(os.path.join(work, "events"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(
        master="local[4]", app_name=f"perfbench-{name}", shuffle_partitions=4, extra_conf=conf
    )


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — never leave a JVM behind
        proc.kill()
        proc.wait()


def run_op(wl, kind: str, errors: list[str]) -> tuple[bool, float]:
    """(passed, work done) for one op; an op that raises or fails its check
    counts as failed and the loop goes on."""
    from workloads import CheckFailed

    try:
        return True, wl.run(kind)
    except CheckFailed as e:
        errors.append(f"{kind}: check failed: {e}")
    except Exception:  # noqa: BLE001 — one failed op must not end the run
        errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
    return False, 0.0


def measure(wl, tracer, seconds: float, errors: list[str]) -> list[dict]:
    """Closed loop over whole blocks of the seeded op schedule, until at
    least `seconds` have passed and at least the workload's min_blocks blocks
    have run. An op's wall and CPU time are the sums over the spans it
    opened."""
    ops = []
    t_end = time.perf_counter() + seconds
    blocks = 0
    while blocks < wl.min_blocks or time.perf_counter() < t_end:
        for kind in wl.block():
            tracer.op = len(ops)
            ok, work = run_op(wl, kind, errors)
            ops.append({"kind": kind, "ok": ok, "work": work})
        blocks += 1
    by_op: dict[int, list[dict]] = {}
    for s in tracer.spans:
        by_op.setdefault(s["op"], []).append(s)
    for i, op in enumerate(ops):
        op["wall_s"] = sum(s["wall_s"] for s in by_op.get(i, []))
        op["cpu_s"] = sum(s["cpu_s"] for s in by_op.get(i, []))
    return ops


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def loop_metrics(ops: list[dict]) -> tuple[float, float]:
    """(work per CPU second, median op wall ms) over every timed op.

    Work counts only ops that passed their check; CPU counts every op, so
    CPU spent on a failed op is CPU spent for no work. The loop runs whole
    blocks, so both figures weigh each op kind by its share of the mix. With
    no ops (a failed set-up) both read 0.
    """
    cpu = sum(o["cpu_s"] for o in ops)
    work = sum(o["work"] for o in ops if o["ok"])
    return (work / cpu if cpu else 0.0), p50([o["wall_s"] * 1000.0 for o in ops])


def layer_metrics(wl, tracer, setup: dict, host: dict, ops: list[dict]) -> dict:
    """Every per-layer metric; a span the workload never opens reads 0."""
    out = {f"setup.{k}": (v, "s") for k, v in setup.items()}
    for name in SPANS:
        spans = [s for s in tracer.spans if s["name"] == name]
        for m, unit in SPAN_METRICS.items():
            if m in ("wall_ms", "cpu_ms"):
                vals = [s[m[:-3] + "_s"] * 1000.0 for s in spans]
            else:
                vals = [s[m] for s in spans]
            out[f"{name}.{m}"] = (p50(vals), unit)
    for key, unit in FACT_UNITS.items():
        out[key] = (p50(wl.facts.get(key, [])), unit)
    out["cache.leaked_rdds"] = (host["leaked_rdds"], "count")
    out["host.steal_frac"] = (host["steal_frac"], "frac")
    out["host.calib_s"] = (host["calib_s"], "s")
    out["trace.op_p50_ms"] = (loop_metrics(ops)[1], "ms")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import tiledspark  # noqa: F401
    except ImportError:
        print(f"perfbench: no tiledspark package under {ROOT}", file=sys.stderr)
        return 2
    import meter
    from workloads import WORKLOADS, CheckFailed

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}_", dir=os.path.join(ROOT, ".perfbench_work"))
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file Spark, its Python workers and the JVMs write in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # the session is pinned by get_spark and start_spark alone
    for var in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_ADVISORY", "TILEDSPARK_DRIVER_MEM"):
        os.environ.pop(var, None)
    tempfile.tempdir = None  # re-read TMPDIR

    errors: list[str] = []
    spark = None
    try:
        spark = start_spark(work, args.workload, bool(args.trace))
        spark.range(1).count()
        t_spark = time.perf_counter()
        tracer = meter.Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, os.path.join(work, "data"), args.seed, ROOT)
        setup_ok = True
        t_data = None
        try:
            wl.setup()
            t_data = time.perf_counter()
            wl.warmup()
        except CheckFailed as e:
            errors.append(f"setup: check failed: {e}")
            setup_ok = False
        t_setup = time.perf_counter()
        t_data = t_data or t_setup
        setup = {
            "spark_s": t_spark - T_START,
            "datagen_s": t_data - t_spark,
            "warmup_s": t_setup - t_data,
        }
        ops: list[dict] = []
        host = {}
        if setup_ok:
            rdds0 = len(spark.sparkContext._jsc.getPersistentRDDs())
            steal0 = meter.host_ticks()
            tracer.start()
            ops = measure(wl, tracer, args.seconds, errors)
            host["steal_frac"] = meter.steal_frac(steal0, meter.host_ticks())
            host["leaked_rdds"] = len(spark.sparkContext._jsc.getPersistentRDDs()) - rdds0
            host["calib_s"] = meter.calib_s()
    finally:
        if spark is not None:
            stop_spark(spark)
    try:
        if args.trace and ops:
            meter.event_log_stats(os.path.join(work, "events"), tracer.spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed {args.seed}: set-up "
        + " ".join(f"{k}={v:.1f}" for k, v in setup.items())
        + f", {len(ops)} ops in {sum(o['wall_s'] for o in ops):.1f}s of spans"
        + "".join(f", {k} {v:.3f}" for k, v in host.items()),
        file=sys.stderr,
    )
    for kind in sorted({o["kind"] for o in ops}):
        mine = [o for o in ops if o["kind"] == kind]
        print(
            f"perfbench:   {kind}: {len(mine)} ops, wall ms "
            + " ".join(f"{o['wall_s'] * 1000:.0f}" for o in mine)
            + ", cpu s " + " ".join(f"{o['cpu_s']:.2f}" for o in mine),
            file=sys.stderr,
        )
    failed = sum(not o["ok"] for o in ops)
    attempted = max(len(ops), 1)
    if args.trace:
        metrics = layer_metrics(wl, tracer, setup, host, ops) if ops else {}
    else:
        work_per_cpu_s, op_p50_ms = loop_metrics(ops)
        metrics = {
            "setup_s": (t_setup - T_START, "s"),
            "ops_ok_frac": ((len(ops) - failed) / attempted, "frac"),
            "work_per_cpu_s": (work_per_cpu_s, "1/cpu-s"),
            "op_p50_ms": (op_p50_ms, "ms"),
        }
    correct = setup_ok and bool(ops) and failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed if ops else attempted,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
