"""Benchmark: the paper pipeline on diverse trees, and a snapshot table's
life with the heaviest registry rows.

    python3 perfbench/run.py --workload pipeline_diverse --seed 7 --seconds 5 --trace 0

Run from the repository root. One process per run: start a session with
``get_spark`` on ``nproc`` cores, generate the workload's inputs from
``--seed``, run one untimed warm-up pass, then timed passes until
``--seconds`` have passed. Every pass's outputs are checked; a pass with
a wrong output counts as failed.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the session also
writes Spark's event log, the passes run under spans, and the metrics
are the per-layer ones reduced from that log. The line before it holds
the workload's parameters, input sizes, per-pass figures and host
diagnostics.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")

sys.path[:0] = [HERE, ROOT]
import host  # noqa: E402
import lake  # noqa: E402
import pipeline  # noqa: E402
import spans  # noqa: E402

MODULES = {name: mod for mod in (pipeline, lake) for name in mod.WORKLOADS}
WORKLOADS = {name: mod.WORKLOADS[name] for name, mod in MODULES.items()}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, log_dir: str | None):
    """``get_spark`` on every core this process may use. Scratch space
    (Spark's local dirs, the JVM's and Python's temp dirs) lives under
    ``work`` so a run touches nothing outside its checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host.nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if log_dir:
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    from big_data_spark.session import get_spark, quiet_logs

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    quiet_logs(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, close the JVM gateway and wait until the JVM and its
    Python workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while host.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


def one_pass(spark, wl, fixture, out_dir, tracer=None):
    """Time one pass, then check its outputs (untimed)."""
    start = time.perf_counter()
    try:
        result = wl.run_pass(spark, fixture, out_dir, tracer)
    except Exception as exc:  # noqa: BLE001 — a failed pass is counted, not fatal
        problem = f"{type(exc).__name__}: {exc}"
        seconds = time.perf_counter() - start
        return {"seconds": seconds, "problems": [problem], "digest": None, "out_bytes": 0}
    seconds = time.perf_counter() - start
    problems, digest, out_bytes = wl.check_pass(fixture, result)
    return {
        "seconds": seconds,
        "problems": problems,
        "digest": digest,
        "out_bytes": out_bytes,
        "result": result,
    }


_ENGINE = (
    "jobs",
    "tasks",
    "exec_cpu_s",
    "gc_s",
    "fetch_wait_s",
    "shuffle_write_mb",
    "spill_mb",
    "driver_s",
    "py_worker_s",
)

# Every workload reports every per-layer metric; a layer a workload does
# not run reads 0. tests/test_contract.py keeps this list and
# BENCHMARK.json in step.
PER_LAYER = (
    "setup.session_s",
    "setup.fixture_s",
    "setup.warmup_s",
    "io.readers.input_mb",
    "io.readers.scan_s",
    *(f"operators.connections.{k}" for k in pipeline.LAYERS["operators.connections"]),
    *(f"operators.clustering.{k}" for k in pipeline.LAYERS["operators.clustering"]),
    *(f"operators.dbscan.{k}" for k in pipeline.LAYERS["operators.dbscan"]),
    "lineage.checkpoints",
    "lineage.eager_s",
    *(f"pipeline.processes.{k}" for k in pipeline.LAYERS["pipeline.processes"]),
    *(f"io.writers.{k}" for k in pipeline.LAYERS["io.writers"]),
    "io.writers.output_mb",
    "io.snapshot.commit_p50_ms",
    "io.snapshot.commit_driver_ms",
    "io.snapshot.commit_jobs",
    "io.snapshot.files_per_commit",
    "io.snapshot.read_p50_ms",
    "io.snapshot.read_driver_ms",
    "io.snapshot.read_tasks",
    "io.snapshot.skip_ratio",
    "io.snapshot.changes_s",
    "io.snapshot.changes_tasks",
    "io.snapshot.dml_s",
    "io.snapshot.dml_tasks",
    "io.snapshot.table_mb",
    "io.snapshot.table_files",
    "io.compact.compact_s",
    "io.compact.vacuum_s",
    "io.compact.rewritten_mb",
    "catalog.merge_s",
    "catalog.merge_tasks",
    *(f"queries.{row}.{k}" for row in lake.REGISTRY_ROWS for k in ("wall_s", "jobs", "driver_s")),
    *(f"spark.{k}" for k in _ENGINE),
    "trace.run_s",
)


def per_layer(wl, tracer, log_dir, traced, fixture, setup):
    """Per-layer metrics for the traced passes (median over passes)."""
    jobs = spans.reduce_events(spans.read_events(spans.event_log_files(log_dir)))
    stats = spans.span_stats(tracer.spans, jobs)
    per_pass = []
    for root, inst, rec in traced:
        tree = spans.subtree(tracer.spans, root)
        eng = spans.pass_rollup(tracer.spans, root, jobs)
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update({f"spark.{k}": eng[k] for k in _ENGINE})
        m["io.readers.scan_s"] = eng["scan_s"]
        m["trace.run_s"] = eng["wall_s"]
        m.update(wl.pass_metrics(tree, stats, rec["result"], inst, rec["out_bytes"]))
        per_pass.append(m)
    out = spans.median_of(per_pass)
    out["io.readers.input_mb"] = fixture["bytes"] / spans.MB
    out.update({f"setup.{k}": v for k, v in setup.items()})
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise ValueError(f"per-layer metrics not in PER_LAYER: {sorted(unknown)}")
    return {k: out[k] for k in PER_LAYER}


def timed_passes(spark, wl, args, fixture, out_dir, tracer):
    """Passes until ``args.seconds`` have passed (at least one), with host
    diagnostics over the window. A traced pass runs under a ``pass`` span
    with the layer spans below it."""
    traced, timed = [], []
    steal0, cpu0, load0 = host.steal_seconds(), host.tree_cpu_seconds(), host.load_average()
    window = time.perf_counter()
    while not timed or time.perf_counter() - window < args.seconds:
        if tracer is None:
            rec = one_pass(spark, wl, fixture, out_dir)
        else:
            with wl.instrument(tracer) as inst, tracer.span("pass") as root:
                rec = one_pass(spark, wl, fixture, out_dir, tracer)
            if rec["digest"] is not None:
                # per-layer metrics need a pass that ran to the end
                traced.append((root["id"], inst, rec))
        timed.append(rec)
        if rec["digest"] is None:
            break
    steal1, cpu1 = host.steal_seconds(), host.tree_cpu_seconds()
    diag = {
        "nproc": host.nproc(),
        "load_avg_before": load0,
        "load_avg_after": host.load_average(),
        "steal_s": None if steal0 is None else round(steal1 - steal0, 2),
        "tree_cpu_s": None if cpu0 is None else round(cpu1 - cpu0, 2),
        "jvm_vmhwm_mb": host.jvm_hwm_mb(),
    }
    return timed, traced, diag


def count_failures(passes, expected_digest) -> int:
    """Add the cross-pass checks to each pass's problems; return how many
    passes have any."""
    digests = {p["digest"] for p in passes if p["digest"] is not None}
    for p in passes:
        if p["digest"] is None:
            continue
        if len(digests) > 1:
            p["problems"].append("outputs differ between passes of one run")
        if expected_digest and p["digest"] != expected_digest:
            p["problems"].append("outputs differ from the stored digest for this seed")
    return sum(bool(p["problems"]) for p in passes)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "big_data_spark")):
        print(f"perfbench: no big_data_spark package under {ROOT}", file=sys.stderr)
        return 2
    wl = MODULES[args.workload]
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir = os.path.join(work, "out")
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    setup = {}
    spark = tracer = None
    try:
        try:
            t = time.perf_counter()
            spark = start_session(work, log_dir)
            setup["session_s"] = time.perf_counter() - t
            t = time.perf_counter()
            fixture = wl.build_fixture(spark, args.workload, args.seed, work)
            setup["fixture_s"] = time.perf_counter() - t
            t = time.perf_counter()
            warmup = one_pass(spark, wl, fixture, out_dir)
            setup["warmup_s"] = time.perf_counter() - t
            setup_s = time.perf_counter() - PROCESS_START
            if args.trace:
                tracer = spans.Tracer(spark.sparkContext)
            timed, traced, diag = timed_passes(spark, wl, args, fixture, out_dir, tracer)
            if tracer is not None:
                metrics = per_layer(wl, tracer, log_dir, traced, fixture, setup)
        finally:
            if spark is not None:
                stop_session(spark)

        passes = [warmup] + timed
        wl.finish(fixture, passes)
        expected = None
        if args.seed == WORKLOADS[args.workload]["default_seed"]:
            with open(os.path.join(HERE, "digests.json"), encoding="utf-8") as fh:
                expected = json.load(fh).get(args.workload)
        failed = count_failures(passes, expected)
        ok = [p for p in timed if p["digest"] is not None] or timed
        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "run_s": statistics.median(p["seconds"] for p in ok),
                "write_amp": statistics.median(p["out_bytes"] for p in ok) / fixture["bytes"],
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "params": fixture["params"],
        "input": fixture["input"],
        "setup": {k: round(v, 3) for k, v in setup.items()},
        "passes": [
            {
                "seconds": round(p["seconds"], 3),
                "digest": p["digest"],
                "problems": p["problems"],
                **wl.summary(p.get("result")),
            }
            for p in passes
        ],
        "host": diag,
    }
    result = {
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


def _unit(name: str) -> str:
    if name.endswith(("write_amp", "ratio")):
        return "ratio"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
