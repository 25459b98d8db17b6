"""The paper pipeline as a benchmark workload: fixture, one pass, output
checks and the traced-run instrumentation.

One pass is the package's own CLI body, ``big_data_spark.main.main``:
``read_logs_json`` -> ``run_pipeline`` -> the three report writers. The
benchmark only calls it; in a traced run it wraps the functions that
``main`` and ``pipeline.processes`` call, from outside, to open spans.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import time
from contextlib import ExitStack
from unittest import mock

# At this size a pass is bound by job latency (about 120 Spark jobs, half
# of the pass driver-side), which keeps a run under a minute on 4 cores.
WORKLOADS = {
    # Nearly every process is its own, deeper tree: servers get wide
    # connection sets, so server MinHash-LSH clustering and the part-2
    # LSH-DBSCAN and components loop see many distinct processes.
    "pipeline_diverse": {
        "params": dict(
            n_trees=1000, n_processes=1000, max_branch=3, max_depth=4, n_servers=200
        ),
        "default_seed": 7,
    },
}

LOGS_NAME = "logs"
OUTPUTS = ("part1Output", "part1Observations", "part2Observations")


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _part_lines(path: str) -> list[str]:
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    return lines


def build_fixture(spark, workload: str, seed: int, work: str) -> dict:
    """Generate the workload's event log as JSON lines under ``work``;
    returns its location, parameters and sizes."""
    from big_data_spark.datagen import generate_logs

    params = dict(WORKLOADS[workload]["params"], seed=seed)
    logs_dir = os.path.join(work, LOGS_NAME)
    generate_logs(spark, **params).write.mode("overwrite").json(logs_dir)
    events = _part_lines(logs_dir)
    processes = {json.loads(line)["process_id"] for line in events}
    size = dir_bytes(logs_dir)
    return {
        "params": params,
        "logs_dir": logs_dir,
        "input": {"events": len(events), "processes": len(processes), "bytes": size},
        "processes": sorted(processes),
        "bytes": size,
    }


def output_paths(out_dir: str) -> dict[str, str]:
    return {k: os.path.join(out_dir, f"{LOGS_NAME}_{k}.txt") for k in OUTPUTS}


def run_pass(spark, fixture: dict, out_dir: str, tracer=None) -> str:
    """One pass: the package's CLI body on the fixture. In a traced run
    the spans come from :class:`Instrumented`, not from ``tracer``."""
    from big_data_spark import main as cli

    cli.main([fixture["logs_dir"], "--out-dir", out_dir], spark=spark)
    return out_dir


_GROUP_LINE = re.compile(r"^Group (\d+): \[(.*)\] $")
_SIMILAR_LINE = re.compile(r"^Similar cluster (\d+): groups \[(.*)\] processes")


def check_pass(fixture: dict, out_dir: str) -> tuple[list[str], str, int]:
    """Problems found in one pass's three reports, their digest, and
    their bytes on disk.

    - every generated process lands in exactly one part-1 group;
    - the part-1 grouped log of every group has as many responses as
      requests, and names exactly the groups of the observations;
    - every part-2 cluster names known groups, each group at most once.
    """
    paths = output_paths(out_dir)
    lines = {k: _part_lines(p) for k, p in paths.items()}
    problems = []

    members: dict[int, list[str]] = {}
    for line in lines["part1Observations"]:
        m = _GROUP_LINE.match(line)
        if m:
            names = [s.strip().strip("'") for s in m.group(2).split(",") if s.strip()]
            members[int(m.group(1))] = names
    seen = [p for names in members.values() for p in names]
    if len(seen) != len(set(seen)):
        problems.append("a process is listed in more than one group")
    if set(seen) != set(fixture["processes"]):
        problems.append(
            f"groups cover {len(set(seen))} processes, input has {len(fixture['processes'])}"
        )

    balance: dict[int, int] = {}
    for line in lines["part1Output"]:
        row = json.loads(line)
        step = {"Request": 1, "Response": -1}.get(row["action"])
        if step is None:
            problems.append(f"unknown action {row['action']!r}")
            break
        balance[row["process_id"]] = balance.get(row["process_id"], 0) + step
    if any(balance.values()):
        problems.append("requests and responses do not balance in some group")
    if set(balance) != set(members):
        problems.append("part1Output and part1Observations name different groups")

    clustered = []
    for line in lines["part2Observations"]:
        m = _SIMILAR_LINE.match(line)
        if m:
            clustered.extend(int(g) for g in m.group(2).split(","))
    if len(clustered) != len(set(clustered)) or not set(clustered) <= set(members):
        problems.append("part2Observations names unknown or repeated groups")

    digest = hashlib.sha256()
    for k in OUTPUTS:
        digest.update(k.encode())
        for line in sorted(lines[k]):
            digest.update(line.encode() + b"\n")
    size = sum(dir_bytes(p) for p in paths.values())
    return problems, digest.hexdigest(), size


class Instrumented:
    """Spans around the calls one pass makes into each layer.

    Layer names follow what a call materializes, not what it is called:
    ``run_pipeline``'s eager checkpoints are charged to the layer whose
    DataFrame they force (server connection sets -> operators.connections,
    relabelled logs -> operators.clustering, processes and groups ->
    pipeline.processes), and the lazy part-2 checkpoint, which the
    report step forces, to operators.dbscan. ``similar_process_groups``
    is itself spanned as operators.dbscan: it runs the part-2 LSH, the
    DBSCAN truncates and the connected-components loop eagerly.

    Every patch target must exist: a name the package no longer has
    raises, so an instrumentation gap cannot go unnoticed.
    """

    def __init__(self, tracer):
        self.tracer = tracer
        self.lineage: list[tuple[float, float, bool]] = []
        self._built_by: dict[int, tuple[str, object]] = {}
        self._stack = ExitStack()

    def _spanned(self, fn, layer, tag=False):
        def wrapper(*args, **kwargs):
            with self.tracer.span(layer):
                out = fn(*args, **kwargs)
            if tag:
                self._built_by[id(out)] = (layer, out)
            return out

        return wrapper

    def _tagged(self, fn, layer):
        def wrapper(*args, **kwargs):
            df = fn(*args, **kwargs)
            self._built_by[id(df)] = (layer, df)
            return df

        return wrapper

    def _counted(self, fn):
        def wrapper(df, eager=False):
            start = time.time() * 1000.0
            try:
                return fn(df, eager=eager)
            finally:
                self.lineage.append((start, time.time() * 1000.0, eager))

        return wrapper

    def _checkpoint(self, fn, default_layer):
        counted = self._counted(fn)

        def wrapper(df, eager=False):
            layer = self._built_by.pop(id(df), (default_layer, None))[0]
            with self.tracer.span(layer):
                return counted(df, eager=eager)

        return wrapper

    def _part2(self, fn):
        def wrapper(out):
            if "part2_similar" in out:
                with self.tracer.span("operators.dbscan"):
                    out["part2_similar"].count()
            return fn(out)

        return wrapper

    def __enter__(self):
        from big_data_spark import main as cli
        from big_data_spark.operators import clustering, components, dbscan
        from big_data_spark.pipeline import processes

        patch = self._stack.enter_context
        for mod, name, wrap in [
            (cli, "read_logs_json", lambda f: self._spanned(f, "io.readers")),
            (cli, "run_pipeline", lambda f: self._spanned(f, "pipeline.run")),
            (cli, "write_json", lambda f: self._spanned(f, "io.writers")),
            (cli, "write_text", lambda f: self._spanned(f, "io.writers")),
            (cli, "_part2_observations", self._part2),
            (processes, "server_connections", lambda f: self._tagged(f, "operators.connections")),
            (processes, "cluster_servers", lambda f: self._spanned(f, "operators.clustering")),
            (processes, "cluster_logs", lambda f: self._tagged(f, "operators.clustering")),
            (processes, "equal_process_groups", lambda f: self._tagged(f, "pipeline.processes")),
            (
                processes,
                "similar_process_groups",
                lambda f: self._spanned(f, "operators.dbscan", tag=True),
            ),
            (processes, "truncate_lineage", lambda f: self._checkpoint(f, "pipeline.processes")),
            (clustering, "truncate_lineage", self._counted),
            (components, "truncate_lineage", self._counted),
            (dbscan, "truncate_lineage", self._counted),
        ]:
            patch(mock.patch.object(mod, name, wrap(getattr(mod, name))))
        return self

    def __exit__(self, *exc):
        self._built_by.clear()
        return self._stack.__exit__(*exc)


def instrument(tracer):
    return Instrumented(tracer)


LAYERS = {
    "operators.connections": ("wall_s", "jobs", "exec_cpu_s", "shuffle_write_mb"),
    "operators.clustering": ("wall_s", "jobs", "driver_s", "exec_cpu_s", "shuffle_write_mb"),
    "operators.dbscan": ("wall_s", "jobs", "driver_s", "exec_cpu_s", "py_worker_s"),
    "pipeline.processes": ("wall_s", "jobs", "driver_s", "py_worker_s", "py_sent_mb"),
    "io.writers": ("wall_s", "jobs", "shuffle_write_mb"),
}


def pass_metrics(tree, stats, out_dir, inst, out_bytes) -> dict:
    """Per-layer metrics of one traced pass."""
    import spans

    m = {
        "lineage.checkpoints": len(inst.lineage),
        "lineage.eager_s": spans.union_length((s, e) for s, e, eager in inst.lineage if eager)
        / 1e3,
        "io.writers.output_mb": out_bytes / spans.MB,
    }
    for name, keys in LAYERS.items():
        layer = spans.layer_rollup(tree, stats, name)
        for key in keys:
            m[f"{name}.{key}"] = layer[key]
    return m


def summary(out_dir) -> dict:
    """Nothing beyond the pass time for the detail line."""
    return {}


def finish(fixture: dict, passes: list[dict]) -> None:
    """Every check ran right after its pass."""
