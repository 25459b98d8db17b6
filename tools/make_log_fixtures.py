"""Write the two event-log fixtures under tests/data/.

Both files are in the reference's JSON event format: one JSON object
per line, every line ending in ','. Each holds a seeded
``datagen.generate_logs`` sample. ``data_processes_v2.json`` then adds
hand-written processes for the depth spec's edge cases
(tests/test_tree.py ``_spec_depths``):

- a Request from a server not yet seen, which voids the process;
- a process with no Request;
- a server entered twice, which keeps its first depth.

``test.json`` keeps to the generator's invariants (FIXTURES.md §1),
because the pipeline tests read it and a process with no Request is
outside them.

Usage (from the repository root; rewrites both files)::

    python tools/make_log_fixtures.py
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from big_data_spark.datagen import generate_logs  # noqa: E402
from big_data_spark.session import get_spark  # noqa: E402

OUT_DIR = os.path.join(ROOT, "tests", "data")

# name -> generate_logs keyword arguments
FIXTURES = {
    "test.json": dict(
        n_trees=12, n_processes=40, max_branch=2, max_depth=3,
        n_servers=8, seed=11,
    ),
    "data_processes_v2.json": dict(
        n_trees=30, n_processes=60, max_branch=2, max_depth=3,
        n_servers=20, seed=12,
    ),
}

# (state_from, state_to, action) per hand-written process
EDGE_CASES = [
    # S9 sends a Request before anyone entered it: the process is void
    [
        ("user", "S1", "Request"),
        ("S9", "S2", "Request"),
        ("S2", "S9", "Response"),
        ("S1", "user", "Response"),
    ],
    # no Request at all: the process is void
    [("S1", "user", "Response")],
    # S2 is entered at depth 2, then again from user: it keeps depth 2
    [
        ("user", "S1", "Request"),
        ("S1", "S2", "Request"),
        ("S2", "S1", "Response"),
        ("S1", "user", "Response"),
        ("user", "S2", "Request"),
        ("S2", "user", "Response"),
    ],
]


def _line(state_from, state_to, time, action, process_id) -> str:
    return json.dumps(
        {
            "state_from": state_from,
            "state_to": state_to,
            "time": time,
            "action": action,
            "process_id": process_id,
        }
    ) + ",\n"


def main() -> None:
    spark = get_spark(app_name="make_log_fixtures", shuffle_partitions=1)
    for name, kw in FIXTURES.items():
        rows = generate_logs(spark, **kw).coalesce(1).orderBy("time").collect()
        lines = [
            _line(r.state_from, r.state_to, r.time, r.action, r.process_id)
            for r in rows
        ]
        time = rows[-1].time + 10
        edge_cases = EDGE_CASES if name == "data_processes_v2.json" else []
        for i, events in enumerate(edge_cases):
            pid = f"process{kw['n_processes'] + i}"
            for state_from, state_to, action in events:
                lines.append(_line(state_from, state_to, time, action, pid))
                time += 1
        with open(os.path.join(OUT_DIR, name), "w") as fh:
            fh.writelines(lines)
    spark.stop()


if __name__ == "__main__":
    main()
