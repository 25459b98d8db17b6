"""The table format's life and the heaviest registry rows as one
benchmark workload, ``lake_registry``.

One pass, on a fresh table directory each time:

1. ``write_snapshot`` of the base orders, range-clustered into files;
2. ``appends`` x (``append_snapshot`` of one batch + a pruned
   ``read_snapshot(predicate=...)`` with a count/sum aggregate);
3. ``delete_where`` (copy-on-write over every generation), then
   ``read_changes`` over the appends;
4. catalog ``MERGE INTO`` (updates of existing keys plus inserts) and
   ``update_where``;
5. ``compact_snapshot``, ``vacuum_snapshots`` and a final full read;
6. the registry rows ``pagerank_topn``, ``dedup_ngram_jaccard``,
   ``dedup_minhash_lsh`` and ``dedup_clusters`` on the generated
   orders, lineitem and documents tables.

The inputs are generated from the seed with numpy and written as
Parquet in the run's work directory. The lake's expected results are
computed from the generated rows with plain Python, independently of
``io.snapshot``; the registry rows are compared with each row's DuckDB
oracle (``ORACLE_SQL_ALL``) run on the same Parquet files.

In a traced run the pass opens a span around each call into a layer
(``io.snapshot.*``, ``io.compact.*``, ``catalog.merge``,
``queries.<row>``); a span covers the call and the action that forces
its result.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import statistics
import time

WORKLOADS = {
    "lake_registry": {
        "params": dict(
            base_orders=10_000,
            base_files=8,
            appends=6,
            append_rows=500,
            merge_updates=1_000,
            merge_inserts=500,
            customers=1_000,
            suppliers=100,
            lines_per_order=2,
            documents=240,
            near_dup_share=0.3,
        ),
        "default_seed": 3,
    },
}

REGISTRY_ROWS = ("pagerank_topn", "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_clusters")

# The lake's DML as SQL; expected_lake replays the same conditions on
# plain Python rows.
DELETE_WHERE = "o_orderstatus = 'P'"
UPDATE_WHERE = "o_orderkey < 2000"
UPDATE_SET = {"o_totalprice": "o_totalprice + 1.0"}
READ_SPAN = 400  # width of each pruned read's key range

_STATUSES = ("F", "O", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_WORDS = (
    "spark shuffle stage task job join scan filter window sort merge hash "
    "group agg batch stream table column row key value order line part "
    "data query plan cache skew spill broadcast index bloom sketch "
    "server request response tree depth cluster graph vertex edge rank "
    "token shingle band bucket doc text lang source vector embed nearest"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")

_LAKE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


# ---------------------------------------------------------------------
# Fixture
# ---------------------------------------------------------------------


def _orders_table(rng, keys, customers):
    import numpy as np
    import pyarrow as pa

    n = len(keys)
    day0 = np.datetime64("2024-01-01T00:00:00", "us")
    days = rng.integers(0, 365, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, customers, n), pa.int64()),
            "o_orderstatus": pa.array([_STATUSES[i] for i in rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1.0, 5000.0, n), 2), pa.float64()),
            "o_orderdate": pa.array(day0 + days, pa.timestamp("us")),
            "o_orderpriority": pa.array([_PRIORITIES[i] for i in rng.integers(0, 5, n)]),
        }
    )


def _lineitem_table(rng, order_keys, suppliers, per_order):
    import numpy as np
    import pyarrow as pa

    counts = rng.integers(1, 2 * per_order, len(order_keys))
    okeys = np.repeat(order_keys, counts)
    n = len(okeys)
    line = np.concatenate([np.arange(1, c + 1) for c in counts]).astype("int32")
    qty = rng.integers(1, 51, n).astype("float64")
    price = np.round(qty * rng.uniform(1.0, 100.0, n), 2)
    day0 = np.datetime64("2024-01-01T00:00:00", "us")
    days = rng.integers(0, 400, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table(
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 4000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, suppliers, n), pa.int64()),
            "l_linenumber": pa.array(line, pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(price, pa.float64()),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n), 2), pa.float64()),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n), 2), pa.float64()),
            "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n)]),
            "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(day0 + days, pa.timestamp("us")),
        }
    )


def _documents_table(rng, n, near_dup_share):
    """Word-salad documents; a share of them are copies of an earlier
    original with a few words replaced, so the dedup rows find pairs
    and small clusters (copies are never copied again, which keeps the
    clusters' diameter, and the oracle's recursive closure, short)."""
    import pyarrow as pa

    texts: list[str] = []
    originals: list[str] = []
    for _ in range(n):
        if originals and rng.random() < near_dup_share:
            words = originals[int(rng.integers(0, len(originals)))].split(" ")
            for _ in range(max(1, len(words) // 12)):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(20, 60)))]
            originals.append(" ".join(words))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([_LANGS[i] for i in rng.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{i % 7}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _rows(table) -> dict[int, tuple]:
    """Lake rows keyed by order key: (custkey, status, price)."""
    cols = [table.column(c).to_pylist() for c in _LAKE_COLS]
    return {k: (c, s, p) for k, c, s, p in zip(*cols)}


def build_fixture(spark, workload: str, seed: int, work: str) -> dict:
    """Generate the tables from ``seed`` with numpy, write them as
    Parquet under ``work/fixture`` and compute every expected lake
    result from the generated rows."""
    import numpy as np
    import pyarrow.parquet as pq

    p = dict(WORKLOADS[workload]["params"])
    rng = np.random.default_rng(seed)
    fdir = os.path.join(work, "fixture")
    os.makedirs(fdir)

    n_base, n_app = p["base_orders"], p["appends"] * p["append_rows"]
    base_keys = np.sort(rng.choice(4 * n_base, n_base, replace=False))
    orders = _orders_table(rng, base_keys, p["customers"])
    app_keys = 4 * n_base + rng.permutation(n_app)
    appends = _orders_table(rng, app_keys, p["customers"])
    live = np.concatenate([base_keys, app_keys])
    upd = rng.choice(live, p["merge_updates"], replace=False)
    ins = 4 * n_base + n_app + np.arange(p["merge_inserts"])
    merge = _orders_table(rng, np.concatenate([upd, ins]), p["customers"])
    lineitem = _lineitem_table(rng, base_keys, p["suppliers"], p["lines_per_order"])
    documents = _documents_table(rng, p["documents"], p["near_dup_share"])

    paths = {}
    for name, table in [
        ("orders", orders),
        ("lineitem", lineitem),
        ("documents", documents),
        ("appends", appends),
        ("merge_source", merge),
    ]:
        paths[name] = os.path.join(fdir, f"{name}.parquet")
        pq.write_table(table, paths[name])

    fixture = {
        "params": dict(p, seed=seed),
        "dir": fdir,
        "paths": paths,
        "input": {
            "orders": orders.num_rows,
            "appends": appends.num_rows,
            "merge_source": merge.num_rows,
            "lineitem": lineitem.num_rows,
            "documents": documents.num_rows,
        },
        # write_amp's denominator: the Parquet bytes of every row the
        # pass writes into the table.
        "bytes": sum(os.path.getsize(paths[n]) for n in ("orders", "appends", "merge_source")),
        "batches": [app_keys[i :: p["appends"]].tolist() for i in range(p["appends"])],
    }
    fixture["expected"] = expected_lake(fixture, orders, appends, merge, rng)
    return fixture


def expected_lake(fixture, orders, appends, merge, rng) -> dict:
    """The lake's results, replayed on plain dicts. Draws each pruned
    read's key range from ``rng``."""
    table = _rows(orders)
    app = _rows(appends)
    reads = []
    all_keys = sorted(set(table) | set(app))
    for batch in fixture["batches"]:
        for k in batch:
            table[k] = app[k]
        lo = int(all_keys[int(rng.integers(0, len(all_keys) - 1))])
        hi = lo + READ_SPAN
        hit = [v[2] for k, v in table.items() if lo <= k <= hi]
        reads.append({"range": (lo, hi), "count": len(hit), "sum": sum(hit)})
    deleted = {k for k, v in table.items() if v[1] == "P"}
    for k in deleted:
        del table[k]
    table.update(_rows(merge))
    for k, v in table.items():
        if k < 2000:
            table[k] = (v[0], v[1], v[2] + 1.0)
    return {
        "reads": reads,
        "changes": sum(len(b) for b in fixture["batches"]),
        "rows": len(table),
        "price_sum": sum(v[2] for v in table.values()),
    }


def registry_oracle(fixture) -> dict[str, str]:
    """Digest of each registry row's DuckDB oracle on the fixture."""
    import duckdb

    from big_data_spark.queries import ORACLE_SQL_ALL

    con = duckdb.connect()
    try:
        for name in ("orders", "lineitem", "documents"):
            path = fixture["paths"][name]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for row in REGISTRY_ROWS:
            cur = con.execute(ORACLE_SQL_ALL[row])
            cols = [d[0] for d in cur.description]
            out[row] = rows_digest(cols, cur.fetchall())
        return out
    finally:
        con.close()


def rows_digest(columns, rows) -> str:
    """Order-free digest of a result: columns sorted by name, floats
    rounded to 6 places (both engines round the outputs to 6)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        return f"{v:.6f}" if isinstance(v, float) else str(v)

    lines = sorted("|".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("|".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(line.encode() + b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------------
# One pass
# ---------------------------------------------------------------------


class _NoTracer:
    @contextlib.contextmanager
    def span(self, name):
        yield {"name": name}


@contextlib.contextmanager
def _timed(record, key, tracer, name):
    """Span ``name`` around a block and append its wall ms to
    ``record[key]``."""
    start = time.perf_counter()
    with tracer.span(name):
        yield
    record.setdefault(key, []).append((time.perf_counter() - start) * 1e3)


def run_pass(spark, fixture: dict, out_dir: str, tracer=None) -> dict:
    """One lake lifecycle plus the four registry rows; returns what the
    checks and the per-layer metrics need."""
    from pyspark.sql import functions as F

    from big_data_spark.catalog import SnapshotCatalog
    from big_data_spark.io.compact import compact_snapshot
    from big_data_spark.io.snapshot import (
        append_snapshot,
        delete_where,
        read_changes,
        read_snapshot,
        update_where,
        vacuum_snapshots,
        write_snapshot,
    )
    from big_data_spark.queries import QUERIES_ALL

    traced = tracer is not None
    tracer = tracer or _NoTracer()
    p = fixture["params"]
    paths = fixture["paths"]
    table = os.path.join(out_dir, "orders_lake")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rec: dict = {"reads": []}

    def lake_cols(path):
        return spark.read.parquet(path).select(*_LAKE_COLS)

    def agg(df):
        row = df.agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s")).collect()[0]
        return {"count": row["n"], "sum": row["s"] or 0.0}

    with _timed(rec, "write_ms", tracer, "io.snapshot.write"):
        base = lake_cols(paths["orders"]).repartitionByRange(p["base_files"], "o_orderkey")
        write_snapshot(base, table)
    files_before = table_files(table)
    appends = lake_cols(paths["appends"])
    for batch, expected in zip(fixture["batches"], fixture["expected"]["reads"]):
        lo, hi = expected["range"]
        with _timed(rec, "commit_ms", tracer, "io.snapshot.commit"):
            append_snapshot(appends.filter(F.col("o_orderkey").isin(batch)).coalesce(1), table)
        with _timed(rec, "read_ms", tracer, "io.snapshot.read"):
            df = read_snapshot(spark, table, predicate={"o_orderkey": (float(lo), float(hi))})
            rec["reads"].append(agg(df))
    rec["files_per_commit"] = (table_files(table) - files_before) / len(fixture["batches"])
    if traced:
        # Outside the layer spans: listing every live file costs a scan
        # plan of the whole table.
        opened = len(df.inputFiles())
        live = len(read_snapshot(spark, table).inputFiles())
        rec["skip_ratio"] = 1.0 - opened / live
    with _timed(rec, "dml_ms", tracer, "io.snapshot.dml"):
        delete_where(spark, table, DELETE_WHERE)
    with _timed(rec, "changes_ms", tracer, "io.snapshot.changes"):
        rec["changes"] = read_changes(spark, table, after_id=0, until_id=p["appends"]).count()
    with _timed(rec, "merge_ms", tracer, "catalog.merge"):
        cat = SnapshotCatalog(spark, versions="lazy")
        cat.register("bench_orders", table)
        lake_cols(paths["merge_source"]).createOrReplaceTempView("bench_merge_source")
        cat.sql(
            "MERGE INTO bench_orders AS t USING bench_merge_source AS s "
            "ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
    with _timed(rec, "dml_ms", tracer, "io.snapshot.dml"):
        update_where(spark, table, UPDATE_WHERE, UPDATE_SET)
    with _timed(rec, "compact_ms", tracer, "io.compact.compact"):
        rec["compact"] = compact_snapshot(spark, table)
    with _timed(rec, "vacuum_ms", tracer, "io.compact.vacuum"):
        vacuum_snapshots(spark, table)
    with _timed(rec, "final_ms", tracer, "io.snapshot.full_read"):
        final = read_snapshot(spark, table)
        rec["final"] = agg(final)
        rec["final"]["keys"] = final.select("o_orderkey").distinct().count()

    rec["registry"] = {}
    for row in REGISTRY_ROWS:
        with _timed(rec, f"{row}_ms", tracer, f"queries.{row}"):
            df = QUERIES_ALL[row](spark, fixture["dir"])
            rows = df.collect()
        rec["registry"][row] = rows_digest(df.columns, [tuple(r) for r in rows])
    rec["table"] = table
    return rec


# ---------------------------------------------------------------------
# Checks
# ---------------------------------------------------------------------


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 * max(1.0, abs(b))


def check_pass(fixture: dict, rec: dict) -> tuple[list[str], str, int]:
    """Problems in one pass's lake results, the digest of all its
    results, and the table's bytes on disk after vacuum. The registry
    rows are compared with their oracle in :func:`finish`."""
    exp = fixture["expected"]
    problems = []
    for i, (got, want) in enumerate(zip(rec["reads"], exp["reads"])):
        if got["count"] != want["count"] or not _close(got["sum"], want["sum"]):
            problems.append(f"pruned read {i}: {got} != {want['count']}, {want['sum']}")
    if rec["changes"] != exp["changes"]:
        problems.append(f"change feed has {rec['changes']} rows, expected {exp['changes']}")
    final = rec["final"]
    if final["count"] != exp["rows"] or final["keys"] != exp["rows"]:
        problems.append(
            f"final table has {final['count']} rows / {final['keys']} keys, expected {exp['rows']}"
        )
    if not _close(final["sum"], exp["price_sum"]):
        problems.append(f"final sum(o_totalprice) {final['sum']} != {exp['price_sum']}")
    digest = hashlib.sha256()
    # Prices carry two decimals, so the exact sum does too; rounding to
    # them hides the summation order, which the shuffle does not fix.
    digest.update(f"{final['count']}|{final['sum']:.2f}|{rec['changes']}".encode())
    for row in REGISTRY_ROWS:
        digest.update(rec["registry"][row].encode())
    return problems, digest.hexdigest(), _dir_bytes(rec["table"])


def finish(fixture: dict, passes: list[dict]) -> None:
    """After the timed passes: run the registry rows' DuckDB oracles on
    the fixture (a few seconds, so outside set-up and the timed passes)
    and add a problem to every pass whose rows differ."""
    oracle = registry_oracle(fixture)
    for p in passes:
        rec = p.get("result")
        if rec is None:
            continue
        for row in REGISTRY_ROWS:
            if rec["registry"][row] != oracle[row]:
                p["problems"].append(f"{row} differs from its DuckDB oracle")


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def table_files(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(f.endswith(".parquet") for f in files)
    return n


def instrument(tracer):
    """The lake pass opens its own spans; nothing to patch."""
    return contextlib.nullcontext()


def pass_metrics(tree, stats, rec, inst, out_bytes) -> dict:
    """Per-layer metrics of one traced pass."""
    import spans

    def named(name):
        return [stats[s["id"]] for s in tree if s["name"] == name]

    def med(name, key, scale=1.0):
        return statistics.median(st[key] * scale for st in named(name))

    def layer(name):
        return spans.layer_rollup(tree, stats, name)

    commit, read = "io.snapshot.commit", "io.snapshot.read"
    dml, changes, merge = layer("io.snapshot.dml"), layer("io.snapshot.changes"), layer("catalog.merge")
    m = {
        "io.snapshot.commit_p50_ms": med(commit, "wall_s", 1e3),
        "io.snapshot.commit_driver_ms": med(commit, "driver_s", 1e3),
        "io.snapshot.commit_jobs": med(commit, "jobs"),
        "io.snapshot.files_per_commit": rec["files_per_commit"],
        "io.snapshot.read_p50_ms": med(read, "wall_s", 1e3),
        "io.snapshot.read_driver_ms": med(read, "driver_s", 1e3),
        "io.snapshot.read_tasks": med(read, "tasks"),
        "io.snapshot.skip_ratio": rec["skip_ratio"],
        "io.snapshot.changes_s": changes["wall_s"],
        "io.snapshot.changes_tasks": changes["tasks"],
        "io.snapshot.dml_s": dml["wall_s"],
        "io.snapshot.dml_tasks": dml["tasks"],
        "io.snapshot.table_mb": out_bytes / spans.MB,
        "io.snapshot.table_files": table_files(rec["table"]),
        "io.compact.compact_s": layer("io.compact.compact")["wall_s"],
        "io.compact.vacuum_s": layer("io.compact.vacuum")["wall_s"],
        "io.compact.rewritten_mb": rec["compact"].get("total_bytes", 0) / spans.MB,
        "catalog.merge_s": merge["wall_s"],
        "catalog.merge_tasks": merge["tasks"],
    }
    for row in REGISTRY_ROWS:
        q = layer(f"queries.{row}")
        for key in ("wall_s", "jobs", "driver_s"):
            m[f"queries.{row}.{key}"] = q[key]
    return m


def summary(rec: dict | None) -> dict:
    """Median wall ms of each step of one pass, for the detail line."""
    if not rec:
        return {}
    return {k: round(statistics.median(v), 1) for k, v in rec.items() if k.endswith("_ms")}
