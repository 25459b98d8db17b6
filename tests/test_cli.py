"""End-to-end CLI: the reference's main.py workflow on this engine."""

from __future__ import annotations

import json
import os

from big_data_spark.main import main
from tests.conftest import REFERENCE_DATA


def _report_lines(out_dir: str) -> list[str]:
    lines = []
    for dirpath, _, files in os.walk(out_dir):
        for name in files:
            if name.startswith("part-"):
                with open(os.path.join(dirpath, name)) as fh:
                    lines += [f"{os.path.basename(dirpath)}:{ln}" for ln in fh]
    return sorted(lines)


def test_repeated_pass_reuses_generated_code(spark, tmp_path):
    """A repeated pipeline pass finds its Janino-compiled classes in
    Spark's codegen cache (session.get_spark sizes it above one pass's
    ~300 classes; at Spark's default of 100 every pass recompiles all
    of them). Defined first in this file so no other pipeline run in
    the session has compiled these plan shapes already."""
    from big_data_spark.datagen import generate_logs

    logs = str(tmp_path / "logs.json")
    generate_logs(
        spark, n_trees=30, n_processes=90, max_depth=3, n_servers=40, seed=11
    ).write.json(logs)
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles, reports = [], []
    for i in range(3):
        out = str(tmp_path / f"out{i}")
        before = metric.METRIC_COMPILATION_TIME().getCount()
        main([logs, "--out-dir", out], spark=spark)
        compiles.append(metric.METRIC_COMPILATION_TIME().getCount() - before)
        reports.append(_report_lines(out))
    assert reports[0] and reports[0] == reports[1] == reports[2]
    assert compiles[2] < 0.1 * compiles[0], compiles


def test_cli_writes_all_three_outputs(spark, tmp_path):
    logs = os.path.join(REFERENCE_DATA, "test.json")
    main([logs, "--out-dir", str(tmp_path)], spark=spark)
    prefix = os.path.join(str(tmp_path), "test.json")

    part1 = f"{prefix}_part1Output.txt"
    obs1 = f"{prefix}_part1Observations.txt"
    obs2 = f"{prefix}_part2Observations.txt"
    assert os.path.isdir(part1) and os.path.isdir(obs1) and os.path.isdir(obs2)

    # part-1 grouped logs are valid JSON lines with the reference's
    # exact field set.
    rows = []
    for name in os.listdir(part1):
        if name.startswith("part-") and name.endswith(".json"):
            with open(os.path.join(part1, name)) as fh:
                rows += [json.loads(line) for line in fh if line.strip()]
    assert rows
    assert set(rows[0]) == {"state_from", "state_to", "time", "action", "process_id"}

    # part-2 report is non-empty (the reference ships an empty file
    # due to its discarded-union bug; ours always writes content).
    texts = []
    for name in os.listdir(obs2):
        if name.startswith("part-"):
            with open(os.path.join(obs2, name)) as fh:
                texts.append(fh.read())
    assert any(t.strip() for t in texts)


def test_corpus_cli_writes_and_reports(spark, tmp_path, capsys):
    import json

    from big_data_spark.corpus_cli import main as corpus_main
    from tests.conftest import SF_SMOKE

    out = str(tmp_path / "corpus")
    funnel = corpus_main([SF_SMOKE, out], spark=spark)
    assert funnel["0_input"] == 500
    assert funnel["5_mixed"] > 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    parsed = json.loads(line)
    assert parsed["funnel"] == funnel and parsed["out_dir"] == out
    back = spark.read.parquet(out)
    assert back.count() == funnel["5_mixed"]


def test_corpus_cli_exports_training_shards(spark, tmp_path, capsys):
    import glob
    import json

    from big_data_spark.corpus_cli import main as corpus_main
    from tests.conftest import SF_SMOKE

    out = str(tmp_path / "corpus")
    funnel = corpus_main(
        [SF_SMOKE, out, "--export-shards", "4"], spark=spark
    )
    line = capsys.readouterr().out.strip().splitlines()[-1]
    parsed = json.loads(line)
    assert parsed["shards"]["n_shards"] == 4
    assert parsed["shards"]["n_rows"] == funnel["5_mixed"]
    assert parsed["shards"]["max_skew"] <= 1
    assert len(glob.glob(f"{out}_shards/shard=*")) == 4
    back = spark.read.parquet(f"{out}_shards")
    assert back.count() == funnel["5_mixed"]
    assert back.select("doc_id").distinct().count() == funnel["5_mixed"]
