"""Atomic snapshot publication for plain-parquet tables — the public
surface of the table format, re-exported from the modules that
implement it:

- ``io/layout.py``     — the table directory's on-disk layout, path
  helpers and the metadata-file reader;
- ``io/manifest.py``   — the manifest: its ``Manifest`` shape, the one
  reader, the carry-forward rule (``successor``) and the commit;
- ``io/stats.py``     — the footer-stats rule: the one per-file fold
  (min/max, row count, integer sums) and the one skip test every
  pruned read applies;
- ``io/sidecars.py``   — per-generation stats sidecars: the commit-time
  generation sweep, cache, consolidated shards;
- ``io/tags.py``       — named version pins;
- ``io/table_reads.py`` — snapshot reads, schema replay and evolution;
- ``io/changes.py``    — the change feed and history;
- ``io/table_writes.py`` — write, append, partial, repartition, stage /
  publish, rollback and vacuum (``io/writers.py`` holds the plain
  sinks);
- ``io/dml.py``        — DELETE / UPDATE (copy-on-write and
  merge-on-read) and ``fold_deletes``;
- ``io/aggregates.py`` — metadata-only aggregates, DESCRIBE DETAIL /
  SHOW PARTITIONS, ANALYZE and stats consolidation.

Package code imports each name from its defining module; this module
keeps ``from big_data_spark.io.snapshot import ...`` working for
callers outside the package.
"""

# ruff: noqa: F401

from big_data_spark.io.aggregates import (
    analyze_table,
    consolidate_stats,
    metadata_aggregate,
    metadata_group_aggregate,
    show_partitions,
    table_detail,
)
from big_data_spark.io.changes import (
    follow_changes,
    read_changes,
    table_history,
)
from big_data_spark.io.dml import delete_where, fold_deletes, update_where
from big_data_spark.io.layout import bare_path, generation_dir, hadoop_fs
from big_data_spark.io.manifest import (
    FORMAT_VERSION,
    SnapshotConflict,
    commit_manifest,
    entry_partition_values,
    format_version_error,
    latest_manifest,
    partition_entry_key,
    read_manifest,
    select_partition_entries,
    snapshot_ids,
)
from big_data_spark.io.table_reads import (
    evolve_schema,
    read_delete_positions,
    read_entries,
    read_snapshot,
    resolve_as_of_ts,
)
from big_data_spark.io.sidecars import load_generation_stats
from big_data_spark.io.tags import delete_tag, list_tags, tag_snapshot
from big_data_spark.io.table_writes import (
    abandon_staged,
    append_snapshot,
    append_with_retry,
    check_schema_evolution,
    publish_staged,
    read_staged,
    repartition_table,
    rollback_snapshot,
    stage_snapshot,
    vacuum_snapshots,
    write_snapshot,
    write_snapshot_partial,
)
