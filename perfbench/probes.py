"""The layer entry points the traced run wraps, and the counts it keeps.

Span names are ``<module>.<function>`` after the module that owns the
entry point, so per-layer metrics group by module name.
"""

from __future__ import annotations

import os

FS_READS = ("read_bytes", "open_input", "seekable_input", "exists", "isdir", "size")
FS_WRITES = ("write_bytes", "create_exclusive", "open_output", "open_append",
             "delete", "delete_if_unchanged", "mkdirs", "rmtree", "rmdir_if_empty")
FS_LISTS = ("listdir", "walk_files")


def input_bytes(df) -> int:
    return sum(os.path.getsize(p[len("file:"):] if p.startswith("file:") else p)
               for p in df.inputFiles())


def _count_iceberg_files(tracer, df, args, kwargs) -> None:
    tracer.count("lake.iceberg_read.files_scanned", len(df.inputFiles()))


def _fs_after(kind: str, attr: str):
    def after(tracer, out, args, kwargs):
        tracer.count(f"fs.{kind}_ops")
        if attr == "read_bytes":
            tracer.count("fs.bytes_read", len(out))
        elif attr in ("write_bytes", "create_exclusive"):
            data = args[2] if len(args) > 2 else kwargs["data"]
            tracer.count("fs.bytes_written", len(data))
    return after


def install(tracer) -> None:
    from arc_spark.cdc.runner import ReplayRunner
    from arc_spark.fs import LocalFS
    from arc_spark.lake import iceberg_read
    from arc_spark.lake.table import LakeTable
    from arc_spark.pipeline import config

    p = tracer.patch
    p(LakeTable, "merge", "lake.table.merge", jobs=True)
    p(LakeTable, "_merge_attempt", None,
      after=lambda t, *a: t.count("lake.table.merge_attempts"))
    p(LakeTable, "snapshot", "lake.table.snapshot")
    p(LakeTable, "lookup", "lake.table.lookup", jobs=True)
    p(LakeTable, "changes_since", "lake.table.changes_since", jobs=True)
    p(LakeTable, "read", "lake.table.read", jobs=True)
    p(ReplayRunner, "run", "cdc.runner.run", jobs=True)
    p(ReplayRunner, "run_epoch", "cdc.runner.run_epoch", jobs=True)
    p(ReplayRunner, "max_seq", "cdc.runner.max_seq", jobs=True)
    p(iceberg_read, "read_iceberg", "lake.iceberg_read.read_iceberg", jobs=True,
      after=_count_iceberg_files)
    p(iceberg_read, "max_seq_bound", "lake.iceberg_read.max_seq_bound", jobs=True)
    p(config, "parse_pipeline", "pipeline.parse_pipeline")
    for kind, names in (("read", FS_READS), ("write", FS_WRITES), ("list", FS_LISTS)):
        for attr in names:
            p(LocalFS, attr, f"fs.{attr}", after=_fs_after(kind, attr))
