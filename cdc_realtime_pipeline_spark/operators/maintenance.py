"""Storage maintenance: TTL retention and partition compaction.

The reference ages data out with ClickHouse table TTLs
(``TTL … + INTERVAL 90 DAY`` — clickhouse/init.sql:27,53,74) and relies
on MergeTree background merges for small-part compaction. On a
Parquet/Delta lake both become scheduled jobs over the partition
layout (SURVEY.md §2.1 S7, §4 "TTL-based retention"):

* ``drop_expired_partitions`` — delete whole month partitions older
  than the retention horizon. Partition-granular: a directory unlink
  per month, no data rewrite, exactly like dropping a MergeTree part.
* ``compact_partition`` — rewrite one partition's many small files
  (streaming micro-batches leave one file per trigger) into one
  — the OPTIMIZE analog.

Both operate on a ``month=yyyyMM`` layout: a month-first table, or one
``batch=<id>/`` directory of the streaming raw sink (streaming/job.py).
Staged copies get ``.``-prefixed names, which Spark's file index skips.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession


def list_month_partitions(table_dir: str) -> list[str]:
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        d.split("=", 1)[1]
        for d in os.listdir(table_dir)
        if d.startswith("month=") and os.path.isdir(os.path.join(table_dir, d))
    )


def drop_expired_partitions(table_dir: str, keep_months: list[str]) -> list[str]:
    """Drop month partitions not in ``keep_months``; returns dropped.

    Caller computes the horizon (e.g. last 3 calendar months) — keeping
    the policy outside makes the job idempotent and testable.
    """
    dropped = []
    for m in list_month_partitions(table_dir):
        if m not in keep_months:
            shutil.rmtree(os.path.join(table_dir, f"month={m}"))
            dropped.append(m)
    return dropped


def retention_horizon(months: list[str], keep_last: int) -> list[str]:
    """The most recent ``keep_last`` months of those present."""
    return sorted(months)[-keep_last:]


def _hidden(path: str, tag: str) -> str:
    """A sibling of ``path`` that readers of its parent skip."""
    head, name = os.path.split(path)
    return os.path.join(head, f".{name}.{tag}")


def swap_in(staged: str, live: str) -> None:
    """Replace directory ``live`` with the fully written ``staged`` one
    — the staged swap compaction, backfill and write-audit-publish
    share. The live directory is renamed aside, the staged one renamed
    into place, and the old copy deleted last; if the swap-in rename
    fails the old directory is renamed back, so the live path keeps its
    old contents. ``live`` may not exist yet (a first publish).

    Readers see complete-old, complete-new, or a retryable
    path-not-found during the brief window between the two renames —
    never a PARTIAL directory. A crash inside that window leaves the
    old data intact at ``.<live>.swap_old`` rather than stranded.
    Directory rename is only atomic within one POSIX filesystem; on an
    object store use a manifest/symlink swap or a table format's
    metadata commit (Delta/Iceberg) instead.
    """
    old = _hidden(live, "swap_old")
    shutil.rmtree(old, ignore_errors=True)  # left by an interrupted swap
    if not os.path.exists(live):
        os.rename(staged, live)
        return
    os.rename(live, old)
    try:
        os.rename(staged, live)
    except BaseException:
        os.rename(old, live)
        raise
    shutil.rmtree(old)


def compact_partition(spark: SparkSession, table_dir: str, month: str) -> int:
    """Rewrite one month partition into one file, written
    aside and published with ``swap_in``. Returns the number of files
    before compaction.
    """
    part_dir = os.path.join(table_dir, f"month={month}")
    n_before = sum(1 for f in os.listdir(part_dir) if f.endswith(".parquet"))
    tmp = _hidden(part_dir, "compact")
    spark.read.parquet(part_dir).coalesce(1).write.mode("overwrite").parquet(tmp)
    swap_in(tmp, part_dir)
    return n_before


def backfill_partition(spark: SparkSession, table_dir: str, month: str, df) -> int:
    """Idempotent single-partition backfill — the reprocessing job that
    recomputes ONE month and swaps it in (``swap_in``) without touching
    neighbors (the lake analog of `INSERT OVERWRITE ... PARTITION
    (month=m)`; on Spark-managed tables the same contract is
    ``spark.sql.sources.partitionOverwriteMode=dynamic``). Returns the
    row count written.

    ``df`` must contain exactly the recomputed rows for ``month`` —
    the caller filters; keeping the horizon outside makes the job
    re-runnable (same input → same bytes, safe under scheduler
    retries).
    """
    part_dir = os.path.join(table_dir, f"month={month}")
    tmp = _hidden(part_dir, "backfill")
    n = df.count()
    df.write.mode("overwrite").parquet(tmp)
    swap_in(tmp, part_dir)
    return n


def read_with_schema_evolution(spark: SparkSession, table_dir: str):
    """Read a directory whose parquet files carry EVOLVED schemas
    (columns added over time — the normal life of a 100 TB lake table)
    into one unified DataFrame: ``mergeSchema`` unions the file
    footers' schemas and null-fills columns absent from older files.

    The read-side contract that lets writers add columns without a
    table-wide rewrite; pair with events_schema_drift (detection) and
    the CDC envelope's unknown-field tolerance (ingest side).
    """
    return spark.read.option("mergeSchema", "true").parquet(table_dir)


class AuditFailure(Exception):
    """Raised by write_audit_publish when an audit rejects the staged
    data; the live table is untouched."""


def write_audit_publish(spark: SparkSession, df, table_dir: str, audits) -> int:
    """Write-Audit-Publish — the staged-promotion protocol (Netflix's
    WAP / Iceberg branch-commit pattern): materialize the new table
    version to a staging path, run every audit callable against the
    STAGED data, and only then promote it over the live path with
    ``swap_in`` (the staged swap compaction and backfill use). A
    failing audit raises :class:`AuditFailure` and leaves the live
    table byte-identical — bad data is never readable, which is the
    entire point versus validate-after-write.

    ``audits`` is an iterable of callables ``(DataFrame) -> bool``
    over the staged read; returns the published row count. At scale
    the staging write is the same cost as the direct write — WAP buys
    the gate for free modulo one rename.
    """
    tmp = _hidden(table_dir, "wap_stage")
    df.write.mode("overwrite").parquet(tmp)
    staged = spark.read.parquet(tmp)
    for audit in audits:
        if not audit(staged):
            shutil.rmtree(tmp, ignore_errors=True)
            raise AuditFailure(f"audit {getattr(audit, '__name__', audit)!r} rejected staged data")
    n = staged.count()
    swap_in(tmp, table_dir)
    return n
