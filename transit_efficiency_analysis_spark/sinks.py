"""Atomic full-table overwrite (the reference's TRUNCATE + INSERT rebuild).

The reference rebuilds tables with ``DELETE FROM`` + ``INSERT ... SELECT``
inside a Postgres transaction (``diff_times.py:38-111``) — readers never
see a missing table. This module gives the parquet store the same
guarantee, with a different mechanism per filesystem class:

- **Local paths** (no URI scheme, or ``file://``): each rebuild writes a
  fresh versioned directory ``<table>._v<N>`` and then atomically repoints
  a symlink at the table path (``os.replace`` of a symlink is atomic on
  POSIX). Readers resolve either the old or the new version, never a
  partial table; a crash mid-write leaves the live symlink untouched and
  at worst an orphan ``._v<N+1>`` directory that the next successful
  rebuild removes. This also means an overwrite may READ the table it
  replaces (the merge-rebuild shape): the plan scans the old version
  while the writer fills the new directory — no staging double-write.

- **Partition carry-over** (``partition_by``, local paths only): the new
  version dir is written partitioned by that column, and before the flip
  every ``<column>=<value>`` dir of the live version that the write did
  not produce is hard-linked into it, file by file (``os.link``: no bytes
  copied). A caller that writes only the partitions it touched therefore
  commits a whole table in the same single flip, and untouched partitions
  keep their files (same inodes, same bytes) across versions.

- **Object-store URIs** (``s3://``, ``hdfs://``, ...): directories and
  renames aren't atomic there, so the rebuild stages to a sibling path
  and commits with the Spark writer (FileOutputCommitter semantics; on a
  real deployment the table format's commit — Delta/Iceberg — replaces
  this whole module at the same call sites).

Reads go through :func:`read_table`, which takes the table's schema from
one data file's footer instead of letting Spark run a footer-merge job
per read, and :func:`table_dates` lists a table's ``start_date``
partitions from its directory names.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from datetime import date
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_VERSION_RE = re.compile(r"\._v(\d+)$")
#: footer key under which Spark's parquet writer stores the row schema (JSON)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_DATE_DIR = "start_date="


def _local_path(target: str) -> str | None:
    """Filesystem path for local targets, None for object-store URIs."""
    parsed = urlparse(target)
    if parsed.scheme in ("", "file"):
        return parsed.path or target
    return None


def _versions(path: str) -> list[tuple[int, str]]:
    parent, base = os.path.dirname(path) or ".", os.path.basename(path)
    out = []
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            m = _VERSION_RE.search(name)
            if m and name == f"{base}._v{m.group(1)}":
                out.append((int(m.group(1)), os.path.join(parent, name)))
    return sorted(out)


def _carry_partitions(live: str, vdir: str, column: str) -> None:
    """Hard-link every ``column=`` dir of ``live`` that ``vdir`` lacks."""
    prefix = f"{column}="
    for name in os.listdir(live):
        src = os.path.join(live, name)
        dst = os.path.join(vdir, name)
        if not name.startswith(prefix) or os.path.exists(dst):
            continue
        os.mkdir(dst)
        for f in os.listdir(src):
            os.link(os.path.join(src, f), os.path.join(dst, f))


def _date_dirs(local: str) -> list[str]:
    """The ``start_date=`` dir names of the table dir ``local``."""
    if not os.path.isdir(local):
        return []
    return sorted(n for n in os.listdir(local) if n.startswith(_DATE_DIR))


def table_dates(path: str) -> list[date | None]:
    """The ``start_date`` values the table at ``path`` holds, from its
    ``start_date=`` dir names (a local listing, no Spark job); None is the
    NULL partition. Empty for a missing, unpartitioned or object-store
    table."""
    local = _local_path(path)
    if local is None:
        return []
    out = []
    for name in _date_dirs(local):
        value = unquote(name[len(_DATE_DIR):])
        out.append(None if value == "__HIVE_DEFAULT_PARTITION__" else date.fromisoformat(value))
    return out


def _footer_schema(local: str) -> T.StructType | None:
    """The Spark schema of the table dir ``local`` from one data file's
    footer, with ``start_date DATE`` appended when the table is stored in
    ``start_date=`` dirs; None when there is no data file or its footer
    carries no Spark schema."""
    import pyarrow.parquet as pq

    dirs = _date_dirs(local)
    candidates = [os.path.join(local, d) for d in dirs] if dirs else [local]
    for d in candidates:
        files = sorted(
            f for f in os.listdir(d)
            if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(d, f))
        )
        if files:
            break
    else:
        return None
    raw = (pq.read_schema(os.path.join(d, files[0])).metadata or {}).get(_SPARK_SCHEMA_KEY)
    if raw is None:
        return None
    schema = T.StructType.fromJson(json.loads(raw))
    if dirs:
        schema = schema.add("start_date", T.DateType(), True)
    return schema


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """The parquet table at ``path``, read with the schema its writer
    stored in one data file's footer, so the read runs no schema-inference
    job. The result equals ``spark.read.parquet(path)`` (same columns,
    order and types, the partition column last), except that a table
    holding only the NULL date still reads ``start_date`` as DATE. Falls
    back to inference for object-store paths and for files without
    Spark's footer key."""
    local = _local_path(path)
    schema = _footer_schema(local) if local is not None and os.path.isdir(local) else None
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def overwrite_table(
    df: DataFrame, target: str, partition_by: str | None = None
) -> DataFrame:
    """Replace the table at ``target`` with ``df``, atomically for readers.

    Returns a fresh DataFrame over the committed table, read with
    ``df``'s schema (no footer-inference job; a partition column comes
    last, as an inferred read puts it). ``df`` may read
    from ``target`` itself (merge-rebuild); on local paths the old version
    stays live until the new one is complete.

    With ``partition_by``, ``df`` replaces only the partitions it holds:
    the live table's other partitions are carried into the new version by
    hard link (module docstring). Local paths only.
    """
    spark = df.sparkSession
    local = _local_path(target)
    if local is None and partition_by is not None:
        raise ValueError(
            "overwrite_table(partition_by=...) needs a local/posix path; "
            "use a table format's partition overwrite for object stores"
        )
    if local is None:
        # object store: stage, then writer-commit overwrite of the live
        # prefix (cloud committers make the final job commit atomic; use
        # Delta/Iceberg for snapshot isolation at scale)
        staging = target + ".staging"
        df.write.mode("overwrite").parquet(staging)
        spark.read.schema(df.schema).parquet(staging).write.mode("overwrite").parquet(target)
        return spark.read.schema(df.schema).parquet(target)

    existing = _versions(local)
    version = existing[-1][0] + 1 if existing else 1
    vdir = f"{local}._v{version}"
    if partition_by is None:
        df.write.mode("overwrite").parquet(vdir)
    else:
        df.write.mode("overwrite").partitionBy(partition_by).parquet(vdir)
        if os.path.isdir(local):
            _carry_partitions(local, vdir, partition_by)
        if not any(n.startswith(f"{partition_by}=") for n in os.listdir(vdir)):
            # no rows and nothing carried: a partitioned write of no rows
            # leaves no data file, so write a schema-only one to keep the
            # table readable
            df.limit(0).write.mode("overwrite").parquet(vdir)

    if os.path.isdir(local) and not os.path.islink(local):
        # one-time migration of a plain directory table: move it aside so
        # the symlink can take its place (brief window on first migration
        # only; every subsequent rebuild is a pure atomic symlink swap)
        legacy = f"{local}._v0"
        os.rename(local, legacy)
        existing = [(0, legacy)] + existing

    tmp = f"{local}._lnk"
    if os.path.lexists(tmp):
        os.remove(tmp)
    os.symlink(os.path.abspath(vdir), tmp)
    os.replace(tmp, local)  # atomic flip: readers see old xor new

    for _, old in existing:  # superseded versions (open scans keep FDs)
        shutil.rmtree(old, ignore_errors=True)
    return spark.read.schema(df.schema).parquet(local)
