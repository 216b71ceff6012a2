"""Atomic table commits (the reference's TRUNCATE + INSERT rebuild).

The reference rebuilds tables with ``DELETE FROM`` + ``INSERT ... SELECT``
inside a Postgres transaction (``diff_times.py:38-111``) — readers never
see a missing table. This module gives every table the pipeline writes
the same guarantee, on local/POSIX paths only (:func:`local_path` rejects
an object-store URI, whose renames are not atomic; at scale a table
format's commit replaces this module at the same call sites):

- **One commit.** Each write fills a fresh versioned directory
  ``<table>._v<N>`` and then atomically repoints a symlink at the table
  path (``os.replace`` of a symlink is atomic on POSIX). Readers resolve
  either the old or the new version, never a partial table; a crash
  before the flip, inside the write job or after it, leaves the live
  symlink untouched and at worst an orphan ``._v<N+1>`` directory that
  the next successful commit removes. A write may therefore READ the
  table it replaces (the merge-rebuild shape): the plan scans the old
  version while the writer fills the new directory.

- **Two overwrite semantics.** :func:`overwrite_table` with
  ``partition_by`` replaces only the partitions ``df`` holds (Spark's
  dynamic overwrite): before the flip every partition dir of the live
  version that the write did not produce is hard-linked into the new
  version, file by file (``os.link``: no bytes copied), so untouched
  partitions keep their files (same inodes, same bytes) across versions.
  :func:`replace_table` replaces the whole table (Spark's static
  overwrite), laid out by ``partition_by`` when that is given.

Reads go through :func:`read_table`, which takes the table's schema from
one data file's footer instead of letting Spark run a footer-merge job
per read; :func:`table_dates` lists a table's ``start_date`` partitions
from its directory names, and :func:`table_exists` probes for a table.
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


def local_path(target: str) -> str:
    """The filesystem path of a local table location (no URI scheme, or
    ``file://``); raises ``ValueError`` for an object-store URI, where the
    commits here would not be atomic."""
    parsed = urlparse(target)
    if parsed.scheme not in ("", "file"):
        raise ValueError(
            f"{target!r} is not a local/POSIX path: tables commit by an atomic "
            "rename, which object stores lack (use a table format's commit there)"
        )
    return parsed.path or target


def table_exists(path: str) -> bool:
    """True iff the table at ``path`` exists. Only true absence returns
    False: any other stat error (EACCES, ENOTDIR, EIO, ...) re-raises, so
    an existing but unstatable table is never taken for a missing one and
    replaced by a first commit holding only the incoming rows."""
    try:
        os.stat(local_path(path))
    except FileNotFoundError:
        return False
    return True


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
    NULL partition. Empty for a missing or unpartitioned table."""
    out = []
    for name in _date_dirs(local_path(path)):
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
    back to inference for files without Spark's footer key."""
    local = local_path(path)
    schema = _footer_schema(local) if os.path.isdir(local) else None
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def overwrite_table(
    df: DataFrame, target: str, partition_by: str | None = None
) -> DataFrame:
    """Replace the table at ``target`` with ``df``, atomically for readers.

    Returns a fresh DataFrame over the committed table, read with
    ``df``'s schema (no footer-inference job; a partition column comes
    last, as an inferred read puts it). ``df`` may read from ``target``
    itself (merge-rebuild): the old version stays live until the new one
    is complete.

    With ``partition_by``, ``df`` replaces only the partitions it holds:
    the live table's other partitions are carried into the new version by
    hard link (module docstring)."""
    return _commit(df, target, partition_by, carry=True)


def replace_table(df: DataFrame, target: str, partition_by: str | None = None) -> DataFrame:
    """Replace the whole table at ``target`` with ``df`` (no partition is
    carried), laid out in ``partition_by`` dirs when that is given.
    Returns what :func:`overwrite_table` returns."""
    return _commit(df, target, partition_by, carry=False)


def _commit(df: DataFrame, target: str, partition_by: str | None, carry: bool) -> DataFrame:
    """Write ``df`` into the next version dir, carry the live partitions
    it lacks when ``carry``, then flip the table symlink to it and drop
    every superseded version."""
    local = local_path(target)
    existing = _versions(local)
    version = existing[-1][0] + 1 if existing else 1
    vdir = f"{local}._v{version}"
    if partition_by is None:
        df.write.mode("overwrite").parquet(vdir)
    else:
        df.write.mode("overwrite").partitionBy(partition_by).parquet(vdir)
        if carry and os.path.isdir(local):
            _carry_partitions(local, vdir, partition_by)
        if not any(n.startswith(f"{partition_by}=") for n in os.listdir(vdir)):
            # no rows and nothing carried: a partitioned write of no rows
            # leaves no data file, so write a schema-only one to keep the
            # table readable
            df.limit(0).write.mode("overwrite").parquet(vdir)

    if os.path.isdir(local) and not os.path.islink(local):
        # one-time migration of a plain directory table: move it aside so
        # the symlink can take its place (brief window on first migration
        # only; every subsequent commit is a pure atomic symlink swap)
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
    return df.sparkSession.read.schema(df.schema).parquet(local)
