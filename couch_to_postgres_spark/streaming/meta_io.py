"""Driver-side I/O for facts the parquet files already hold.

Three kinds of stored-state access never need a Spark job:

* **Tiny meta tables** (the search index's ``base/meta`` stats row, the
  shingle-width marker, the vector quantizer and its centroids) are read
  before any indexed query can plan and rewritten by every maintenance
  pass.
  :func:`read_meta_rows` / :func:`write_meta_rows` read and write them
  with pyarrow on the driver (~1 ms) instead of a job launch per touch.
* **Schemas.** ``spark.read.parquet(path)`` without a schema runs a
  schema-inference job on every open. :func:`open_parquet` reads the
  schema from the first data file's footer and hands it to
  ``spark.read.schema(...)``, which opens with no job; Spark still
  discovers the partition columns from the ``k=v`` directory names.
  The footer is the one Spark's own inference (no ``mergeSchema``)
  would read — the first data file in path order — so components whose
  column set differs from file to file (the search ``attrs``) open with
  exactly the schema Spark would give them.
* **Row counts.** :func:`parquet_rows` sums the footers' ``num_rows``
  over the same file set Spark would read — the mirror's row
  accounting and the indexes' tail counts (:func:`component_rows`)
  cost file opens, not a job per recount.

All of this applies to LOCAL paths — the only filesystem the
rename-based publish step (``commit.publish``) operates on anyway. For any other scheme (hdfs://, s3a://, …) the meta tables and
opens take the Spark route — as does an :func:`open_parquet` of a local
path with no data file yet, so PATH_NOT_FOUND and empty-directory errors
surface exactly as Spark raises them (:func:`try_open_parquet` answers
None for such a path from a stat) — :func:`component_rows` counts with
Spark, and :func:`parquet_rows` refuses the path (the partitioned
mirror, its other caller, is local-only). The file
formats are interchangeable both ways: pyarrow writes a plain part file
into the same directory layout Spark produces, and both readers skip
``_``/``.``-prefixed names (``_SUCCESS``, ``.crc``, staging temps).

Scale note: meta rows are one row per index, never per-doc data; the
footer reads open one file per schema and one footer per data file
per count. The data planes (postings, doclen, cells, mirror rows) stay
Spark jobs.
"""

from __future__ import annotations

import json
import os
import uuid
from itertools import islice
from typing import Iterable, Iterator

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType
from pyspark.sql.utils import AnalysisException

_SPARK_TO_ARROW = {
    "int": pa.int32(),
    "long": pa.int64(),
    "bigint": pa.int64(),
    "double": pa.float64(),
    "float": pa.float32(),
    "string": pa.string(),
    "boolean": pa.bool_(),
    "array<double>": pa.list_(pa.float64()),
}


def _local(path: str) -> str | None:
    """The driver-local form of ``path``, or None when it names a
    non-local filesystem (→ caller takes the Spark route)."""
    if "://" in path:
        return path[len("file://"):] if path.startswith("file://") else None
    return path


def _data_files(path: str) -> Iterator[str]:
    """The data files under a local file or directory, in Spark's file
    set and in full-path order (Spark's inference sorts its leaf files
    by path; a directory sorts as ``name/``): ``_``/``.``-prefixed
    names are skipped and only ``k=v`` partition directories are
    descended. A directory that vanishes mid-walk (a concurrent swap)
    contributes nothing."""
    if os.path.isfile(path):
        yield path
        return
    try:
        entries = sorted(
            os.scandir(path), key=lambda e: e.name + "/" if e.is_dir() else e.name
        )
    except OSError:
        return
    for e in entries:
        if e.name.startswith(("_", ".")):
            continue
        if e.is_dir():
            if "=" in e.name:
                yield from _data_files(e.path)
        else:
            yield e.path


#: footer key under which Spark stores the exact schema it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType:
    """The schema Spark's inference would give this file: the Spark
    schema a Spark writer embeds in the footer (what Spark's own
    inference reads back), else the converted arrow schema (files
    pyarrow wrote), all fields nullable like every file-source read."""
    arrow = pq.read_schema(path)
    embedded = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    schema = (
        StructType.fromJson(json.loads(embedded))
        if embedded
        else from_arrow_schema(arrow)
    )
    for f in schema.fields:
        f.nullable = True
    return schema


def open_parquet(
    spark: SparkSession, *paths: str, base_path: str | None = None
) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job.

    For local paths the schema comes from the footer Spark's inference
    would read — the first data file, in path order, across all
    ``paths`` (:func:`_footer_schema`, ~1 ms) — and the open launches no
    Spark job. ``base_path`` is Spark's ``basePath`` option
    (keeps the partition columns of dirs opened by name). With no data
    file found, a non-local path, or an unreadable footer, this is the
    plain Spark call — its errors and its inference unchanged."""
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    local = [_local(p) for p in paths]
    if None not in local:
        firsts = [f for p in local for f in islice(_data_files(p), 1)]
        first = min(firsts, key=os.path.abspath, default=None)
        if first is not None:
            try:
                schema = _footer_schema(first)
            except (OSError, pa.ArrowException):
                pass  # let Spark's reader be the arbiter
            else:
                return reader.schema(schema).parquet(*paths)
    return reader.parquet(*paths)


def try_open_parquet(spark: SparkSession, path: str) -> DataFrame | None:
    """:func:`open_parquet`, or None where the path holds no data. A
    local path with no data file answers None from a stat, with no
    reader call; any other path asks Spark's reader and answers None
    where it refuses (PATH_NOT_FOUND, or no data file to infer a schema
    from) — the read-attempt probe, correct on HDFS/S3 where a local
    stat is blind."""
    local = _local(path)
    if local is not None and next(_data_files(local), None) is None:
        return None
    try:
        return open_parquet(spark, path)
    except AnalysisException:
        return None


def read_components(
    spark: SparkSession, specs: list[tuple[str, str]], id_col: str
) -> list[DataFrame]:
    """Read sibling index components ``[(path, fallback_schema), …]``,
    an absent one (:func:`try_open_parquet` → None) as an empty frame;
    a MISSING component's id column takes the dtype of whichever sibling
    exists. The index must never cast ids: a string-id corpus (couch doc
    ids like ``'100009-6'``) with, say, no tombstones yet must not get a
    long-typed empty tombstone frame — the later join/union would
    ANSI-cast the real ids to bigint and throw mid-query."""
    reads = [try_open_parquet(spark, path) for path, _ in specs]
    like = next((df for df in reads if df is not None), None)
    out = []
    for df, (_, schema) in zip(reads, specs):
        if df is None:
            if like is not None and id_col in dict(like.dtypes):
                id_t = dict(like.dtypes)[id_col]
                fields = [f.strip() for f in schema.split(",")]
                schema = ", ".join(
                    f"{id_col} {id_t}" if f.startswith(f"{id_col} ") else f
                    for f in fields
                )
            df = spark.createDataFrame([], schema)
        out.append(df)
    return out


def parquet_rows(files_or_dirs: Iterable[str]) -> int:
    """Total rows of the local parquet files and directories named,
    summed from the footers' ``num_rows`` over the file set
    :func:`open_parquet` (and Spark) would read. A missing path holds
    no rows; a non-local path is an error (the callers' layouts are
    local-only, like their swap machinery)."""
    total = 0
    for p in files_or_dirs:
        local = _local(p)
        if local is None:
            raise ValueError(f"parquet_rows reads local paths only: {p}")
        total += sum(pq.read_metadata(f).num_rows for f in _data_files(local))
    return total


def component_rows(spark: SparkSession, path: str) -> int:
    """Rows of one stored component (0 when it does not exist): the
    footers' sum on a local path, no Spark job; elsewhere a Spark
    count of whatever :func:`try_open_parquet` opens."""
    if _local(path) is not None:
        return parquet_rows([path])
    df = try_open_parquet(spark, path)
    return 0 if df is None else df.count()


def _fields(schema: str) -> list[tuple[str, str]]:
    """Parse a flat DDL ('a int, b long, …') of the types in
    ``_SPARK_TO_ARROW`` — primitives and ``array<double>`` (the IVF
    centroids); other nested types stay on the Spark path."""
    out = []
    for part in schema.split(","):
        name, typ = part.strip().rsplit(" ", 1)
        out.append((name.strip(), typ.strip().lower()))
    return out


_META_PART = "part-00000-meta.parquet"


def read_meta_rows(spark: SparkSession, path: str) -> list[dict]:
    """All rows of a tiny meta table as plain dicts; ``[]`` when the
    table doesn't exist yet. Local paths never launch a Spark job.
    Reads are schema-free (parquet self-describes) — only writes need
    the DDL. Handles any column types pyarrow does, including the IVF
    centroid arrays, and any part-file naming (a Spark-written table
    reads the same)."""
    local = _local(path)
    if local is not None:
        try:
            return pq.read_table(local).to_pylist()
        except FileNotFoundError:
            return []
        except Exception:
            # odd layout (half-written dir, schema drift) — let Spark's
            # reader be the arbiter rather than guessing here
            pass
    try:
        return [r.asDict() for r in spark.read.parquet(path).collect()]
    except AnalysisException:
        return []


def write_meta_rows(
    spark: SparkSession, path: str, rows: list[tuple], schema: str
) -> None:
    """Overwrite a tiny meta table. Local paths: the single canonical
    part file is replaced ATOMICALLY inside the existing directory
    (dot-prefixed temp → ``os.replace``), so the directory never
    disappears — a lock-free reader racing the swap sees the old row or
    the new row, never ``[]`` (an r10 staged-dir rename had a
    rmtree→rename window in which e.g. ``query_postings`` silently
    skipped the whole compacted base — ADVICE r10). Every local meta
    table is written here, so the canonical part is the directory's
    only data file. Non-local: the original coalesce(1) Spark write."""
    local = _local(path)
    if local is None:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        return
    fields = _fields(schema)
    arrow_schema = pa.schema([(n, _SPARK_TO_ARROW[t]) for n, t in fields])
    cols = list(zip(*rows)) if rows else [[] for _ in fields]
    table = pa.table(
        {n: list(c) for (n, _), c in zip(fields, cols)}, schema=arrow_schema
    )
    os.makedirs(local, exist_ok=True)
    tmp = os.path.join(local, f".meta-{uuid.uuid4().hex[:8]}.tmp")
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(local, _META_PART))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
