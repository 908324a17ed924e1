"""Incremental parquet cache: the BCRP cache semantics as a Spark sink.

Reference: ``/root/reference/perustats/BCRP/cache.py:105-169`` — a
SQLite-backed cache keyed (freq, start, end) that detects already-cached
codes, fetches only the missing ones, and upserts rows by date.

Spark-native design is APPEND-ONLY + read-time latest-wins + explicit
compaction, because rewriting a 100 TB cache per increment is a
non-starter:

- :meth:`append` writes each increment as new parquet files stamped
  with a monotonically increasing ``_batch_id`` (no read-modify-write
  of existing data — an O(increment) operation at any cache size).
- :meth:`load` resolves upserts lazily: latest batch wins per key via
  one window over the key — the same shuffle an explicit merge would
  need, but paid only when reading.
- :meth:`compact` materializes the resolved view into the next
  generation directory and retires the old one — amortized rewrite,
  run on demand (the Delta/Iceberg pattern without the table format).
- :meth:`cached_codes` / :meth:`missing_codes` reproduce the
  reference's fetch-planning queries (``cached_codes``,
  cache.py:105-121).

Two sidecar files sit beside the data, underscore-prefixed so parquet
readers skip them like ``_SUCCESS`` markers:

- ``_MANIFEST`` holds the last claimed batch id as a bare integer.
- ``_SCHEMA`` holds the Spark schema every data file shares, as JSON,
  every field nullable as a parquet read reports it. It is written
  atomically after an append's data has landed, when the namespace
  was empty or the increment's schema matches the files already there
  (the sidecar's, or without one the footers' merged schema), and
  inside a compaction's new generation before the swap. An append
  whose schema differs removes it before writing. Reads pass it to
  ``spark.read.schema(...)``, which skips the footer job schema
  inference launches on every read. A namespace without it (written
  before the sidecar existed, or holding mixed schemas until its next
  compaction) falls back to inference.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

BATCH_COL = "_batch_id"
# underscore prefix: parquet readers skip it like _SUCCESS markers
MANIFEST_FILE = "_MANIFEST"
SCHEMA_FILE = "_SCHEMA"


def _as_nullable(t: DataType) -> DataType:
    """*t* as a parquet read reports it: Spark marks every field of a
    file source nullable, nested ones included."""
    if isinstance(t, StructType):
        return StructType([
            StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType),
                       True)
    return t


def _write_atomic(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def window_namespace(freq: str, start_date: str | None = None,
                     end_date: str | None = None) -> str:
    """Per-(frequency, window) cache namespace — the reference keys one
    SQLite table per fetch window (``_table_name``, BCRP/cache.py:34-43)
    so daily and monthly series never collide. Here it is a relative
    directory under the cache root."""
    def safe(s: str) -> str:
        return s.replace("-", "_").replace("/", "_")

    parts = [f"freq={safe(freq)}"]
    if start_date or end_date:
        parts.append(f"window={safe(start_date or 'min')}_{safe(end_date or 'max')}")
    return os.path.join(*parts)


class IncrementalParquetCache:
    """Append-only keyed parquet cache with latest-wins reads.

    *namespace* (usually :func:`window_namespace`) isolates the cache
    under ``path/namespace`` so several (freq, window) caches share one
    root with independent batch logs and latest-wins views.
    """

    def __init__(self, spark: SparkSession, path: str, keys: list[str],
                 namespace: str | None = None):
        self.spark = spark
        self.path = os.path.join(path, namespace) if namespace else path
        self.keys = keys
        os.makedirs(self.path, exist_ok=True)

    # -- write path ---------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST_FILE)

    def _next_batch_id(self) -> int:
        # O(1) sidecar manifest read — scanning max(_batch_id) over the
        # whole cache would cost O(cache) metadata per append at scale
        try:
            with open(self._manifest_path()) as f:
                return int(f.read().strip()) + 1
        except (OSError, ValueError):
            pass
        # no/corrupt manifest (e.g. pre-manifest cache): rebuild once
        raw = self._read_raw()
        if raw is None:
            return 0
        row = raw.agg(F.max(BATCH_COL).alias("m")).collect()[0]
        return (row["m"] if row["m"] is not None else -1) + 1

    def _write_manifest(self, batch_id: int) -> None:
        _write_atomic(self._manifest_path(), str(batch_id))

    def _schema_path(self) -> str:
        return os.path.join(self.path, SCHEMA_FILE)

    def _read_schema(self) -> StructType | None:
        try:
            with open(self._schema_path()) as f:
                return StructType.fromJson(json.load(f))
        except (OSError, ValueError):
            return None  # no sidecar: reads infer the schema

    def _has_data(self) -> bool:
        """True when a parquet data file exists under the namespace,
        skipping the hidden ``_``/``.`` paths Spark's reader skips (a
        failed write's ``_temporary`` directory among them)."""
        for _root, dirs, files in os.walk(self.path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            if any(f.endswith(".parquet") and not f.startswith(("_", "."))
                   for f in files):
                return True
        return False

    def append(self, df: DataFrame) -> int:
        """Write an increment; rows with keys already cached supersede
        them on read (upsert-by-key, reference cache.py:140-169). Never
        touches existing files.

        The manifest CLAIMS the batch id before any data lands: a crash
        mid-write then leaves a claimed-but-empty id (harmless — reads
        just don't see it), never data on disk under an id a later
        append could reuse, which would make two different increments
        ambiguous under latest-wins."""
        batch_id = self._next_batch_id()
        self._write_manifest(batch_id)
        out = df.withColumn(BATCH_COL, F.lit(batch_id))
        schema = _as_nullable(out.schema)
        if not self._has_data():
            shared = True
        else:
            # the sidecar is valid only while every data file shares it:
            # drop it BEFORE a differing increment lands. Without one,
            # merge every file's footer (one job) to learn whether they
            # all match this increment.
            known = self._read_schema() or (
                self.spark.read.option("mergeSchema", "true")
                .parquet(self.path).schema)
            shared = known == schema
            if not shared and os.path.exists(self._schema_path()):
                os.remove(self._schema_path())
        out.write.mode("append").parquet(self.path)
        if shared:
            _write_atomic(self._schema_path(), schema.json())
        # drop Spark's cached file listing for this path so plans built
        # after the append see the new batch (stale FileStatusCache
        # entries otherwise hide increments within a session)
        self.spark.catalog.refreshByPath(self.path)
        return batch_id

    # -- read path ----------------------------------------------------------

    def _read_raw(self) -> DataFrame | None:
        """All batches as written, or None when no data file exists yet.
        Any other failure (a corrupt or unreadable file) raises: reading
        a damaged namespace as empty would re-append every code on top
        of it."""
        if not self._has_data():
            return None
        schema = self._read_schema()
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path)

    def load(self) -> DataFrame | None:
        """Latest-wins view: one shuffle on the key columns."""
        raw = self._read_raw()
        if raw is None:
            return None
        w = Window.partitionBy(*self.keys).orderBy(F.desc(BATCH_COL))
        return (
            raw.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", BATCH_COL)
        )

    # -- fetch planning (reference cached_codes / missing semantics) --------

    def cached_codes(self, code_col: str = "code") -> list:
        # distinct over RAW batches: superseding a key never removes its
        # code, so this equals distinct over the resolved view without
        # paying the latest-wins window shuffle
        raw = self._read_raw()
        if raw is None:
            return []
        return sorted(r[0] for r in raw.select(code_col).distinct().collect())

    def missing_codes(self, requested: list, code_col: str = "code") -> list:
        have = set(self.cached_codes(code_col))
        return sorted(c for c in requested if c not in have)

    def cached_codes_df(self, code_col: str = "code") -> DataFrame:
        """Distinct cached codes as a LAZY DataFrame — the scale form of
        :meth:`cached_codes` for unbounded code domains (billions of
        doc_ids), where collecting the list to the driver is the OOM.
        The list-returning variant stays for the SeriesClient path,
        whose code domain is catalogue-bounded."""
        raw = self._read_raw()
        if raw is None:
            return self.spark.createDataFrame([], f"{code_col} string")
        return raw.select(code_col).distinct()

    def missing_codes_df(self, requested: DataFrame,
                         code_col: str = "code") -> DataFrame:
        """Requested-minus-cached as a DataFrame anti-join (same shape
        as ``pending_requests``). Unhinted: the cached side grows with
        the cache, so AQE decides the join strategy."""
        raw = self._read_raw()
        if raw is None:  # empty cache: everything requested is missing
            return requested
        return requested.join(
            raw.select(code_col).distinct(), on=code_col, how="left_anti")

    # -- maintenance --------------------------------------------------------

    def compact(self) -> None:
        """Materialize the resolved view into a fresh generation and
        swap it in (the increment log restarts at batch 0)."""
        resolved = self.load()
        if resolved is None:
            return
        tmp = self.path.rstrip("/") + ".compacting"
        out = resolved.withColumn(BATCH_COL, F.lit(0))
        out.write.mode("overwrite").parquet(tmp)
        # inside the new generation, so it swaps in with the data
        _write_atomic(os.path.join(tmp, SCHEMA_FILE),
                      _as_nullable(out.schema).json())
        old = self.path.rstrip("/") + ".old"
        shutil.move(self.path, old)
        shutil.move(tmp, self.path)
        shutil.rmtree(old)
        self._write_manifest(0)
