"""Spark readers per format + temp-view registration.

Reference parity (SURVEY.md §2.A A1–A8):

- CSV/TSV: header row + schema inference (DataFusion default
  ``CsvReadOptions`` ⇔ Spark header/inferSchema options).
- NdJSON (``.log``/``.txt``): Spark's native JSON reader *is* NDJSON.
- ``.json`` whole-file: rejected for parity (A4) even though Spark's
  multiLine reader could handle it.
- xlsx: out-of-engine load (pandas) → ``createDataFrame`` — mirroring
  the reference's own out-of-engine calamine loader
  (`src/data_source/excel.rs:11-101`). Gated behind an import-try
  (openpyxl is not in this container).
- Parquet: documented superset.

Globs are native to Spark's DataFrameReader for CSV/JSON/Parquet
(A1–A3, A7); xlsx expands with ``glob.glob`` like the reference's
``find_files`` (`src/data_source/utils.rs:28-38`).

Scale note: a gateway request names the same few sources again and
again, so CSV/TSV/NdJSON sources are resolved once per change
signature — the per-source caching the reference's roadmap asks for
(SURVEY.md §7.4), where the reference re-reads every file per request:

- one entry per (resolved path, format) holds the signature, the
  inferred schema and the DataFrame (its file listing included);
  every request re-stats the listing, and any added, removed, renamed,
  replaced or rewritten file replaces the entry. The signature trusts
  each file's (name, mtime, ctime, inode, size): a rewrite that keeps
  the size and lands within the filesystem's timestamp granularity of
  the last stat (the kernel's coarse clock on Linux, up to 2 s on some
  filesystems) is not seen until the file changes again;
- the key's path is normalised, and two spellings that list the same
  files ('x.csv', a glob matching only x.csv) share one entry: a miss
  takes over such an entry if its signature still holds and unpersists
  it otherwise. Spark's cache matches a read by its expanded listing
  and options; by default a single path's spelling is one of those
  options, but with ``spark.sql.legacy.pathOptionBehavior.enabled`` it
  is not, and a stale entry under another spelling would answer a
  fresh read;
- the entry's DataFrame is ``.cache()``d while the summed input bytes
  of the cached sources stay within ``CACHE_BUDGET_BYTES``; past it the
  least recently used source is unpersisted, and a source larger than
  the whole budget is kept resolved but read from its files each time;
- a source whose input bytes are at most the session's
  ``spark.sql.files.openCostInBytes`` (4 MiB by default, the cost Spark
  already charges for opening one file) is stored as one partition
  (``coalesce(1)`` of the read; the schema comes from the read itself).
  One partition reports ``SinglePartition``, which satisfies the
  clustered, ordered and all-tuples distributions, so a group-by,
  ORDER BY, window or DISTINCT over it plans no Exchange and runs as
  one job of one task, and its cache is one block. Larger sources keep
  their parallel split: on one cached CSV under ``local[4]``, one
  partition made the cache fill 1.8-2.4x slower at 16 MB and 48 MB
  (1.1 -> 2.0 s, 2.1 -> 5.1 s) though warm queries got faster, while
  at 4 MB it was faster both ways;
- ``register_path`` rebinds a view only when the name points at a
  different DataFrame, keyed by view name, or when the session's view
  is no longer the one it bound (other code sharing the session
  replaced or dropped it; one catalog lookup per call).

Parquet, ORC and xlsx are read per request as before; one-shot reads
(``reuse=False``: bucketed ingest) keep nothing and keep the parallel
split.
"""

from __future__ import annotations

import glob as _glob
import hashlib
import os
import stat
import threading
from collections import OrderedDict
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from easydb_server_spark.errors import NotFoundError, UnsupportedFormatError
from easydb_server_spark.sources.formats import DataSourceFormat, get_format, split_sheet

DEFAULT_DATA_DIR = "/var/lib/easydb"

# summed input bytes of the sources held in Spark's cache (the stat
# sizes of their files; the in-memory columns are about as large)
CACHE_BUDGET_BYTES = 64 << 20
# resolved sources kept at once, cached or not
MAX_SOURCES = 256


class _Source(NamedTuple):
    sig: tuple  # _mtime_signature of the listing; sig[2] is its input bytes
    schema: object  # StructType
    df: DataFrame
    roots: str  # digest of the normalised listing: the root paths of df's plan
    cached: bool  # df is in Spark's cache


class _View(NamedTuple):
    spark: SparkSession
    df: DataFrame
    catalog: object  # the session's JVM SessionCatalog
    view: object  # the JVM view relation createOrReplaceTempView made


# (resolved_path, fmt) -> _Source, least recently used first; one entry
# per source, so a changed signature replaces the entry instead of
# accumulating keys in a long-lived server
_SCHEMA_CACHE: OrderedDict[tuple[str, str], _Source] = OrderedDict()
# summed sig[2] of the entries with cached=True
_cached_bytes = 0
# view name -> what register_path last bound it to
_VIEWS: dict[str, _View] = {}
_LOCK = threading.Lock()


def data_dir() -> str:
    return os.environ.get("DATA_DIR", DEFAULT_DATA_DIR)


def resolve_path(path: str) -> str:
    """Relative paths resolve against DATA_DIR
    (`src/data_source/context.rs:30-44`, `src/utils.rs:24-30`)."""
    if os.path.isabs(path):
        return path
    return os.path.join(data_dir(), path)


def _listing(resolved: str) -> list[str]:
    """The files (or directories) ``resolved`` names; empty if none."""
    return sorted(_glob.glob(resolved)) or ([resolved] if os.path.exists(resolved) else [])


def _mtime_signature(resolved: str, files: list[str] | None = None) -> tuple:
    """Change signature over the FULL listing: (file count, an
    order-sensitive digest of every (name, mtime, ctime, inode, size),
    total bytes).
    Constant-size key — a 10⁵-file glob costs one stat pass but no
    giant tuple — and ANY difference in membership, order, mtime, or
    size invalidates (an aggregate like (count, max mtime, total bytes)
    would miss a same-size rename that preserves mtimes; ctime also
    moves when a rewrite restores the old mtime, and the inode when a
    file is replaced by a rename). A directory
    counts by the files under it. ``files`` is the listing when the
    caller has it already."""
    h = hashlib.md5()
    n = total = 0
    pending = list(reversed(files or _listing(resolved) or [resolved]))
    while pending:
        f = pending.pop()
        try:
            st = os.stat(f)
        except OSError:
            h.update(f"{f}\x00missing\x1e".encode())
            n += 1
            continue
        if stat.S_ISDIR(st.st_mode):
            pending.extend(sorted((os.path.join(f, e) for e in os.listdir(f)), reverse=True))
            continue
        h.update(f"{f}\x00{st.st_mtime_ns}\x00{st.st_ctime_ns}\x00{st.st_ino}\x00{st.st_size}\x1e".encode())
        n += 1
        total += st.st_size
    return (n, h.hexdigest(), total)


def _cached_schema(resolved: str, fmt: str, sig: tuple):
    """The entry resolved for this source if its signature still
    matches, else None; a hit means the entry is reused."""
    hit = _SCHEMA_CACHE.get((resolved, fmt))
    if hit is not None and hit[0] == sig:
        return hit
    return None


def _uncache(key: tuple[str, str]) -> None:
    global _cached_bytes
    entry = _SCHEMA_CACHE[key]
    if entry.cached:
        entry.df.unpersist(blocking=False)
        _cached_bytes -= entry.sig[2]
        _SCHEMA_CACHE[key] = entry._replace(cached=False)


def _evict(key: tuple[str, str]) -> None:
    """Forget ``key``'s entry. Its DataFrame leaves Spark's cache
    first: a new read of the same files builds a plan equal to the old
    one, and Spark would serve it the stale cached rows."""
    if key in _SCHEMA_CACHE:
        _uncache(key)
        del _SCHEMA_CACHE[key]


def _take_twin(key: tuple[str, str], roots: str, sig: tuple) -> _Source | None:
    """On a miss for ``key``: the entry another spelling of the same
    listing made. Spark may answer a fresh read with that entry's
    cached plan (module docstring), so it moves to ``key`` if its
    signature still holds and is evicted otherwise. Entries never share
    a listing, so there is at most one."""
    for other, entry in _SCHEMA_CACHE.items():
        if other != key and other[1] == key[1] and entry.roots == roots:
            if entry.sig != sig:
                _evict(other)
                return None
            del _SCHEMA_CACHE[other]
            _SCHEMA_CACHE[key] = entry
            return entry
    return None


def _admit(key: tuple[str, str]) -> None:
    """Cache ``key``'s DataFrame if its input fits the budget,
    unpersisting the least recently used cached sources to make room."""
    global _cached_bytes
    entry = _SCHEMA_CACHE[key]
    size = entry.sig[2]
    if entry.cached or size > CACHE_BUDGET_BYTES:
        return
    for old in list(_SCHEMA_CACHE):
        if _cached_bytes + size <= CACHE_BUDGET_BYTES:
            break
        _uncache(old)
    entry.df.cache()
    _cached_bytes += size
    _SCHEMA_CACHE[key] = entry._replace(cached=True)


def _read_text(spark: SparkSession, fmt: DataSourceFormat, resolved: str, schema) -> DataFrame:
    """CSV/TSV/NdJSON reader; infers the schema unless one is given."""
    if fmt == DataSourceFormat.NDJSON:
        return (spark.read if schema is None else spark.read.schema(schema)).json(resolved)
    reader = spark.read.option("header", True)
    if fmt == DataSourceFormat.TSV:
        reader = reader.option("sep", "\t")
    reader = reader.option("inferSchema", True) if schema is None else reader.schema(schema)
    return reader.csv(resolved)


def read_path(spark: SparkSession, path: str, reuse: bool = True) -> DataFrame:
    """Read a file/glob path into a DataFrame, routing by extension.
    CSV/TSV/NdJSON come from the source cache (module docstring);
    ``reuse=False`` builds a fresh DataFrame and adds nothing."""
    fmt = get_format(path)
    resolved = os.path.normpath(resolve_path(path))
    # an xlsx '#SheetName' suffix is no part of the file names
    files = _listing(split_sheet(resolved)[0])
    if not files:
        raise NotFoundError(f"No files match path: {path!r}")
    if fmt == DataSourceFormat.JSON:
        raise UnsupportedFormatError("JSON files are currently not supported.")
    if fmt == DataSourceFormat.XLSX:
        from easydb_server_spark.sources.excel import read_xlsx

        return read_xlsx(spark, resolved)
    if fmt == DataSourceFormat.PARQUET:
        return spark.read.parquet(resolved)
    if fmt == DataSourceFormat.ORC:
        return spark.read.orc(resolved)
    if fmt not in (DataSourceFormat.CSV, DataSourceFormat.TSV, DataSourceFormat.NDJSON):
        raise UnsupportedFormatError(f"Unsupported file format: {path!r}")

    key = (resolved, fmt.value)
    # glob lists a normalised pattern in normalised names
    roots = hashlib.md5("\x00".join(files).encode()).hexdigest()
    sig = _mtime_signature(resolved, files)
    with _LOCK:
        hit = _cached_schema(resolved, fmt.value, sig)
        if hit is None:
            _evict(key)
            hit = _take_twin(key, roots, sig)
        if hit is not None and reuse:
            _SCHEMA_CACHE.move_to_end(key)
            _admit(key)
            return hit.df
    df = _read_text(spark, fmt, resolved, hit.schema if hit is not None else None)
    if not reuse:
        return df
    schema = df.schema
    if sig[2] <= spark._jsparkSession.sessionState().conf().filesOpenCostInBytes():
        # one partition (SinglePartition): no Exchange over a small source
        df = df.coalesce(1)
    with _LOCK:
        won = _cached_schema(resolved, fmt.value, sig)
        if won is None:
            _evict(key)
            won = _take_twin(key, roots, sig)
        if won is not None:  # a concurrent request resolved it first
            return won.df
        _SCHEMA_CACHE[key] = _Source(sig, schema, df, roots, False)
        _admit(key)
        while len(_SCHEMA_CACHE) > MAX_SOURCES:
            _evict(next(iter(_SCHEMA_CACHE)))
    return df


def register_path(spark: SparkSession, name: str, path: str) -> DataFrame:
    """read_path + temp-view registration (A1–A3 registration ⇔
    ``createOrReplaceTempView``), skipped when ``name`` still points at
    the same DataFrame in this session. The session's view is checked
    too, so a view replaced or dropped by other code is bound again."""
    df = read_path(spark, path)
    bound = _VIEWS.get(name)
    if (
        bound is not None
        and bound.spark is spark
        and bound.df is df
        and bound.catalog.getTempView(name).contains(bound.view)
    ):
        return df
    with _LOCK:
        df.createOrReplaceTempView(name)
        catalog = spark._jsparkSession.sessionState().catalog()
        _VIEWS[name] = _View(spark, df, catalog, catalog.getTempView(name).get())
    return df


def drop_view(spark: SparkSession, name: str) -> None:
    """Drop a view ``register_path`` made and forget its binding. The
    view goes through the session catalog: ``spark.catalog.dropTempView``
    would also uncache the view's DataFrame, the source other requests
    share."""
    with _LOCK:
        _VIEWS.pop(name, None)
        spark._jsparkSession.sessionState().catalog().dropTempView(name)
