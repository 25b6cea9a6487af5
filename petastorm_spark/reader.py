"""Read path: make_reader / make_batch_reader re-expressed Spark-first.

Parity surface: petastorm/reader.py:60-206 (make_reader), :209-352
(make_batch_reader), :355-501 (Reader), sharding :573-597, piece-order
shuffle :666-682, in-piece row shuffle (arrow_reader_worker.py:360-371).

Opening a reader needs no JVM for any URL pyarrow can reach, as in the
reference: the files are listed and the metadata sidecar read through a
pyarrow filesystem, and the schema is the stored Unischema or, without
one, the one Spark would infer from the parquet footers (the same
footers the open scans for row-group counts and DNF pruning). Spark
runs at open only where it plans or materializes the data (a Column
filter that does not compile to DNF, ``cache_dir`` over a remote store,
``rowgroup_selector``, ``dataframe=`` readers) or infers what the files
do not hold (hive partition columns without a sidecar,
``schema_evolution`` merges).

Architecture (two tiers, mirroring how the reference's converter works
but with Spark doing the heavy lifting):

  1. **Plan tier (distributed)** — ``Reader.dataframe``, built on first
     access: the dataset as a Spark DataFrame with the projection
     (schema view) and filters as a Catalyst plan with parquet
     pushdown. Only a JVM-only ``Column`` filter (or a dataframe-based
     reader, or an explicit local cache request for a remote store)
     forces a one-time Spark-side materialization; everything else
     streams.
  2. **Iteration tier (streaming, constant memory)** — the source
     parquet files are iterated **one row group at a time** through a
     pyarrow FileSystem handle (local, s3://, gs://, hdfs:// — the
     reference's fs_utils.py model): seeded piece-order shuffle per
     epoch (D2), shard selection ``index % shard_count == cur_shard``
     (D1), DNF-filter row-group pruning from parquet statistics. One
     loader, :func:`_load_piece`, reads and decodes each piece under
     every ``reader_pool_type`` (dummy, threads, or spawned worker
     processes, fed a picklable :class:`_PieceSpec`): DNF row mask,
     row predicate on decoded values (P2/P3), codec decode (C5). One
     tail, ``Reader._finish``, then applies a predicate the workers
     could not run, TransformSpec (U1) and the in-row-group row shuffle
     (D3), and rows or column-vector batches are yielded as
     namedtuples. Row-group counts come from the metadata sidecar when
     present, so no footer is opened up front.

At cluster scale the iteration tier runs on each training worker with
a distinct ``cur_shard`` streaming its shard straight from the store —
exactly the reference's distribution model — while the plan tier is a
normal Spark job sized by the cluster.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import tempfile
from typing import NamedTuple
from urllib.parse import urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from petastorm_spark._piece_worker import (
    decode_col,
    dnf_columns,
    dnf_mask,
    is_dnf_filters,
    load_table,
    partition_values,
    rg_may_match,
    scalar_frame,
)
from petastorm_spark.etl.dataset_metadata import SIDECAR_NAME, read_sidecar
from petastorm_spark.predicates import PredicateBase
from petastorm_spark.session import get_spark
from petastorm_spark.transform import (
    TransformSpec,
    apply_transform_pandas,
    transform_schema,
)
from petastorm_spark.unischema import Unischema


def _strip_scheme(path: str) -> str:
    parsed = urlparse(path)
    return parsed.path if parsed.scheme else path


def _resolve_fs(url: str) -> tuple[pafs.FileSystem, str] | None:
    """(pyarrow FileSystem, root path) for any URL pyarrow can reach —
    bare paths and file:// map to LocalFileSystem; s3://, gs://,
    hdfs:// go through ``FileSystem.from_uri``. None if the scheme is
    unsupported (caller falls back to Spark-side materialization)."""
    try:
        scheme = urlparse(url).scheme
        if scheme in ("", "file"):
            return pafs.LocalFileSystem(), _strip_scheme(url)
        return pafs.FileSystem.from_uri(url)
    except Exception:
        return None


def _sidecar_via_pyarrow(pfs: pafs.FileSystem, root: str) -> dict | None:
    """The JSON sidecar payload read through a pyarrow filesystem, or
    None when absent."""
    side = root.rstrip("/") + "/" + SIDECAR_NAME
    if pfs.get_file_info([side])[0].type != pafs.FileType.File:
        return None
    with pfs.open_input_file(side) as fh:
        return json.loads(fh.read().decode())


def _list_parquet_files_fs(fs: pafs.FileSystem, root: str) -> list[str]:
    """Data files under ``root`` on any pyarrow filesystem, skipping
    _metadata/_ps_index/hidden entries at every directory level."""
    info = fs.get_file_info([root])[0]
    if info.type == pafs.FileType.File:
        return [root]
    if info.type != pafs.FileType.Directory:
        raise FileNotFoundError(f"{root} does not exist")
    out = []
    for fi in fs.get_file_info(pafs.FileSelector(root, recursive=True)):
        if fi.type != pafs.FileType.File:
            continue
        rel = fi.path[len(root):].lstrip("/")
        parts = rel.split("/")
        if any(p.startswith(("_", ".")) for p in parts):
            continue
        base = parts[-1]
        if base.endswith(".parquet") or base.startswith("part-"):
            out.append(fi.path)
    return sorted(set(out))


def _parallel_footers(fs: pafs.FileSystem, files: list[str], fn, workers: int = 16):
    """Map ``fn(path, parquet_metadata)`` over file footers in parallel
    (the reference stores rowgroup counts to avoid this scan entirely;
    we do the same via the sidecar, and parallelize the fallback
    instead of petastorm's serial driver loop)."""
    from concurrent.futures import ThreadPoolExecutor

    def one(path: str):
        with fs.open_input_file(path) as f:
            return path, fn(path, pq.ParquetFile(f).metadata)

    if len(files) <= 1:
        return dict(one(p) for p in files)
    with ThreadPoolExecutor(min(workers, len(files))) as ex:
        return dict(ex.map(one, files))


# Spark's signed/unsigned parquet INT(width) annotations; unsigned types
# widen to the next signed type, and uint64 becomes decimal(20,0).
_INT_TYPES = {
    (8, True): ByteType(),
    (16, True): ShortType(),
    (32, True): IntegerType(),
    (64, True): LongType(),
    (8, False): ShortType(),
    (16, False): IntegerType(),
    (32, False): LongType(),
    (64, False): DecimalType(20, 0),
}
# physical types that map to one Spark type when unannotated
_PLAIN_TYPES = {
    "BOOLEAN": BooleanType(),
    "FLOAT": FloatType(),
    "DOUBLE": DoubleType(),
    "INT96": TimestampType(),
}


def _leaf_spark_type(col) -> DataType:
    """The Spark type of one parquet leaf column, by the rules of
    Spark's parquet schema converter under the engine's session
    contract: TIMESTAMP(NANOS) reads as bigint (``nanosAsLong``),
    TIMESTAMP with isAdjustedToUTC=false as timestamp_ntz
    (``inferTimestampNTZ``), unannotated binary as binary, INT96 as
    timestamp — all pinned by ``session.SESSION_CONFS``."""
    phys, logical = col.physical_type, col.logical_type
    kind = logical.type
    if kind == "DECIMAL":
        return DecimalType(col.precision, col.scale)
    if phys in _PLAIN_TYPES and kind == "NONE":
        return _PLAIN_TYPES[phys]
    if phys in ("INT32", "INT64"):
        spec = json.loads(logical.to_json())
        if kind == "NONE":
            return IntegerType() if phys == "INT32" else LongType()
        if kind == "DATE" and phys == "INT32":
            return DateType()
        if kind == "INT" and (spec["bitWidth"] <= 32) == (phys == "INT32"):
            return _INT_TYPES[(spec["bitWidth"], spec["isSigned"])]
        if kind == "TIMESTAMP" and phys == "INT64":
            if spec["timeUnit"] == "nanoseconds":
                return LongType()
            return TimestampType() if spec["isAdjustedToUTC"] else TimestampNTZType()
    if phys in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"):
        if kind in ("NONE", "BSON"):
            return BinaryType()
        if kind in ("STRING", "ENUM", "JSON") and phys == "BYTE_ARRAY":
            return StringType()
    raise ValueError(
        f"parquet column {col.path!r} ({phys} {logical}) has no Spark type"
    )


def _spark_struct(md: pq.FileMetaData) -> StructType:
    """The schema ``spark.read.parquet`` infers from one footer: leaf
    types from the parquet columns (:func:`_leaf_spark_type`), nesting
    from the arrow view of the same schema, every field nullable (Spark
    makes file-source schemas nullable at every level)."""
    leaves = iter(md.schema.column(i) for i in range(md.num_columns))

    def conv(t) -> DataType:
        if pa.types.is_struct(t):
            return StructType([StructField(f.name, conv(f.type), True) for f in t])
        if pa.types.is_map(t):
            return MapType(conv(t.key_type), conv(t.item_type), True)
        if (
            pa.types.is_list(t)
            or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t)
        ):
            return ArrayType(conv(t.value_type), True)
        return _leaf_spark_type(next(leaves))

    return conv(pa.struct(list(md.schema.to_arrow_schema())))


def _jvm_reaches(spark: SparkSession, url: str) -> bool:
    """True when the JVM has a Hadoop filesystem for ``url``'s scheme
    (s3a:// without hadoop-aws on the driver classpath has none)."""
    from py4j.protocol import Py4JError

    from petastorm_spark.etl.dataset_metadata import _fs_and_path

    try:
        _fs_and_path(spark, url)
    except Py4JError:  # the JVM's class or scheme lookup failed
        return False
    return True


_WIDEN_CHAINS = (
    ("byte", "short", "integer", "long"),
    ("float", "double"),
)


def _widen_types(t1, t2):
    """The wider of two Spark scalar types when one SAFELY widens to
    the other (integral chain byte->short->int->long; float->double —
    the promotions Spark 4's parquet scan performs per file under an
    explicit requested schema), else None. Anything off the two
    chains — including array element changes and int<->float — is a
    genuine conflict, never merged."""
    if t1 == t2:
        return t1
    a, b = t1.typeName(), t2.typeName()
    for chain in _WIDEN_CHAINS:
        if a in chain and b in chain:
            return t1 if chain.index(a) >= chain.index(b) else t2
    return None


def _widened_union_schema(urls: list[str]) -> StructType:
    """Union schema of every parquet footer under ``urls`` with safe
    type widening: (first-seen column order, each column at its widest
    observed type, everything nullable). Raises ValueError on a
    same-name type pair that is not a safe widening. Driver cost: one
    footer read per file (parallelized, metadata-sized) — only paid
    when Spark's own distributed footer merge refused the dataset, so
    the dataset is KNOWN to contain a type change."""
    merged: dict = {}
    for u in urls:
        pair = _resolve_fs(u)
        if pair is None:
            raise FileNotFoundError(f"cannot resolve a filesystem for {u!r}")
        pfs, root = pair
        leaves = _list_parquet_files_fs(pfs, root)
        footers = _parallel_footers(pfs, leaves, lambda p, md: _spark_struct(md))
        for path in leaves:
            for f in footers[path].fields:
                if f.name not in merged:
                    merged[f.name] = f.dataType
                    continue
                w = _widen_types(merged[f.name], f.dataType)
                if w is None:
                    raise ValueError(
                        f"column {f.name!r} type "
                        f"{f.dataType.simpleString()} in {path!r} "
                        f"conflicts with {merged[f.name].simpleString()} "
                        "from an earlier file; schema evolution widens "
                        "byte->short->int->long and float->double, "
                        "never converts across kinds"
                    )
                merged[f.name] = w
    return StructType([StructField(n, t, True) for n, t in merged.items()])


def _dnf_to_column(filters) -> Column:
    """Compile DNF tuple filters to a Spark Column so the plan tier
    gets the same semantics (and Catalyst pushdown) the iteration tier
    evaluates with pyarrow stats + pandas masks."""
    from functools import reduce

    from petastorm_spark._piece_worker import dnf_clauses, dnf_cond

    def cond(col: str, op: str, val) -> Column:
        # a Column compares with a python scalar only through a literal
        lit = val if op in ("in", "not in") else F.lit(val)
        return dnf_cond(F.col(col), op, lit)

    clause_cols = [
        reduce(lambda a, b: a & b, [cond(*t) for t in clause])
        for clause in dnf_clauses(filters)
    ]
    return reduce(lambda a, b: a | b, clause_cols)


# A sentinel is a lease: __iter__ refreshes its mtime, so a sentinel
# older than the TTL belongs to a hung/dead/recycled-pid reader and no
# longer pins the cache dir (r3 ADVICE: pid probes alone are blind to
# readers on OTHER hosts of a shared filesystem and can pin forever
# when the pid is recycled).
_SENTINEL_TTL_SEC = 30 * 60


def _cache_dir_in_use(managed_dir: str) -> bool:
    """True if a live Reader holds a sentinel lease in this managed
    cache subdir. Same-host sentinels need a live pid AND a fresh
    lease; foreign-host sentinels (shared filesystem) are trusted
    while their lease is fresh — their pids are unprobeable here."""
    import socket
    import time

    local_host = socket.gethostname()
    try:
        names = os.listdir(managed_dir)
    except OSError:
        return False
    for n in names:
        if not n.startswith(".ps_inuse_"):
            continue
        try:
            age = time.time() - os.path.getmtime(os.path.join(managed_dir, n))
        except OSError:
            continue  # vanished between listdir and stat
        if age > _SENTINEL_TTL_SEC:
            continue  # expired lease: dead, hung, or recycled pid
        tail = n[len(".ps_inuse_"):]
        pid_s, _, host = tail.partition("@")
        if host and host != local_host:
            return True  # fresh foreign-host lease: trust it
        try:
            os.kill(int(pid_s), 0)  # liveness probe, no signal delivered
            return True
        except (ValueError, ProcessLookupError):
            continue  # malformed or dead: stale sentinel
        except PermissionError:
            return True  # alive but other uid
    return False


def _enforce_cache_limit(cache_dir: str, limit_bytes: int, keep: str) -> None:
    """K2 parity (reference local_disk_cache.py:23-82 size limit):
    evict oldest managed cache subdirs until the total is under the
    limit. The subdir just (re)used is never evicted."""
    import warnings

    entries = []
    for d in os.listdir(cache_dir):
        if not d.startswith("_ps_materialized_"):
            continue
        p = os.path.join(cache_dir, d)
        if not os.path.isdir(p):
            continue
        if _cache_dir_in_use(p):
            continue  # a live Reader (this or another process) iterates here
        size = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, names in os.walk(p)
            for f in names
        )
        entries.append((os.path.getmtime(p), p, size))
    total = sum(e[2] for e in entries)
    for _, p, size in sorted(entries):
        if total <= limit_bytes:
            break
        if os.path.abspath(p) == os.path.abspath(keep):
            continue
        shutil.rmtree(p, ignore_errors=True)
        total -= size
        warnings.warn(
            f"cache_size_limit exceeded: evicted oldest cache entry {p} "
            f"({size} bytes)",
            stacklevel=3,
        )


class _PieceSpec(NamedTuple):
    """What loading a piece needs besides its (path, row group, slice):
    plain picklable values, so a process pool ships it as is."""

    fs: pafs.FileSystem
    read_columns: list[str]
    drop_parts: int
    fields: dict  # read column -> its full-schema UnischemaField (or None)
    decode: list[str]  # the view's columns, then the predicate's
    dnf: list | None
    missing_ok: bool  # schema evolution: an absent column reads as NULL


def _load_piece(spec: _PieceSpec, path: str, rg: int, sl: int, predicate=None):
    """One piece (a row group, or one strided slice of it) as a frame of
    the decoded ``spec.decode`` columns of its surviving rows, or None
    when no row survives. Every reader pool loads pieces here (reference
    py_dict_reader_worker.py:150-232); a process pool's workers run it
    without ``predicate`` and the parent applies that afterwards.

    The piece stays an ARROW table until each column decodes: codec
    payloads reach the codec as zero-copy memoryview slices of the arrow
    data buffer instead of per-row python bytes via to_pandas (which was
    ~30% of per-piece wall on the PNG bench)."""
    table = load_table(
        spec.fs, path, rg, sl, spec.drop_parts, spec.read_columns
    )
    parts = partition_values(
        path, spec.read_columns, table.column_names, spec.fields, spec.missing_ok
    )
    sel = None  # surviving row indices; None = all rows
    if spec.dnf is not None:
        m = dnf_mask(scalar_frame(table, parts, dnf_columns(spec.dnf)), spec.dnf)
        if not m.any():
            return None
        sel = np.nonzero(m)[0]

    # Two-phase decode (reference py_dict_reader_worker.py:222-232):
    # 1. decode the PREDICATE columns, evaluate, filter;
    # 2. decode the remaining columns for surviving rows only.
    # The predicate therefore always sees decoded values (ndarrays,
    # numpy-dtyped scalars), never np.save/compressed bytes.
    done: dict[str, pd.Series] = {}
    if predicate is not None:
        for name in sorted(predicate.get_fields()):
            done[name] = decode_col(spec.fields.get(name), table, parts, name, sel)
        mask = np.asarray(predicate.do_include_pandas(pd.DataFrame(done)), dtype=bool)
        if not mask.any():
            return None
        sel = (np.arange(len(table)) if sel is None else sel)[mask]
        done = {n: s[mask].reset_index(drop=True) for n, s in done.items()}
    return pd.DataFrame(
        {
            n: done[n]
            if n in done
            else decode_col(spec.fields.get(n), table, parts, n, sel)
            for n in spec.decode
        }
    )


class Reader:
    """Iterable over a dataset's rows (or column-vector batches).

    Use :func:`make_reader` / :func:`make_batch_reader` instead of
    constructing directly. Context-manager aware; ``close()`` removes
    any materialization cache this reader created.
    """

    def __init__(
        self,
        dataset_url: str | None = None,
        *,
        spark: SparkSession | None = None,
        dataframe: DataFrame | None = None,
        schema_fields: list | None = None,
        predicate: PredicateBase | None = None,
        transform_spec: TransformSpec | None = None,
        filters=None,
        shuffle_row_groups: bool = False,
        shuffle_rows: bool = False,
        seed: int | None = None,
        cur_shard: int | None = None,
        shard_count: int | None = None,
        num_epochs: int | None = 1,
        batched: bool = False,
        cache_dir: str | None = None,
        rowgroup_selector=None,
        shuffle_row_drop_partitions: int = 1,
        workers_count: int = 4,
        reader_pool_type: str = "thread",
        cache_type: str | None = None,
        cache_location: str | None = None,
        cache_size_limit: int | None = None,
        schema_evolution: bool = False,
        **compat_kwargs,
    ):
        # Drop-in signature compatibility with petastorm's make_reader
        # (petastorm/reader.py:60-206): knobs that are meaningless under
        # the Spark architecture are accepted and warned about, so
        # existing call sites run unchanged.
        _IGNORED = {
            "pyarrow_serialize",
            "results_queue_size",
            "zmq_copy_buffers",
            "hdfs_driver",
            "infer_schema_from_first_row",
            "cache_row_size_estimate",
            "cache_extra_settings",
            "shard_seed",
        }
        unknown = set(compat_kwargs) - _IGNORED
        if unknown:
            raise TypeError(f"unexpected reader arguments: {sorted(unknown)}")
        if compat_kwargs:
            import warnings

            warnings.warn(
                f"ignoring petastorm-compat args with no Spark-side effect: "
                f"{sorted(compat_kwargs)}",
                stacklevel=3,
            )
        if cache_type not in (None, "null", "local-disk"):
            raise ValueError(f"unsupported cache_type {cache_type!r}")
        if cache_type == "local-disk" and cache_dir is None:
            cache_dir = cache_location
        if (dataset_url is None) == (dataframe is None):
            raise ValueError("exactly one of dataset_url / dataframe is required")
        # Multi-URL datasets (reference petastorm/reader.py:51-57,209):
        # a list of file/dir URLs sharing one scheme reads as ONE
        # dataset — piece lists merge, sharding spans all of them.
        urls: list[str] | None = None
        if dataset_url is not None:
            if isinstance(dataset_url, (list, tuple)):
                if not dataset_url:
                    raise ValueError("dataset url list must be non-empty")
                urls = [str(u) for u in dataset_url]
                schemes = {
                    u.split("://", 1)[0] if "://" in u else "file" for u in urls
                }
                if len(schemes) > 1:
                    raise ValueError(
                        "all dataset URLs must share one scheme, got "
                        f"{sorted(schemes)}"
                    )
                dataset_url = urls[0] if len(urls) == 1 else None
            else:
                urls = [dataset_url]
        if (cur_shard is None) != (shard_count is None):
            raise ValueError("cur_shard and shard_count must be set together")
        if shard_count is not None and not 0 <= cur_shard < shard_count:
            raise ValueError(
                f"cur_shard must be in [0, {shard_count}), got {cur_shard}"
            )

        # The session is resolved on first use (see ``_spark``): opening
        # a URL reader that pyarrow can reach needs no JVM at all.
        self._session_arg = spark or (
            dataframe.sparkSession if dataframe is not None else None
        )
        self._session: SparkSession | None = None
        self._seed = seed
        self._rng = np.random.default_rng(seed)
        # pool parity (petastorm reader_pool_type thread|process|dummy):
        # 'thread' prefetches row-group decodes in threads; 'process'
        # moves the GIL-bound codec decode into spawned worker
        # processes (reference workers_pool/process_pool.py); 'dummy'
        # is synchronous.
        if reader_pool_type not in ("thread", "process", "dummy"):
            raise ValueError(f"unsupported reader_pool_type {reader_pool_type!r}")
        self._pool_type = reader_pool_type
        self._workers = 1 if reader_pool_type == "dummy" else max(1, workers_count)
        self._predicate = predicate
        self._schema_evolution = bool(schema_evolution)
        self._spec = transform_spec
        self._shuffle_row_groups = shuffle_row_groups
        self._shuffle_rows = shuffle_rows
        self._cur_shard = cur_shard
        self._shard_count = shard_count
        self._num_epochs = num_epochs
        self._batched = batched
        # D4 (petastorm/reader.py:654-664): split each row group into k
        # strided slices read as separate pieces — trades extra reads
        # for shuffle decorrelation.
        self._drop_parts = max(1, int(shuffle_row_drop_partitions))
        self._owned_cache: str | None = None
        self._managed_cache: str | None = None
        self._sentinel: str | None = None
        self.last_row_consumed = False

        # ``filters`` accepts either a Spark Column (plan-tier only) or
        # petastorm/pyarrow-style DNF tuples, which the iteration tier
        # evaluates itself (stats pruning + row mask) on ANY filesystem
        # without materializing. Simple comparison Columns compile to
        # DNF too — a filters=Column reader over a 100 TB store must not
        # materialize a filtered copy to driver-local disk.
        self._dnf = filters if (filters is not None and is_dnf_filters(filters)) else None
        col_filter: Column | None = (
            filters if (filters is not None and self._dnf is None) else None
        )
        if col_filter is not None:
            from petastorm_spark.plans.filter_compile import column_to_dnf

            compiled = column_to_dnf(col_filter)
            if compiled is not None:
                self._dnf = compiled
                col_filter = None
        self._col_filter = col_filter

        # ---- source: files, stored schema, Spark where it must ----------
        # Direct iteration streams row groups straight from the source
        # filesystem (local, file://, s3://, gs://, hdfs:// — anything
        # pyarrow's FileSystem.from_uri reaches). Only a JVM-only Column
        # filter, a scheme pyarrow cannot reach, an explicit local cache
        # request for a remote store, or a dataframe-based reader forces
        # a Spark-side materialization.
        self._urls = urls
        self._source_df: DataFrame | None = dataframe
        self._selected_files: list[str] | None = None
        self._sidecar_counts: dict | None = None
        self._fs: pafs.FileSystem = pafs.LocalFileSystem()
        self._direct_root: str | None = None
        fs_pairs = [_resolve_fs(u) for u in urls] if urls is not None else None
        reachable = fs_pairs is not None and all(p is not None for p in fs_pairs)
        self._files: list[str] = []
        first_files: list[str] = []  # each URL's first file: its footer schema
        hive = False
        stored: Unischema | None = None
        if reachable:
            # one scheme -> one fs implementation; roots may be many
            self._fs = fs_pairs[0][0]
            self._direct_root = fs_pairs[0][1]
            for u, (_, root) in zip(urls, fs_pairs):
                leaves = _list_parquet_files_fs(self._fs, root)
                if not leaves:
                    raise FileNotFoundError(f"no parquet files under {u}")
                first_files.append(leaves[0])
                self._files.extend(leaves)
                hive = hive or any(
                    "=" in part
                    for f in leaves
                    for part in f[len(root):].strip("/").split("/")[:-1]
                )
            if len(urls) == 1:
                try:
                    payload = _sidecar_via_pyarrow(self._fs, self._direct_root)
                except (OSError, ValueError):
                    # an unreadable sidecar never aborts the open: the
                    # footers still carry the schema
                    payload = None
                if payload is not None:
                    stored = Unischema.from_json(payload["unischema"])
                    self._sidecar_counts = payload.get("row_groups")
                else:
                    # interop: a dataset written by original petastorm
                    # keeps its pickled Unischema + rowgroup counts in
                    # _common_metadata — load them so tensor columns decode
                    from petastorm_spark.etl.petastorm_compat import (
                        load_petastorm_metadata,
                    )

                    stored, self._sidecar_counts = load_petastorm_metadata(urls[0])
        elif urls is not None and len(urls) == 1:
            payload = read_sidecar(self._spark, urls[0])
            if payload is not None:
                stored = Unischema.from_json(payload["unischema"])
        # Spark reads the source at open only where it infers what the
        # files do not hold: hive partition columns (no stored schema),
        # schema-evolution merges (later files ADD nullable columns, or
        # WIDEN one along int32->int64 / float->double; the iteration
        # tier null-fills and casts per piece), and schemes pyarrow
        # cannot reach. It reads after the footer scan below, so that
        # multi-URL schemas are compared first.
        spark_source = (
            urls is not None
            and stored is None
            and (not reachable or hive or self._schema_evolution)
        )

        if rowgroup_selector is not None:
            # Index selection happens on the SOURCE dataset before any
            # materialization — the pruned file list feeds both the
            # Spark plan and the direct iteration path.
            if dataset_url is None:
                raise ValueError("rowgroup_selector requires a dataset_url reader")
            self._selected_files = sorted(
                {
                    _strip_scheme(f)
                    for f in rowgroup_selector.select_files(self._spark, dataset_url)
                }
            )
            if not self._selected_files:
                raise ValueError("rowgroup_selector matched no files")
            selected = set(self._selected_files)
            self._files = [f for f in self._files if _strip_scheme(f) in selected]

        direct = (
            reachable
            and col_filter is None
            and (cache_dir is None or isinstance(self._fs, pafs.LocalFileSystem))
        )
        if not direct:
            self._direct_root = None

        # ---- footers: schema, row-group counts, DNF pruning -------------
        # One parallel scan serves all three, and only where needed:
        # row-group counts come from the metadata sidecar when present
        # (no footer opened at all — the reference's
        # num_row_groups_per_file map, same idea). With DNF filters the
        # scan also prunes row groups whose min/max statistics cannot
        # match. The schema is read from each URL's first footer when
        # neither a stored Unischema nor a Spark read supplies it; a
        # multi-URL set compares those footers even when Spark reads it
        # (schema evolution merges the URLs instead).
        check_urls = (
            urls is not None and len(urls) > 1 and not self._schema_evolution
        )
        schema_files = (
            set(first_files)
            if stored is None and (not spark_source or check_urls)
            else set()
        )
        counts = None if self._dnf is not None else self._rowgroup_counts_from_sidecar()
        dnf = self._dnf if direct else None

        def footer(path, md):
            kept = None
            if dnf is not None:
                names = [md.schema.column(i).name for i in range(md.num_columns)]
                kept = [
                    rg
                    for rg in range(md.num_row_groups)
                    if rg_may_match(md.row_group(rg), names, dnf)
                ]
            struct = _spark_struct(md) if path in schema_files else None
            return md.num_row_groups, kept, struct

        scan = set(schema_files)
        if direct and counts is None:
            scan.update(self._files)
        scanned = _parallel_footers(self._fs, sorted(scan), footer) if scan else {}
        structs = [scanned[f][2] for f in first_files if f in schema_files]
        if structs:
            want = {f.name: f.dataType for f in structs[0].fields}
            for u, st in zip(urls[1:], structs[1:]):
                got = {f.name: f.dataType for f in st.fields}
                if got != want:
                    raise ValueError(
                        f"dataset URL {u!r} schema {sorted(got)} is "
                        f"incompatible with {urls[0]!r} ({sorted(want)}); "
                        "multi-URL datasets must share one schema"
                    )
        if spark_source and hive and len(urls) > 1:
            # Spark reads several hive roots only one at a time
            self._source_df = functools.reduce(
                lambda a, b: a.unionByName(
                    b, allowMissingColumns=self._schema_evolution
                ),
                [self._spark_read([u]) for u in urls],
            )
        elif spark_source:
            self._source_df = self._spark_read(urls)
        if stored is not None:
            full_schema = stored
        elif self._source_df is not None:
            full_schema = Unischema.from_spark_schema(self._source_df.schema)
        else:
            full_schema = Unischema.from_spark_schema(structs[0])

        # reference behavior: schema_fields may be an NGram spec — the
        # reader then yields {offset: namedtuple} window dicts
        # (petastorm/reader.py:196-200; not supported on the batch path,
        # petastorm/arrow_reader_worker.py:99)
        from petastorm_spark.operators.ngram import NGram

        self._ngram: NGram | None = None
        if isinstance(schema_fields, NGram):
            if batched:
                raise NotImplementedError(
                    "NGram is not supported by make_batch_reader (reference parity)"
                )
            if shuffle_row_drop_partitions > 1:
                raise ValueError(
                    "NGram cannot be combined with shuffle_row_drop_partitions: "
                    "strided slicing changes consecutive-row timestamp deltas "
                    "and would silently drop valid windows"
                )
            self._ngram = schema_fields
            needed = sorted(
                {c for cols in self._ngram.fields.values() for c in cols}
                | {self._ngram.timestamp_field}
            )
            schema_fields = needed

        if schema_fields is not None:
            view = full_schema.create_schema_view(schema_fields)
        else:
            view = full_schema
        self._view_names = list(view.fields)

        # Final (post-transform) schema the consumer sees.
        self.schema = transform_schema(view, self._spec) if self._spec else view

        # Columns needed from storage: view + predicate + DNF filter columns.
        need = list(view.fields)
        pred_cols = predicate.get_fields() if predicate is not None else set()
        need += [f for f in pred_cols if f not in need]
        if self._dnf is not None:
            need += [c for c in dnf_columns(self._dnf) if c not in need]
        self._read_columns = need

        if not direct:
            self._files = self._materialize(filters, cache_dir, cache_size_limit)
            scanned = _parallel_footers(
                self._fs, self._files, lambda p, md: (md.num_row_groups, None, None)
            )
        if not self._files:
            raise ValueError(
                f"no parquet files found for {urls or 'dataframe'}"
            )
        self._piece_spec = _PieceSpec(
            self._fs,
            need,
            self._drop_parts,
            {c: full_schema.fields.get(c) for c in need},
            # not the DNF-only columns; the predicate's, for a process pool
            [c for c in need if c in view.fields or c in pred_cols],
            self._dnf,
            self._schema_evolution,
        )

        # ---- piece list (one per row group) --------------------------------
        if counts is None:
            counts = {f: scanned[f][0] for f in self._files}
        unpruned_rgs = sum(counts[f] for f in self._files)
        self._pieces: list[tuple[str, int, int]] = []
        for f in self._files:
            for rg in range(counts[f]) if dnf is None else scanned[f][1]:
                for sl in range(self._drop_parts):
                    self._pieces.append((f, rg, sl))
        # Validate shard_count against the UNPRUNED piece count: a
        # selective DNF filter (or absent parquet stats) must not turn a
        # working sharded read into a hard error — shards emptied by
        # pruning simply yield nothing, matching the materialized path.
        if shard_count is not None and unpruned_rgs * self._drop_parts < shard_count:
            raise ValueError(
                f"{unpruned_rgs * self._drop_parts} row groups < "
                f"{shard_count} shards; write the dataset with "
                "more/smaller row groups"
            )
        self._nt = self.schema.namedtuple_cls()

    # ---- plan tier ---------------------------------------------------------

    @property
    def _spark(self) -> SparkSession:
        """The Spark session, resolved and given the engine's session
        contract on first use — a reader built without ``spark`` starts
        no session until it needs Spark."""
        if self._session is None:
            from petastorm_spark.session import ensure_session_confs

            self._session = ensure_session_confs(self._session_arg or get_spark())
        return self._session

    def _spark_read(self, urls: list[str]) -> DataFrame:
        """Spark's read of the source URLs. With ``schema_evolution``
        mergeSchema unions the footers; it refuses type CHANGES
        outright, so safe widenings (int32->int64, float->double)
        re-read under an explicit widened union schema (Spark's scan
        promotes per file) and genuine conflicts raise ValueError from
        the union."""
        if not self._schema_evolution:
            return self._spark.read.parquet(*urls)
        try:
            return self._spark.read.option("mergeSchema", "true").parquet(*urls)
        except Exception as exc:
            if "CANNOT_MERGE_SCHEMAS" not in str(exc):
                raise
            return self._spark.read.schema(_widened_union_schema(urls)).parquet(*urls)

    @functools.cached_property
    def dataframe(self) -> DataFrame | None:
        """The plan tier: the source as a Spark DataFrame, projected to
        the read columns and filtered — built on first access (Catalyst
        pushes both into the parquet scan). None when the JVM has no
        filesystem for the URL scheme; the iteration tier still streams
        it through pyarrow."""
        spark = self._spark
        df = self._source_df
        if df is None and not _jvm_reaches(spark, self._urls[0]):
            return None
        if self._selected_files is not None:
            # only the selected files; basePath keeps hive partition
            # columns alive when reading leaf files directly, and the
            # source read's schema (a merge, or hive columns) holds
            # for them too
            r = spark.read.option("basePath", self._urls[0])
            if df is not None:
                r = r.schema(df.schema)
            df = r.parquet(*self._selected_files)
        elif df is None:
            df = self._spark_read(self._urls)
        need = self._read_columns
        plan = df.select(*need) if set(need) != set(df.columns) else df
        if self._dnf is not None:
            return plan.filter(_dnf_to_column(self._dnf))
        if self._col_filter is not None:
            return plan.filter(self._col_filter)
        return plan

    def _materialize(self, filters, cache_dir, cache_size_limit) -> list[str]:
        """Write the plan tier to parquet and return the written files
        (the source cannot be streamed directly, see ``__init__``)."""
        if self._urls is not None and self._col_filter is not None and cache_dir is None:
            # Residual JVM-only Column filter over a URL-addressed
            # store: a silent driver-local tempdir write would not
            # survive cluster mode (executors write where only the
            # driver iterates) and copies the filtered scan to one
            # machine's disk. Demand an explicit durable location.
            raise ValueError(
                "filters=<Column> could not be compiled to DNF for "
                "direct streaming (only comparison/in/and/or/not "
                "over plain columns and primitive literals compile)."
                " Pass pyarrow-style DNF filter tuples, or an "
                "explicit cache_dir on a durable filesystem to "
                "materialize the filtered scan."
            )
        self._fs = pafs.LocalFileSystem()
        if cache_dir is None:
            # dataframe-based reader: an arbitrary Spark plan has no
            # source files to stream, so a materialization is inherent.
            self._owned_cache = tempfile.mkdtemp(prefix="pstorm_cache_")
            self._require_plan().write.mode("overwrite").parquet(self._owned_cache)
            return _list_parquet_files_fs(self._fs, self._owned_cache)
        # user-managed cache dir: materialize into a managed
        # SUBDIRECTORY (an overwrite-write into the dir itself would
        # wipe unrelated user files), keyed by a STABLE content
        # descriptor — semanticHash() changes across JVM restarts
        # (verified empirically), which would defeat cross-run reuse
        # and grow the cache unboundedly. Descriptor: source url +
        # projected columns + filter text; dataframe-based readers fall
        # back to semanticHash (session-lifetime reuse only, documented).
        import hashlib
        import socket

        if self._urls is not None:
            desc = "|".join(
                [
                    "|".join(self._urls),
                    ",".join(sorted(self._read_columns)),
                    str(filters),
                ]
                + (self._selected_files or [])
            )
            key = hashlib.sha256(desc.encode()).hexdigest()[:12]
        else:
            key = f"sess{self._require_plan().semanticHash() & 0xFFFFFFFF:08x}"
        managed = os.path.join(cache_dir, f"_ps_materialized_{key}")
        existing = (
            _list_parquet_files_fs(self._fs, managed) if os.path.isdir(managed) else []
        )
        if not existing:
            self._require_plan().write.mode("overwrite").parquet(managed)
            existing = _list_parquet_files_fs(self._fs, managed)
        else:
            os.utime(managed)  # refresh LRU rank on reuse
        # pin against concurrent eviction while this Reader is alive
        self._managed_cache = managed
        self._sentinel = os.path.join(
            managed, f".ps_inuse_{os.getpid()}@{socket.gethostname()}"
        )
        with open(self._sentinel, "w"):
            pass
        if cache_size_limit is not None:
            _enforce_cache_limit(cache_dir, cache_size_limit, keep=managed)
        return existing

    def _require_plan(self) -> DataFrame:
        plan = self.dataframe
        if plan is None:
            raise ValueError(
                "the JVM has no filesystem for this URL scheme and the "
                "direct pyarrow tier is unavailable (filters=<Column>, or "
                "cache_dir over a remote store); pass pyarrow-style DNF "
                "filter tuples and drop cache_dir"
            )
        return plan

    # ---- iteration tier ----------------------------------------------------

    def _epoch_pieces(self) -> list[tuple[str, int]]:
        order = np.arange(len(self._pieces))
        # D1: shard by PIECE INDEX before any shuffle (reference
        # petastorm/reader.py:596 `index % shard_count == cur_shard`) —
        # shards stay disjoint across workers even with
        # shuffle_row_groups=True and per-worker default RNGs; each
        # worker then shuffles only its own shard.
        if self._shard_count is not None:
            order = order[self._cur_shard :: self._shard_count]
        if self._shuffle_row_groups:
            self._rng.shuffle(order)
        return [self._pieces[i] for i in order]

    def _rowgroup_counts_from_sidecar(self) -> dict | None:
        """Per-file row-group counts from the metadata sidecar — valid
        only on the direct path over the original dataset files."""
        if self._sidecar_counts is None or self._direct_root is None:
            return None
        root = self._direct_root.rstrip("/")
        by_path = {f"{root}/{rel}": n for rel, n in self._sidecar_counts.items()}
        if all(f in by_path for f in self._files):
            return {f: by_path[f] for f in self._files}
        return None  # stale/partial sidecar: fall back to footer scan

    def _decode_piece(
        self, path: str, rg: int, sl: int = 0, rng: np.random.Generator | None = None
    ) -> pd.DataFrame | None:
        return self._finish(
            _load_piece(self._piece_spec, path, rg, sl, self._predicate), rng
        )

    def _finish(self, pdf, rng, predicate=None) -> pd.DataFrame | None:
        """The tail of every loaded piece: ``predicate`` if it is still
        pending (a process pool's workers decode without it), then the
        view projection, TransformSpec and in-piece row shuffle."""
        if pdf is None or not len(pdf):
            return None
        if predicate is not None:
            mask = np.asarray(predicate.do_include_pandas(pdf), dtype=bool)
            if not mask.any():
                return None
            pdf = pdf[mask].reset_index(drop=True)
        if list(pdf.columns) != self._view_names:
            pdf = pdf[self._view_names]
        if self._spec is not None:
            pdf = apply_transform_pandas(pdf, self._spec)
        if self._shuffle_rows and len(pdf) > 1:
            rng = rng if rng is not None else self._rng
            pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
        return pdf

    def _batch_to_vectors(self, pdf: pd.DataFrame):
        vals = {}
        for name in self._nt._fields:
            field = self.schema.fields.get(name)
            col = pdf[name]
            if field is not None and field.is_tensor:
                arrs = list(col)
                fixed = field.shape is not None and all(
                    d is not None for d in field.shape
                )
                if fixed and arrs and all(a is not None for a in arrs):
                    vals[name] = np.stack(arrs)
                else:
                    out = np.empty(len(arrs), dtype=object)
                    out[:] = arrs
                    vals[name] = out
            else:
                vals[name] = col.to_numpy()
        return self._nt(**vals)

    def _piece_stream(self):
        """(path, rg, slice, rng) across all epochs. Per-piece RNGs are
        derived from (seed, epoch, index) so decode order — including
        threaded prefetch — never changes results."""
        epoch = 0
        while self._num_epochs is None or epoch < self._num_epochs:
            for idx, (path, rg, sl) in enumerate(self._epoch_pieces()):
                rng = np.random.default_rng(
                    None if self._seed is None else (self._seed, epoch, idx)
                )
                yield path, rg, sl, rng
            epoch += 1

    def _emit(self, pdf):
        if pdf is None or not len(pdf):
            return
        if self._ngram is not None:
            yield from self._ngram.form_ngram_dicts(pdf)
        elif self._batched:
            yield self._batch_to_vectors(pdf)
        else:
            cols = [pdf[n] for n in self._nt._fields]
            yield from (self._nt(*vals) for vals in zip(*cols))

    def __iter__(self):
        self.last_row_consumed = False
        if self._managed_cache is not None:
            try:  # refresh LRU rank so a mid-epoch reader isn't "oldest"
                os.utime(self._managed_cache)
            except OSError:
                pass
        if self._sentinel is not None:
            try:  # refresh the pin lease (see _SENTINEL_TTL_SEC)
                os.utime(self._sentinel)
            except OSError:
                pass
        # Bounded prefetch: up to 2x workers pieces in flight, consumed
        # in submission order (round-robin determinism, like the
        # reference's thread pool result draining). Each window entry is
        # a thunk returning the piece's finished frame.
        from collections import deque
        from concurrent.futures import ProcessPoolExecutor, ThreadPoolExecutor
        from contextlib import nullcontext

        depth = self._workers * 2
        if self._pool_type == "process":
            # spawned workers do the GIL-bound IO + codec decode; the
            # predicate and transform closures stay in the parent
            import multiprocessing

            pool = ProcessPoolExecutor(
                self._workers, mp_context=multiprocessing.get_context("spawn")
            )

            def submit(path, rg, sl, rng):
                fut = pool.submit(_load_piece, self._piece_spec, path, rg, sl)
                return lambda: self._finish(fut.result(), rng, self._predicate)

        elif self._workers > 1:
            pool = ThreadPoolExecutor(self._workers)

            def submit(*piece):
                return pool.submit(self._decode_piece, *piece).result

        else:
            pool, depth = nullcontext(), 1

            def submit(*piece):
                return lambda: self._decode_piece(*piece)

        with pool:
            window: deque = deque()
            for piece in self._piece_stream():
                window.append(submit(*piece))
                if len(window) >= depth:
                    yield from self._emit(window.popleft()())
            while window:
                yield from self._emit(window.popleft()())
        self.last_row_consumed = True

    # ---- lifecycle ---------------------------------------------------------

    def close(self) -> None:
        if self._owned_cache and os.path.isdir(self._owned_cache):
            shutil.rmtree(self._owned_cache, ignore_errors=True)
            self._owned_cache = None
        if self._sentinel is not None:
            try:
                os.unlink(self._sentinel)
            except OSError:
                pass
            self._sentinel = None

    def reset(self) -> None:
        """Reference API compat (petastorm Reader.reset): our reader
        supports repeated iteration until close(), so reset only clears
        the consumed flag."""
        self.last_row_consumed = False

    stop = close  # reference API alias
    join = close

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def make_reader(dataset_url: str | None = None, **kwargs) -> Reader:
    """Row-oriented reader over a (petastorm-style or plain) parquet
    dataset: yields one namedtuple per row with tensor fields decoded.
    Single URL only (reference parity, petastorm/reader.py:60)."""
    if isinstance(dataset_url, (list, tuple)):
        raise ValueError(
            "make_reader accepts a single dataset URL; use "
            "make_batch_reader for a list of URLs (reference parity)"
        )
    return Reader(dataset_url, batched=False, **kwargs)


def make_batch_reader(dataset_url_or_urls=None, **kwargs) -> Reader:
    """Columnar reader: yields one namedtuple of column vectors per row
    group (post filter/transform). Accepts one parquet URL or a list of
    same-scheme URLs merged as a single dataset (reference
    petastorm/reader.py:51-57,209)."""
    return Reader(dataset_url_or_urls, batched=True, **kwargs)
