"""Opening a reader without the JVM, and the session contract.

The open takes the schema from the sidecar or, failing that, from the
parquet footers it already scans; it must give exactly the Unischema
Spark derives from ``spark.read.parquet(url).schema``. Spark is left to
the plan tier, which ``Reader.dataframe`` builds on first access.
"""
from __future__ import annotations

import datetime
import decimal
import os
import subprocess
import sys
import textwrap

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
from pyspark.sql.types import Row

from petastorm_spark.reader import _spark_struct, make_batch_reader, make_reader
from petastorm_spark.unischema import Unischema

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_TS = [0, 1_500_000_000_123_456, 1_700_000_000_000_001]


def _pyarrow_table() -> pa.Table:
    def ts(unit, tz=None):
        scale = {"us": 1, "ns": 1000}[unit]
        return pa.array([v * scale for v in _TS], pa.timestamp(unit, tz=tz))

    return pa.table(
        {
            "id": pa.array([0, 1, 2], pa.int64()),
            "i8": pa.array([-3, 0, 7], pa.int8()),
            "i16": pa.array([-300, 0, 700], pa.int16()),
            "i32": pa.array([-70000, 0, 70000], pa.int32()),
            "u8": pa.array([0, 128, 255], pa.uint8()),
            "u16": pa.array([0, 40000, 65535], pa.uint16()),
            "u32": pa.array([0, 3_000_000_000, 4_294_967_295], pa.uint32()),
            "u64": pa.array([0, 2**63, 2**64 - 1], pa.uint64()),
            "f32": pa.array([0.5, -1.25, 3.0], pa.float32()),
            "f64": pa.array([0.1, -2.5, 1e300], pa.float64()),
            "flag": pa.array([True, False, True]),
            "s": pa.array(["a", "bb", "ccc"]),
            "ls": pa.array(["x", "yy", "zzz"], pa.large_string()),
            "b": pa.array([b"\x00", b"\x01\x02", b""], pa.binary()),
            "dec": pa.array(
                [decimal.Decimal(v) for v in ("1.50", "-2.25", "1000.00")],
                pa.decimal128(10, 2),
            ),
            "d": pa.array(
                [datetime.date(1970, 1, 1), datetime.date(2024, 2, 29),
                 datetime.date(1999, 12, 31)],
                pa.date32(),
            ),
            "ts_us": ts("us"),
            "ts_us_tz": ts("us", "UTC"),
            "ts_ns": ts("ns"),
            "ts_ns_tz": ts("ns", "UTC"),
            "vec": pa.array([[0.5, 1.0], [], [2.25]], pa.list_(pa.float32())),
            "st": pa.array(
                [{"a": 1, "b": "p"}, {"a": 2, "b": "q"}, {"a": 3, "b": "r"}],
                pa.struct([("a", pa.int32()), ("b", pa.string())]),
            ),
            "m": pa.array(
                [[("k", 1)], [("k", 2), ("j", 3)], []],
                pa.map_(pa.string(), pa.int64()),
            ),
        }
    )


def _write_spark_store(spark, url: str) -> None:
    rows = [
        (i, i - 1, 300 * i, 70000 * i, float(i) / 2, i / 3, i % 2 == 0,
         f"s{i}", bytes([i]), decimal.Decimal(f"{i}.25"),
         datetime.date(2020, 1, 1 + i),
         datetime.datetime(2021, 3, 4, 5, 6, 7, 8 + i),
         datetime.datetime(2022, 1, 2, 3, 4, 5, 6 + i),
         [float(i), 0.5], Row(a=i, b=f"b{i}"), {"k": i})
        for i in range(3)
    ]
    schema = (
        "id bigint, i8 tinyint, i16 smallint, i32 int, f32 float, f64 double,"
        " flag boolean, s string, b binary, dec decimal(12,2), d date,"
        " ts timestamp, ts_ntz timestamp_ntz, vec array<float>,"
        " st struct<a:int,b:string>, m map<string,int>"
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(url)


def _norm(v):
    """A plain python value for cross-engine comparison."""
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return sorted((k, _norm(x)) for k, x in v.items())
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return _norm(dict(v))  # arrow delivers a map as (key, value) pairs
        return [_norm(x) for x in v]
    if isinstance(v, (datetime.datetime, np.datetime64)):
        v = pd.Timestamp(v)
        v = v.tz_convert(None) if v.tzinfo else v
        return v.to_datetime64().astype("datetime64[ns]")
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, (bytearray, memoryview)):
        return bytes(v)
    return v


def _rows(cols: dict) -> list[dict]:
    n = len(cols["id"])
    out = [{k: _norm(c[i]) for k, c in cols.items()} for i in range(n)]
    return sorted(out, key=lambda r: r["id"])


@pytest.mark.parametrize("writer", ["pyarrow", "spark"])
def test_open_schema_and_batches_match_spark(spark, tmp_path, writer):
    """Parity matrix: for a store written by pyarrow and one written by
    Spark, the footer-derived Spark schema and Unischema equal Spark's
    own, and the reader's batches equal Spark's rows value for value
    (timestamps with and without tz in us and ns, unsigned ints, large
    strings, decimal, date, lists, structs and maps)."""
    url = str(tmp_path / "store")
    if writer == "pyarrow":
        os.makedirs(url)
        pq.write_table(_pyarrow_table(), f"{url}/part-0.parquet")
    else:
        _write_spark_store(spark, url)
    want_struct = spark.read.parquet(url).schema
    files = sorted(f for f in os.listdir(url) if f.endswith(".parquet"))
    assert _spark_struct(pq.ParquetFile(f"{url}/{files[0]}").metadata) == want_struct

    with make_batch_reader(url, spark=spark) as r:
        assert (
            r.schema.to_json() == Unischema.from_spark_schema(want_struct).to_json()
        )
        got: dict = {}
        for batch in r:
            for k, v in batch._asdict().items():
                got.setdefault(k, []).extend(v)
        want = r.dataframe.toPandas()
    assert got.keys() == set(want.columns)
    assert _rows(got) == _rows({c: list(want[c]) for c in want.columns})


def test_open_and_iterate_without_spark_read(spark, tmp_path, monkeypatch):
    """A sidecar dataset, a flat plain store and a multi-URL store open
    and iterate with ``SparkSession.read`` unusable; the plan tier
    builds on first access afterwards."""
    from petastorm_spark.codecs import NdarrayCodec
    from petastorm_spark.etl.dataset_metadata import materialize_dataset
    from petastorm_spark.unischema import UnischemaField, dict_to_spark_row

    schema = Unischema(
        "S",
        [
            UnischemaField("id", np.int64, (), None, False),
            UnischemaField("vec", np.float32, (3,), NdarrayCodec(), False),
        ],
    )
    side = str(tmp_path / "sidecar")
    with materialize_dataset(spark, side, schema):
        spark.createDataFrame(
            [
                dict_to_spark_row(
                    schema, {"id": i, "vec": np.full(3, i, np.float32)}
                )
                for i in range(12)
            ],
            schema.as_spark_schema(),
        ).coalesce(2).write.parquet(side)
    plain = [str(tmp_path / "plain_a"), str(tmp_path / "plain_b")]
    for k, url in enumerate(plain):
        os.makedirs(url)
        pq.write_table(
            pa.table({"id": pa.array(range(10 * k, 10 * k + 10), pa.int64())}),
            f"{url}/part-0.parquet",
        )

    def boom(self):
        raise AssertionError("the open must not reach the JVM")

    for attr in ("read", "sparkContext", "conf"):
        monkeypatch.setattr(SparkSession, attr, property(boom))
    readers = [
        make_reader(side, spark=spark),
        make_batch_reader(plain[0], spark=spark, filters=[("id", ">=", 3)]),
        make_batch_reader(plain, spark=spark),
    ]
    side_rows = sorted((x.id, x.vec.tolist()) for x in readers[0])
    assert side_rows == [(i, [float(i)] * 3) for i in range(12)]
    ids = [sorted(int(i) for b in r for i in b.id) for r in readers[1:]]
    assert ids == [list(range(3, 10)), list(range(20))]
    # the session is resolved only for the plan tier
    assert [r._session for r in readers] == [None, None, None]

    monkeypatch.undo()
    counts = [r.dataframe.count() for r in readers]
    assert counts == [12, 7, 20]
    for r in readers:
        r.close()


def test_selector_holds_for_spark_read_sources(spark, tmp_path):
    """A rowgroup selector limits both tiers also when Spark reads the
    source at open (here ``schema_evolution=True``): the plan covers only
    the selected files, on the direct path and on the materialized one
    (a Column filter that does not compile, with ``cache_dir``)."""
    from pyspark.sql import functions as F

    from petastorm_spark.etl.rowgroup_indexing import (
        SingleFieldIndexer,
        SingleIndexSelector,
        build_rowgroup_index,
    )

    url = str(tmp_path / "store")
    spark.range(100).select(
        "id", (F.col("id") % 5).alias("b")
    ).repartition(5, "b").write.parquet(url)
    build_rowgroup_index(spark, url, [SingleFieldIndexer("by_b", "b")])
    def ids_in(sel):
        return sorted(
            i
            for f in sel.select_files(spark, url)
            for i in pq.read_table(f.removeprefix("file:"))["id"].to_pylist()
        )

    sel = SingleIndexSelector("by_b", [2])
    selected = ids_in(sel)
    assert 0 < len(selected) < 100

    with make_reader(
        url, spark=spark, rowgroup_selector=sel, schema_evolution=True
    ) as r:
        assert sorted(x.id for x in r) == selected
        assert sorted(x.id for x in r.dataframe.collect()) == selected

    # the materialized copy is keyed by the selection too: a second
    # selector over the same cache_dir gets its own copy
    for sel in (sel, SingleIndexSelector("by_b", [3])):
        with make_reader(
            url,
            spark=spark,
            rowgroup_selector=sel,
            schema_evolution=True,
            filters=F.col("id") % 2 == 0,
            cache_dir=str(tmp_path / "cache"),
        ) as r:
            assert r._direct_root is None  # the materialized path
            assert sorted(x.id for x in r) == [i for i in ids_in(sel) if i % 2 == 0]


def test_multi_url_hive_stores(spark, tmp_path):
    """Multi-URL hive stores, which Spark reads at open for their
    partition columns, have their footer schemas compared first; stores
    that agree are read one root at a time and yield their partition
    columns on both tiers."""
    urls = [str(tmp_path / n) for n in "abc"]
    for k, (url, col) in enumerate(zip(urls, "xxy")):
        os.makedirs(f"{url}/p={k}")
        pq.write_table(
            pa.table({"id": pa.array([2 * k, 2 * k + 1], pa.int64()), col: [0.5, 1.5]}),
            f"{url}/p={k}/part-0.parquet",
        )
    with pytest.raises(ValueError, match="must share one schema"):
        make_batch_reader(urls, spark=spark)
    with make_batch_reader(urls[:2], spark=spark) as r:
        assert sorted(r.schema.fields) == ["id", "p", "x"]
        rows = sorted(
            (int(i), int(p)) for b in r for i, p in zip(b.id, b.p)
        )
        assert rows == [(0, 0), (1, 0), (2, 1), (3, 1)]
        assert sorted(tuple(x) for x in r.dataframe.select("id", "p").collect()) == rows


def test_session_confs_applied_once(spark, monkeypatch):
    """The session contract is memoized on the session: a second call
    makes no conf round trip at all."""
    from pyspark.sql.conf import RuntimeConfig

    from petastorm_spark.session import SESSION_CONFS, ensure_session_confs

    ensure_session_confs(spark)
    for k, v in SESSION_CONFS.items():
        assert spark.conf.get(k) == v

    def boom(*a, **k):
        raise AssertionError("conf round trip after the first call")

    monkeypatch.setattr(RuntimeConfig, "get", boom)
    monkeypatch.setattr(RuntimeConfig, "set", boom)
    monkeypatch.setattr(RuntimeConfig, "isModifiable", boom)
    assert ensure_session_confs(spark) is spark


def test_default_driver_memory_from_machine():
    """Half the memory limit, clamped to [1 GiB, 48 GiB]."""
    from petastorm_spark.session import _memory_limit_bytes, default_driver_memory

    gib = 1024**3
    assert default_driver_memory(15 * gib) == "7680m"
    assert default_driver_memory(int(1.5 * gib)) == "1024m"
    assert default_driver_memory(1024 * gib) == "49152m"
    limit = _memory_limit_bytes()
    assert 0 < limit <= os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == default_driver_memory(limit)


_EXTERNAL = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, sys.argv[1])
    import numpy as np
    from pyspark.sql import SparkSession

    from petastorm_spark.queries import _t
    from petastorm_spark.reader import make_batch_reader, make_reader
    from petastorm_spark.streaming.feed import stream_dataset

    url, sf_dir = sys.argv[2], sys.argv[3]
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("external_session")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.binaryAsString", "true")
        .getOrCreate()
    )
    with make_reader(url, spark=spark) as r:
        rows = len(list(r))
    with make_batch_reader(url, spark=spark) as r:
        batched = sum(len(b.id) for b in r)
        planned = r.dataframe.count()
        # the session contract pins the parquet type rules the footer
        # schema assumes, so both tiers agree on binary columns
        assert r.dataframe.schema["b"].dataType.simpleString() == "binary"
        assert r.schema.b.numpy_dtype is np.bytes_
    streamed = stream_dataset(spark, url).isStreaming
    nations = _t(spark, sf_dir, "nation").count()
    print("RESULT", rows, batched, planned, streamed, nations)
    spark.stop()
    """
)


def test_plain_spark_session_is_accepted(tmp_path, sf_dir):
    """A session built by plain ``SparkSession.builder`` — no static
    confs from ``get_spark`` — works with make_reader,
    make_batch_reader (including ``Reader.dataframe``), stream_dataset
    and the query-table loader. It needs its own JVM, so it runs in a
    child process."""
    url = str(tmp_path / "store")
    os.makedirs(url)
    pq.write_table(
        pa.table({"id": pa.array(range(30), pa.int64()), "b": [b"x"] * 30}),
        f"{url}/part-0.parquet",
    )
    script = tmp_path / "external.py"
    script.write_text(_EXTERNAL)
    proc = subprocess.run(
        [sys.executable, str(script), ROOT, url, sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESULT 30 30 30 True 25" in proc.stdout, proc.stdout[-2000:]
