"""The benchmark's workloads.

Each workload is a closed loop with one client in one process: a
training loop that reads, or a driver that runs queries.  A workload
object has three methods the harness calls:

* ``setup()``: data generation and the untimed warm passes (part of
  ``setup_s``; their outputs are checked like any pass);
* ``run_pass(i)``: one measured pass, returning a record with
  ``pass_s``, ``first_s``, ``steps_ms`` and layer figures; its output
  checks run after the pass timer stops;
* ``layers(traced)``: per-layer metrics from the records of the traced
  passes; ``spark_layers`` and ``rates`` add figures from the folded
  event log and from the untraced passes.

Importing this module has no side effects: Spark's Python workers
import it to run :func:`png_row`.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import partial

import numpy as np

# one training step on the row reader = this many rows
STEP_ROWS = 64
EPOCHS = 3
# untimed passes in setup(): on every workload the first two measured
# passes after a single warm pass ran 4-9 % slower than the rest
WARM_PASSES = 3

PNG_SHAPE = (128, 256, 3)
PNG_ROWS = 1000
PNG_ROWGROUP_MB = 8
PNG_SAMPLES_PER_EPOCH = 4  # decoded images compared per epoch

PLAIN_ROWS = 144_000  # passes of 0.3-0.7 s: many per run, see README.md
PLAIN_FILES = 4
PLAIN_RG_ROWS = 6_000  # ~2.2 MB row groups
PLAIN_FEATURES = 64
PLAIN_LABELS = 10
PLAIN_KEEP_BELOW = 7  # the DNF filter: label < 7

# Query mix, one representative per layer it stresses (see README.md).
MIX = (
    "q1_pricing_summary",  # scan + aggregate
    "q3_shipping_priority",  # joins
    "events_ewma",  # grouped pandas UDF (applyInPandas)
    "ann_cosine_prefix_indexed",  # persisted index read
)


def now() -> float:
    return time.perf_counter()


def png_image(seed: int, i: int) -> np.ndarray:
    return np.random.default_rng([seed, i]).integers(
        0, 256, size=PNG_SHAPE, dtype=np.uint8
    )


def png_row(seed: int, i: int) -> dict:
    return {"id": i, "image1": png_image(seed, i)}


def png_schema():
    from pyspark.sql.types import IntegerType

    from petastorm_spark import (
        CompressedImageCodec,
        ScalarCodec,
        Unischema,
        UnischemaField,
    )

    return Unischema(
        "PngSchema",
        [
            UnischemaField("id", np.int32, (), ScalarCodec(IntegerType()), False),
            UnischemaField(
                "image1", np.uint8, PNG_SHAPE, CompressedImageCodec("png"), False
            ),
        ],
    )


def double_weight(pdf):
    return pdf.assign(weight=pdf["weight"] * np.float32(2))


def _read_loop(reader, on_item, step_items: int) -> dict:
    """Drain ``reader``, timing the consumer side of every ``next()``.

    ``on_item(item)`` returns how many rows the item carried.  A step
    ends every ``step_items`` items; steps are timed from the first
    item on, so the open and first-piece latency stay out of them, and
    so does the consumer wait for the first item.
    """
    it = iter(reader)
    steps, wait = [], 0.0
    rows = n = 0
    t_iter = now()
    t_first = last = None
    while True:
        a = now()
        try:
            item = next(it)
        except StopIteration:
            break
        b = now()
        rows += on_item(item)
        n += 1
        if t_first is None:
            t_first = last = b
            continue
        wait += b - a
        if (n - 1) % step_items == 0:
            steps.append((b - last) * 1e3)
            last = b
    return {
        "steps_ms": steps,
        "iter_wall_s": now() - t_iter,
        "first_item_at": t_first,
        "next_s": wait,
        "rows": rows,
    }


class _Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def spark_layers(self, groups: dict, traced_ids: list) -> dict:
        """Per-layer figures from the folded Spark event log."""
        return {}

    def rates(self, untraced: list[dict]) -> dict:
        """Row rates of the untraced passes (informational)."""
        return {}

    def reader_layers(self, traced: list[dict], total_rgs: int) -> dict:
        """Reader, piece, codec, predicate and transform layers, per pass."""
        from tracing import span_totals

        k = len(traced)
        spans = span_totals([s for r in traced for s in r["spans"]])
        load = spans.get("piece.load_table", {})
        rows_loaded = load.get("rows", 0.0)
        rows_out = sum(r["rows"] for r in traced)
        b2v = spans.get("reader.batch_to_vectors", {}).get("s", 0.0)
        busy = spans.get("reader.decode_piece", {}).get("s", 0.0)
        wall = sum(r["iter_wall_s"] for r in traced)

        def tot(name, key="s"):
            return spans.get(name, {}).get(key, 0.0) / k

        return {
            "reader.open_s": sum(r["open_s"] for r in traced) / k,
            "reader.first_piece_s": sum(r["first_s"] - r["open_s"] for r in traced) / k,
            "piece.load_table_s": tot("piece.load_table"),
            "piece.load_table_calls": tot("piece.load_table", "n"),
            "piece.bytes_read": tot("piece.load_table", "bytes"),
            "piece.decode_col_s": tot("piece.decode_col"),
            "codecs.decode_s": tot("codecs.decode"),
            "codecs.decode_calls": tot("codecs.decode", "n"),
            "predicates.dnf_mask_s": tot("predicates.dnf_mask"),
            "predicates.rowgroups_kept_ratio": (
                load.get("n", 0.0) / (total_rgs * EPOCHS * k)
            ),
            "predicates.rows_kept_ratio": rows_out / rows_loaded if rows_loaded else 0.0,
            "transform.apply_s": tot("transform.apply"),
            "reader.batch_to_vectors_s": b2v / k,
            "reader.wait_s": (sum(r["next_s"] for r in traced) - b2v) / k,
            "reader.pool_busy_ratio": busy / (self.ctx.nproc * wall) if wall else 0.0,
        }


class EtlTrainPng(_Workload):
    """Write a hello_world-shaped dataset through ``materialize_dataset``,
    then train on it for ``EPOCHS`` epochs through ``make_reader``."""

    def __init__(self, ctx):
        super().__init__(ctx)
        self.schema = png_schema()
        self.n_rows = 64 if ctx.smoke else PNG_ROWS
        self.row_groups = 0

    def setup(self):
        # full passes warm the python workers, the codec path and the
        # JVM write path; they are checked like measured passes
        for _ in range(WARM_PASSES):
            self._pass("warm")
        self.d2sr_rows = [png_row(self.ctx.seed, i) for i in range(16)]

    def run_pass(self, i: int) -> dict:
        rec = self._pass(i)
        if self.ctx.tracing:
            from petastorm_spark import dict_to_spark_row

            t = now()
            for row in self.d2sr_rows:
                dict_to_spark_row(self.schema, row)
            rec["d2sr_ms"] = (now() - t) * 1e3 / len(self.d2sr_rows)
        return rec

    def _pass(self, i) -> dict:
        from petastorm_spark import dict_to_spark_row, make_reader, materialize_dataset

        ctx, spark, n_rows = self.ctx, self.spark, self.n_rows
        path = os.path.join(ctx.work_dir, "png")
        shutil.rmtree(path, ignore_errors=True)
        url = "file://" + path
        rec: dict = {}
        t0 = now()
        with ctx.op("write"):
            ctx.job_group(i, "etl.write")
            with materialize_dataset(spark, url, self.schema, PNG_ROWGROUP_MB):
                t_job = now()
                rdd = (
                    spark.sparkContext.parallelize(range(n_rows), ctx.nproc)
                    .map(partial(png_row, ctx.seed))
                    .map(partial(dict_to_spark_row, self.schema))
                )
                spark.createDataFrame(rdd, self.schema.as_spark_schema()).write.mode(
                    "overwrite"
                ).parquet(url)
                rec["write_job_s"] = now() - t_job
            rec["write_s"] = now() - t0
        ids: list = []
        samples: list = []

        def on_row(row):
            if len(ids) % n_rows < PNG_SAMPLES_PER_EPOCH:
                samples.append(row)
            ids.append(row.id)
            return 1

        t_open = now()
        with ctx.op("reader"):
            ctx.job_group(i, "reader.open")
            with make_reader(
                url,
                spark=spark,
                workers_count=ctx.nproc,
                reader_pool_type="thread",
                shuffle_row_groups=True,
                seed=ctx.reader_seed(i),
                num_epochs=EPOCHS,
            ) as reader:
                rec["open_s"] = now() - t_open
                rec.update(_read_loop(reader, on_row, STEP_ROWS))
        t_end = now()
        rec["pass_s"] = t_end - t0
        rec["read_s"] = t_end - t_open
        rec["first_s"] = rec.pop("first_item_at") - t_open

        # output checks, after the pass timer
        got = np.asarray(ids)
        ctx.check(len(got) == n_rows * EPOCHS, f"png rows read {len(got)} != {n_rows * EPOCHS}")
        for e in range(EPOCHS):
            ep = np.sort(got[e * n_rows : (e + 1) * n_rows])
            ctx.check(
                np.array_equal(ep, np.arange(n_rows)),
                f"png epoch {e} ids are not a permutation of the written ids",
            )
        bad = [r.id for r in samples if not np.array_equal(r.image1, png_image(ctx.seed, int(r.id)))]
        ctx.check(not bad and samples, f"png decoded images differ from the generator: ids {bad}")

        # write-side layer figures (cheap metadata reads)
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        disk = sum(os.path.getsize(os.path.join(path, f)) for f in files)
        user = n_rows * (4 + int(np.prod(PNG_SHAPE)))
        rec["bytes_per_user_byte"] = disk / user
        with open(os.path.join(path, "_petastorm_spark_metadata.json")) as fh:
            rec["row_groups"] = sum(json.load(fh)["row_groups"].values())
        self.row_groups = rec["row_groups"]
        return rec

    def layers(self, traced: list[dict]) -> dict:
        from tracing import span_totals

        k = len(traced)
        spans = span_totals([s for r in traced for s in r["spans"]])
        meta = sum(
            spans.get(n, {}).get("s", 0.0)
            for n in ("etl.collect_rowgroup_counts", "etl.write_sidecar", "etl.compat_footer")
        )
        out = self.reader_layers(traced, self.row_groups)
        out.update(
            {
                "unischema.dict_to_spark_row_ms": sum(r["d2sr_ms"] for r in traced) / k,
                "etl.write_job_s": sum(r["write_job_s"] for r in traced) / k,
                "etl.metadata_s": meta / k,
                "etl.bytes_per_user_byte": traced[-1]["bytes_per_user_byte"],
                "etl.row_groups": traced[-1]["row_groups"],
            }
        )
        return out

    def spark_layers(self, groups: dict, traced_ids: list) -> dict:
        tasks = sum(groups.get(f"p{i}:etl.write", {}).get("tasks", 0) for i in traced_ids)
        return {"etl.write_tasks": tasks / len(traced_ids)}

    def rates(self, untraced: list[dict]) -> dict:
        return {
            "write_rows_per_s": _median([self.n_rows / r["write_s"] for r in untraced]),
            "read_rows_per_s": _median([r["rows"] / r["read_s"] for r in untraced]),
        }


class BatchesPlain(_Workload):
    """``make_batch_reader`` over a seeded plain Parquet store (no
    sidecar), with a DNF filter, a TransformSpec and several epochs."""

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_rows = 24_000 if ctx.smoke else PLAIN_ROWS

    def setup(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        ctx = self.ctx
        rng = np.random.default_rng(ctx.seed)
        label = np.sort(rng.integers(0, PLAIN_LABELS, self.n_rows)).astype(np.int32)
        self.weight = rng.random(self.n_rows, dtype=np.float32)
        self.kept = np.flatnonzero(label < PLAIN_KEEP_BELOW)
        self.path = os.path.join(ctx.work_dir, "plain")
        os.makedirs(self.path)
        per = -(-self.n_rows // PLAIN_FILES)
        self.row_groups = 0
        for f in range(PLAIN_FILES):
            lo, hi = f * per, min(self.n_rows, (f + 1) * per)
            feats = np.random.default_rng([ctx.seed, f]).random(
                (hi - lo, PLAIN_FEATURES), dtype=np.float32
            )
            table = pa.table(
                {
                    "id": np.arange(lo, hi, dtype=np.int64),
                    "label": label[lo:hi],
                    "weight": self.weight[lo:hi],
                    "features": pa.ListArray.from_arrays(
                        np.arange(0, (hi - lo + 1) * PLAIN_FEATURES, PLAIN_FEATURES, dtype=np.int32),
                        feats.ravel(),
                    ),
                }
            )
            pq.write_table(
                table, os.path.join(self.path, f"part-{f:05d}.parquet"),
                row_group_size=PLAIN_RG_ROWS,
            )
            self.row_groups += -(-(hi - lo) // PLAIN_RG_ROWS)
        for _ in range(WARM_PASSES):
            self.run_pass("warm")

    def run_pass(self, i) -> dict:
        from petastorm_spark import TransformSpec, make_batch_reader

        ctx = self.ctx
        ids: list = []
        weights: list = []
        labels_ok = [True]

        def on_batch(b):
            ids.append(b.id)
            weights.append(b.weight)
            labels_ok[0] &= bool((b.label < PLAIN_KEEP_BELOW).all())
            return len(b.id)

        rec: dict = {}
        t0 = now()
        with ctx.op("reader"):
            ctx.job_group(i, "reader.open")
            with make_batch_reader(
                "file://" + self.path,
                spark=self.spark,
                workers_count=ctx.nproc,
                reader_pool_type="thread",
                shuffle_row_groups=True,
                seed=ctx.reader_seed(i),
                num_epochs=EPOCHS,
                filters=[("label", "<", PLAIN_KEEP_BELOW)],
                transform_spec=TransformSpec(double_weight),
            ) as reader:
                rec["open_s"] = now() - t0
                rec.update(_read_loop(reader, on_batch, 1))
        rec["pass_s"] = rec["read_s"] = now() - t0
        rec["first_s"] = rec.pop("first_item_at") - t0

        # output checks, after the pass timer
        n_keep = len(self.kept)
        ctx.check(
            rec["rows"] == n_keep * EPOCHS,
            f"plain rows delivered {rec['rows']} != {n_keep} * {EPOCHS}",
        )
        ctx.check(labels_ok[0], "plain batch holds a row with label >= 7")
        got_ids = np.concatenate(ids) if ids else np.zeros(0, np.int64)
        got_w = np.concatenate(weights) if weights else np.zeros(0, np.float32)
        for e in range(EPOCHS):
            sl = slice(e * n_keep, (e + 1) * n_keep)
            order = np.argsort(got_ids[sl], kind="stable")
            ok = np.array_equal(got_ids[sl][order], self.kept)
            ctx.check(ok, f"plain epoch {e} ids differ from the label < 7 rows")
            ctx.check(
                ok and np.array_equal(got_w[sl][order], self.weight[self.kept] * np.float32(2)),
                f"plain epoch {e} transformed weight differs",
            )
        return rec

    def layers(self, traced: list[dict]) -> dict:
        return self.reader_layers(traced, self.row_groups)

    def rates(self, untraced: list[dict]) -> dict:
        return {"read_rows_per_s": _median([r["rows"] / r["read_s"] for r in untraced])}


class QueryMix(_Workload):
    """The registered queries of :data:`MIX` over the committed sf0.01
    testdata: ``QUERIES[q](spark, sf)`` then ``.count()`` per query."""

    def __init__(self, ctx):
        super().__init__(ctx)
        self.sf_dir = os.path.join(ctx.bench_dir, "testdata", "sf0.01")
        self.mix = MIX[:2] if ctx.smoke else MIX

    def _reset(self):
        # outside every timer: drop cached plans and collect the JVM
        # heap so one query's garbage is not collected inside the next
        from petastorm_spark.session import release_persisted

        release_persisted()
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def setup(self):
        """Untimed passes.  The first checks every result against its
        DuckDB oracle and builds the persisted indexes under this run's
        fresh temp dir, so the measured passes price the index read.
        WARM_PASSES plain passes follow, because the passes after the
        checked one still got faster for a few passes (JIT)."""
        import duckdb

        import __spark_entry__ as entry
        from tools.check_correctness import TABLES, canon, values_equal

        oracles = entry.oracle_sql()
        queries = entry.queries()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            self.rows = {}
            for q in self.mix:
                self._reset()
                self.ctx.job_group("warm", q)
                with self.ctx.op(f"query {q}", fatal=False):
                    sdf = queries[q](self.spark, self.sf_dir).toPandas()
                    self.rows[q] = len(sdf)
                    odf = con.execute(oracles[q]).fetchdf()
                    self.ctx.check(
                        _same_result(sdf, odf, canon, values_equal),
                        f"{q}: result differs from its DuckDB oracle",
                    )
        finally:
            con.close()
        for _ in range(WARM_PASSES):
            self.run_pass("warm")

    def run_pass(self, i: int) -> dict:
        from petastorm_spark.queries import QUERIES

        construct, execute, counts = {}, {}, {}
        for q in self.mix:
            self._reset()
            with self.ctx.op(f"query {q}", fatal=False):
                self.ctx.job_group(i, f"{q}.construct")
                t0 = now()
                df = QUERIES[q](self.spark, self.sf_dir)
                t1 = now()
                self.ctx.job_group(i, f"{q}.execute")
                counts[q] = df.count()
                construct[q], execute[q] = t1 - t0, now() - t1
        self._reset()
        for q in self.mix:
            self.ctx.check(
                q in self.rows and counts.get(q) == self.rows[q],
                f"{q}: count {counts.get(q)} != checked result rows {self.rows.get(q)}",
            )
        steps = [(construct[q] + execute[q]) * 1e3 for q in self.mix if q in construct]
        return {
            "pass_s": sum(steps) / 1e3,
            "first_s": steps[0] / 1e3 if steps else 0.0,
            "steps_ms": steps,
            "construct": construct,
            "execute": execute,
        }

    def layers(self, traced: list[dict]) -> dict:
        k = len(traced)
        out = {}
        for q in self.mix:
            out[f"queries.{q}.construct_s"] = sum(r["construct"].get(q, 0.0) for r in traced) / k
            out[f"queries.{q}.execute_s"] = sum(r["execute"].get(q, 0.0) for r in traced) / k
        return out

    def spark_layers(self, groups: dict, traced_ids: list) -> dict:
        k = len(traced_ids)
        out = {}
        for q in self.mix:
            c = [groups.get(f"p{i}:{q}.construct", {}) for i in traced_ids]
            e = [groups.get(f"p{i}:{q}.execute", {}) for i in traced_ids]
            out[f"queries.{q}.eager_jobs"] = sum(g.get("jobs", 0) for g in c) / k
            out[f"queries.{q}.tasks"] = sum(g.get("tasks", 0) for g in c + e) / k
        return out



def _same_result(sdf, odf, canon, values_equal) -> bool:
    """The comparison of ``tools/check_correctness.py``: same columns,
    same row count, and equal values after an order-insensitive sort
    (floats to 1e-9)."""
    if sorted(sdf.columns) != sorted(odf.columns) or len(sdf) != len(odf):
        return False
    for c in sdf.columns:
        s_int = str(sdf[c].dtype).startswith(("int", "uint"))
        o_int = str(odf[c].dtype).startswith(("int", "uint"))
        s_f = str(sdf[c].dtype).startswith("float")
        o_f = str(odf[c].dtype).startswith("float")
        if (s_int and o_f) or (s_f and o_int):
            return False
    a, b = canon(sdf), canon(odf)
    return all(
        values_equal(a.at[r, c], b.at[r, c]) for r in range(len(a)) for c in a.columns
    )


def _median(xs: list[float]) -> float:
    import statistics

    return statistics.median(xs) if xs else 0.0


WORKLOADS = {
    "etl_train_png": EtlTrainPng,
    "batches_plain": BatchesPlain,
    "query_mix": QueryMix,
}


# The end-to-end metric each per-layer metric should move (by name
# prefix; the longest matching prefix wins).
_MOVES = {
    "session.": "setup_s",
    "trace.": None,
    "": "pass_s",
}


def moves(name: str) -> str | None:
    return _MOVES[max((p for p in _MOVES if name.startswith(p)), key=len)]
