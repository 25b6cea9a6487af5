"""Per-layer tracing for the traced (``--trace 1``) benchmark run.

Two sources, both owned by the benchmark rather than the program:

* :class:`Tracer` swaps the module attributes and class methods the
  reader, codec and ETL layers call for timing wrappers while a traced
  pass runs, and restores the originals after it.  Each call becomes a
  span (name, start, end, thread, parent span name) kept in memory.
* :func:`fold_event_log` reads the Spark event log that the launcher
  enabled and folds task metrics per job group.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict


def _table_counts(res):
    return {"rows": len(res), "bytes": res.nbytes}


# (owner module[:class], attribute, span name, counts of the result).
# Module attributes are the names the Reader calls as bound in
# ``petastorm_spark.reader`` (it imports them by name) and the names
# ``materialize_dataset`` looks up in its own module at exit.
TARGETS = [
    ("petastorm_spark.reader", "load_table", "piece.load_table", _table_counts),
    ("petastorm_spark.reader", "decode_col", "piece.decode_col", None),
    ("petastorm_spark.reader", "dnf_mask", "predicates.dnf_mask", None),
    ("petastorm_spark.reader", "apply_transform_pandas", "transform.apply", None),
    ("petastorm_spark.reader:Reader", "_decode_piece", "reader.decode_piece", None),
    ("petastorm_spark.reader:Reader", "_batch_to_vectors", "reader.batch_to_vectors", None),
    ("petastorm_spark.codecs:CompressedImageCodec", "decode", "codecs.decode", None),
    ("petastorm_spark.etl.dataset_metadata", "collect_rowgroup_counts", "etl.collect_rowgroup_counts", None),
    ("petastorm_spark.etl.dataset_metadata", "write_sidecar", "etl.write_sidecar", None),
    ("petastorm_spark.etl.petastorm_compat", "write_petastorm_compat_metadata", "etl.compat_footer", None),
]


def _resolve(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    owner = importlib.import_module(mod)
    return getattr(owner, cls) if cls else owner


class Tracer:
    """Collects spans while installed; ``install``/``uninstall`` bracket
    one traced pass so untraced passes run the program's own code."""

    def __init__(self):
        self.spans: list[tuple] = []  # (name, t0, t1, thread id, parent, counts)
        self._local = threading.local()
        self._saved: list[tuple] = []

    def _wrap(self, fn, name, counts):
        spans, local = self.spans, self._local

        def traced(*args, **kwargs):
            stack = local.__dict__.setdefault("stack", [])
            parent = stack[-1] if stack else None
            stack.append(name)
            t0 = time.perf_counter()
            try:
                res = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
            spans.append(
                (name, t0, t1, threading.get_ident(), parent,
                 counts(res) if counts else None)
            )
            return res

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for path, attr, name, counts in TARGETS:
            owner = _resolve(path)
            fn = owner.__dict__[attr]
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name, counts))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    def take(self) -> list[tuple]:
        """Spans recorded since the last call (one traced pass)."""
        out = list(self.spans)
        del self.spans[: len(out)]
        return out


def span_totals(spans) -> dict:
    """{span name: {"s": summed duration, "n": calls, counts...}}."""
    tot: dict = defaultdict(lambda: defaultdict(float))
    for name, t0, t1, _tid, _parent, counts in spans:
        t = tot[name]
        t["s"] += t1 - t0
        t["n"] += 1
        for k, v in (counts or {}).items():
            t[k] += v
    return tot


def fold_event_log(log_dir: str, prefix: str) -> dict:
    """Fold the Spark event log per job group.

    Returns ``{group: {"jobs", "stages", "tasks", "executor_cpu_s",
    "jvm_gc_s", "shuffle_write_bytes", "spill_bytes"}}`` for every job
    group whose id starts with ``prefix``.  Stages and tasks are
    attributed through the group recorded on the stage's submission.
    """
    groups: dict = defaultdict(lambda: defaultdict(float))
    stage_group: dict = {}
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g and g.startswith(prefix):
                        groups[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g and g.startswith(prefix):
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                        groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if g is None or not tm:
                        continue
                    acc = groups[g]
                    acc["tasks"] += 1
                    acc["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    acc["jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    return groups
