"""Spans around the engine's public functions, recorded from outside.

:class:`Tracer` replaces each traced function with a wrapper that, while
tracing is enabled, appends a span ``[name, start, end, parent, op]`` to an
in-memory list.  Wrappers are installed only in a traced run and removed
before the run ends; spans are written out once, at the end.  Self time is
a span's duration minus the durations of its child spans (one client
thread, so children never overlap).
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from datetime import date, datetime
from typing import Any, Callable, Optional

from pyspark.rdd import RDD
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

from dagster_delta_spark import handler, io_manager, tablelog
from dagster_delta_spark.table import DeltaSparkTable

TABLE_METHODS = ("write", "merge", "read", "pruned_files", "partition_stats",
                 "snapshot", "schema", "version", "exists")
TABLELOG_FUNCTIONS = ("latest_version", "load_snapshot", "read_version_actions",
                      "commit", "write_checkpoint", "table_exists")
CONFLICTS = (tablelog.VersionConflictError, tablelog.ConcurrentAppendError,
             tablelog.ConcurrentDeleteError)


def _as_date(v: Any) -> date:
    if isinstance(v, datetime):
        return v.date()
    if isinstance(v, date):
        return v
    return date.fromisoformat(str(v)[:10])


def _conjunct_holds(pv: str, op: str, value: Any) -> bool:
    d = _as_date(pv)
    if op == "in":
        return d in {_as_date(x) for x in value}
    v = _as_date(value)
    return {"=": d == v, ">=": d >= v, ">": d > v, "<": d < v,
            "<=": d <= v}[op]


def in_slice(partition_values: dict[str, Optional[str]], dnf) -> bool:
    """Whether a file's partition values satisfy every conjunct of
    ``dnf`` that names a partition column (date-valued here)."""
    return all(_conjunct_holds(partition_values[col], op, value)
               for col, op, value in dnf
               if partition_values.get(col) is not None)


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self.enabled = False
        self.op: Optional[int] = None
        self.op_kind: dict[int, str] = {}
        self.op_phase: dict[int, str] = {}
        # per-op observations made at the boundaries: name -> values
        self.notes: dict[int, dict[str, list[float]]] = defaultdict(
            lambda: defaultdict(list))
        self._stack: list[int] = []
        self._undo: list[tuple[Any, str, Any]] = []

    # -- installing wrappers ------------------------------------------------

    def _wrap(self, owner: Any, attr: str, name: str,
              observe: Optional[Callable] = None,
              on_error: Optional[Callable] = None) -> None:
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = len(tracer.spans)
            parent = tracer._stack[-1] if tracer._stack else None
            tracer.spans.append([name, time.perf_counter(), None, parent, tracer.op])
            tracer._stack.append(idx)
            try:
                result = fn(*args, **kwargs)
            except Exception as exc:
                if on_error is not None:
                    on_error(exc)
                raise
            finally:
                tracer._stack.pop()
                tracer.spans[idx][2] = time.perf_counter()
            if observe is not None:
                observe(args, result)
            return result

        traced.__wrapped__ = fn
        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def note(self, key: str, value: float) -> None:
        if self.op is not None:
            self.notes[self.op][key].append(value)

    def install(self) -> None:
        iom = io_manager.DeltaSparkIOManager
        self._wrap(iom, "handle_output", "io_manager.handle_output")
        self._wrap(iom, "load_input", "io_manager.load_input")
        self._wrap(io_manager, "partition_dimensions_to_dnf",
                   "plans.partition_dimensions_to_dnf")
        for cls in vars(handler).values():
            if isinstance(cls, type) and issubclass(cls, handler.SparkTypeHandler):
                for attr in ("to_spark", "from_spark"):
                    if attr in cls.__dict__:
                        self._wrap(cls, attr, f"handler.{attr}")
        for attr in TABLE_METHODS:
            observe = self._observe_pruning if attr == "pruned_files" else None
            self._wrap(DeltaSparkTable, attr, f"table.{attr}", observe)
        for attr in TABLELOG_FUNCTIONS:
            on_error = self._count_conflict if attr == "commit" else None
            self._wrap(tablelog, attr, f"tablelog.{attr}", on_error=on_error)
        self._wrap(DataFrameWriter, "parquet", "spark.write_parquet")
        for attr in ("collect", "count", "toPandas", "toArrow"):
            self._wrap(DataFrame, attr, "spark.action")
        self._wrap(RDD, "collect", "spark.action")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    def _observe_pruning(self, args, files) -> None:
        dnf = args[2] if len(args) > 2 else None
        if dnf and files:
            inside = sum(in_slice(f.partition_values, dnf) for f in files)
            self.note("table.pruned_files.precision", inside / len(files))

    def _count_conflict(self, exc: Exception) -> None:
        if isinstance(exc, CONFLICTS):
            self.note("tablelog.commit.conflicts", 1)

    # -- ops ----------------------------------------------------------------

    def begin(self, op: int, kind: str, phase: str, traced: bool) -> None:
        """Start op ``op``; only traced ops record spans and count in
        :func:`layer_metrics`."""
        self.op = op
        self.enabled = traced
        if traced:
            self.op_kind[op] = kind
            self.op_phase[op] = phase

    def end(self) -> None:
        self.op = None
        self.enabled = False

    # -- results ------------------------------------------------------------

    def per_op(self) -> dict[int, dict[str, dict[str, float]]]:
        """op -> span name -> {"self": s, "total": s, "calls": n}.
        ``total`` counts only the outermost span of a name, so nested
        calls of one function are not added twice."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _op in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[int, dict[str, dict[str, float]]] = defaultdict(
            lambda: defaultdict(lambda: {"self": 0.0, "total": 0.0, "calls": 0}))
        for i, (name, start, end, parent, op) in enumerate(self.spans):
            if op is None:
                continue
            rec = out[op][name]
            rec["self"] += (end - start) - child[i]
            rec["calls"] += 1
            p = parent
            while p is not None and self.spans[p][0] != name:
                p = self.spans[p][3]
            if p is None:
                rec["total"] += end - start
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "op": op,
                                    "kind": self.op_kind.get(op)}) + "\n")


# figures come from the timed ops; a layer none of them reached is
# reported from the set-up ops (warm-up and fixture) instead
PHASE_PREFERENCE = (("timed",), ("setup", "warmup"))


def layer_metrics(tracer: Tracer, names: list[tuple[str, str, str]]
                  ) -> dict[str, float]:
    """Per-layer figures for ``names`` = [(metric, span, field)], where
    ``field`` is ``self``, ``total`` or ``calls``.  Times are medians over
    the ops that reached the span; calls are means over all ops of the
    phase (see PHASE_PREFERENCE)."""
    per_op = tracer.per_op()
    out: dict[str, float] = {}
    for metric, span, fld in names:
        value = 0.0
        for phase in PHASE_PREFERENCE:
            ops = [op for op, ph in tracer.op_phase.items() if ph in phase]
            hits = [per_op[op][span][fld] for op in ops
                    if span in per_op.get(op, {})]
            if not hits:
                continue
            value = (sum(hits) / len(ops) if fld == "calls"
                     else statistics.median(hits))
            break
        out[metric] = value
    return out


def noted(tracer: Tracer, key: str, mean: bool = True) -> float:
    """Mean (or total per op) of a boundary observation (see
    PHASE_PREFERENCE)."""
    for phase in PHASE_PREFERENCE:
        ops = [op for op, ph in tracer.op_phase.items() if ph in phase]
        vals = [v for op in ops for v in tracer.notes.get(op, {}).get(key, [])]
        if vals:
            return sum(vals) / len(vals) if mean else sum(vals) / len(ops)
    return 0.0
