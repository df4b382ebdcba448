"""Layer spans and Spark counters for the traced run.

Spans are recorded only from the benchmark: :func:`install` replaces the
public functions of each layer, at every module of the engine that binds
them, with a wrapper that records a span. The program itself is not
edited. Spans stay in memory and are written out when the run ends.

A span is ``(name, start, end, parent, request)``. Its layer is the part
of ``name`` before the first dot. Self time is a span's duration minus
the part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "golang_db_query_engine_elasticsearch_indexer_spark"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    _ids: itertools.count = field(default_factory=itertools.count)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    enabled: bool = False

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, request: str | None = None) -> Span | None:
        if not self.enabled:
            return None
        st = self._stack()
        parent = st[-1] if st else None
        sp = Span(
            next(self._ids), name, time.perf_counter(),
            parent=parent.sid if parent else None,
            request=request if request is not None else (parent.request if parent else None),
        )
        st.append(sp)
        return sp

    def end(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        self.spans.append(sp)

    def count(self, name: str, value: float = 1.0) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.counters[name] = self.counters.get(name, 0.0) + value

    def wrap(self, fn, name: str, after=None):
        """``fn`` with a span named ``name`` around each call. ``after``,
        when given, is called with the result of each traced call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(sp)
            if after is not None and sp is not None:
                after(out)
            return out

        return traced


def _rebind(original, replacement) -> None:
    """Point every engine module attribute bound to ``original`` at
    ``replacement``."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name.startswith(PKG) or mod_name == "__spark_entry__"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)


def install(tracer: Tracer) -> None:
    """Wrap each layer's public functions for ``tracer``.

    Layers and what is wrapped:

    - ``session``: ``SourceRegistry.attach`` and ``register_sf_dir``
      (counting registrations that missed the per-session memo);
    - ``plans``: ``assert_select_only``;
    - ``gateway``: ``query_df``, ``es_search_df`` and ``SparkSession.sql``;
    - ``es_dsl``: ``compile_search``; ``esql``: ``compile_esql``;
    - ``exec``: ``DataFrame.take``, recording the Catalyst phase times of
      the executed plan under ``catalyst``;
    - ``result``: ``collect_envelope`` and ``QueryResult.to_json``;
    - ``indexer``: ``with_positional_ids`` and ``HttpBulkSink.write``.

    The ``api`` and ``operators`` spans are opened by the benchmark's
    clients around each request and kernel call.
    """
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from golang_db_query_engine_elasticsearch_indexer_spark import (
        indexer,
        plans,
        result,
        session,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark import gateway
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import es_dsl, esql

    orig_register = session.register_sf_dir

    def register(spark_, sf_dir, *a, **kw):
        memo = session._REGISTERED.get(spark_)
        before = memo[1] if memo is not None else None
        sp = tracer.begin("session.register")
        try:
            out = orig_register(spark_, sf_dir, *a, **kw)
        finally:
            tracer.end(sp)
        if sp is not None:
            tracer.count("session.register_calls")
            if out is not before:
                tracer.count("session.register_misses")
        return out

    _rebind(orig_register, register)
    session.SourceRegistry.attach = tracer.wrap(session.SourceRegistry.attach, "session.attach")

    _rebind(plans.assert_select_only, tracer.wrap(plans.assert_select_only, "plans.gate"))
    _rebind(gateway.query_df, tracer.wrap(gateway.query_df, "gateway.query_df"))
    _rebind(gateway.es_search_df, tracer.wrap(gateway.es_search_df, "gateway.es_search_df"))
    SparkSession.sql = tracer.wrap(SparkSession.sql, "gateway.sql")
    _rebind(es_dsl.compile_search, tracer.wrap(es_dsl.compile_search, "es_dsl.compile"))
    _rebind(esql.compile_esql, tracer.wrap(esql.compile_esql, "esql.compile"))

    def take(self, num):
        # Same work as DataFrame.take (limit, then collect), keeping the
        # limited plan so its planning phases can be read afterwards.
        sp = tracer.begin("exec.take")
        try:
            lim = self.limit(num)
            rows = lim.collect()
        finally:
            tracer.end(sp)
        if sp is not None:
            _record_phases(tracer, self, lim)
        return rows

    DataFrame.take = take

    def envelope_after(out):
        tracer.count("result.rows", out.count)
        tracer.count("result.envelopes")

    _rebind(result.collect_envelope,
            tracer.wrap(result.collect_envelope, "result.envelope", envelope_after))
    result.QueryResult.to_json = tracer.wrap(result.QueryResult.to_json, "result.to_json")

    _rebind(indexer.with_positional_ids,
            tracer.wrap(indexer.with_positional_ids, "indexer.positional_ids"))

    def write_after(out):
        tracer.count("indexer.failed", out.num_failed)

    indexer.HttpBulkSink.write = tracer.wrap(indexer.HttpBulkSink.write, "indexer.sink_write",
                                             write_after)


def _phase_ms(qe, phase: str) -> float:
    opt = qe.tracker().phases().get(phase)
    return float(opt.get().durationMs()) if opt.isDefined() else 0.0


def _record_phases(tracer: Tracer, df, lim) -> None:
    """Catalyst phases: parsing and analysis happen when the statement's
    DataFrame is built; optimization and planning on the executed
    (limited) plan."""
    src = df._jdf.queryExecution()
    run = lim._jdf.queryExecution()
    tracer.count("catalyst.analysis_ms",
                 _phase_ms(src, "parsing") + _phase_ms(src, "analysis") + _phase_ms(run, "analysis"))
    tracer.count("catalyst.optimization_ms", _phase_ms(run, "optimization"))
    tracer.count("catalyst.planning_ms", _phase_ms(run, "planning"))
    tracer.count("catalyst.plans")


class JobCounter:
    """Jobs, stages and tasks of one job group, read from Spark's
    ``StatusTracker``. Job groups are thread-local, so each client thread
    tags its own work."""

    def __init__(self, sc):
        self.sc = sc
        self.status = sc.statusTracker()

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def stop(self, group: str) -> tuple[int, int, int]:
        jobs = list(self.status.getJobIdsForGroup(group))
        stages = tasks = 0
        for j in jobs:
            info = self.status.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                st = self.status.getStageInfo(s)
                tasks += st.numTasks if st is not None else 0
        return len(jobs), stages, tasks


def write_spans(spans: list[Span], path) -> None:
    """One JSON object per span: name, start and end (seconds on the
    run's monotonic clock), id, parent id and request id."""
    with open(path, "w") as f:
        for sp in spans:
            f.write(json.dumps({"id": sp.sid, "name": sp.name, "start": sp.start, "end": sp.end,
                                "parent": sp.parent, "request": sp.request}) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_table(spans: list[Span]) -> dict[str, dict]:
    """Per span name: calls, total and self milliseconds, and the median
    milliseconds per call of each."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    rows: dict[str, dict] = {}
    for sp in spans:
        dur = sp.end - sp.start
        kids = children.get(sp.sid, [])
        self_t = dur - _covered([(max(k.start, sp.start), min(k.end, sp.end)) for k in kids])
        r = rows.setdefault(sp.name, {"calls": 0, "total": [], "self": []})
        r["calls"] += 1
        r["total"].append(dur * 1000)
        r["self"].append(self_t * 1000)
    out = {}
    for name, r in rows.items():
        out[name] = {
            "calls": r["calls"],
            "total_ms": sum(r["total"]),
            "self_ms": sum(r["self"]),
            "p50_ms": statistics.median(r["total"]),
            "self_p50_ms": statistics.median(r["self"]),
        }
    return out


def coverage(spans: list[Span], root_prefix: str = "api.") -> float:
    """Share of root-span wall time covered by their child layer spans."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    total = covered = 0.0
    for sp in spans:
        if sp.parent is None and sp.name.startswith(root_prefix):
            total += sp.end - sp.start
            covered += _covered([(k.start, k.end) for k in children.get(sp.sid, [])])
    return covered / total if total > 0 else 0.0
