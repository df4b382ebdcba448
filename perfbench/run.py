"""Serving-and-indexing benchmark.

Usage, from the repository root::

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 18 --trace 0

One run builds the engine's SparkSession, the Flask app from
``api.create_app`` (driven through its in-process test client) and an
``indexer.HttpBulkSink`` that posts ``_bulk`` over loopback to the ES stub
of ``tests/es_stub.py``, which runs in its own process. Set-up ends when
every route has been warmed up (``setup_s``). The timed window then
has three rounds, each of reads for a fifth of ``--seconds`` and then
two saves, which take about the rest of the time on a quiet machine.
Reads and saves each come from one closed-loop client and do not
overlap. Spark's local master gets two cores, so on a four-core machine
the stub, the Python driver and the machine's other work do not take
them from it.
After the window every operation is checked against a DuckDB oracle
(``perfbench/check.py``). The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. Lines
before it start with ``#``: set-up times, the workload's properties
(seed, operation counts, per-class read medians, save times, repeat
share, result sizes, memo hit ratio, error rate, load average, CPUs,
cores used and CPU steal during the window, stub counters), any failed
operation, and with ``--trace 1`` the span table.

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace
1`` the run measures an untraced window of reads only, half as long,
installs the layer spans (``perfbench/spans.py``), measures a traced
window of the same length with its saves, then runs the registry kernels
once each, with a bulk index of each output; the metrics are the
per-layer ones and the tracing overhead. Kernels run only in the traced run: warming them up costs
about 20 s, which the untraced runs cannot afford.

Inputs: the tables are generated once, from a fixed data seed, under
``.bench_build/perfbench`` in the checkout; ``--seed`` varies the
requests only. Everything the run writes stays under that directory.

Not measured here: concurrent requests to one session on different
sources. They race on the session's shared temp views and get wrong
answers, a defect for a correctness test, not a cost to compare across
commits. The reader is the only client of its session; the writer and
the kernels use a child session of their own.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
PKG = "golang_db_query_engine_elasticsearch_indexer_spark"
WORKLOADS = ("serve_small", "serve_wide")
READ_ROUTES = ("query", "search", "msearch", "esql")
SOURCES = {"sf0.01": 0.01, "sf0.1": 0.1, "kernels": 0.001}
#: Share of ``--seconds`` given to reads; the saves take about the rest.
READ_SHARE = 0.6
#: Rounds of reads-then-saves in one window.
ROUNDS = 3
#: Saves in each round. A fixed count, not a time: a save takes two to
#: three seconds, so a time limit would give three saves on a busy
#: machine and six on a quiet one, and the median would jump between them.
SAVES_PER_ROUND = 2
#: Most cores Spark's local master gets.
SPARK_CORES = 2


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine from any working directory."""
    for d in ("spark-local", "tmp", "warehouse"):
        (BUILD / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(BUILD / "tmp")
    # Every JVM, Spark's launcher too, would otherwise write its
    # performance data under /tmp, outside the checkout.
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java_opts} -XX:-UsePerfData".strip()
    os.environ["SPARK_LOCAL_DIRS"] = str(BUILD / "spark-local")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # Spark gets at most two cores: on four, the stub, the Python driver,
    # the collector and the machine's other work then still have the
    # rest, and a run's figures depend less on what else is running.
    cpus = str(min(SPARK_CORES, len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))


def _spark_conf() -> dict[str, str]:
    tmp = BUILD / "tmp"
    # A heap of fixed size keeps the JVM's resident set from depending on
    # when the collector chose to grow it.
    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(BUILD / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem} "
            "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"
        ),
    }


# --------------------------------------------------------------------------
# ES stub in its own process


class Stub:
    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "stub_server.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT,
        )
        self.lock = threading.Lock()
        self.url = json.loads(self.proc.stdout.readline())["url"]

    def call(self, **msg) -> dict:
        with self.lock:
            self.proc.stdin.write(json.dumps(msg) + "\n")
            self.proc.stdin.flush()
            return json.loads(self.proc.stdout.readline())

    def close(self) -> None:
        try:
            self.proc.stdin.write(json.dumps({"cmd": "quit"}) + "\n")
            self.proc.stdin.close()
        except (BrokenPipeError, ValueError):
            pass
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


# --------------------------------------------------------------------------
# Operations


@dataclass
class Record:
    op: object
    client: str
    t0: float
    latency: float
    status: int
    body: bytes = b""
    docs: int = 0  # documents the stub stored (save, kernel)
    ids_ok: bool = True
    rows: list | None = None  # kernel output rows
    counts: dict = field(default_factory=dict)  # traced: jobs, stages, tasks, bulk


class Engine:
    """The system under test: session, apps, sink and stub."""

    def __init__(self, stub: Stub, dirs: dict[str, str], tracer):
        from golang_db_query_engine_elasticsearch_indexer_spark import indexer
        from golang_db_query_engine_elasticsearch_indexer_spark.api import create_app
        from golang_db_query_engine_elasticsearch_indexer_spark.session import (
            SourceRegistry,
            build_session,
        )

        self.stub = stub
        self.dirs = dirs
        self.tracer = tracer
        self.spark = build_session(app_name="perfbench", extra_conf=_spark_conf())
        self.kspark = self.spark.newSession()
        reg = SourceRegistry()
        for name in ("sf0.01", "sf0.1"):
            reg.register_source("parquet", name, dirs[name])
        self.sink = indexer.HttpBulkSink(stub.url)
        no_env = str(BUILD / "no.env")
        self.reader = create_app(spark=self.spark, registry=reg, sink=self.sink, env={},
                                 dotenv_path=no_env).test_client()
        self.writer = create_app(spark=self.kspark, registry=reg, sink=self.sink, env={},
                                 dotenv_path=no_env).test_client()
        import __spark_entry__

        entries = __spark_entry__.queries()
        from workloads import KERNELS

        self.kernels = {k: entries[k] for k in KERNELS}
        self.jobs = None
        self.bulk_seen = 0  # stub _bulk counter at the last check
        self.seq = 0
        self._seq_lock = threading.Lock()

    def close(self) -> None:
        """Stop Spark, then its JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def _index_name(self) -> str:
        with self._seq_lock:
            self.seq += 1
            return f"bench-{self.seq}"

    def check_index(self, index: str) -> dict:
        """Stub-side check of one index; ``bulk`` is the number of
        ``_bulk`` requests since the previous check (only the writer and
        the curate phase write, one at a time)."""
        chk = self.stub.call(cmd="check", index=index)
        chk["bulk"] = chk["bulk_requests"] - self.bulk_seen
        self.bulk_seen = chk["bulk_requests"]
        return chk

    def request(self, client, op):
        q = {"dbDriver": "parquet", "dbName": op.db}
        if op.route == "query":
            return client.get("/query/", query_string={**q, "query": op.payload})
        if op.route == "search":
            index, body = op.payload
            return client.post(f"/{index}/_search", query_string=q, data=json.dumps(body),
                               content_type="application/json")
        if op.route == "msearch":
            lines = []
            for index, body in op.payload:
                lines += [json.dumps({"index": index}), json.dumps(body)]
            return client.post("/_msearch", query_string=q, data="\n".join(lines) + "\n",
                               content_type="application/x-ndjson")
        if op.route == "esql":
            return client.post("/_query", query_string=q, data=json.dumps({"query": op.payload}),
                               content_type="application/json")
        raise ValueError(op.route)

    def _job_group(self) -> str | None:
        """Tag the calling thread's Spark jobs with a fresh group when
        jobs are being counted."""
        if self.jobs is None:
            return None
        with self._seq_lock:
            self.seq += 1
            group = f"op-{self.seq}"
        self.jobs.start(group)
        return group

    def _job_counts(self, group: str | None) -> dict:
        if group is None:
            return {}
        jobs, stages, tasks = self.jobs.stop(group)
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def run(self, op, client_name: str) -> Record:
        if op.route == "kernel":
            return self._kernel(op, client_name)
        tr = self.tracer
        group = self._job_group()
        if op.route == "save":
            index = self._index_name()
            t0 = time.perf_counter()
            sp = tr.begin("api.save", request=index)
            try:
                resp = self.writer.post("/elastic/save/", data={
                    "dbDriver": "parquet", "dbName": op.db, "query": op.payload, "indexName": index,
                })
            finally:
                tr.end(sp)
            lat = time.perf_counter() - t0
            chk = self.check_index(index)
            rec = Record(op, client_name, t0, lat, resp.status_code, resp.data,
                         docs=chk["count"], ids_ok=chk["ids_ok"], counts={"bulk": chk["bulk"]})
        else:
            t0 = time.perf_counter()
            sp = tr.begin(f"api.{op.route}", request=f"{client_name}-{t0}")
            try:
                resp = self.request(self.reader, op)
            finally:
                tr.end(sp)
            rec = Record(op, client_name, t0, time.perf_counter() - t0, resp.status_code,
                         resp.data)
        rec.counts.update(self._job_counts(group))
        return rec

    def _kernel(self, op, client_name: str) -> Record:
        from golang_db_query_engine_elasticsearch_indexer_spark import indexer

        tr = self.tracer
        index = self._index_name()
        t0 = time.perf_counter()
        root = tr.begin("client.kernel", request=index)
        try:
            group = self._job_group()
            sp = tr.begin(f"operators.{op.payload}")
            try:
                df = self.kernels[op.payload](self.kspark, self.dirs["kernels"]).persist()
                rows = [tuple(r) for r in df.collect()]
                cols = list(df.columns)
            finally:
                tr.end(sp)
            counts = self._job_counts(group)
            held: list = []
            try:
                with_ids = indexer.with_positional_ids(df, release=held)
                stats = self.sink.write(self.kspark, with_ids, index)
            finally:
                for h in held:
                    h.unpersist()
                df.unpersist()
        finally:
            tr.end(root)
        lat = time.perf_counter() - t0
        chk = self.check_index(index)
        ok = stats.num_failed == 0 and stats.num_docs == len(rows)
        return Record(op, client_name, t0, lat, 200 if ok else 500, b"",
                      docs=chk["count"], ids_ok=chk["ids_ok"], rows=(cols, rows),
                      counts={**counts, "bulk": chk["bulk"]})


def _closed_loop(engine, stream, seconds: float, min_ops: int, name: str,
                 batch: int = 1) -> tuple[list, float, float]:
    """One closed-loop client: the next request goes out when the previous
    one has returned, until ``seconds`` have passed, at least ``min_ops``
    requests were sent and their number is a multiple of ``batch``.
    Returns the records, the start time and the time the last request
    returned."""
    out: list = []
    start = time.perf_counter()
    while time.perf_counter() < start + seconds or len(out) < min_ops or len(out) % batch:
        out.append(engine.run(next(stream), name))
    return out, start, time.perf_counter()


def _window(engine, wl, seconds: float, full: bool = False,
            saves: bool = True) -> tuple[list, list, float]:
    """ROUNDS rounds of reads for ``READ_SHARE`` of ``seconds``, each
    followed by ``SAVES_PER_ROUND`` saves unless ``saves`` is false. The
    phases do not overlap, so neither slows the other's figures, and each
    is spread over the whole window, so a burst of load from outside
    touches only part of it. With ``full`` the reads go on until every
    route and source came up. Returns the reads, the saves and the
    seconds spent reading."""
    reader: list = []
    writer: list = []
    read_s = 0.0
    for i in range(ROUNDS):
        last = i == ROUNDS - 1
        out, start, end = _closed_loop(engine, wl.reader, seconds * READ_SHARE / ROUNDS,
                                       wl.cycle - len(reader) if full and last else 0, "reader",
                                       wl.read_batch)
        reader += out
        read_s += end - start
        if saves:
            writer += [engine.run(next(wl.writer), "writer") for _ in range(SAVES_PER_ROUND)]
    return reader, writer, read_s


def _warm(engine, wl, kernels) -> dict[str, float]:
    """Send the warm-up requests: the writer's, then one pass over
    ``kernels``, beside the reader's. The reader sends its warm-up
    requests one source at a time, all requests of a source at once,
    then more reads until the writer is done. Returns seconds per client."""
    errors: list = []
    took: dict[str, float] = {}
    writer_done = threading.Event()

    def one(op, name):
        try:
            rec = engine.run(op, name)
        except Exception as e:  # reported below; the run then fails
            errors.append(f"warm-up {op.route}: {type(e).__name__}: {e}")
            return
        if rec.status >= 300:
            errors.append(f"warm-up {op.route} returned {rec.status}: {rec.body[:300]!r}")

    def parallel(ops, name):
        threads = [threading.Thread(target=one, args=(op, name)) for op in ops]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def reader():
        t0 = time.perf_counter()
        for db in dict.fromkeys(op.db for op in wl.warmup):
            parallel([op for op in wl.warmup if op.db == db], "reader")
        took["reader"] = time.perf_counter() - t0
        while not writer_done.is_set() and not errors:
            one(next(wl.more_warmup), "reader")

    def writer():
        t0 = time.perf_counter()
        try:
            for op in [*wl.writer_warmup, *kernels]:
                one(op, "writer")
        finally:
            writer_done.set()
        took["writer"] = time.perf_counter() - t0

    threads = [threading.Thread(target=reader), threading.Thread(target=writer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise RuntimeError("; ".join(errors))
    return took


# --------------------------------------------------------------------------
# Metrics


def _pct(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


def _cpu_times() -> tuple[int, int]:
    """Total and stolen CPU time of the machine, in clock ticks."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


def _proc_cpu_s(pids) -> float:
    """User plus system CPU seconds of the processes ``pids``."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def _rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def end_to_end(reader, writer, read_s, ok, setup_s, rss_mb) -> dict:
    lat = [r.latency * 1000 for r in reader]

    def p50(routes):
        return statistics.median(r.latency * 1000 for r in reader if r.op.route in routes)

    saves = [r for r in writer if r.op.route == "save"]
    n_ok = sum(ok[id(r)] for r in reader + writer)
    return {
        "setup_s": (setup_s, "s"),
        "throughput_rps": (sum(ok[id(r)] for r in reader) / read_s, "1/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_p95_ms": (_pct(lat, 95), "ms"),
        "query_p50_ms": (p50(("query",)), "ms"),
        "search_p50_ms": (p50(("search", "msearch")), "ms"),
        "esql_p50_ms": (p50(("esql",)), "ms"),
        "save_p50_s": (statistics.median(r.latency for r in saves), "s"),
        "index_docs_per_s": (statistics.median(r.docs / r.latency for r in saves), "1/s"),
        "correct_share": (n_ok / len(reader + writer), "ratio"),
        "rss_peak_mb": (rss_mb, "MB"),
    }


def _repeat_share(records) -> float:
    seen: set = set()
    repeats = 0
    for r in sorted(records, key=lambda r: r.t0):
        repeats += r.op.key in seen
        seen.add(r.op.key)
    return repeats / max(1, len(records))


def workload_props(wl, reader, writer, ok) -> dict:
    rows = [json.loads(r.body).get("count", 0) for r in reader
            if r.op.route in ("query", "search") and r.status == 200]
    sizes = [len(r.body) for r in reader]
    lat = [r.latency * 1000 for r in reader]
    p95 = _pct(lat, 95)
    dbs = [r.op.db for r in sorted(reader, key=lambda r: r.t0)]
    by_route: dict[str, int] = {}
    for r in reader + writer:
        by_route[r.op.route] = by_route.get(r.op.route, 0) + 1
    by_kind: dict[str, list[float]] = {}
    for r in reader:
        by_kind.setdefault(r.op.kind, []).append(r.latency * 1000)
    return {
        "workload": wl.name,
        "seed": wl.seed,
        "ops": by_route,
        "read_samples": len(lat),
        "read_samples_beyond_p95": sum(1 for x in lat if x > p95),
        "save_s": [round(r.latency, 3) for r in writer if r.op.route == "save"],
        # body class: [reads, p50 ms]
        "class_p50_ms": {k: [len(v), round(statistics.median(v), 1)]
                         for k, v in sorted(by_kind.items())},
        "repeat_share": round(_repeat_share(reader + writer), 4),
        "result_rows_p50": statistics.median(rows) if rows else 0,
        "result_rows_max": max(rows, default=0),
        "response_bytes_p50": statistics.median(sizes) if sizes else 0,
        "response_bytes_max": max(sizes, default=0),
        # the reader's source registration is a memo hit when its
        # dbName equals the previous request's
        "memo_hit_ratio": round(sum(a == b for a, b in zip(dbs, dbs[1:])) / max(1, len(dbs) - 1), 4),
        "error_rate": round(1 - sum(ok.values()) / max(1, len(ok)), 4),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def per_layer(tracer, reader, writer, kernels, untraced_reader) -> tuple[dict, dict]:
    import spans as tr_mod
    from workloads import KERNELS

    table = tr_mod.span_table(tracer.spans)
    c = tracer.counters

    def med(name, key="p50_ms"):
        return table[name][key] if name in table else 0.0

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    saves = [r for r in writer if r.op.route == "save"]
    calls = c.get("session.register_calls", 0.0)
    misses = c.get("session.register_misses", 0.0)
    bulk = sum(r.counts.get("bulk", 0) for r in saves)
    docs = sum(r.docs for r in saves)
    api_self = [row["self_ms"] / row["calls"] for name, row in table.items()
                if name.startswith("api.")]
    plans = max(1.0, c.get("catalyst.plans", 0.0))
    traced = statistics.median(r.latency for r in reader)
    untraced = statistics.median(r.latency for r in untraced_reader)
    m = {
        "api.self_ms": (mean(api_self), "ms"),
        "api.response_bytes": (statistics.median(len(r.body) for r in reader), "bytes"),
        "session.attach_ms": (med("session.attach"), "ms"),
        "session.register_misses": (misses, "count"),
        "session.memo_hit_ratio": (1 - misses / calls if calls else 1.0, "ratio"),
        "plans.gate_ms": (med("plans.gate"), "ms"),
        "gateway.sql_ms": (med("gateway.sql"), "ms"),
        "es_dsl.compile_ms": (med("es_dsl.compile"), "ms"),
        "esql.compile_ms": (med("esql.compile"), "ms"),
        "catalyst.analysis_ms": (c.get("catalyst.analysis_ms", 0.0) / plans, "ms"),
        "catalyst.optimization_ms": (c.get("catalyst.optimization_ms", 0.0) / plans, "ms"),
        "catalyst.planning_ms": (c.get("catalyst.planning_ms", 0.0) / plans, "ms"),
        "exec.take_ms": (med("exec.take"), "ms"),
        "exec.jobs": (mean(r.counts.get("jobs", 0) for r in reader), "count"),
        "exec.stages": (mean(r.counts.get("stages", 0) for r in reader), "count"),
        "exec.tasks": (mean(r.counts.get("tasks", 0) for r in reader), "count"),
        "result.envelope_ms": (med("result.envelope", "self_p50_ms"), "ms"),
        "result.to_json_ms": (med("result.to_json"), "ms"),
        "result.rows": (c.get("result.rows", 0.0) / max(1.0, c.get("result.envelopes", 0.0)), "count"),
        "indexer.positional_ids_ms": (med("indexer.positional_ids"), "ms"),
        "indexer.sink_write_ms": (med("indexer.sink_write"), "ms"),
        "indexer.docs": (float(docs), "count"),
        "indexer.failed": (c.get("indexer.failed", 0.0), "count"),
        "indexer.bulk_requests": (float(bulk), "count"),
        "indexer.docs_per_bulk": (docs / bulk if bulk else 0.0, "count"),
        "indexer.jobs": (mean(r.counts.get("jobs", 0) for r in saves), "count"),
        "operators.pass_s": (sum(r.latency for r in kernels), "s"),
    }
    for k in KERNELS:
        mine = [r for r in kernels if r.op.payload == k]
        m[f"operators.{k}_ms"] = (med(f"operators.{k}"), "ms")
        m[f"operators.{k}.jobs"] = (mean(r.counts.get("jobs", 0) for r in mine), "count")
    m["workload.repeat_share"] = (_repeat_share(reader + writer), "ratio")
    m["trace.coverage"] = (tr_mod.coverage(tracer.spans), "ratio")
    m["trace.overhead_ratio"] = (traced / untraced, "ratio")
    return m, table


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # On SIGTERM, leave through the ``finally`` blocks, which stop Spark's
    # JVM and the stub and wait until both have exited.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in (ROOT / PKG / "api" / "__init__.py", ROOT / "tests" / "es_stub.py",
                 ROOT / "__spark_entry__.py"):
        if not need.is_file():
            _fail(f"{need.relative_to(ROOT)} is missing; run from the repository root")
    _prepare_env()

    import check
    import datagen
    import spans as tr_mod
    import workloads

    load_start = os.getloadavg()
    dirs = {name: datagen.ensure(str(BUILD / "data"), sf) for name, sf in SOURCES.items()}
    wl = workloads.make(args.workload, args.seed)
    kernel_oracle = {}
    if args.trace:
        kernel_oracle = check.kernel_oracles(dirs["kernels"], str(BUILD / "oracle"),
                                             workloads.KERNELS)

    tracer = tr_mod.Tracer()
    stub = Stub()
    engine = None
    kernels: list = []
    try:
        t0 = time.perf_counter()
        engine = Engine(stub, dirs, tracer)
        session_s = time.perf_counter() - t0
        # Kernels run only in the traced run, after its windows.
        kernel_ops = workloads.kernel_pass(args.seed) if args.trace else []
        warm = _warm(engine, wl, kernel_ops)
        setup_s = time.perf_counter() - t0
        print("# setup " + json.dumps({"session_s": round(session_s, 3),
                                       **{f"warm_{k}_s": round(v, 3) for k, v in warm.items()}}))
        cpu_start = _cpu_times()
        pids = ("self", engine.spark._jvm.java.lang.ProcessHandle.current().pid())
        proc_start = _proc_cpu_s(pids)
        if args.trace:
            # Half the time untraced, half traced, each window on fresh
            # streams of the same shape: the per-layer metrics come from
            # the traced window, the overhead from the reads of the pair.
            untraced, _, _ = _window(engine, wl, args.seconds / 2, full=True, saves=False)
            tr_mod.install(tracer)
            engine.jobs = tr_mod.JobCounter(engine.spark.sparkContext)
            tracer.enabled = True
            wl = workloads.make(args.workload, args.seed, window=1)
            reader, writer, read_s = _window(engine, wl, args.seconds / 2, full=True)
            kernels = [engine.run(op, "curate") for op in kernel_ops]
            tracer.enabled = False
        else:
            reader, writer, read_s = _window(engine, wl, args.seconds)
        cpu_end = _cpu_times()
        proc_cpu_s = _proc_cpu_s(pids) - proc_start
        window_s = time.perf_counter() - t0 - setup_s
        rss_mb = sum(_rss_mb(pid) for pid in pids)
        stub_stats = stub.call(cmd="stats")
    finally:
        if engine is not None:
            engine.close()
        stub.close()

    checked = reader + writer + kernels
    if args.trace:
        checked += untraced
    ok, failures = check.verify(checked, dirs, kernel_oracle)
    load_end = os.getloadavg()
    props = workload_props(wl, reader, writer, ok)
    props["loadavg_start"] = [round(x, 2) for x in load_start]
    props["loadavg_end"] = [round(x, 2) for x in load_end]
    props["stub"] = stub_stats
    props["window_s"] = round(window_s, 3)
    # cores the driver process and its JVM kept busy during the windows
    props["window_cores"] = round(proc_cpu_s / window_s, 3)
    # CPU time the hypervisor gave to other machines during the windows
    props["cpu_steal_share"] = round(
        (cpu_end[1] - cpu_start[1]) / max(1, cpu_end[0] - cpu_start[0]), 4)
    if not args.trace:
        metrics = end_to_end(reader, writer, read_s, ok, setup_s, rss_mb)
        props["end_to_end"] = {k: round(v, 4) for k, (v, _) in metrics.items()}
    print("# workload " + json.dumps(props))
    for f in failures:
        print("# FAILED " + f)
    if args.trace:
        metrics, table = per_layer(tracer, reader, writer, kernels, untraced)
        span_file = BUILD / f"spans-{args.workload}-{args.seed}.jsonl"
        tr_mod.write_spans(tracer.spans, span_file)
        print(f"# spans written to {span_file.relative_to(ROOT)}")
        print("# span                           calls   total_ms    self_ms  p50_ms self_p50_ms")
        for name in sorted(table):
            row = table[name]
            print(f"# {name:30s} {row['calls']:5d} {row['total_ms']:10.1f} {row['self_ms']:10.1f} "
                  f"{row['p50_ms']:7.1f} {row['self_p50_ms']:7.1f}")
    n_failed = sum(1 for v in ok.values() if not v)
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": len(ok),
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
