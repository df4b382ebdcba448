"""Seeded request mixes.

Each workload has one closed-loop reader, which sends read requests to
the app, and one writer, which sends ``POST /elastic/save/`` through a
second app on a child session, so its source registrations never swap
the reader's temp views. One reader, not two: two readers on four cores
make each request's latency depend on what the other one is running.

- ``serve_small``: the reader draws from a pool of 48 distinct
  small-result reads on sf0.1: a fixed cycle of body classes, and within
  a class a Zipf-skewed choice, so most requests repeat an earlier body.
  The seed picks the literals and which bodies are hot. Saves repeat
  from a pool of three statements.
- ``serve_wide``: the reader sends unique bodies (seeded literals) with
  2k-10k-row results, alternating ``dbName`` between sf0.01 and sf0.1
  on every request, so the session re-registers its source each time.
  Saves are unique statements, all on sf0.1 as in ``serve_small``, so
  the writer's session keeps its source and a save costs the same in
  both workloads.

Every save indexes about 10k documents. The registry kernels of
:data:`KERNELS` run, in a seeded order, only in the traced run (see
``run.py``).
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field, replace

#: Registry kernels of the traced run's curate phase.
KERNELS = (
    "dedup_minhash_lsh",
    "graph_copurchase_hops",
    "join_bloom_prefilter",
    "pipeline_curate_corpus",
    "search_bm25",
    "stream_docs_incremental_dedup",
)

_TEXT_WORDS = (
    "table scan fast join filter window stream vector query batch merge hash "
    "sort order group value key data customer spark"
).split()
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "fr", "es", "zh", "de")


@dataclass(frozen=True)
class Op:
    """One request. ``key`` identifies the body for repeat accounting;
    ``route`` is one of query, search, msearch, esql, save, kernel."""

    route: str
    key: str
    db: str
    payload: object = None
    kind: str = ""  # body class, for per-class figures


@dataclass
class Workload:
    name: str
    seed: int
    reader: object  # iterator of Op
    writer: object  # iterator of Op
    cycle: int = 1  # reads in which every route and source comes up
    read_batch: int = 1  # a read phase ends after a multiple of this many reads
    warmup: list[Op] = field(default_factory=list)
    writer_warmup: list[Op] = field(default_factory=list)
    more_warmup: object = None  # iterator of Op: reads while the writer warms up


def _date(base: dt.date, days: int) -> str:
    return (base + dt.timedelta(days=days)).isoformat()


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.sample(_TEXT_WORDS, n))


def _sql(sql: str, db: str) -> Op:
    return Op("query", f"query:{db}:{sql}", db, sql)


def _search(index: str, body: dict, db: str) -> Op:
    return Op("search", f"search:{db}:{index}:{json.dumps(body, sort_keys=True)}", db,
              (index, body))


def _msearch(pairs: list[tuple[str, dict]], db: str) -> Op:
    return Op("msearch", f"msearch:{db}:{json.dumps(pairs, sort_keys=True)}", db, pairs)


def _esql(q: str, db: str) -> Op:
    return Op("esql", f"esql:{db}:{q}", db, q)


def _save(sql: str, db: str) -> Op:
    return Op("save", f"save:{db}:{sql}", db, sql)


def _bool_body(rng: random.Random) -> dict:
    lo = rng.randrange(40, 300, 10)
    return {
        "query": {"bool": {"filter": [
            {"term": {"lang": rng.choice(_LANGS)}},
            {"range": {"n_chars": {"gte": lo, "lt": lo + rng.randrange(50, 200, 10)}}},
        ]}},
        "sort": [{"n_chars": {"order": "desc"}}],
        "size": 25,
        "_source": ["doc_id", "lang", "source", "n_chars"],
    }


def _terms_body(rng: random.Random) -> dict:
    return {
        "query": {"range": {"ts": {"gte": _date(dt.date(2024, 1, 1), rng.randrange(10, 16))}}},
        "aggs": {"by_type": {"terms": {"field": "event_type", "size": 10},
                             "aggs": {"v": {"max": {"field": "value"}}}}},
        "size": 0,
    }


def _distinct(n: int, make) -> list[Op]:
    """``n`` bodies from ``make()`` with distinct keys."""
    out: dict[str, Op] = {}
    while len(out) < n:
        op = make()
        out.setdefault(op.key, op)
    return list(out.values())


def _small_pool(rng: random.Random) -> dict[str, list[Op]]:
    """Distinct small-result reads per body class, on sf0.1."""
    db = "sf0.1"

    def agg_ord() -> Op:
        d0 = dt.date(1995, 1, 1) + dt.timedelta(days=rng.randrange(0, 2000))
        return _sql(
            "SELECT o_orderpriority, count(*) AS order_count FROM orders "
            f"WHERE o_orderdate >= '{d0.isoformat()}' AND o_orderdate < '{_date(d0, 90)}' "
            "GROUP BY o_orderpriority", db)

    pool = {
        "point": _distinct(6, lambda: _sql(
            f"SELECT * FROM orders WHERE o_orderkey = {rng.randrange(150_000)}", db)),
        "cust": _distinct(6, lambda: _sql(
            "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
            f"WHERE c_custkey = {rng.randrange(15_000)}", db)),
        "agg_li": _distinct(4, lambda: _sql(
            "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            "max(l_extendedprice) AS max_price, count(*) AS count_order FROM lineitem "
            f"WHERE l_shipdate <= '{_date(dt.date(1998, 1, 1), rng.randrange(300, 400))}' "
            "GROUP BY l_returnflag, l_linestatus", db)),
        "agg_ord": _distinct(4, agg_ord),
        "match": _distinct(8, lambda: _search("documents", {
            "query": {"match": {"text": _words(rng, 3)}},
            "size": 25, "_source": ["doc_id", "lang", "n_chars"],
        }, db)),
        "bool": _distinct(6, lambda: _search("documents", _bool_body(rng), db)),
        "terms": _distinct(4, lambda: _search("events", _terms_body(rng), db)),
        "msearch": _distinct(4, lambda: _msearch(
            [("documents", _bool_body(rng)), ("events", _terms_body(rng))], db)),
        "esql": _distinct(6, lambda: _esql(
            f'FROM events | WHERE event_type == "{rng.choice(_EVENT_TYPES)}" '
            f"AND value > {rng.randrange(45, 56)} "
            "| STATS n = COUNT(*), users = COUNT_DISTINCT(user_id) BY event_type", db)),
    }
    return {c: [replace(op, kind=c) for op in pool[c]] for c in SMALL_MIX}


#: Reader requests per body class in every 31 of ``serve_small``; each
#: class is one statement template, so the seed changes literals and
#: which bodies are hot, never the share of a template. The literals stay
#: in ranges where the rows a filter keeps, and so the cost of a body,
#: hardly change. The counts put each median in the middle of one class
#: rather than on the edge between two: ``/query/`` and all reads in the
#: orders lookups (customer lookups are faster, aggregates slower),
#: ``_search`` with ``_msearch`` in the bool filters. BM25 matches, the
#: slowest class, are one in ten, so p95 falls in the middle of theirs.
SMALL_MIX = {"point": 7, "cust": 3, "agg_li": 1, "agg_ord": 1, "match": 3, "bool": 9,
             "terms": 1, "msearch": 1, "esql": 5}
ZIPF_S = 1.1


def _class_cycle() -> list[str]:
    """SMALL_MIX as one cycle with each class spread evenly over it, so
    every run sends the same mix of classes in the same order."""
    slots = [((i + 0.5) / n, c) for c, n in SMALL_MIX.items() for i in range(n)]
    return [c for _, c in sorted(slots)]


def _zipf_stream(rng: random.Random, ranked: dict[str, list[Op]]):
    """Classes in the fixed cycle; within a class, the body of rank r
    (hottest first) with probability proportional to 1 / r**ZIPF_S."""
    weights = {c: [1.0 / (r + 1) ** ZIPF_S for r in range(len(ops))] for c, ops in ranked.items()}
    cycle = _class_cycle()
    while True:
        for c in cycle:
            yield rng.choices(ranked[c], weights[c])[0]


#: Rows per wide read, by route.
WIDE_ROWS = {"query": 10_000, "search": 5_000, "esql": 5_000, "msearch": 2_000}
_SF_ROWS = {"sf0.01": (15_000, 10_000), "sf0.1": (150_000, 100_000)}  # orders, events


def _wide_op(rng: random.Random, kind: str, db: str) -> Op:
    return replace(_wide_body(rng, kind, db), kind=f"{kind}@{db}")


def _wide_body(rng: random.Random, kind: str, db: str) -> Op:
    n_orders, n_events = _SF_ROWS[db]
    rows = WIDE_ROWS[kind]
    if kind == "query":
        # lineitem has about four rows per order key
        lo = rng.randrange(0, n_orders - rows // 4)
        return _sql(f"SELECT * FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {lo + rows // 4}", db)
    if kind == "search":
        lo = rng.randrange(0, n_events - rows)
        return _search("events", {
            "query": {"range": {"event_id": {"gte": lo, "lt": lo + rows}}},
            "sort": [{"event_id": "asc"}], "size": rows,
        }, db)
    if kind == "esql":
        lo = rng.randrange(0, n_orders - 2 * rows)
        return _esql(
            f"FROM orders | WHERE o_orderkey >= {lo} AND o_totalprice > {rng.randrange(1000, 5000)} "
            "| KEEP o_orderkey, o_custkey, o_orderstatus, o_totalprice | SORT o_orderkey "
            f"| LIMIT {rows}", db)
    lo = rng.randrange(0, n_events - rows)
    return _msearch([
        ("documents", _bool_body(rng)),
        ("events", {"query": {"range": {"event_id": {"gte": lo, "lt": lo + rows}}},
                    "sort": [{"event_id": "asc"}], "size": rows}),
    ], db)


def _wide_stream(rng: random.Random):
    """Unique reads; ``dbName`` alternates on every request and each
    route comes up once on each source in every eight requests."""
    i = 0
    while True:
        yield _wide_op(rng, tuple(WIDE_ROWS)[(i // 2) % 4], ("sf0.01", "sf0.1")[i % 2])
        i += 1


def _small_saves(rng: random.Random):
    pool = []
    for _ in range(3):
        lo = rng.randrange(0, 140_000)
        pool.append(_save(
            f"SELECT * FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {lo + 2500}", "sf0.1"))
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(pool))]
    while True:
        yield rng.choices(pool, weights)[0]


def _wide_saves(rng: random.Random):
    while True:
        lo = rng.randrange(0, _SF_ROWS["sf0.1"][0] - 2500)
        yield _save(f"SELECT * FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {lo + 2500}",
                    "sf0.1")


def kernel_pass(seed: int) -> list[Op]:
    """The kernels in a seeded order."""
    order = list(KERNELS)
    random.Random(f"kernels:{seed}").shuffle(order)
    return [Op("kernel", f"kernel:{k}", "kernels", k) for k in order]


def make(name: str, seed: int, window: int = 0) -> Workload:
    """The workload's request streams; ``window`` numbers further windows
    of one run, which get fresh streams of the same shape."""
    rng = random.Random(f"{name}:{seed}:{window}")
    saves_rng = random.Random(f"{name}:{seed}:{window}:saves")
    if name == "serve_small":
        pool_rng = random.Random(f"{name}:{seed}:pool")
        pool = _small_pool(pool_rng)
        for ops in pool.values():
            pool_rng.shuffle(ops)  # the seed decides which bodies are hot
        warm = [ops[0] for ops in pool.values()]
        reader = _zipf_stream(rng, pool)
        more = _zipf_stream(random.Random(f"{name}:{seed}:warm"), pool)
        saves = _small_saves(saves_rng)
        cycle = sum(SMALL_MIX.values())
        batch = 1
    elif name == "serve_wide":
        wr = random.Random(f"{name}:{seed}:warm")
        warm = [_wide_op(wr, kind, db) for db in ("sf0.1", "sf0.01") for kind in WIDE_ROWS]
        reader = _wide_stream(rng)
        more = _wide_stream(wr)
        saves = _wide_saves(saves_rng)
        cycle = 2 * len(WIDE_ROWS)
        # whole pairs, so each route has as many sf0.01 reads as sf0.1
        batch = 2
    else:
        raise ValueError(f"unknown workload {name!r}")
    return Workload(name, seed, reader, saves, cycle=cycle, read_batch=batch, warmup=warm,
                    writer_warmup=[next(saves)], more_warmup=more)
