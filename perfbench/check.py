"""Oracle checks: every operation's answer against DuckDB.

- ``/query/``: the statement itself on DuckDB (``oracle.duckdb_connection``);
- ``_search`` and each ``_msearch`` body: ``compile_search(..., "duck")``;
- ``/_query``: ``compile_esql(..., "duck")``;
- ``POST /elastic/save/``: the statement's row count on DuckDB must equal
  the docs flushed, the docs the stub stored, and the stored ``_id`` set
  must be exactly ``1..N``;
- kernels: the registered oracle SQL of each kernel, and the same stub
  checks for its bulk-indexed output.

Rows compare as multisets, columns by name. Floats compare with a
relative tolerance of 1e-9, since the two engines may sum in another
order. Kernel oracles depend only on the fixed tables, so their answers
are cached under ``.bench_build``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from golang_db_query_engine_elasticsearch_indexer_spark.oracle import canon_value

_REL_TOL = 1e-9


def _sort_key(row):
    return tuple(
        (x is None, f"{x:.6g}" if isinstance(x, float) else str(x)) for x in row
    )


def canon(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    return sorted(out, key=_sort_key)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and math.isclose(a, b, rel_tol=_REL_TOL, abs_tol=1e-12))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def diff(got_cols, got_rows, want_cols, want_rows) -> str | None:
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"
    g, w = canon(got_cols, got_rows), canon(want_cols, want_rows)
    for i, (a, b) in enumerate(zip(g, w)):
        if not _same(a, b):
            return f"row {i}: {a} != {b}"
    return None


def _first_column(con, table: str) -> str:
    return con.sql(f"SELECT * FROM {table} LIMIT 0").columns[0]


class Oracle:
    """DuckDB answers for one source directory, computed once per body."""

    def __init__(self, sf_dir: str, tmp: str):
        from golang_db_query_engine_elasticsearch_indexer_spark.oracle import duckdb_connection

        self.con = duckdb_connection(sf_dir)
        self.con.sql(f"SET temp_directory='{tmp}'")
        self.cache: dict[str, tuple[list, list]] = {}

    def rows(self, sql: str) -> tuple[list, list]:
        if sql not in self.cache:
            rel = self.con.sql(sql)
            self.cache[sql] = (list(rel.columns), rel.fetchall())
        return self.cache[sql]

    def search_sql(self, index: str, body: dict) -> str:
        from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
            compile_search,
        )

        return compile_search(index, body, "duck", _first_column(self.con, index))

    def esql_sql(self, q: str) -> str:
        from golang_db_query_engine_elasticsearch_indexer_spark.operators.esql import compile_esql

        return compile_esql(q, "duck")


def _envelope_rows(payload: dict) -> tuple[list, list]:
    cols = [c["name"] for c in payload["schema"]]
    return cols, [[row.get(c) for c in cols] for row in payload["data"]]


def _check_read(rec, oracle: Oracle) -> str | None:
    op = rec.op
    if rec.status != 200:
        return f"HTTP {rec.status}: {rec.body[:300]!r}"
    payload = json.loads(rec.body)
    if op.route == "query":
        return diff(*_envelope_rows(payload), *oracle.rows(op.payload))
    if op.route == "search":
        return diff(*_envelope_rows(payload), *oracle.rows(oracle.search_sql(*op.payload)))
    if op.route == "msearch":
        got = payload["responses"]
        if len(got) != len(op.payload):
            return f"{len(got)} responses for {len(op.payload)} searches"
        for i, (resp, (index, body)) in enumerate(zip(got, op.payload)):
            d = diff(*_envelope_rows(resp), *oracle.rows(oracle.search_sql(index, body)))
            if d:
                return f"search {i}: {d}"
        return None
    if op.route == "esql":
        cols = [c["name"] for c in payload["columns"]]
        return diff(cols, payload["values"], *oracle.rows(oracle.esql_sql(op.payload)))
    raise ValueError(op.route)


def _check_save(rec, oracle: Oracle) -> str | None:
    if rec.status != 201:
        return f"HTTP {rec.status}: {rec.body[:300]!r}"
    payload = json.loads(rec.body)
    (n,), = oracle.rows(f"SELECT count(*) FROM ({rec.op.payload})")[1]
    if payload["num_failed"] or payload["num_flushed"] != n:
        return f"flushed {payload['num_flushed']} failed {payload['num_failed']}, expected {n}"
    if rec.docs != n or not rec.ids_ok:
        return f"stub stored {rec.docs} docs (ids 1..N: {rec.ids_ok}), expected {n}"
    return None


def _check_kernel(rec, want: tuple[list, list]) -> str | None:
    if rec.status != 200:
        return "bulk index failed or flushed a different count"
    cols, rows = rec.rows
    if rec.docs != len(rows) or not rec.ids_ok:
        return f"stub stored {rec.docs} docs (ids 1..N: {rec.ids_ok}), expected {len(rows)}"
    return diff(cols, rows, *want)


def verify(records, dirs: dict[str, str], kernel_oracle: dict) -> tuple[dict, list[str]]:
    """``ok`` by record id, and one line per failed operation."""
    tmp = os.environ.get("TMPDIR", ".")
    oracles: dict[str, Oracle] = {}
    ok: dict[int, bool] = {}
    failures: list[str] = []
    for rec in records:
        op = rec.op
        try:
            if op.route == "kernel":
                why = _check_kernel(rec, kernel_oracle[op.payload])
            else:
                if op.db not in oracles:
                    oracles[op.db] = Oracle(dirs[op.db], tmp)
                check = _check_save if op.route == "save" else _check_read
                why = check(rec, oracles[op.db])
        except Exception as e:  # a check that cannot run is a failed check
            why = f"check raised {type(e).__name__}: {e}"
        ok[id(rec)] = why is None
        if why:
            failures.append(f"{op.route} {op.key[:200]}: {why[:400]}")
    for o in oracles.values():
        o.con.close()
    return ok, failures


def kernel_oracles(kernel_dir: str, cache_dir: str, kernels) -> dict:
    """Each kernel's oracle answer, from the on-disk cache when present."""
    import __spark_entry__

    specs = __spark_entry__.oracle_sql()
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    oracle = None
    for k in kernels:
        sql = specs[k]
        key = hashlib.sha256(f"{kernel_dir}\n{sql}".encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{k}-{key}.json")
        if not os.path.exists(path):
            if oracle is None:
                oracle = Oracle(kernel_dir, os.environ.get("TMPDIR", "."))
            cols, rows = oracle.rows(sql)
            tmp = path + f".tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump({"cols": cols, "rows": [[canon_value(v) for v in r] for r in rows]}, f,
                          default=_json_default)
            os.replace(tmp, path)
        with open(path) as f:
            data = json.load(f)
        out[k] = (data["cols"], [_tuples(r) for r in data["rows"]])
    if oracle is not None:
        oracle.con.close()
    return out


def _json_default(v):
    if isinstance(v, tuple):
        return list(v)
    raise TypeError(type(v).__name__)


def _tuples(v):
    return tuple(_tuples(x) for x in v) if isinstance(v, list) else v
