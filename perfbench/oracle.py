"""Output checks: DuckDB expected results for the registered query
twins, pinned digests for the queries without one, and the exact counts
of the pipeline workloads.

Comparison follows tests/oracle_harness.py: same column set, same row
count, rows compared order-insensitively, floats with a 1e-9 relative
and absolute tolerance.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os

import duckdb

FLOAT_TOL = 1e-9


def _canon(value):
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else value
    if isinstance(value, (dt.datetime, dt.date)):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return json.dumps([_canon(v) for v in value], default=str)
    if hasattr(value, "item"):  # numpy scalar
        return _canon(value.item())
    if value is None or isinstance(value, (int, str, bool)):
        return value
    return str(value)


def canonical(columns: list[str], rows) -> dict:
    """Columns sorted by name, cells made JSON-safe, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[_canon(r[i]) for i in order] for r in rows]
    out.sort(key=lambda r: tuple(str(x) for x in r))
    return {"columns": [columns[i] for i in order], "rows": out}


def mismatch(got: dict, want: dict) -> str | None:
    """None when ``got`` matches ``want``, else a one-line reason."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"rows {len(got['rows'])} != {len(want['rows'])}"
    for i, (a, b) in enumerate(zip(got["rows"], want["rows"])):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=FLOAT_TOL, abs_tol=FLOAT_TOL):
                    return f"row {i}: {x!r} != {y!r}"
            elif str(x) != str(y):
                return f"row {i}: {x!r} != {y!r}"
    return None


def digest(result: dict) -> str:
    return hashlib.sha256(json.dumps(result, sort_keys=True).encode()).hexdigest()[:16]


def expected_results(data_dir: str, oracles: dict[str, str], path: str) -> dict[str, dict]:
    """DuckDB results for ``oracles`` over every parquet table in
    ``data_dir``, computed once and kept in ``path``."""
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if set(cached) == set(oracles):
            return cached
    out = {}
    with duckdb.connect() as con:
        for table in sorted(os.listdir(data_dir)):
            if table.endswith(".parquet"):
                con.execute(f"CREATE VIEW {table[:-8]} AS SELECT * FROM '{data_dir}/{table}'")
        for name, sql in oracles.items():
            cur = con.execute(sql)
            out[name] = canonical([d[0] for d in cur.description], cur.fetchall())
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


# Queries with no DuckDB twin: row count and result digest, pinned from
# the parent commit of the benchmark over the llm_dedup corpus (whose
# content is fixed; the run seed only permutes its row order).
PINNED = {
    "d03_minhash_dedupe": {"rows": 5, "digest": "a7858639a397ab66"},
    "d06_semdedup": {"rows": 500, "digest": "3a0bf350f8062560"},
    "s05_ivf_cosine_topk": {"rows": 25, "digest": "2e4df9ccd98f00cd"},
}


def check_pinned(name: str, result: dict) -> str | None:
    pin = PINNED[name]
    if len(result["rows"]) != pin["rows"]:
        return f"rows {len(result['rows'])} != pinned {pin['rows']}"
    if pin["digest"] is not None and digest(result) != pin["digest"]:
        return f"digest {digest(result)} != pinned {pin['digest']}"
    return None


# Expected valid orders per raw directory, recomputed by DuckDB with the
# four rules of functions/validate.py. Lines are read as text and parsed
# one by one, so a malformed line never swallows its neighbour.
_VALID_SQL = """
SELECT count(*) AS n, coalesce(round(sum(o.total_amount), 2), 0) AS amount FROM (
  SELECT json_transform(line, '{{"order_id": "VARCHAR", "items": [{{"subtotal": "DOUBLE"}}],
                                 "subtotal": "DOUBLE", "total_amount": "DOUBLE"}}') AS o
  FROM read_csv('{path}', columns={{'line': 'VARCHAR'}}, delim='\x01', quote='', escape='',
                header=false, auto_detect=false)
  WHERE json_valid(line))
WHERE coalesce(o.total_amount, 0) > 0
  AND length(coalesce(o.order_id, '')) > 0
  AND len(coalesce(o.items, [])) > 0
  AND abs(coalesce(list_sum([x.subtotal FOR x IN o.items]), 0) - coalesce(o.subtotal, 0)) <= 0.01
"""


def valid_orders(raw_glob: str) -> tuple[int, float]:
    with duckdb.connect() as con:
        n, amount = con.execute(_VALID_SQL.format(path=raw_glob)).fetchone()
    return int(n), float(amount)


def sink_orders(sink_glob: str) -> list[tuple[str, float]]:
    """(order_id, total_amount) for every row of a JSON sink."""
    with duckdb.connect() as con:
        return con.execute(
            f"SELECT order_id, total_amount FROM read_json('{sink_glob}', format='newline_delimited', "
            "columns={order_id: 'VARCHAR', total_amount: 'DOUBLE'})"
        ).fetchall()
