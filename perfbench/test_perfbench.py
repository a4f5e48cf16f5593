"""Checks of the benchmark's own verification, without Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import data  # noqa: E402
import oracle  # noqa: E402
import run as bench  # noqa: E402
import workloads  # noqa: E402


def _run() -> bench.Run:
    return bench.Run("selftest", seed=1, seconds=1, tracing=False)


def test_wrong_query_result_counts_as_failed_op():
    want = oracle.canonical(["n_kept", "lang"], [(3, "en"), (2, "de")])
    run = _run()
    workloads.check_query(run, "q", oracle.canonical(["lang", "n_kept"], [("de", 2), ("en", 3)]), {"q": want})
    assert run.failed == 0
    wrong = oracle.canonical(["n_kept", "lang"], [(3, "en"), (2.0000001, "de")])
    workloads.check_query(run, "q", wrong, {"q": want})
    assert run.failed == 1


def test_pinned_digest_mismatch_counts_as_failed_op():
    run = _run()
    name = "d03_minhash_dedupe"
    result = oracle.canonical(["lang", "n_kept"], [("en", i) for i in range(oracle.PINNED[name]["rows"])])
    workloads.check_query(run, name, result, {})
    assert run.failed == 1


def _orders(n: int) -> list[dict]:
    """Valid orders with the fields the four validation rules read."""
    out = []
    for i in range(n):
        items = [{"subtotal": 10.25 + i % 7}, {"subtotal": 3.5 * (i % 3 + 1)}]
        subtotal = round(sum(x["subtotal"] for x in items), 2)
        out.append({"order_id": f"ORD-{i:05d}", "items": items, "subtotal": subtotal,
                    "total_amount": round(subtotal * 1.2, 2)})
    return out


def test_injected_faults_match_duckdb_recompute():
    orders = _orders(400)
    lines, bad, corrupt = data.inject_faults([json.dumps(o) for o in orders], 3, 0.02, 0.01)
    assert len(bad) == 8 and corrupt == 4 and len(lines) == 404
    path = _run().path("raw.jsonl")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    n, amount = oracle.valid_orders(path)
    assert n == 400 - len(bad)
    assert abs(amount - sum(o["total_amount"] for k, o in enumerate(orders) if k not in bad)) < 0.005
