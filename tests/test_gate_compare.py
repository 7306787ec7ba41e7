"""The gate-log comparison ``tools/run_gate_matrix.sh`` runs between two
rounds (``tools.check_oracle.compare_gate_logs``). No Spark session."""

from __future__ import annotations

from tools.check_oracle import compare_gate_logs, gate_rows

PREV = """# sf0.01 gate, round 1 (full registry, 3 queries).
# SRCHASH 0123456789abcdef
PASS daily_revenue: rows=29 hash=a14385c69d7799c4 [1.2s]
ok?  airport_trips_parity: rows-only (no oracle) rows=96 hash=337bfdbc3aa8f04f [1.2s]
PASS total_revenue: rows=1 hash=d610d5e8cb5ad8b0 [0.8s]

0 failure(s)
"""


def test_rows_compare_without_timings():
    assert gate_rows(PREV) == {
        "daily_revenue": (29, "a14385c69d7799c4"),
        "airport_trips_parity": (96, "337bfdbc3aa8f04f"),
        "total_revenue": (1, "d610d5e8cb5ad8b0"),
    }
    retimed = PREV.replace("[1.2s]", "[9.9s]").replace("# SRCHASH 0123", "# SRCHASH 4567")
    assert compare_gate_logs(PREV, retimed) == (3, [], [])


def test_changed_hash_and_rows_differ():
    cur = PREV.replace("hash=a14385c69d7799c4", "hash=a14385c69d7799c5").replace(
        "rows=96 hash", "rows=95 hash"
    )
    assert compare_gate_logs(PREV, cur) == (1, ["daily_revenue", "airport_trips_parity"], [])


def test_dropped_or_failed_row_is_missing():
    dropped = PREV.replace("PASS total_revenue: rows=1 hash=d610d5e8cb5ad8b0 [0.8s]\n", "")
    assert compare_gate_logs(PREV, dropped) == (2, [], ["total_revenue"])
    failed = PREV.replace(
        "PASS total_revenue: rows=1 hash=d610d5e8cb5ad8b0 [0.8s]",
        "FAIL total_revenue: value-hash mismatch [0.8s]",
    )
    assert compare_gate_logs(PREV, failed) == (2, [], ["total_revenue"])
    # A row the previous round lacks is a difference, not a silent pass.
    assert compare_gate_logs(dropped, PREV) == (2, ["total_revenue"], [])
