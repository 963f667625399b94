"""The source-level plan audits of tools/explain_audit.py, run without a
Spark session: every global ``Window.orderBy`` and every ``F.broadcast``
hint in the package must be declared with its bound (or auto-classify as
a one-row aggregate), and no declaration may be stale."""

from __future__ import annotations

from tools import explain_audit


def test_no_undeclared_unpartitioned_window():
    _, violations = explain_audit.unpartitioned_window_report()
    assert violations == []


def test_no_undeclared_broadcast_hint():
    _, violations = explain_audit.broadcast_hint_report()
    assert violations == []
