"""Driver-gate replica inside pytest: every registered plan query vs its
DuckDB oracle at sf0.001 (fast). The standalone tools/oracle_check.py does
the same at sf0.01."""

from __future__ import annotations

import pytest

from clinical_data_platform_spark.plans import all_oracles, all_queries

from .helpers import assert_frames_match

SF_DIR = "/root/testdata/sf0.001"


_QUERIES = sorted(all_queries())


@pytest.mark.parametrize("name", _QUERIES)
def test_query_matches_oracle(name, spark, corpus_duck):
    q = all_queries()[name]
    sdf = q(spark, SF_DIR)
    oracle = all_oracles().get(name)
    if oracle is None:
        assert sdf.count() >= 0  # rows-only contract
        return
    odf = corpus_duck.execute(oracle).fetchdf()
    assert_frames_match(sdf, odf, float_dp=6, context=name)


def test_driver_window_spans_all_modules():
    """The driver value-checks only the first 50 registered queries. Two
    regimes share one mechanical rule (tools/rotation.py): while oracled-
    but-never-hash-verified names exist they take every slot (the r3-r8
    burndown — closed at 385/385 in r8); with the burndown at zero the
    window becomes a RE-VERIFICATION lap over the stalest-verified names
    (r8 verdict items 1+6), so external verification age shrinks every
    round. The window is declared in plans/rotation_history.json; this
    test recomputes the selection from the CORRECTNESS ledger and pins
    artifact == rule == live registration order, so none can drift."""
    import json
    import sys
    from pathlib import Path

    import clinical_data_platform_spark.plans as plans_pkg

    hist = json.loads(
        (Path(plans_pkg.__file__).parent / "rotation_history.json").read_text()
    )
    windows = hist["windows"]
    declared = windows[max(windows, key=int)]
    assert len(declared) == 50 and len(set(declared)) == 50

    ordered = list(all_queries())
    window = ordered[:50]
    assert window == declared, "live window != rotation_history.json"
    assert window[0] == hist["anchor"] == "q1_pricing_summary"

    root = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(root / "tools"))
    try:
        from rotation import last_verified_map, select_window
    finally:
        sys.path.pop(0)

    last = last_verified_map(str(root))
    # When the driver has already RUN this very window, its CORRECTNESS
    # file would mark the window's own names freshly verified and shift
    # the recomputed selection — rebuild the ledger without that file.
    newest = max(
        root.glob("CORRECTNESS_r*.json"), key=lambda p: p.name, default=None
    )
    if newest is not None:
        keys = set(json.loads(newest.read_text()).keys())
        if keys == set(declared):
            import glob as _glob

            last = {}
            for f in sorted(root.glob("CORRECTNESS_r*.json")):
                if f == newest:
                    continue
                rnd = int(f.name.split("_r")[1].split(".")[0])
                for n, v in json.loads(f.read_text()).items():
                    if isinstance(v, dict) and v.get("hash_match"):
                        last[n] = max(rnd, last.get(n, 0))

    from clinical_data_platform_spark.plans.registry import ORACLES

    expect = select_window(sorted(ORACLES), hist["anchor"], last)
    # queries whose observable semantics changed this round may be pulled
    # forward regardless of age; everything else must follow the rule
    allowed = set(hist.get("changed_this_round", []))
    drift = [
        (w, e) for w, e in zip(window, expect) if w != e and w not in allowed
    ]
    assert not drift, f"window drifts from the selection rule: {drift[:5]}"
    # the full registry is still exposed, nothing dropped or duplicated
    from clinical_data_platform_spark.plans import QUERIES

    assert sorted(ordered) == sorted(QUERIES) and len(ordered) == len(QUERIES)


def test_oracle_check_counts_and_fails_only_named_queries(
    spark, monkeypatch, capsys
):
    """tools/oracle_check.py given names: a registered name is checked, an
    unknown one is a FAIL line with exit code 1, and the summary counts
    only those two."""
    import importlib.util
    import sys
    from pathlib import Path

    from clinical_data_platform_spark import session

    path = Path(__file__).resolve().parents[1] / "tools" / "oracle_check.py"
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(
        sys, "argv", ["oracle_check.py", SF_DIR, "event_type_counts", "no_such_q"]
    )
    assert tool.main() == 1
    out = capsys.readouterr().out
    assert "ok    event_type_counts" in out
    assert "FAIL  no_such_q: no such registered query" in out
    assert "\n1/2 passed;" in out
