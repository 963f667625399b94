"""bench_scale.py's SCALE.md parse, render and growth gate (no Spark)."""

from __future__ import annotations

import os

import pytest

import bench_scale as B

COMMITTED = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md"
)
SRC = "/data/sf0.1"


def committed_text() -> str:
    with open(COMMITTED) as fh:
        return fh.read()


def table_block(text: str) -> list[str]:
    """The ratio table's lines: the header through the last row."""
    lines = text.splitlines()
    start = next(i for i, line in enumerate(lines) if line.startswith("| query |"))
    end = start
    while end < len(lines) and lines[end].startswith("|"):
        end += 1
    return lines[start:end]


def walls_of(rows: dict) -> dict[str, tuple[float, float]]:
    return {n: (a, b) for n, (a, b, _) in rows.items()}


def flagged_names(text: str) -> list[str]:
    growth = text[text.index("## Growth vs the previous SCALE.md") :]
    if "| query |" not in growth:
        return []
    return [line.split(" | ")[0].removeprefix("| ") for line in table_block(growth)[2:]]


def test_lane_covers_every_committed_row_and_registered_query():
    import __spark_entry__ as E

    assert len(B.SCALE_LANE) == len(set(B.SCALE_LANE)) == 78
    assert set(B.SCALE_LANE) <= set(E.queries())


def test_committed_table_parses_and_rerenders_byte_identically():
    text = committed_text()
    rows = B.parse_rows(text)
    assert rows and set(rows) <= set(B.SCALE_LANE)
    assert B.table_lines(rows, 0.1, 10) == table_block(text)


def test_unchanged_walls_rewrite_the_same_table_and_pass(tmp_path):
    path = tmp_path / "SCALE.md"
    path.write_text(committed_text())
    rows = B.parse_rows(committed_text())
    assert B.write_scale_md(str(path), walls_of(rows), {}, SRC, 10, 40.0) == 0
    new = path.read_text()
    assert table_block(new) == table_block(committed_text())
    assert f"Common rows: {len(rows)}; added: 0; removed: 0." in new
    assert "No row flagged." in new and flagged_names(new) == []


def test_growth_flags_by_ratio_and_floor_with_no_name_exemption(tmp_path):
    path = tmp_path / "SCALE.md"
    path.write_text(committed_text())
    rows = B.parse_rows(committed_text())
    walls = walls_of(rows)
    # ratio x1.4 with a big wall >= 2 s; scale_diff.py once excused it by name
    a, b, _ = rows["als_brand_recs"]
    assert b >= B.FLOOR_SECONDS
    walls["als_brand_recs"] = (a, round(b * 1.4, 3))
    # ratio x3, but the big wall stays under FLOOR_SECONDS
    floor_row = next(n for n, (_, b, _) in rows.items() if b < B.FLOOR_SECONDS)
    walls[floor_row] = (round(rows[floor_row][0] / 3, 3), rows[floor_row][1])
    # ratio x1.2 with a big wall >= 2 s, under the gate
    a, b, _ = rows["user_session_stats"]
    assert b >= B.FLOOR_SECONDS
    walls["user_session_stats"] = (a, round(b * 1.2, 3))
    removed = next(iter(rows))
    del walls[removed]
    walls["brand_new_query"] = (1.0, 5.0)

    assert B.write_scale_md(str(path), walls, {}, SRC, 10, 40.0) == 1
    new = path.read_text()
    assert flagged_names(new) == ["als_brand_recs"]
    assert f"Common rows: {len(rows) - 1}; added: 1; removed: 1." in new
    assert "Added rows: `brand_new_query`." in new
    assert f"Removed rows: `{removed}`." in new
    # the rewritten file is the next run's baseline
    assert B.parse_rows(new)["als_brand_recs"][:2] == walls["als_brand_recs"]


@pytest.mark.parametrize(
    "old, new, flagged",
    [
        ((1.0, 3.0, 3.0), (1.0, 4.0, 4.0), True),  # 1.33x, big wall >= 2 s
        ((1.0, 10.0, 10.0), (1.0, 13.0, 13.0), False),  # 1.3x is not > 1.3x
        ((0.5, 1.5, 3.0), (0.3, 1.9, 6.33), False),  # big wall < 2 s in both
        ((0.5, 2.5, 5.0), (0.1, 1.5, 15.0), True),  # old big wall >= 2 s
    ],
)
def test_growth_gate(old, new, flagged):
    got, added, removed = B.growth({"q": old}, {"q": new})
    assert bool(got) is flagged
    assert added == removed == []


def test_reprobed_rows_and_super_linear_rows_are_noted(tmp_path):
    path = tmp_path / "SCALE.md"
    walls = {"a_query": (1.0, 14.0), "b_query": (2.0, 4.0)}
    status = B.write_scale_md(str(path), walls, {"a_query": (1.0, 20.0)}, SRC, 10, 1.0)
    text = path.read_text()
    assert status == 0  # no previous SCALE.md: every row is added, none flagged
    assert "- **a_query**: table row is MIN-OF-2" in text
    assert "Super-linear rows (> 1.3x the data ratio) to explain:\n\n- a_query" in text
    assert "Added rows: `a_query`, `b_query`." in text
    assert table_block(text)[2:] == [
        "| a_query | 1.0 | 14.0 | 14.0 |",
        "| b_query | 2.0 | 4.0 | 2.0 |",
    ]
