"""tools/stage_budget.py: the per-leaf Spark stage budget, run end to end
in a subprocess on the sf0.001 tables."""

from __future__ import annotations

import importlib.util
import subprocess
import sys
from pathlib import Path

from conftest import SF_SMOKE

ROOT = Path(__file__).resolve().parent.parent
TOOL = ROOT / "tools" / "stage_budget.py"


def _tool(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, str(TOOL), *args], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)


def _rows(stdout: str) -> dict[str, dict[str, str]]:
    lines = [ln for ln in stdout.splitlines() if ln.startswith("| ")]
    header = [c.strip() for c in lines[0].strip("|").split("|")]
    return {cells[0]: dict(zip(header, cells))
            for cells in ([c.strip() for c in ln.strip("|").split("|")]
                          for ln in lines[1:])}


def test_budget_rows_for_two_leaves():
    out = _tool(SF_SMOKE, "q6_forecast_revenue", "extracted_text_dedup")
    assert out.returncode == 0, out.stderr[-2000:]
    rows = _rows(out.stdout)
    assert list(rows) == ["q6_forecast_revenue", "extracted_text_dedup"]
    for r in rows.values():
        assert int(r["stages"]) >= 1 and int(r["tasks"]) >= 1
        assert float(r["cold s"]) > 0 and float(r["warm s"]) > 0
        # the warm run's DataFrame build and its time outside any stage
        assert int(r["build ms"]) >= 0 and int(r["driver ms"]) >= 0
        assert int(r["build ms"]) <= 1000 * float(r["warm s"])
    q6, dedup = rows["q6_forecast_revenue"], rows["extracted_text_dedup"]
    assert int(q6["py run ms"]) == 0 and int(q6["py tasks"]) == 0
    assert int(dedup["py run ms"]) > 0 and int(dedup["py tasks"]) > 0
    # the warm run redid the stages the cold run persisted: cache cleared
    assert dedup["stages"] == dedup["cold stages"]
    assert "span_equality_join: 60/60 docs match" in out.stdout


def test_unknown_leaf_exits_nonzero_and_names_it():
    out = _tool(SF_SMOKE, "q6_forecast_revenue", "no_such_leaf")
    assert out.returncode != 0
    assert "no_such_leaf" in out.stderr


def test_query_leaves_are_registered_queries():
    from unipdf_spark.operators import all_queries

    spec = importlib.util.spec_from_file_location("stage_budget", TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    assert len(tool.QUERIES) == 16 and len(tool.LEAVES) == 19
    assert set(tool.QUERIES) <= set(all_queries())
