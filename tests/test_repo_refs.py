"""Repository references that need no Spark: every `tools/<name>.py`
the package, the bench and the docs point a reader at exists, and every
script left in `tools/` still compiles."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = ROOT / "tools"

#: `tools/name.py`, or the brace form `tools/{a,b}.py`
_TOOL_REF = re.compile(r"tools/(\{[\w,]+\}|\w+)\.py")


def _citing_files() -> list[Path]:
    return sorted(
        [*ROOT.glob("flink_etl_spark/**/*.py"), ROOT / "bench.py",
         ROOT / "README.md", *ROOT.glob("docs/*.md")]
    )


def _cited_tools(text: str) -> set[str]:
    names = set()
    for m in _TOOL_REF.finditer(text):
        names.update(m.group(1).strip("{}").split(","))
    return names


def test_cited_tools_exist():
    missing = {
        f"{path.relative_to(ROOT)}: tools/{name}.py"
        for path in _citing_files()
        for name in _cited_tools(path.read_text(encoding="utf-8"))
        if not (TOOLS / f"{name}.py").is_file()
    }
    assert not missing, sorted(missing)


def test_citation_scan_sees_both_forms():
    assert _cited_tools("run `tools/bench_ab.py A B`, see "
                        "tools/{ann_soak,media_soak}.py") == {
        "bench_ab", "ann_soak", "media_soak"}


@pytest.mark.parametrize("script", sorted(p.name for p in TOOLS.glob("*.py")))
def test_tool_compiles(script):
    path = TOOLS / script
    compile(path.read_text(encoding="utf-8"), str(path), "exec")
