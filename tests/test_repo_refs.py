"""Repository references that need no Spark: every `tools/<name>.py`
the package, the bench and the docs point a reader at exists, every
script left in `tools/` still compiles, and every public function of
the package is reached from somewhere a user or the bench goes."""

from __future__ import annotations

import ast
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


def _reaching_files() -> list[Path]:
    """Where a public function counts as reached: the package (CLI,
    gates and streaming starters included), the bench, the tools, the
    perfbench harness and the two user-facing maps of the surface.
    Tests do not count — a name only a test calls is dead code or
    undocumented surface."""
    return sorted([
        *ROOT.glob("flink_etl_spark/**/*.py"), ROOT / "bench.py",
        *TOOLS.glob("*.py"), *ROOT.glob("perfbench/*.py"),
        ROOT / "README.md", ROOT / "docs" / "COVERAGE.md",
    ])


def _code_names(node: ast.AST) -> set[str]:
    """Names the code uses — Name and Attribute nodes and imported
    names, never comments or strings."""
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rsplit(".", 1)[-1])
    return names


def _doc_names(text: str) -> set[str]:
    """Identifiers inside a markdown file's code: fenced blocks and
    backticked spans, not its prose."""
    parts = text.split("```")
    code = parts[1::2] + [
        span for prose in parts[::2]
        for span in re.findall(r"`([^`\n]+)`", prose)
    ]
    return {w for c in code for w in re.findall(r"[A-Za-z_]\w*", c)}


def _unreached(files: list[Path]) -> list[str]:
    """`path:name` of each top-level public def in `flink_etl_spark/`
    that no counted file names outside the def itself."""
    package = ROOT / "flink_etl_spark"
    # per file, the names each top-level statement uses
    stmts = {
        p: [(s, _code_names(s))
            for s in ast.parse(p.read_text(encoding="utf-8")).body]
        for p in files if p.suffix == ".py"
    }
    file_names = {p: set().union(*(n for _, n in v)) for p, v in stmts.items()}
    used = set().union(*(
        _doc_names(p.read_text(encoding="utf-8"))
        for p in files if p.suffix == ".md"
    ))
    unreached = []
    for path in sorted(p for p in stmts if p.is_relative_to(package)):
        elsewhere = used.union(*(
            n for p, n in file_names.items() if p != path
        ))
        for node, _ in stmts[path]:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_") or node.name in elsewhere:
                continue
            if not any(node.name in n for s, n in stmts[path] if s is not node):
                unreached.append(f"{path.relative_to(ROOT)}:{node.name}")
    return unreached


def test_every_public_function_is_reached():
    unreached = _unreached(_reaching_files())
    assert not unreached, (
        "public functions the code, bench, tools and docs never name "
        "outside their own definition (tests do not count) — delete "
        f"them, or document them with a docs/COVERAGE.md row: {unreached}"
    )


def test_reach_scan_ignores_comments_and_strings(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text(
        "# orphan is only named in this comment\n"
        "def orphan():\n    return orphan\n\n"
        "def used():\n    return 'orphan'\n\n"
        "x = used()\n",
        encoding="utf-8",
    )
    tree = ast.parse(mod.read_text(encoding="utf-8"))
    assert "orphan" not in _code_names(tree.body[1]) | _code_names(tree.body[2])
    assert _doc_names("an orphan, then `ops.used(df)`\n```py\nrun(x)\n```") == {
        "ops", "used", "df", "py", "run", "x"}
