"""Citations of bench tools and records resolve, and the kept tools still
import what they use (no Spark session).

* Every ``tools/<name>.py`` and ``BENCH/<name>`` path named in the code or in
  the living docs must exist. A path written right after a ``<hex sha>:``
  prefix points into git history and is exempt; history docs (CHANGES,
  ROADMAP, VERDICT, SURVEY, docs/ROUND*) are not scanned.
* Every ``from levenshtein_spark... import name`` in a ``tools/*.py`` file,
  including the child scripts the tools keep in string constants, must
  resolve — so a refactor that removes a name a tool uses fails here, not
  on the next bench run.
"""

from __future__ import annotations

import ast
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ["README.md", "BENCH/BASELINE.md", "docs/PLANS.md", ".claude/skills/verify/SKILL.md"]
_PRUNE = {"__pycache__", "spark-warehouse", "metastore_db", "dist"}

# optional "<sha>:" history prefix, then a tool script or a BENCH record;
# a BENCH name may carry one {a,b,c} alternation
_REF = re.compile(
    r"(?<![\w/])(?P<sha>[0-9a-f]{7,40}:)?"
    r"(?P<path>tools/\w+\.py|BENCH/(?:[\w.-]|\{[\w,]*\})*[\w}])"
)
_BRACES = re.compile(r"\{([\w,]*)\}")


def _py_files() -> list[str]:
    out = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = sorted(d for d in dirs if not d.startswith(".") and d not in _PRUNE)
        out += [os.path.relpath(os.path.join(root, f), REPO) for f in sorted(files) if f.endswith(".py")]
    return out


def _expand(path: str) -> list[str]:
    m = _BRACES.search(path)
    if m is None:
        return [path]
    return [p for alt in m.group(1).split(",")
            for p in _expand(path[: m.start()] + alt + path[m.end():])]


def missing_refs(text: str) -> list[str]:
    """Cited tool/BENCH paths in ``text`` that do not exist in the repo."""
    return sorted({
        p
        for m in _REF.finditer(text)
        if m.group("sha") is None
        for p in _expand(m.group("path"))
        if not os.path.exists(os.path.join(REPO, p))
    })


def test_cited_paths_exist():
    missing = {}
    for rel in DOCS + _py_files():
        with open(os.path.join(REPO, rel), encoding="utf-8") as f:
            if refs := missing_refs(f.read()):
                missing[rel] = refs
    assert not missing, f"cited paths that do not exist, by file: {missing}"


def test_history_pointers_are_exempt():
    gone = "tools" + "/gone.py"
    assert missing_refs(f"see `git show 08a9d5d:{gone}`") == []
    assert missing_refs(f"see {gone}") == [gone]
    assert missing_refs("BENCH" + "/scaling_repeat{5,9}_r05.json.") == [
        "BENCH" + "/scaling_repeat9_r05.json"
    ]


def package_imports(source: str) -> set[str]:
    """Every ``from levenshtein_spark... import ...`` statement in ``source``
    and in any string constant of it that parses as Python."""
    found = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.ImportFrom) \
                and (node.module or "").split(".")[0] == "levenshtein_spark":
            found.add(ast.unparse(node))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) \
                and "levenshtein_spark" in node.value:
            try:
                found |= package_imports(node.value)
            except SyntaxError:
                pass
    return found


def _tools() -> list[str]:
    return sorted(f for f in os.listdir(os.path.join(REPO, "tools")) if f.endswith(".py"))


@pytest.mark.parametrize("tool", _tools())
def test_tool_package_imports_resolve(tool):
    with open(os.path.join(REPO, "tools", tool), encoding="utf-8") as f:
        imports = package_imports(f.read())
    unresolved = []
    for stmt in sorted(imports):
        try:
            exec(stmt, {})
        except ImportError as e:
            unresolved.append(f"{stmt}: {e}")
    assert not unresolved, f"tools/{tool} imports names the package lacks: {unresolved}"


def test_child_script_imports_are_seen():
    child = 'X = r"""\nfrom levenshtein_spark.kernel import nope\n"""\n'
    assert package_imports(child) == {"from levenshtein_spark.kernel import nope"}
