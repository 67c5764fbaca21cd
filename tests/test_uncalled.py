"""Guard against code that nothing calls: every top-level ``def``/``class`` in
``lumbermill_spark/`` must be named somewhere besides its own definition —
in the package, the tests, the scripts, the benchmarks or the driver entry
point. A plain AST + word-boundary scan: no Spark session, well under a
second."""

import ast
import os
import re
from collections import Counter
from pathlib import Path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "lumbermill_spark"
SEARCH_DIRS = [PACKAGE, "tests", "tools", "scripts", "bench", "perfbench"]
SEARCH_FILES = ["bench.py", "bench_extra.py", "__spark_entry__.py"]


def _texts() -> dict[str, str]:
    """Path → source of every file the scan searches."""
    paths = [os.path.join(ROOT, f) for f in SEARCH_FILES]
    for d in SEARCH_DIRS:
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            paths += [os.path.join(base, n) for n in names if n.endswith(".py")]
    return {p: Path(p).read_text(encoding="utf-8") for p in paths}


def test_every_top_level_name_is_referenced():
    texts = _texts()
    package = os.path.join(ROOT, PACKAGE) + os.sep
    defs: dict[str, list[str]] = {}
    for path in (p for p in texts if p.startswith(package)):
        for node in ast.parse(texts[path]).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(os.path.relpath(path, ROOT))
    assert defs
    # a word-boundary match of an identifier is exactly one \w+ run
    words = Counter(w for t in texts.values() for w in re.findall(r"\w+", t))
    uncalled = [
        "%s (%s)" % (name, ", ".join(where))
        for name, where in sorted(defs.items())
        if words[name] <= len(where)  # each definition names itself once
    ]
    assert not uncalled, "defined but referenced nowhere else: " + "; ".join(uncalled)
