"""COVERAGE.md cites tests by name; every name it cites must exist, so a
deleted or renamed test cannot leave a row pointing at nothing."""

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_coverage_md_cites_only_defined_tests():
    with open(os.path.join(ROOT, "COVERAGE.md")) as fh:
        cited = set(re.findall(r"`(test_\w+)(?:\[[^`\]]*\])?`", fh.read()))
    defined = set()
    for d in ("tests", "perfbench"):
        for path in glob.glob(os.path.join(ROOT, d, "**", "*.py"), recursive=True):
            with open(path) as fh:
                defined.update(re.findall(r"^\s*def (test_\w+)\(", fh.read(), re.M))
    assert cited, "no test names found in COVERAGE.md"
    assert sorted(cited - defined) == []


def test_coverage_md_keyword_citations_name_live_parameters():
    """A `module.func(kw=...)` citation of a package module names a
    parameter some function `func` in `module.py` still has, so a row
    cannot keep citing an option that was deleted.  Citations of other
    modules (`uuid.UUID(bytes_le=...)`) are not checked."""
    import ast

    with open(os.path.join(ROOT, "COVERAGE.md")) as fh:
        cited = re.findall(r"`(\w+)\.(\w+)\(((?:\w+=[^,`)]*,?\s*)+)\)`", fh.read())
    pkg = os.path.join(ROOT, "cloudfabric_eventsourcing_spark")
    checked = 0
    for module, func, args in cited:
        paths = glob.glob(os.path.join(pkg, "**", f"{module}.py"), recursive=True)
        if not paths:
            continue
        checked += 1
        params = set()
        for path in paths:
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == func:
                    a = node.args
                    params.update(p.arg for p in a.posonlyargs + a.args + a.kwonlyargs)
        for kw in re.findall(r"(\w+)=", args):
            assert kw in params, f"{module}.{func}({kw}=...) cites no live parameter"
    assert checked, "no keyword citation of a package module in COVERAGE.md"
