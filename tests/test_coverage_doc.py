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
