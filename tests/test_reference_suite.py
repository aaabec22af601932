"""Run the ENTIRE auto-ported reference JUnit suite (~300 tests / ~1120
assertions from ArticleTextExtractorTest.java) as one pytest module.

This is the per-turn-equality evidence for the golden corpus: every fixture
page must extract to the same title/text/author/date/canonical/keywords the
reference asserts. KNOWN_DIVERGENCES (tests/golden_cases.py) are excluded
with reasons.
"""

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))
from conftest import REPO  # noqa: E402
sys.path.insert(0, os.path.join(REPO, "scripts"))

from golden_cases import KNOWN_DIVERGENCES  # noqa: E402

import port_tests  # noqa: E402


def _load_cases():
    src = open(port_tests.TEST_JAVA, encoding="utf-8", errors="replace").read()
    src = re.sub(r"/\*.*?\*/", "", src, flags=re.DOTALL)
    src = "\n".join(l for l in src.splitlines() if not l.lstrip().startswith("//"))
    cases = []
    for name, body in port_tests.split_methods(src):
        if name in port_tests.HAND_PORTED:
            continue  # ported by hand in tests/test_reference_handports.py
        case = port_tests.parse_method(name, body)
        if "fixture" in case and case["asserts"]:
            cases.append(case)
    return cases


_CASES = _load_cases()


@pytest.mark.parametrize("case", _CASES, ids=[c["name"] for c in _CASES])
def test_reference_case(case):
    if case["name"] in KNOWN_DIVERGENCES:
        pytest.skip(KNOWN_DIVERGENCES[case["name"]])
    failures = port_tests.run_case(case)
    assert not failures, f"{case['name']}:\n  " + "\n  ".join(f[:200] for f in failures)
