"""The suite's own guards: conftest fails collection of a test module that
defines a module-level test name twice (pytest would silently run only the
last definition), and the library reads no environment variable outside an
allowlist that says why each one exists."""

import re
from pathlib import Path

from conftest import duplicate_test_names

PACKAGE = Path(__file__).resolve().parent.parent / "ioverlay_spark"

# Every environment variable the library reads. Tuning knobs and operational
# switches only: a plan A/B switch does not belong here — a measured loser is
# deleted (git history keeps it), so adding a name needs its reason.
ENV_ALLOWLIST = {
    "SPARK_GRAFT_CC_LOCAL_EDGES": "edge bound for one-task union-find CC with a broadcast comp map",
    "SPARK_GRAFT_EXTRACT_THREADS": "walk threads of the fused single-task extract",
    "SPARK_GRAFT_FILL_THREADS": "threads of the in-process fill and pair enumeration",
    "SPARK_GRAFT_FUSED_EXTRACT_EDGES": "boundary edge cap of the fused single-task extract",
    "SPARK_GRAFT_PAIR_BLOCK": "pair rows per block when the split kernel enumerates a hot cell",
    "IOVERLAY_AUDIT_JOBDESC": "opt-in Spark job descriptions for event-log stage attribution",
    "IOVERLAY_NO_MALLOC_TUNE": "opt out of the glibc allocator tuning applied at import",
}


def test_duplicate_test_names_flags_only_redefined_tests():
    src = (
        "def test_a():\n    pass\n\n"
        "class TestB:\n    pass\n\n"
        "def helper():\n    pass\n\n"
        "def helper():\n    pass\n\n"
        "async def test_a():\n    pass\n\n"
        "class TestB:\n    def test_a(self):\n        pass\n"
    )
    assert duplicate_test_names(src) == [("test_a", 13), ("TestB", 16)]


def test_library_env_vars_are_allowlisted():
    pattern = re.compile(r"\b(?:SPARK_GRAFT|IOVERLAY)_\w+")
    read = {
        name
        for path in PACKAGE.rglob("*.py")
        for name in pattern.findall(path.read_text())
    }
    assert read == set(ENV_ALLOWLIST), (
        f"unlisted: {sorted(read - set(ENV_ALLOWLIST))}, "
        f"no longer read: {sorted(set(ENV_ALLOWLIST) - read)}"
    )
