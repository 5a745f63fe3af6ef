import ast
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def duplicate_test_names(source: str) -> list[tuple[str, int]]:
    """(name, line) of every module-level test function or class that
    redefines an earlier one of the same name — pytest would silently run
    only the last definition."""
    seen: set[str] = set()
    dups = []
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) and (
            node.name.startswith(("test", "Test"))
        ):
            if node.name in seen:
                dups.append((node.name, node.lineno))
            seen.add(node.name)
    return dups


class _ShadowedTests(pytest.File):
    def collect(self):
        dups = duplicate_test_names(self.path.read_text())
        raise self.CollectError(
            "; ".join(f"{name} redefined at line {line}" for name, line in dups)
            + " (only the last definition would run)"
        )


def pytest_collect_file(file_path, parent):
    """Fail collection of a test module that defines a test name twice."""
    if file_path.suffix == ".py" and file_path.name.startswith("test_"):
        if duplicate_test_names(file_path.read_text()):
            return _ShadowedTests.from_parent(parent, path=file_path)
    return None


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[8]")
        .appName("ioverlay-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
