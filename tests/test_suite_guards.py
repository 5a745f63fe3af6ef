"""The suite's own guards: conftest fails collection of a test module that
defines a module-level test name twice (pytest would silently run only the
last definition)."""

from conftest import duplicate_test_names


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

