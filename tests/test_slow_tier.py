"""The slow-tier matcher in conftest.py: collected node ids map onto
the ids listed in tests/slow_tier.txt."""

from .conftest import slow_tier_id


def test_slow_tier_id_strips_only_the_tests_dir():
    assert slow_tier_id("tests/test_dedup.py::test_x") == "test_dedup.py::test_x"
    # a parameter id with "/" in it (a path, a ratio) stays whole
    assert (
        slow_tier_id("tests/test_files.py::test_read[a/b.parquet]")
        == "test_files.py::test_read[a/b.parquet]"
    )
    assert slow_tier_id("tests/test_q.py::test_r[1/2]") == "test_q.py::test_r[1/2]"
