"""Spark-free checks for the command-line tools' argument validation."""
import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import replicate_sf  # noqa: E402


@pytest.mark.parametrize("argv", [[], ["only_src"]])
def test_replicate_sf_usage(argv):
    with pytest.raises(SystemExit, match="usage"):
        replicate_sf.main(argv)


def test_replicate_sf_refuses_same_dir(tmp_path):
    with pytest.raises(SystemExit, match="onto itself"):
        replicate_sf.main([str(tmp_path), str(tmp_path / ".." / tmp_path.name)])


def test_replicate_sf_key_checks():
    replicate_sf.check_offsets("orders", {"o_orderkey": 10**9 - 1,
                                          "o_custkey": None}, 4)
    with pytest.raises(ValueError, match="collide"):
        replicate_sf.check_offsets("orders", {"o_orderkey": 10**9}, 4)
    with pytest.raises(ValueError, match="overflows int64"):
        replicate_sf.check_offsets("orders", {"o_orderkey": 1}, 10**10)
