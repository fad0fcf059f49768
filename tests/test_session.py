"""Local-mode CPU default (no Spark session needed)."""

from __future__ import annotations

import pytest

from kgpipe.session import default_cpus


def test_default_cpus_follows_the_host_when_unset():
    assert default_cpus({}, 4) == 4
    assert default_cpus({"SPARK_GRAFT_CPUS": ""}, 6) == 6


def test_default_cpus_honours_the_env_override():
    assert default_cpus({"SPARK_GRAFT_CPUS": "32"}, 4) == 32


@pytest.mark.parametrize("raw", ["0", "-2", "four"])
def test_default_cpus_rejects_a_bad_override(raw):
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        default_cpus({"SPARK_GRAFT_CPUS": raw}, 4)
