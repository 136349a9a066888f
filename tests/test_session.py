"""Session factory: a malformed ``SPARK_GRAFT_CPUS`` override fails
loudly, with a typed error naming the variable, when a session is asked
for — never at import."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

# Runs in a fresh interpreter so the override is seen at import time.
# Any touch of SparkSession (the builder) fails the check.
_PROBE = """
import heparchy_spark
from heparchy_spark import session
from heparchy_spark.errors import EnvOverrideError


class NoBuilder:
    def __getattr__(self, name):
        raise AssertionError("session builder reached")


session.SparkSession = NoBuilder()
try:
    session.get_spark()
except EnvOverrideError as exc:
    print(exc)
"""


@pytest.mark.parametrize("value", ["abc", "0", ""])
def test_malformed_cpus_override_raises_typed_error(value):
    env = {**os.environ, "SPARK_GRAFT_CPUS": value}
    r = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr
    assert "SPARK_GRAFT_CPUS" in r.stdout and repr(value) in r.stdout
