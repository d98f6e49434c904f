"""The library reads only deployment settings and one feature flag from
the environment: no A/B lever that lost (or tied) its measurement stays
behind an env var.  Adding a setting means adding it here, with the
measured need it meets."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import psy_supabase_spark

ALLOWED = {
    "SPARK_GRAFT_CPUS",  # local[N] core count
    "SPARK_GRAFT_DRIVER_MEM",  # driver heap
    "PSY_REAL_MODELS",  # torch/spaCy model twins instead of the stubs
}

_NAME = re.compile(r"\b(?:SPARK_GRAFT|PSY)_[A-Z0-9_]+")


def test_env_settings_are_exactly_the_deployment_set():
    found = {}
    for path in Path(psy_supabase_spark.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                for name in _NAME.findall(node.value):
                    found.setdefault(name, path.name)
    assert set(found) == ALLOWED, found
