"""Regression: ``__spark_entry__`` must import with NO active SparkContext.

Round 3's driver artifact was emptied because a module-level
``F.col(...)`` expression (operators/tpch.py) asserted an active
SparkContext at import time — exactly how the driver's oracle checker
and pytest collection import the module.  This test imports the entry
module of this checkout in a clean subprocess (no session) and asserts
the registered surface is intact: every key has its oracle.
"""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"
N_KEYS = 341


def test_entry_imports_without_spark_context():
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "import __spark_entry__ as e\n"
        "import json\n"
        "q = e.queries(); o = e.oracle_sql()\n"
        "assert isinstance(q, dict) and isinstance(o, dict)\n"
        "print(json.dumps({'queries': list(q), 'oracles': list(o)}))\n"
    ) % REPO
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=120,
        env={**os.environ, "ORACLE_SF_DIR": SF_DIR},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(got["queries"]) == N_KEYS
    assert set(got["oracles"]) == set(got["queries"])


def test_registering_a_key_twice_raises_at_import():
    from streaming_demos_spark import queries as Q

    n = len(Q.REGISTRY)
    module = (
        "from streaming_demos_spark.queries import key\n"
        "@key('q1_pricing_summary', oracle='SELECT 1 AS x')\n"
        "def q_again(spark, sf_dir):\n"
        "    return None\n"
    )
    with pytest.raises(ValueError, match="q1_pricing_summary"):
        exec(compile(module, "dup_key_module.py", "exec"), {})
    assert len(Q.REGISTRY) == n
    assert Q.REGISTRY["q1_pricing_summary"][0].__name__ == "q_pricing_summary"
