"""The benchmark's oracle check loads ``scripts/oracle_check.py`` by
path with ``sys.argv = [path, data_dir]`` and reads its ``vhash`` and
``TABLES``. Load it the same way and check those names still exist,
agree with the shared comparator, and that the import exports the data
dir as ``ORACLE_SF_DIR``."""

import importlib.util
import os
import sys

from streaming_demos_spark import oracle_compare as OC
from streaming_demos_spark.schemas import TESTDATA_TABLES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_like_benchmark(data_dir):
    path = os.path.join(ROOT, "scripts", "oracle_check.py")
    saved = sys.argv
    sys.argv = [path, data_dir]
    try:
        spec = importlib.util.spec_from_file_location("oracle_check", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.argv = saved
    return mod


def test_oracle_check_surface(monkeypatch):
    monkeypatch.setenv("ORACLE_SF_DIR", "unset")  # restored afterwards
    mod = _load_like_benchmark("/data/sfX")
    assert os.environ["ORACLE_SF_DIR"] == "/data/sfX"
    assert mod.SF == "/data/sfX"
    assert list(mod.TABLES) == list(TESTDATA_TABLES) == OC.TABLES
    assert mod.vhash is OC.vhash
    rows = [(1, 0.1 + 0.2, None), (2, float("nan"), "x")]
    assert mod.vhash(["k", "v", "s"], rows) == OC.vhash(
        ["S", "K", "V"], [(s, k, v) for k, v, s in reversed(rows)])
