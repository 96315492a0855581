"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()``
exposes one callable per registered key (SURVEY.md §2 inventory and the
scale extensions) in correctness-window order; ``oracle_sql()`` gives
the DuckDB-equivalent SQL the driver hash-compares against at sf0.01.

Each key is registered once, builder and oracle side by side, in
``streaming_demos_spark/queries/`` (see its ``__init__``); this file
derives both dicts from that registry.
"""

from __future__ import annotations

import functools
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from streaming_demos_spark import queries as Q
from streaming_demos_spark.catalog import load_table
from streaming_demos_spark.operators import relational as R

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pricing-summary scan (grouped multi-aggregate over the
    fact table) at sf0.001. One scan, partial+final hash aggregation."""
    lineitem = load_table(spark, SF0001, "lineitem")
    return R.pricing_summary(lineitem)


# Correctness-window order. The correctness gate re-proves the first 50
# keys of queries() against DuckDB, so the order spends that window on
# the keys with the least current verification signal, derived from the
# gate's CORRECTNESS_r*.json records (never hand-kept):
#   (1) the standing environment sentinels (decode any red via
#       VERDICT_RESPONSES before touching queries);
#   (2) keys whose latest recorded row is not a hash match, or that have
#       no row at all (newly registered keys land here);
#   (3) _CHANGED_THIS_ROUND: keys whose code or oracle changed since
#       their last recorded row -- edit this list in the same change;
#   (4) every other key by the round of its latest green row, oldest
#       first; ties keep the key order inside that round's file.
_SENTINELS = (
    "probe_env_tz",
    "probe_env_versions",
    "probe_render_canary",
    "probe_round_canary",
)
_CHANGED_THIS_ROUND = (
    "llm_lr_sweep",
    "llm_quality_eval",
    "llm_quality_classifier",
    "llm_uncertainty_sample",
    "ext_grouped_mad",
    "ext_grouped_trend",
    "a10_j3_linucb_fit",
    "a12_linucb_score_top5",
)


def window_order(keys, rounds, sentinels=_SENTINELS,
                 changed=_CHANGED_THIS_ROUND) -> list[str]:
    """``keys`` in correctness-window order. ``rounds`` holds one
    ``{key: record}`` dict per CORRECTNESS round file, oldest first;
    keys in the records that are not in ``keys`` are ignored."""
    latest = {}  # key -> (round index, position in that file, green)
    for rnd, records in enumerate(rounds):
        for pos, (key, rec) in enumerate(records.items()):
            latest[key] = (rnd, pos, bool(rec.get("hash_match")))
    unproven = [k for k in keys if not latest.get(k, (0, 0, False))[2]]
    head = [k for k in dict.fromkeys([*sentinels, *unproven, *changed])
            if k in keys]
    rest = sorted(set(keys) - set(head), key=lambda k: latest[k][:2])
    return head + rest


@functools.lru_cache(maxsize=1)
def _correctness_rounds() -> tuple[dict, ...]:
    """The gate's CORRECTNESS_r<N>.json records next to this file,
    oldest round first."""
    here = os.path.dirname(os.path.abspath(__file__))
    found = {}
    for name in os.listdir(here):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", name)
        if m:
            with open(os.path.join(here, name)) as fh:
                found[int(m.group(1))] = json.load(fh)
    return tuple(found[r] for r in sorted(found))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Returned in correctness-window order (window_order above).
    d = Q.builders()
    return {k: d[k] for k in window_order(list(d), _correctness_rounds())}


def oracle_sql() -> dict[str, str]:
    return Q.oracles()
