"""Oracle proof for the crafted-corpus keys: the audio and decompression
keys, whose oracles are closed-form replays of a crafted corpus. Besides
the hash comparison ``test_oracle_parity`` runs for every key, their
sf0.001 result must be non-empty, since an empty result would
hash-match an empty replay. The comparison is
``streaming_demos_spark.oracle_compare.compare``.
"""

from __future__ import annotations

import pytest

from streaming_demos_spark import oracle_compare as OC

SF_DIR = "/root/testdata/sf0.001"
OC.use_sf_dir(SF_DIR)

import __spark_entry__ as entrymod  # noqa: E402

CORPUS_KEYS = [
    "llm_decompress_corpus",
    "mm_audio_features",
    "mm_audio_vad",
    "mm_audio_windows",
]


@pytest.fixture(scope="module")
def ducon():
    con = OC.duck_views(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("key", CORPUS_KEYS)
def test_r11_key_hash_matches_oracle(spark, ducon, key):
    qdf = entrymod.queries()[key](spark, SF_DIR)
    rec = OC.compare(qdf, ducon, entrymod.oracle_sql()[key])

    assert rec["rows_match"], (
        f"{key}: row counts differ {rec['spark_rows']}/{rec['oracle_rows']}")
    assert rec["spark_rows"] > 0, f"{key}: empty result"
    assert rec["hash_match"], f"{key}: first mismatch {rec['first_diff']}"
