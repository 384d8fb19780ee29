"""Contract lanes against their DuckDB oracles, inside Tier-1.

Each lane listed here is the only end-to-end check of the synthesizer
it builds its assets with, so it runs at the oracle scale and is
compared the way ``tools/selfcheck.py`` compares it.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tests.conftest import SF_ORACLE
from tools import selfcheck

SYNTH_ONLY_LANES = [
    "multimodal_decode_wav",
    "multimodal_audio_g711",
    "multimodal_audio_adpcm",
    "multimodal_audio_adpcm_stereo",
    "multimodal_audio_msadpcm",
    "multimodal_audio_au",
    "multimodal_decode_flac",
    "multimodal_flac_pcm",
    "multimodal_decode_ogg",
    "multimodal_mp3_id3",
    "multimodal_ogg_tags",
    "multimodal_vp8_lossy",
    "multimodal_vp8_bpred",
    "multimodal_vp8_segments",
    "multimodal_vp8_lf_delta",
    "multimodal_vp8_normal_filter",
    "multimodal_tiff_pixels",
    "multimodal_tiff_packbits",
    "multimodal_tiff_lzw",
    "multimodal_tiff_deflate",
]


@pytest.fixture(scope="module")
def oracle_db():
    con = selfcheck.oracle_db(SF_ORACLE)
    yield con
    con.close()


@pytest.mark.parametrize("lane", SYNTH_ONLY_LANES)
def test_lane_matches_oracle(spark, oracle_db, lane):
    sdf = entry.queries()[lane](spark, SF_ORACLE)
    srows = [tuple(r) for r in sdf.collect()]
    rel = oracle_db.sql(entry.oracle_sql()[lane])
    why = selfcheck.mismatch(
        sdf, srows, list(rel.columns), [str(t) for t in rel.types],
        rel.fetchall(),
    )
    assert why is None, why
    assert srows, "an empty result would compare equal vacuously"
