"""Multimodal binary-column plumbing: schema, batch shapes, the
deterministic decoder."""

import pytest

from ldtab_clj_spark.operators.multimodal import (decode_media,
                                                  media_feature_statements,
                                                  sample_frames,
                                                  synth_media)
from ldtab_clj_spark.synth import synth_docs


@pytest.fixture(scope="module")
def media(spark):
    docs = synth_docs(spark, 60, seed=9)
    return synth_media(spark, docs).localCheckpoint()


def test_media_table_shape(media):
    rows = media.collect()
    assert rows
    for r in rows:
        assert isinstance(r.content, (bytes, bytearray)) and len(r.content) >= 256
        assert r.meta.format in ("png", "jpeg", "wav", "mp4")
        assert r.meta.width >= 16 and r.meta.n_frames >= 1


def test_decode_features_deterministic(media):
    f1 = {r.media_ref: list(r.feature)
          for r in decode_media(media).collect()}
    f2 = {r.media_ref: list(r.feature)
          for r in decode_media(media).collect()}
    assert f1 == f2
    assert all(len(v) == 16 for v in f1.values())
    assert all(0.0 <= x <= 1.0 for v in f1.values() for x in v)


def test_frame_sampling_one_to_many(media):
    frames = sample_frames(media, every=2).collect()
    assert frames
    by_ref = {}
    for fr in frames:
        by_ref.setdefault(fr.media_ref, []).append(fr.frame_idx)
        assert isinstance(fr.frame, (bytes, bytearray))
    meta = {r.media_ref: r.meta.n_frames for r in media.collect()}
    for ref, idxs in by_ref.items():
        assert idxs == list(range(0, meta[ref], 2))


def test_media_statements_join_back(media):
    st = media_feature_statements(decode_media(media))
    rows = st.collect()
    assert rows
    assert all(r.predicate == "ex:featureHash" for r in rows)
    assert all(r.subject.startswith("<media://") for r in rows)
