"""Multimodal plumbing tests: decoder stub contract + batch shape."""

from __future__ import annotations

import pytest
from pyspark.sql.types import BinaryType

from decision_tree_analytics_spark.operators.multimodal import (
    META_SCHEMA,
    VIDEO_HEADER_BYTES,
    MultimodalDecoder,
    mm_binary_meta,
    mm_video_frame_plan,
    with_binary_payload,
)
from decision_tree_analytics_spark.sources.tables import load_table


def test_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        MultimodalDecoder().decode(b"\x89PNG...")


def test_fake_metadata_deterministic():
    a = MultimodalDecoder.fake_metadata(b"hello")
    assert a == MultimodalDecoder.fake_metadata(b"hello")
    n, digest, w, h, c = a
    assert n == 5 and len(digest) == 32 and 64 <= w < 256 and 64 <= h < 256 and c == 3


def test_payload_column_is_binary(spark, sf_dir):
    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    assert isinstance(d.schema["payload"].dataType, BinaryType)


def test_meta_schema_stable(spark, sf_dir):
    out = mm_binary_meta(spark, sf_dir)
    assert out.schema == META_SCHEMA
    row = out.orderBy("doc_id").first()
    assert row.n_bytes > 0 and len(row.content_md5) == 32


def test_chunk_pairs_finds_planted_near_dups(spark):
    from decision_tree_analytics_spark.operators.multimodal import (
        CHUNK_CHARS,
        chunk_pairs,
    )

    base = "".join(f"word{i:04d} " for i in range(40))  # 360 chars, >10 blocks
    docs = [
        (1, base),
        (2, base[: CHUNK_CHARS * 8] + "TAIL CHANGED " + base[CHUNK_CHARS * 8 + 13 :]),
        (3, "completely different payload " * 12),
    ]
    d = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {(r.id_a, r.id_b): r for r in chunk_pairs(d).collect()}
    assert (1, 2) in out  # prefix blocks shared despite the tail edit
    pair = out[(1, 2)]
    assert pair.n_shared >= 8 and 0 < pair.overlap < 1
    assert (1, 3) not in out and (2, 3) not in out


def test_chunk_pairs_stop_chunk_cap_drops_boilerplate(spark):
    from decision_tree_analytics_spark.operators.multimodal import (
        CHUNK_CHARS,
        CHUNK_MAX_FREQ,
        chunk_pairs,
    )

    # One block shared by MORE docs than the cap: candidate buckets
    # must be dropped, so no pair reaches the >=2-shared threshold.
    boiler = "X" * CHUNK_CHARS + "Y" * CHUNK_CHARS
    docs = [(i, boiler + f"unique tail {i:06d}" * 3) for i in range(CHUNK_MAX_FREQ + 5)]
    d = spark.createDataFrame(docs, ["doc_id", "text"])
    assert chunk_pairs(d).count() == 0


def test_audio_chunks_tile_the_clip(spark, sf_dir):
    from decision_tree_analytics_spark.operators.multimodal import (
        mm_audio_chunk_plan,
    )

    rows = mm_audio_chunk_plan(spark, sf_dir).collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc, chunks in per_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        sr = chunks[0]["sr"]
        hop = sr // 2
        assert all(c["start_sample"] == i * hop for i, c in enumerate(chunks))
        assert chunks[-1]["is_last"] == 1
        assert all(c["n_samp"] <= sr and c["n_samp"] >= hop for c in chunks)
        # full coverage: last chunk reaches the clip end
        end = chunks[-1]["start_sample"] + chunks[-1]["n_samp"]
        assert end == (doc % 10 + 1) * sr


def test_video_frame_plan_matches_replay(spark, sf_dir):
    """Pure-Python GOP/byte-offset replay over every clip: the plan's
    closed-form offsets must equal a frame-by-frame walk of the
    modeled stream (I-frame at each GOP head, P-frames between)."""
    pdf = (
        mm_video_frame_plan(spark, sf_dir)
        .toPandas()
        .sort_values(["doc_id", "k"])
    )
    assert len(pdf) > 0
    for doc_id, g in pdf.groupby("doc_id"):
        fps = 24 + (doc_id % 3) * 3
        dur = doc_id % 19 + 2
        gop = 12 + (doc_id % 2) * 3
        pixels = 1280 * 720 if doc_id % 2 == 0 else 640 * 360
        n_frames = fps * dur
        i_b, p_b = pixels // 2, pixels // 10
        # Walk the stream frame by frame, recording each GOP head.
        offsets, off = [], VIDEO_HEADER_BYTES
        for idx in range(n_frames):
            if idx % gop == 0:
                offsets.append(off)
            off += i_b if idx % gop == 0 else p_b
        assert list(g.byte_offset) == offsets
        assert list(g.frame_idx) == [k * gop for k in range(len(offsets))]
        assert list(g.ts_us) == [
            k * gop * 1_000_000 // fps for k in range(len(offsets))
        ]
        assert g.gop_len.sum() == n_frames  # GOPs tile the clip exactly
        assert list(g.is_last)[-1] == 1 and sum(g.is_last) == 1
