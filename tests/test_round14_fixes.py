"""Round-14 ADVICE fixes: ngram_diversity exact-mode empty-level drop
(modes must agree on degenerate corpora), _publish_dir's rename-aside
replay path (dest never deleted-then-absent for a full recursive
delete), and decode_avi_mjpeg's LIST-rec recursion + single-video-
stream enforcement."""

from __future__ import annotations

import struct

import pytest


def test_ngram_diversity_exact_drops_empty_n_level(spark):
    """Exact-mode twin of the r13 approx test (ADVICE r13): an n level
    with zero grams must DROP in approx AND exact mode — the r12 fix
    landed only on approx, so the two modes disagreed on degenerate
    corpora (approx: 0 rows, exact: one (0, 0, 0.0) row per n)."""
    from duo_spark.operators.text import ngram_diversity

    df = spark.createDataFrame([("",), ("   ",)], "text string")
    assert ngram_diversity(df, ns=(1, 2, 3), approx=False).count() == 0
    # sanity: a non-degenerate corpus still reports every level, and
    # the two modes agree level-for-level on totals
    ok = spark.createDataFrame([("a b",)], "text string")
    exact = {r.n: r for r in ngram_diversity(ok, ns=(1, 2), approx=False).collect()}
    assert exact[1].total_ngrams == 2 and exact[2].total_ngrams == 1
    approx = {r.n: r for r in ngram_diversity(ok, ns=(1, 2), approx=True).collect()}
    assert set(exact) == set(approx)
    for n in exact:
        assert exact[n].total_ngrams == approx[n].total_ngrams


def test_publish_dir_replay_keeps_dest_and_cleans_aside(spark, tmp_path):
    """ADVICE r13: a replayed batch must not delete-then-rename (the
    recursive delete leaves dest absent long enough for a concurrent
    read_open to miss the only version). The rename-aside path must
    (a) end with the NEW content at dest, (b) leave no hidden
    ``.old-*`` residue, and (c) keep the version listable throughout
    — verified here end-state; the absence window is two metadata
    renames, measured in probe 41's soak."""
    from duo_spark.sources.store import hadoop_fs
    from duo_spark.streaming.merge import _publish_dir
    from duo_spark.streaming.rollup import _version_ids

    root = str(tmp_path / "pub")
    spark.createDataFrame([(1, "first")], "id long, v string").write.parquet(
        f"{root}/.tmp-a"
    )
    _publish_dir(spark, f"{root}/.tmp-a", f"{root}/v=7")
    assert spark.read.parquet(f"{root}/v=7").collect()[0].v == "first"
    # replay: same version id, new content
    spark.createDataFrame([(1, "second")], "id long, v string").write.parquet(
        f"{root}/.tmp-b"
    )
    _publish_dir(spark, f"{root}/.tmp-b", f"{root}/v=7")
    assert spark.read.parquet(f"{root}/v=7").collect()[0].v == "second"
    fs, aside = hadoop_fs(spark, f"{root}/.old-v=7")
    assert not fs.exists(aside), ".old aside must be deleted after publish"
    assert _version_ids(spark, root) == [7]


def _rec_wrap_movi(avi: bytes) -> bytes:
    """Rewrap every frame chunk of a synth AVI's movi list inside a
    standard ``LIST rec `` interleave group (the layout interleaved
    real-world AVIs use), preserving everything else."""
    from duo_spark.operators.multimodal import _avi_chunks

    def chunk(fcc: bytes, payload: bytes) -> bytes:
        return (
            fcc
            + struct.pack("<I", len(payload))
            + payload
            + (b"\x00" if len(payload) & 1 else b"")
        )

    (riff_size,) = struct.unpack_from("<I", avi, 4)
    end = min(len(avi), 8 + riff_size)
    out_lists = []
    for fcc, body, size in _avi_chunks(avi, 12, end):
        raw = avi[body - 8 : body + size + (size & 1)]
        if fcc == b"LIST" and avi[body : body + 4] == b"movi":
            frames = []
            for f2, b2, s2 in _avi_chunks(avi, body + 4, body + size):
                frames.append(chunk(f2, avi[b2 : b2 + s2]))
            wrapped = b"".join(chunk(b"LIST", b"rec " + fr) for fr in frames)
            raw = chunk(b"LIST", b"movi" + wrapped)
        out_lists.append(raw)
    payload = b"AVI " + b"".join(out_lists)
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def test_decode_avi_mjpeg_recurses_into_rec_lists():
    """ADVICE r13: frames nested inside ``LIST rec `` groups must
    decode identically to the flat layout (the r13 walker silently
    skipped them -> frame count 0)."""
    from duo_spark.operators.multimodal import decode_avi_mjpeg, synth_avi_mjpeg

    flat = synth_avi_mjpeg(3)
    base = decode_avi_mjpeg(flat, every=1)
    wrapped = _rec_wrap_movi(flat)
    assert decode_avi_mjpeg(wrapped, every=1) == base
    assert base[3], "sanity: the synth AVI has sampled frames"
    # sampling composes with the recursion
    assert decode_avi_mjpeg(wrapped, every=2) == decode_avi_mjpeg(flat, every=2)


def test_decode_avi_mjpeg_rejects_second_video_stream():
    """ADVICE r13: a '01dc' frame chunk (second video stream) must
    raise instead of interleaving into one frame index."""
    from duo_spark.operators.multimodal import decode_avi_mjpeg, synth_avi_mjpeg

    avi = synth_avi_mjpeg(1)
    bad = avi.replace(b"00dc", b"01dc", 1)
    with pytest.raises(ValueError, match="unexpected stream"):
        decode_avi_mjpeg(bad)


def test_decode_avi_mjpeg_rejects_two_vids_strl():
    """Two ``vids`` stream headers in hdrl is an unsupported layout —
    loud error, not a silent pick."""
    from duo_spark.operators.multimodal import _avi_chunks, decode_avi_mjpeg, synth_avi_mjpeg

    avi = synth_avi_mjpeg(2)

    def chunk(fcc: bytes, payload: bytes) -> bytes:
        return (
            fcc
            + struct.pack("<I", len(payload))
            + payload
            + (b"\x00" if len(payload) & 1 else b"")
        )

    (riff_size,) = struct.unpack_from("<I", avi, 4)
    end = min(len(avi), 8 + riff_size)
    out_lists = []
    for fcc, body, size in _avi_chunks(avi, 12, end):
        raw = avi[body - 8 : body + size + (size & 1)]
        if fcc == b"LIST" and avi[body : body + 4] == b"hdrl":
            # duplicate the strl sub-list -> two vids streams
            subs = []
            strl_raw = None
            for f2, b2, s2 in _avi_chunks(avi, body + 4, body + size):
                sub = avi[b2 - 8 : b2 + s2 + (s2 & 1)]
                subs.append(sub)
                if f2 == b"LIST" and avi[b2 : b2 + 4] == b"strl":
                    strl_raw = sub
            assert strl_raw is not None
            raw = chunk(b"LIST", b"hdrl" + b"".join(subs) + strl_raw)
        out_lists.append(raw)
    payload = b"AVI " + b"".join(out_lists)
    bad = b"RIFF" + struct.pack("<I", len(payload)) + payload
    with pytest.raises(ValueError, match="multiple video streams"):
        decode_avi_mjpeg(bad)
