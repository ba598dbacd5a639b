"""Invariant tests for the round-7 changes (oracle parity is covered
by tests/test_parity.py via the oracle_sql() registrations)."""

import pytest

from smile_spark.operators import multimodal as M


def _pgm(w: int, h: int, sep: bytes = b"\n", fill: int = 7) -> bytes:
    header = b"P5" + sep + str(w).encode() + sep + str(h).encode() + sep
    header += b"255\n"
    return header + bytes((fill + i) % 256 for i in range(w * h))


class TestPgmStreamAdvance:
    def test_newline_separated_dims_containing_255(self):
        """A header whose height token is 255 with newline separators
        ("P5\\n8\\n255\\n255\\n") embeds the canonical maxval marker
        inside the dimension tokens; the frame walk must advance by
        the bytes the parser consumed, not by a marker search."""
        f0 = _pgm(8, 255)
        f1 = _pgm(8, 255, fill=19)
        frames = M.sample_video_frames(f0 + f1, every_n=1)
        assert len(frames) == 2
        assert [(w, h) for w, h, _ in frames] == [(8, 255), (8, 255)]
        assert int(frames[0][2][0, 0]) == 7
        assert int(frames[1][2][0, 0]) == 19

    def test_mixed_whitespace_headers(self):
        stream = _pgm(4, 3, sep=b"\t") + _pgm(255, 2) + _pgm(5, 5, sep=b" ")
        frames = M.sample_video_frames(stream, every_n=1)
        assert [(w, h) for w, h, _ in frames] == [(4, 3), (255, 2), (5, 5)]

    def test_parse_consumed_matches_length(self):
        p = _pgm(6, 4)
        w, h, pix, end = M._parse_pgm(p)
        assert (w, h) == (6, 4)
        assert end == len(p)

    def test_bad_magic_raises(self):
        with pytest.raises(ValueError, match="magic"):
            M.sample_video_frames(b"XX" + _pgm(2, 2)[2:])


class TestWavStrictness:
    def test_truncated_data_chunk_raises(self):
        """A data chunk declaring more bytes than remain must fail
        loudly, not silently return fewer samples."""
        wav = M._encode_wav(5)
        with pytest.raises(ValueError, match="remain"):
            M.resample_audio(wav[:-10])

    def test_oversized_declared_size_raises(self):
        wav = bytearray(M._encode_wav(5))
        # find the data chunk and inflate its declared size
        i = bytes(wav).index(b"data")
        wav[i + 4 : i + 8] = (2**20).to_bytes(4, "little")
        with pytest.raises(ValueError, match="remain"):
            M.resample_audio(bytes(wav))

    def test_valid_wav_still_decodes(self):
        rate, s = M.resample_audio(M._encode_wav(5), rate=8_000)
        assert rate == 8_000
        assert len(s) == (256 + 5 % 256 + 1) // 2


def test_pq_recall_against_brute_force(spark, sf_dir):
    """PQ's ADC candidates must recover a meaningful fraction of the
    true top-k (the SQ8/SRP recall contract), and whatever it returns
    must carry the exact brute-force score (the re-rank is exact)."""
    from smile_spark.operators.similarity import (
        TOP_K,
        ann_cosine_topk,
        ann_pq_topk,
    )

    truth = {
        (r.qid, r.vec_id) for r in ann_cosine_topk(spark, sf_dir).collect()
    }
    got = {(r.qid, r.vec_id) for r in ann_pq_topk(spark, sf_dir).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, recall
    bf = {
        (r.qid, r.vec_id): r.cos_r
        for r in ann_cosine_topk(spark, sf_dir, k=10**9).collect()
    }
    for r in ann_pq_topk(spark, sf_dir).collect():
        assert bf[(r.qid, r.vec_id)] == r.cos_r
        assert 1 <= r.rn <= TOP_K


class TestSetsimSaltSizing:
    def test_scales_with_bucket_skew(self):
        from smile_spark.operators.dedup import _setsim_n_salts_pairs

        # a symmetric prefix bucket of h docs makes ~h*h//2 pairs
        sizes = [0, 10, 100, 1_000, 3_816, 10_000, 100_000]
        salts = [_setsim_n_salts_pairs(h * h // 2) for h in sizes]
        assert salts == sorted(salts), "must be monotone in the skew"
        assert salts[0] == 1 and salts[1] == 1
        assert _setsim_n_salts_pairs(1_000 * 1_000 // 2) == 1  # 500k pairs
        # the observed sf0.1 hot bucket lands near the hand-tuned 16
        assert 8 <= _setsim_n_salts_pairs(3_816 * 3_816 // 2) <= 32
        assert _setsim_n_salts_pairs(10**9 * 10**9 // 2) == 64  # capped

    def test_session_conf_override(self, spark, sf_dir):
        from smile_spark.operators import dedup as D

        spark.conf.set("spark.smile.setsim.nSalts", "4")
        try:
            base = {
                (r.a, r.b, r.jaccard)
                for r in D.setsim_join_prefix(spark, sf_dir).collect()
            }
        finally:
            spark.conf.unset("spark.smile.setsim.nSalts")
        auto = {
            (r.a, r.b, r.jaccard)
            for r in D.setsim_join_prefix(spark, sf_dir).collect()
        }
        assert base == auto, "salt factor must never change the result"


def test_modularity_bounds_and_community_consistency(spark, sf_dir):
    """Q is bounded in [-0.5, 1]; the community count matches the
    label-propagation output it is scored on."""
    from smile_spark.operators.graph import (
        graph_modularity,
        label_propagation,
    )

    row = graph_modularity(spark, sf_dir).collect()[0]
    assert -0.5 <= row.modularity <= 1.0, row
    labels = label_propagation(spark, sf_dir)
    n_comm = labels.select("community").distinct().count()
    assert row.n_communities == n_comm
    assert row.n_edges > 0


def test_personalized_pagerank_empty_teleport_set(spark, monkeypatch):
    """An empty teleport set must raise a defined error, not
    ZeroDivisionError (ADVICE r06)."""
    from smile_spark.operators import graph as G
    from smile_spark.tables import table as real_table

    def filtered_table(s, sf, name):
        df = real_table(s, sf, name)
        if name == "customer":
            from pyspark.sql import functions as F

            return df.filter(F.col("c_custkey") % G.PPR_SOURCE_MOD != 0)
        return df

    monkeypatch.setattr(G, "table", filtered_table)
    with pytest.raises(ValueError, match="teleport"):
        G.personalized_pagerank(spark, "/root/testdata/sf0.001")
