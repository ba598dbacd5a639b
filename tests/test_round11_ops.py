"""Round-11 operators and lifecycle fixes: result-tied setsim
checkpoint lifetime, perceptual image near-dup (dHash + banded
Hamming), and the longest-repeat length profile."""

from pyspark.sql import functions as F

from smile_spark.tables import table
from smile_spark.testing import assert_matches_oracle

SF001 = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# setsim checkpoint lifetime is tied to the returned frame
# ---------------------------------------------------------------------------


def test_setsim_two_live_frames_are_safe(spark, sf_dir):
    """Two setsim frames built BEFORE either is consumed must both
    evaluate correctly: under the r10 released-at-next-call design the
    second construction freed the first frame's localCheckpoint blocks
    (lineage truncated — unrecoverable), so this ordering failed with
    missing-block errors (ADVICE r10 medium).  Lifetime is now a
    weakref finalizer on each returned frame."""
    from smile_spark.operators.dedup import setsim_join_frame

    docs = table(spark, sf_dir, "documents")
    first = setsim_join_frame(docs, hash_tokens=True)
    second = setsim_join_frame(docs, hash_tokens=False)
    # consume in construction order (first's blocks must have survived
    # second's construction), then re-read first AFTER second's full
    # evaluation — both directions of the old hazard.
    n1 = first.count()
    n2 = second.count()
    assert n1 == n2 > 0
    assert first.count() == n1


def test_setsim_finalizer_releases_blocks(spark, sf_dir):
    """Dropping the last reference to a setsim frame must release its
    checkpointed RDD blocks (the bench-blowup guard: 5-7 back-to-back
    runs leaked gigabytes before the hand-off existed)."""
    import gc

    from smile_spark.operators.dedup import setsim_join_frame

    jsc = spark.sparkContext._jsc.sc()

    def n_persistent() -> int:
        return jsc.getPersistentRDDs().size()

    docs = table(spark, sf_dir, "documents")
    frame = setsim_join_frame(docs, hash_tokens=True)
    frame.count()
    during = n_persistent()
    assert during > 0  # the checkpoint stages are registered
    del frame
    gc.collect()
    assert n_persistent() < during


# ---------------------------------------------------------------------------
# Perceptual image near-dup (dHash + banded Hamming)
# ---------------------------------------------------------------------------


def test_image_dhash_dedup_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.multimodal import IMAGE_DHASH_DEDUP_SQL, image_dhash_dedup

    for d in (sf_dir, SF001):
        assert_matches_oracle(spark, image_dhash_dedup, IMAGE_DHASH_DEDUP_SQL, d)


def test_image_dhash_banding_recall_is_total(spark, sf_dir):
    """The banded candidate join must find EVERY pair at Hamming <= 3
    (pigeonhole over 4 x 16-bit bands) — compare the operator's output
    against a brute-force all-pairs scan of the collected fingerprint
    table."""
    from smile_spark.operators.multimodal import (
        DHASH_MAX_DISTANCE,
        image_dhash_dedup,
        image_dhash_frame,
    )

    rows = image_dhash_frame(spark, SF001).collect()
    fp = {r.doc_id: (r.b0, r.b1, r.b2, r.b3) for r in rows}
    ids = sorted(fp)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            hd = sum(
                bin(x ^ y).count("1") for x, y in zip(fp[a], fp[b])
            )
            if hd <= DHASH_MAX_DISTANCE:
                want.add((a, b, hd))
    got = {
        (r.a, r.b, r.hamming)
        for r in image_dhash_dedup(spark, SF001).collect()
    }
    assert got == want
    assert want, "fixture should contain near-duplicate images"


def test_longest_repeat_profile_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.dedup import (
        LONGEST_REPEAT_PROFILE_SQL,
        longest_repeat_profile,
    )

    for d in (sf_dir, SF001):
        assert_matches_oracle(
            spark, longest_repeat_profile, LONGEST_REPEAT_PROFILE_SQL, d
        )


def test_longest_repeat_profile_consistent_with_cutlist(spark, sf_dir):
    """max_run/dup_tokens/n_spans must be exactly the aggregate of the
    registered cut list (the spans are disjoint, so SUM is a true
    covered-token count and never exceeds n_tokens)."""
    from smile_spark.operators.dedup import (
        dup_span_cutlist,
        longest_repeat_profile,
    )

    spans = {}
    for r in dup_span_cutlist(spark, sf_dir).collect():
        spans.setdefault(r.doc_id, []).append(r.span_tokens)
    prof = longest_repeat_profile(spark, sf_dir).collect()
    assert prof
    for r in prof:
        lens = spans.get(r.doc_id, [])
        assert r.n_spans == len(lens)
        assert r.dup_tokens == sum(lens)
        assert r.max_run == max(lens, default=0)
        assert r.dup_tokens <= r.n_tokens


def test_video_frame_dedup_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.multimodal import (
        VIDEO_FRAME_DEDUP_SQL,
        video_frame_dedup,
    )

    for d in (sf_dir, SF001):
        assert_matches_oracle(
            spark, video_frame_dedup, VIDEO_FRAME_DEDUP_SQL, d
        )


def test_video_frame_dedup_matches_bruteforce(spark, sf_dir):
    """The hash equi-join must pair exactly the videos that share at
    least one identical frame hash, with n_shared = the number of
    distinct shared hash values — brute-forced from the collected
    per-frame fingerprint table."""
    from smile_spark.operators.multimodal import (
        video_frame_dedup,
        video_frame_dhash_frame,
    )

    sets = {}
    for r in video_frame_dhash_frame(spark, SF001).collect():
        sets.setdefault(r.doc_id, set()).add((r.b0, r.b1, r.b2, r.b3))
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = len(sets[a] & sets[b])
            if shared:
                want[(a, b)] = shared
    got = {
        (r.a, r.b): r.n_shared
        for r in video_frame_dedup(spark, SF001).collect()
    }
    assert got == want
    assert want, "fixture should contain videos sharing identical frames"


# ---------------------------------------------------------------------------
# Incremental corpus dedup (probe-vs-base)
# ---------------------------------------------------------------------------


def test_setsim_incremental_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.dedup import (
        SETSIM_INCREMENTAL_SQL,
        setsim_incremental,
    )

    for d in (sf_dir, SF001):
        assert_matches_oracle(
            spark, setsim_incremental, SETSIM_INCREMENTAL_SQL, d
        )


def test_setsim_incremental_equals_full_join_slice(spark, sf_dir):
    """The incremental probe-vs-base join must produce EXACTLY the
    increment<->base slice of the full symmetric setsim join — same
    pairs, same (na, nb, i, jaccard) — while never enumerating
    base x base.  This pins the asymmetric prefix bounds (the sharp
    PPJoin index prefix is invalid here; development caught it
    dropping 22 pairs)."""
    from smile_spark.operators.dedup import (
        SETSIM_INC_MOD,
        setsim_incremental,
        setsim_join_prefix,
    )

    full = setsim_join_prefix(spark, sf_dir)
    want = {}
    for r in full.collect():
        a_inc = r.a % SETSIM_INC_MOD == 0
        b_inc = r.b % SETSIM_INC_MOD == 0
        if a_inc == b_inc:
            continue  # base-base or inc-inc: out of scope
        if a_inc:
            want[(r.a, r.b)] = (r.na, r.nb, r.i, r.jaccard)
        else:
            want[(r.b, r.a)] = (r.nb, r.na, r.i, r.jaccard)
    got = {
        (r.a, r.b): (r.na, r.nb, r.i, r.jaccard)
        for r in setsim_incremental(spark, sf_dir).collect()
    }
    assert got == want
    assert want, "fixture should contain increment-base near-dups"


def test_csv_malformed_audit_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.sources.text_formats import (
        CSV_MALFORMED_AUDIT_SQL,
        csv_malformed_audit,
    )

    for d in (sf_dir, SF001):
        assert_matches_oracle(
            spark, csv_malformed_audit, CSV_MALFORMED_AUDIT_SQL, d
        )


def test_csv_malformed_audit_quarantines_whole_lines(spark, sf_dir):
    """Every quarantined row must carry the ORIGINAL raw line in
    _corrupt_record (the re-ingest contract: quarantine is lossless),
    and parse failure must never leak a half-parsed price."""
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from smile_spark.sources.text_formats import CSV_CORRUPT_MOD
    from smile_spark.tables import table

    orders = table(spark, sf_dir, "orders")
    lines = orders.select(
        F.concat_ws(
            ",",
            "o_orderkey",
            "o_custkey",
            F.when(
                F.col("o_orderkey") % CSV_CORRUPT_MOD == 0, F.lit("oops")
            ).otherwise(F.col("o_totalprice").cast("string")),
            "o_orderpriority",
        ).alias("value")
    )
    out = tempfile.mkdtemp(prefix="smile_csv_dirty_test_")
    lines.write.mode("overwrite").text(out)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderpriority", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    # cache before the corrupt-only projection: Spark disallows
    # queries over raw CSV that reference ONLY _corrupt_record
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    back = back.cache()
    try:
        bad = back.filter(F.col("_corrupt_record").isNotNull())
        assert bad.filter(F.col("o_totalprice").isNotNull()).count() == 0
        assert (
            bad.filter(
                ~F.col("_corrupt_record").contains(",oops,")
            ).count()
            == 0
        )
    finally:
        back.unpersist()


def test_dhash_bands_matches_bitwise_reference():
    """The vectorized dHash core equals an index-by-index scalar
    reference on random rasters (grid sampling rule, comparison
    direction, bit packing)."""
    import numpy as np

    from smile_spark.operators.multimodal import (
        DHASH_GH,
        DHASH_GW,
        _dhash_bands,
    )

    rng = np.random.RandomState(7)
    for _ in range(25):
        h = rng.randint(1, 40)
        w = rng.randint(1, 40)
        pix = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        got = list(_dhash_bands(pix, w, h))
        want = [0, 0, 0, 0]
        for gy in range(DHASH_GH):
            sy = (gy * h) // DHASH_GH
            for gx in range(DHASH_GW - 1):
                sx0 = (gx * w) // DHASH_GW
                sx1 = ((gx + 1) * w) // DHASH_GW
                bit = 1 if int(pix[sy, sx1]) > int(pix[sy, sx0]) else 0
                want[gy // 2] |= bit << ((gy % 2) * 8 + gx)
        assert got == want, (w, h)


def test_image_dhash_clusters_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.multimodal import (
        IMAGE_DHASH_CLUSTERS_SQL,
        image_dhash_clusters,
    )

    for d in (sf_dir, SF001):
        assert_matches_oracle(
            spark, image_dhash_clusters, IMAGE_DHASH_CLUSTERS_SQL, d
        )


def test_image_dhash_clusters_keep_invariants(spark, sf_dir):
    """Exactly one keeper per cluster; singletons all kept; every
    image-modality doc accounted for; cluster sizes sum to the image
    count."""
    from smile_spark.operators.multimodal import image_dhash_clusters
    from smile_spark.tables import table

    rows = image_dhash_clusters(spark, SF001).collect()
    n_imgs = (
        table(spark, SF001, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .count()
    )
    assert len(rows) == n_imgs
    kept = sum(1 for r in rows if r.keep)
    singles = sum(1 for r in rows if r.cluster_size == 1)
    assert all(r.keep for r in rows if r.cluster_size == 1)
    # one keeper per multi-doc cluster: each cluster of size s
    # contributes s rows, so the distinct-cluster count is
    # sum(1/s) over multi rows — an exact integer via Fraction
    from fractions import Fraction

    multi = [r for r in rows if r.cluster_size > 1]
    n_multi_clusters = sum(
        (Fraction(1, r.cluster_size) for r in multi), Fraction(0)
    )
    assert n_multi_clusters.denominator == 1
    assert kept == singles + n_multi_clusters.numerator
    assert sum(1 for r in multi if r.keep) == n_multi_clusters.numerator
    assert multi, "fixture should contain multi-image clusters"


def test_setsim_incremental_tau_boundary(spark):
    """Pairs at Jaccard EXACTLY tau must be included, just-below
    excluded — the integer thresholds' reason to exist — and only
    increment->base orientations may appear."""
    from smile_spark.operators.dedup import (
        SETSIM_INC_MOD,
        SETSIM_TAU,
        setsim_incremental,
    )
    import smile_spark.operators.dedup as dmod

    t = [f"w{j:03d}" for j in range(60)]
    rows = [
        # ids chosen so exactly one side of each pair is an increment
        # doc (id % SETSIM_INC_MOD == 0)
        (SETSIM_INC_MOD, " ".join(t[0:9])),        # inc: 9 tokens
        (SETSIM_INC_MOD + 1, " ".join(t[0:10])),   # base: J = 9/10
        (2 * SETSIM_INC_MOD, " ".join(t[20:28])),  # inc: 8 tokens
        (2 * SETSIM_INC_MOD + 1, " ".join(t[20:29])),  # base: 8/9 < tau
        (3 * SETSIM_INC_MOD + 1, " ".join(t[40:49])),  # base only
        (3 * SETSIM_INC_MOD + 2, " ".join(t[40:50])),  # base-base: J=0.9
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    orig = dmod.table
    try:
        dmod.table = lambda _s, _d, _n: df
        got = {
            (r.a, r.b): r.jaccard
            for r in setsim_incremental(spark, "synthetic").collect()
        }
    finally:
        dmod.table = orig
    assert got == {(SETSIM_INC_MOD, SETSIM_INC_MOD + 1): SETSIM_TAU}


def test_cc_labels_releases_superseded_rounds(spark, cc_paths):
    """Iterative loops must not accumulate one persisted RDD per
    round: after cc_labels converges on a long path (many pointer-
    jumping rounds), only the FINAL label table may remain persisted
    (the r11 superseded-checkpoint release, cc_labels precedent for
    bfs/sssp/pagerank/kcore/LPA).  The driver-side pass keeps only
    its label table too."""
    from smile_spark.operators.graph import cc_labels

    jsc = spark.sparkContext._jsc.sc()
    n = 40  # path graph: diameter 39 -> many rounds without jumping
    edges = [(i, i + 1) for i in range(n - 1)]
    e = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    for path in cc_paths():
        n0 = jsc.getPersistentRDDs().size()
        labels = cc_labels(nodes, e, n_edges=2 * len(edges))
        comps = {r.component for r in labels.collect()}
        assert comps == {0}, path
        n1 = jsc.getPersistentRDDs().size()
        assert n1 - n0 <= 1, (path, n0, n1)
