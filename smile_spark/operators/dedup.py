"""Deduplication operators (north-star extension; no reference analogue
— SURVEY.md §2.2 confirms the reference has no string/dedup surface).

Families over the ``documents`` table:

* exact          — content-hash groupBy (the 100 TB-scale baseline:
                   one shuffle on a 16-byte key).
* n-gram Jaccard — exact pairwise similarity on a blocked candidate
                   set (cross-join-free).
* MinHash + LSH  — shingle → 16 min-hashes → 4 banded buckets →
                   bucket-join for candidates → exact verify.  The
                   scale path: candidate generation is an equi-join on
                   (band, bucket-key), never a cross join.
* SimHash        — 32-bit sign-of-sum fingerprint per document.
* prefix-filter  — EXACT Jaccard-threshold join (AllPairs/PPJoin):
                   lossless candidate pruning by rarest-token
                   prefixes + positional bounds; and the directed
                   containment variant for subset/quote detection.
* evaluation     — dedup_eval measures LSH recall/precision against
                   exact ground truth on a blocked audit fraction.

Determinism strategy: every hash is built from ``md5`` via SQL
expression strings shared VERBATIM between the Spark plan
(``F.expr``) and the DuckDB oracle — min-hash comparisons happen on
hex strings (lexicographic min == numeric min for fixed-width hex),
so both engines agree bit-for-bit with no engine-specific hash
function anywhere.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smile_spark.operators import labels as L
from smile_spark.operators.graph import pair_components
from smile_spark.sources import bucketed as BK
from smile_spark.tables import fan_out, table

SHINGLE_K = 12          # character shingle width
N_HASHES = 16           # minhash signature length
N_BANDS = 4             # LSH bands (4 rows per band)
ROWS_PER_BAND = N_HASHES // N_BANDS
LSH_VERIFY_THRESHOLD = 0.5
# increment block for ALL text-rung incremental forms (setsim + the
# minhash index): doc_id % SETSIM_INC_MOD == 0 — the daily-crawl
# stand-in (the dedup_eval block-modulus device; at 100 TB the split
# is "today's ingest" vs "the corpus", not an id residue)
SETSIM_INC_MOD = 5
JACCARD_SUBSET_MOD = 50  # word-jaccard candidate blocking
SIMHASH_SUBSET_MOD = 10
SIMHASH_BITS = 32

# --- shared Spark/DuckDB expression fragments (single source of truth) ---

# MinHash scheme: ONE 32-bit base hash per shingle (first 8 hex chars of
# md5), then N_HASHES cheap linear permutations h_i = (a_i*h0 + b_i) mod
# 2^32.  One md5 per shingle instead of N_HASHES — the md5 is the CPU
# cost at scale.  Constants are fixed odd multipliers < 2^30 so
# a_i*h0 + b_i < 2^63 (no BIGINT overflow in either engine).
MINHASH_MOD = 2**32
MINHASH_A = [((2654435761 * (i + 1)) % 2**30) | 1 for i in range(N_HASHES)]
MINHASH_B = [(40503 * 65537 * (i + 1)) % MINHASH_MOD for i in range(N_HASHES)]

# engine-specific hex→int on the md5 prefix; everything after is shared
MINHASH_BASE_SPARK = "cast(conv(substr(md5(sh), 1, 8), 16, 10) as bigint)"
MINHASH_BASE_DUCK = "(('0x' || substr(md5(sh), 1, 8))::BIGINT)"


def _minhash_perm(i: int, h0: str = "h0") -> str:
    return f"(({MINHASH_A[i]} * {h0} + {MINHASH_B[i]}) % {MINHASH_MOD})"

# 4-bit nibble value of hex char at position p of an 8-char hash
_NIBBLE = "(instr('0123456789abcdef', substr(h, {p}, 1)) - 1)"
# bit j of the 32-bit hash: nibble (j div 4), bit (j mod 4)
SIMHASH_BIT_EXPR = (
    "(cast(floor(" + _NIBBLE + " / {d}) as int) % 2)"
)


def _simhash_bit(j: int) -> str:
    return SIMHASH_BIT_EXPR.format(p=j // 4 + 1, d=float(2 ** (j % 4)))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: for each distinct text, the
    canonical (minimum) doc_id and the duplicate count.

    At 100 TB this is the always-first pass: hashing reduces the
    shuffle key to 16 bytes regardless of document size, and the
    aggregate combines map-side.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.withColumn("th", F.md5("text"))
        .groupBy("th")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


DEDUP_EXACT_SQL = (
    "SELECT md5(text) AS th, MIN(doc_id) AS keep_id,"
    " COUNT(*) AS dup_count FROM documents GROUP BY md5(text)"
)


# ---------------------------------------------------------------------------
# word-set n-gram Jaccard (exact, blocked)
# ---------------------------------------------------------------------------


def _word_tokens(docs: DataFrame, mod: int) -> DataFrame:
    """Distinct (doc_id, tok) for the doc_id % mod == 0 block."""
    return (
        docs.filter(F.col("doc_id") % mod == 0)
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )


def ngram_jaccard_topk(
    spark: SparkSession, sf_dir: str, k: int = 20
) -> DataFrame:
    """Top-k most similar document pairs by word-set Jaccard within a
    deterministic block (doc_id % 50 == 0).

    The block stands in for any real blocking key (shard, URL domain,
    LSH bucket): all-pairs Jaccard is only ever run on candidate sets,
    and the intersection is computed by a token equi-join — there is
    no cross join at any scale.  Ties broken by (a, b).
    """
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    toks = _word_tokens(docs, JACCARD_SUBSET_MOD)
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta = toks.select(F.col("doc_id").alias("a"), "tok")
    tb = toks.select(F.col("doc_id").alias("b"), "tok")
    inter = (
        ta.join(tb, "tok")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jacc = (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b")
        .select(
            "a",
            "b",
            (
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i"))
            ).alias("jaccard"),
        )
    )
    # Global top-k via orderBy+limit → TakeOrderedAndProject: every
    # partition keeps its local k, the driver merges k rows.  A global
    # row_number window would instead sort ALL pairs in one partition —
    # the classic non-scalable top-k.  The rank is attached afterwards
    # on the k-row result, where a window is free.
    top = jacc.orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b")).limit(k)
    w = Window.orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
    return top.withColumn("rn", F.row_number().over(w)).select(
        "a", "b", "jaccard", F.col("rn").cast("bigint").alias("rn")
    )


NGRAM_JACCARD_SQL = (
    "WITH toks AS ("
    "  SELECT DISTINCT doc_id, tok FROM documents,"
    "  unnest(string_split(text, ' ')) t(tok)"
    f"  WHERE doc_id % {JACCARD_SUBSET_MOD} = 0"
    "),"
    " sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),"
    " inter AS ("
    "  SELECT ta.doc_id AS a, tb.doc_id AS b, COUNT(*) AS i"
    "  FROM toks ta JOIN toks tb ON ta.tok = tb.tok"
    "   AND ta.doc_id < tb.doc_id GROUP BY 1, 2),"
    " jacc AS ("
    "  SELECT a, b,"
    "   CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard"
    "  FROM inter JOIN sizes sa ON sa.doc_id = a"
    "   JOIN sizes sb ON sb.doc_id = b)"
    " SELECT a, b, jaccard, rn FROM ("
    "  SELECT a, b, jaccard, ROW_NUMBER() OVER"
    "   (ORDER BY jaccard DESC, a ASC, b ASC) AS rn FROM jacc)"
    " WHERE rn <= 20"
)


CONTAINMENT_TOP_K = 30


def containment_topk(
    spark: SparkSession, sf_dir: str, k: int = CONTAINMENT_TOP_K
) -> DataFrame:
    """Top-k DIRECTED containment pairs: |A∩B| / |A| over word token
    sets within the deterministic block — the asymmetric sibling of
    :func:`ngram_jaccard_topk`.

    Containment is the subset/quote detector symmetric Jaccard
    misses: a short document quoted verbatim inside a long one has
    Jaccard |A|/|B| (near zero when B is large) but containment 1.0.
    Training-data pipelines run both — Jaccard for near-identical
    pairs, containment for boilerplate/quotation absorption.

    Same scale shape as the Jaccard form: the intersection is a token
    equi-join on the blocked candidate set (never a cross join), each
    undirected intersection row fans out to its two directed
    containments map-side, and top-k is sort-limit
    (TakeOrderedAndProject), not a global window.
    """
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    toks = _word_tokens(docs, JACCARD_SUBSET_MOD)
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta = toks.select(F.col("doc_id").alias("a"), "tok")
    tb = toks.select(F.col("doc_id").alias("b"), "tok")
    inter = (
        ta.join(tb, "tok")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sized = inter.join(
        sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a"
    ).join(
        sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b"
    )
    directed = sized.select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        (F.col("i").cast("double") / F.col("na")).alias("containment"),
    ).unionByName(
        sized.select(
            F.col("b").alias("src"),
            F.col("a").alias("dst"),
            (F.col("i").cast("double") / F.col("nb")).alias("containment"),
        )
    )
    top = directed.orderBy(
        F.desc("containment"), F.asc("src"), F.asc("dst")
    ).limit(k)
    w = Window.orderBy(F.desc("containment"), F.asc("src"), F.asc("dst"))
    return top.withColumn("rn", F.row_number().over(w)).select(
        "src", "dst", "containment", F.col("rn").cast("bigint").alias("rn")
    )


CONTAINMENT_TOPK_SQL = (
    "WITH toks AS ("
    "  SELECT DISTINCT doc_id, tok FROM documents,"
    "  unnest(string_split(text, ' ')) t(tok)"
    f"  WHERE doc_id % {JACCARD_SUBSET_MOD} = 0"
    "),"
    " sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),"
    " inter AS ("
    "  SELECT ta.doc_id AS a, tb.doc_id AS b, COUNT(*) AS i"
    "  FROM toks ta JOIN toks tb ON ta.tok = tb.tok"
    "   AND ta.doc_id < tb.doc_id GROUP BY 1, 2),"
    " sized AS ("
    "  SELECT a, b, i, sa.n AS na, sb.n AS nb"
    "  FROM inter JOIN sizes sa ON sa.doc_id = a"
    "   JOIN sizes sb ON sb.doc_id = b),"
    " directed AS ("
    "  SELECT a AS src, b AS dst, CAST(i AS DOUBLE) / na AS containment"
    "   FROM sized"
    "  UNION ALL"
    "  SELECT b AS src, a AS dst, CAST(i AS DOUBLE) / nb AS containment"
    "   FROM sized)"
    " SELECT src, dst, containment, rn FROM ("
    "  SELECT src, dst, containment, ROW_NUMBER() OVER"
    "   (ORDER BY containment DESC, src ASC, dst ASC) AS rn"
    "  FROM directed)"
    f" WHERE rn <= {CONTAINMENT_TOP_K}"
)


# ---------------------------------------------------------------------------
# MinHash signatures + LSH candidate pairs
# ---------------------------------------------------------------------------


def _shingles(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """(doc_id, sh) character-K shingles; short docs yield their whole
    text as the single shingle.

    ``distinct=True`` gives SET semantics (required for Jaccard sizes /
    intersections) at the cost of a full shuffle of the exploded
    corpus.  Pass ``distinct=False`` where the consumer is
    duplicate-insensitive (MIN aggregation) — that turns the whole
    shingle stage into a narrow map with no exchange.
    """
    sh = fan_out(docs).select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.length("text") - (SHINGLE_K - 1), F.lit(1)),
            )
        ).alias("i"),
    ).select("doc_id", F.expr(f"substr(text, i, {SHINGLE_K})").alias("sh"))
    return sh.distinct() if distinct else sh


def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-hash MinHash signature per document over char-12 shingles.

    Scale shape: ONE md5 per shingle row (the CPU cost), 16 linear
    permutations of it as NUMERIC columns (no seed cross-join — 16×
    less pre-shuffle data), and the signature is 16 numeric MINs in
    ONE hash aggregate.  Numeric buffers keep Spark in
    HashAggregateExec (string MIN buffers are immutable in UnsafeRow
    and fall back to a spilling SortAggregate — observed OOMing at
    sf0.1).  Hex formatting is applied after the aggregate; the DuckDB
    oracle runs the identical arithmetic, so values match
    bit-for-bit.
    """
    return _minhash_sig_from_docs(table(spark, sf_dir, "documents"))


def _minhash_sig_from_docs(docs: DataFrame) -> DataFrame:
    """The signature pipeline over an arbitrary (doc_id, text) frame —
    factored so subset passes (the incremental probe, the base-index
    build) pay signature cost only for their own rows."""
    # MIN is duplicate-insensitive → skip the distinct's shuffle; the
    # only exchange in this plan is the final groupBy(doc_id).
    sh = _shingles(docs, distinct=False)
    hashed = sh.select(
        "doc_id", F.expr(MINHASH_BASE_SPARK).alias("h0")
    ).select(
        "doc_id",
        *[F.expr(_minhash_perm(i)).alias(f"h{i}") for i in range(N_HASHES)],
    )
    sig = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"n{i}") for i in range(N_HASHES)]
    )
    return sig.select(
        "doc_id",
        *[
            F.format_string("%08x", F.col(f"n{i}")).alias(f"m{i}")
            for i in range(N_HASHES)
        ],
    )


def _lsh_bands_from_sig(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bkey): all N_BANDS band keys from ONE pass over
    the signature frame (a per-band union would recompute the
    signature aggregate once per band)."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr(
                "md5(concat("
                + ",".join(
                    f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
                )
                + "))"
            ).alias("bkey"),
        )
        for b in range(N_BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


def _minhash_sql_core() -> str:
    """Shared CTE prefix: toks + per-doc signature columns m0..m15.

    Mirrors the Spark plan exactly: one md5 per shingle, 16 linear
    permutations, numeric MIN, printf('%08x') formatting.
    """
    perms = ", ".join(
        f"MIN({_minhash_perm(i)}) AS n{i}" for i in range(N_HASHES)
    )
    fmts = ", ".join(
        f"printf('%08x', n{i}) AS m{i}" for i in range(N_HASHES)
    )
    return (
        "WITH pos AS ("
        "  SELECT doc_id, text, unnest(generate_series(1,"
        f"   greatest(length(text) - {SHINGLE_K - 1}, 1))) AS i"
        "  FROM documents),"
        " toks AS (SELECT DISTINCT doc_id,"
        f"  substr(text, i, {SHINGLE_K}) AS sh FROM pos),"
        " hashed AS ("
        f"  SELECT doc_id, {MINHASH_BASE_DUCK} AS h0 FROM toks),"
        f" nsig AS (SELECT doc_id, {perms} FROM hashed GROUP BY doc_id),"
        f" sig AS (SELECT doc_id, {fmts} FROM nsig)"
    )


def minhash_signature_sql() -> str:
    return _minhash_sql_core() + " SELECT * FROM sig"


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: band the 16-hash signature
    into 4 buckets, equi-join on (band, bucket key) for candidates,
    then verify candidates with exact shingle Jaccard ≥ 0.5.

    This is the 100 TB dedup shape: candidate generation is a shuffle
    on the band key (collisions only for plausibly-similar docs —
    P(collision) ≈ jaccard^4 per band), and the expensive exact
    verify runs on the candidate set only.

    The verified pair table is memoized per (application, sf_dir) —
    the same build-once contract as ``lsh_pairs_cached`` (which now
    reads from the same cache) and the hypertable rollup: a dedup run
    persists its pair table and every later consumer — including a
    repeat of this query — reads it instead of re-running
    signature+band+verify over an immutable corpus snapshot.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _LSH_PAIR_CACHE.get(key)
    if cached is not None:
        return cached
    result = _dedup_minhash_lsh_build(spark, sf_dir).localCheckpoint()
    _LSH_CHECKPOINTS.append(result)
    _LSH_PAIR_CACHE[key] = result
    return result


def _dedup_minhash_lsh_build(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sig = minhash_signature(spark, sf_dir)
    cand = _lsh_band_candidates(_lsh_bands_from_sig(sig), _LSH_CHECKPOINTS)
    return _lsh_verify_pairs(spark, sf_dir, cand, _LSH_CHECKPOINTS)


def _lsh_band_candidates(bands: DataFrame, ckpts: list) -> DataFrame:
    """Checkpointed (a, b) candidate pairs, a < b, of the documents
    sharing a (band, bkey) bucket; both checkpoints it makes are
    appended to ``ckpts``, whose release the caller owns.

    The band table is tiny (#docs × N_BANDS rows) and feeds both
    sides of the self-join — at scale this is the signature table
    you'd persist anyway (minhash_index_build does exactly that for
    the incremental path).  NO coalesce on the candidates: they are
    corpus-proportional on a boilerplate-heavy corpus (round-1 had a
    coalesce(1) that pinned them to one task — a single-partition
    exchange at 100 TB).  They are checkpointed because they feed
    both the verify's semi-join filter and its join, but stay
    shuffle-partitioned."""
    bands = bands.localCheckpoint()
    ckpts.append(bands)
    ba = bands.select(F.col("doc_id").alias("a"), "band", "bkey")
    bb = bands.select(F.col("doc_id").alias("b"), "band", "bkey")
    cand = (
        ba.join(bb, ["band", "bkey"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .localCheckpoint()
    )
    ckpts.append(cand)
    return cand


def _lsh_verify_pairs(
    spark: SparkSession, sf_dir: str, cand: DataFrame, ckpts: list
) -> DataFrame:
    """Exact-Jaccard verification of a CHECKPOINTED (a, b) candidate
    frame, factored for the full and incremental LSH forms.

    Exact verification only ever touches documents that appear in a
    candidate pair — a vanishing fraction of the corpus by LSH
    design.  Semi-join the doc table down to those ids BEFORE the
    second shingle explode, so the verify path explodes+distincts a
    few hundred documents, not the whole corpus (measured 2× on the
    end-to-end operator: the full-corpus re-explode was half its
    runtime).  Checkpoints created here are appended to ``ckpts`` —
    the caller owns their release.

    Shingles are keyed by ``xxhash64`` and made distinct per document
    AFTER hashing, in the one exchange the set needs: each document's
    set is a set of hashed keys, so a within-document collision merges
    two shingles into one key instead of counting twice, and the
    intersection ``i`` never exceeds ``min(na, nb)`` (Jaccard <= 1).
    What remains is the merge bound: a collision between shingles of
    the two documents adds at most one to ``i``, and one inside a
    document removes one from its size.  For ``S`` distinct shingles
    the expected number of colliding pairs is ``S^2 / 2^65`` (under
    one at ``S = 10^9``)."""
    cand_ids = (
        cand.select(F.col("a").alias("doc_id"))
        .union(cand.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    cand_docs = table(spark, sf_dir, "documents").join(
        F.broadcast(cand_ids), "doc_id", "semi"
    )
    # The distinct shingle set feeds three consumers (sizes, both join
    # sides); checkpoint so the explode+distinct runs once, not thrice.
    # 8-byte keys shuffle and compare cheaper than 12-char strings.
    sh = (
        _shingles(cand_docs, distinct=False)
        .select("doc_id", F.xxhash64("sh").alias("sh"))
        .distinct()
        .localCheckpoint()
    )
    ckpts.append(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("a"), "sh")
    sb = sh.select(F.col("doc_id").alias("b"), "sh")
    # LSH's whole point is that cand is tiny relative to the corpus —
    # broadcast it so the expensive shingle table never shuffles on the
    # pair keys; the only exchange is the (b, sh) equi-join.
    inter = (
        F.broadcast(cand)
        .join(sa, "a")
        .join(sb.withColumnRenamed("sh", "sh_b"), "b")
        .filter(F.col("sh") == F.col("sh_b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a"
        )
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b")
        .select(
            "a",
            "b",
            (
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= LSH_VERIFY_THRESHOLD)
    )


# Verified LSH pair tables memoized per (application, sf_dir): the pair
# table is the natural persisted artifact of a dedup run — downstream
# consumers (dedup_canonical's cluster pass) must reuse it, not re-run
# the full signature+band+verify chain.  At 100 TB this is a parquet
# table on shared storage; in-session the localCheckpoint plays that
# role.  (Round-1 dedup_canonical recomputed the 4.5 s LSH inside its
# own 5.7 s pass — this is the fix.)
_LSH_PAIR_CACHE: dict[tuple[str, str], DataFrame] = {}
# every localCheckpoint the LSH build creates (bands/cand/shingles
# intermediates plus the final pair table) so clear_lsh_cache can
# release discarded builds' block storage (ADVICE r08 #4)
_LSH_CHECKPOINTS: list[DataFrame] = []


def clear_lsh_cache() -> None:
    """Drop the LSH pair-table memo AND free its checkpointed blocks.

    Mirrors ``graph.clear_lpa_cache``: the bench's cold
    ``lsh_pairs_build`` loop rebuilds the memo; without the explicit
    unpersist each discarded build leaks its bands/cand/shingles/pair
    checkpoints in executor storage until the application exits.
    Unpersisted checkpoints cannot be recomputed — only call when no
    live consumer holds the old pair table."""
    from smile_spark.session import unpersist_checkpoint

    for df in _LSH_CHECKPOINTS:
        unpersist_checkpoint(df)
    _LSH_CHECKPOINTS.clear()
    _LSH_PAIR_CACHE.clear()


def lsh_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified (a, b) near-dup pair table, computed at most once
    per Spark application per fixture directory."""
    return dedup_minhash_lsh(spark, sf_dir).select("a", "b")


def dedup_minhash_lsh_sql() -> str:
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat({cols})) AS bkey FROM sig".format(
            b=b,
            cols=", ".join(
                f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return (
        _minhash_sql_core()
        + f", bands AS ({band_selects}),"
        " cand AS (SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b"
        "  FROM bands ba JOIN bands bb ON ba.band = bb.band"
        "   AND ba.bkey = bb.bkey AND ba.doc_id < bb.doc_id),"
        " sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),"
        " inter AS (SELECT c.a, c.b, COUNT(*) AS i FROM cand c"
        "  JOIN toks ta ON ta.doc_id = c.a"
        "  JOIN toks tb ON tb.doc_id = c.b AND ta.sh = tb.sh"
        "  GROUP BY c.a, c.b)"
        " SELECT i.a, i.b,"
        "  CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) AS jaccard"
        " FROM inter i JOIN sizes sa ON sa.doc_id = i.a"
        "  JOIN sizes sb ON sb.doc_id = i.b"
        f" WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i)"
        f"  >= {LSH_VERIFY_THRESHOLD}"
    )


# --- persisted MinHash band index + incremental probe ----------------------

MINHASH_INDEX_BUCKETS = 16


def _mh_index_table(sf_dir: str) -> str:
    """Catalog name of the persisted base band-key table (the
    setsim/dhash single-writer assumption applies — see
    :func:`_setsim_tables`)."""
    return BK.bucket_table_name("mh_idx_bands", sf_dir)


def _text_base() -> F.Column:
    """The text base block (doc_id % SETSIM_INC_MOD != 0)."""
    return F.col("doc_id") % SETSIM_INC_MOD != 0


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents")


def _mh_bands(pred: Callable[[], F.Column]) -> Callable:
    """Band rows of the ``pred()`` document block."""
    return lambda spark, sf_dir: _lsh_bands_from_sig(
        _minhash_sig_from_docs(_documents(spark, sf_dir).filter(pred()))
    )


def _mh_params(roll: bool) -> Callable:
    def params(spark: SparkSession, sf_dir: str) -> dict:
        p = {
            "inc_mod": SETSIM_INC_MOD,
            "n_buckets": MINHASH_INDEX_BUCKETS,
            "n_hashes": N_HASHES,
            "n_bands": N_BANDS,
            "shingle_k": SHINGLE_K,
        }
        if roll:
            p["roll_mod"] = MINHASH_ROLL_MOD
        return p

    return params


MINHASH_INDEX = BK.StateSpec(
    name="mh_idx",
    tables=lambda spark, sf_dir: {"bands": _mh_index_table(sf_dir)},
    params=_mh_params(roll=False),
    source=_documents,
    base=_text_base,
    write_base=BK.frame_writer(
        _mh_bands(_text_base), "bkey", MINHASH_INDEX_BUCKETS
    ),
)


def clear_minhash_index_cache() -> None:
    """Forget the per-process index memo AND drop the adoption
    sidecars this process wrote, so the next probe (or the bench's
    cold ``minhash_index_build`` loop) reruns the full signature +
    band + write path."""
    BK.clear_state(MINHASH_INDEX)


def minhash_index_build(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the MinHash-LSH BASE band index once per corpus
    snapshot: signature + banding over the base block
    (doc_id % SETSIM_INC_MOD != 0 — the setsim text-block convention),
    persisted as ONE bucketed table (doc_id, band, bkey) keyed by
    bkey.  Returns the table name.

    This completes the persisted-incremental story across the WHOLE
    dedup ladder: exact set-similarity (``setsim_index_build``),
    MinHash-LSH (here), and the perceptual image/audio rungs
    (``dhash_index_build``/``audio_index_build``) all share the same
    nightly-index + increment-linear-probe shape and the same sidecar
    adoption contract (``bucketed.build_state``).  At 100 TB the corpus
    pays its shingle + signature pass once per snapshot; each daily
    ingest signatures only its own documents.
    """
    return BK.build_state(spark, MINHASH_INDEX, sf_dir)["bands"]


def dedup_minhash_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental MinHash-LSH near-dup — the daily-ingest form of
    :func:`dedup_minhash_lsh`: signature + banding run over the
    INCREMENT block only (doc_id % SETSIM_INC_MOD == 0), and the
    candidate join probes the PERSISTED base band table from
    :func:`minhash_index_build` with the tiny probe side broadcast —
    exchange-free on the corpus side, immune to hot-bucket skew (a
    boilerplate band key's candidates surface across every index scan
    task).  The exact shingle-Jaccard verify is the shared
    candidate-bounded :func:`_lsh_verify_pairs` core.

    Returns (a, b, jaccard): a from the increment, b from the base,
    jaccard >= LSH_VERIFY_THRESHOLD.  Increment-internal pairs are
    the next nightly rebuild's job, as in every incremental rung.
    """
    from smile_spark.session import release_checkpoints_on_gc
    from smile_spark.sources.bucketed import read_bucketed

    tbl = minhash_index_build(spark, sf_dir)
    inc = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SETSIM_INC_MOD == 0
    )
    pb = _lsh_bands_from_sig(_minhash_sig_from_docs(inc)).select(
        F.col("doc_id").alias("a"), "band", "bkey"
    )
    ix = read_bucketed(spark, tbl).select(
        F.col("doc_id").alias("b"), "band", "bkey"
    )
    ckpts: list = []
    cand = (
        ix.join(F.broadcast(pb), ["band", "bkey"])
        .select("a", "b")
        .distinct()
        .localCheckpoint()
    )
    ckpts.append(cand)
    out = _lsh_verify_pairs(spark, sf_dir, cand, ckpts)
    release_checkpoints_on_gc(out, ckpts)
    return out


def _minhash_sql_ctes(p: str, where: str) -> str:
    """Prefixed signature CTE chain (pos/toks/hashed/nsig/sig) over a
    filtered document set — the :func:`_minhash_sql_core` arithmetic,
    factored so probe and base signatures compose in one statement."""
    perms = ", ".join(
        f"MIN({_minhash_perm(i)}) AS n{i}" for i in range(N_HASHES)
    )
    fmts = ", ".join(
        f"printf('%08x', n{i}) AS m{i}" for i in range(N_HASHES)
    )
    return (
        f"{p}pos AS ("
        "  SELECT doc_id, text, unnest(generate_series(1,"
        f"   greatest(length(text) - {SHINGLE_K - 1}, 1))) AS i"
        f"  FROM documents WHERE {where}),"
        f" {p}toks AS (SELECT DISTINCT doc_id,"
        f"  substr(text, i, {SHINGLE_K}) AS sh FROM {p}pos),"
        f" {p}hashed AS ("
        f"  SELECT doc_id, {MINHASH_BASE_DUCK} AS h0 FROM {p}toks),"
        f" {p}nsig AS (SELECT doc_id, {perms} FROM {p}hashed"
        "   GROUP BY doc_id),"
        f" {p}sig AS (SELECT doc_id, {fmts} FROM {p}nsig)"
    )


def _minhash_bands_sql(p: str) -> str:
    sel = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat({cols}))"
        " AS bkey FROM {p}sig".format(
            b=b,
            p=p,
            cols=", ".join(
                f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"{p}bands AS ({sel})"


# oracle: probe and base signatures in closed SQL form, candidates by
# the same band equi-join, exact Jaccard verify — the
# dedup_minhash_lsh_sql arithmetic split across the two blocks
MINHASH_INCREMENTAL_SQL = (
    "WITH "
    + _minhash_sql_ctes("p_", f"doc_id % {SETSIM_INC_MOD} = 0")
    + ", "
    + _minhash_sql_ctes("b_", f"doc_id % {SETSIM_INC_MOD} <> 0")
    + ", "
    + _minhash_bands_sql("p_")
    + ", "
    + _minhash_bands_sql("b_")
    + ","
    " cand AS (SELECT DISTINCT pa.doc_id AS a, bb.doc_id AS b"
    "  FROM p_bands pa JOIN b_bands bb ON pa.band = bb.band"
    "   AND pa.bkey = bb.bkey),"
    " psizes AS (SELECT doc_id, COUNT(*) AS n FROM p_toks"
    "  GROUP BY doc_id),"
    " bsizes AS (SELECT doc_id, COUNT(*) AS n FROM b_toks"
    "  GROUP BY doc_id),"
    " inter AS (SELECT c.a, c.b, COUNT(*) AS i FROM cand c"
    "  JOIN p_toks ta ON ta.doc_id = c.a"
    "  JOIN b_toks tb ON tb.doc_id = c.b AND ta.sh = tb.sh"
    "  GROUP BY c.a, c.b)"
    " SELECT i.a, i.b,"
    "  CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) AS jaccard"
    " FROM inter i JOIN psizes sa ON sa.doc_id = i.a"
    "  JOIN bsizes sb ON sb.doc_id = i.b"
    f" WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i)"
    f"  >= {LSH_VERIFY_THRESHOLD}"
)


# --- MinHash band-index roll-forward (VERDICT r13 What's-missing #1,
# the text twin of the setsim/band roll-forwards) ------------------------

# Band rows are per-document (the signature depends only on the
# document's own shingles), so the fold is a pure bucketed append and
# the rolled table is row-identical to a full rebuild on the grown
# base.  Fixture blocks follow the setsim convention: fold
# doc_id % 10 == 0, post-roll probe doc_id % 10 == 5, rolled coverage
# doc_id % 10 != 5.  Own table (mh_roll_bands): folding the probed
# mh_idx_bands in place would let dedup_minhash_incremental find
# folded copies of its own probe block.

MINHASH_ROLL_MOD = 2 * SETSIM_INC_MOD


def _mh_roll_table(sf_dir: str) -> str:
    return BK.bucket_table_name("mh_roll_bands", sf_dir)


def _text_roll_fold() -> F.Column:
    return F.col("doc_id") % MINHASH_ROLL_MOD == 0


MINHASH_ROLL = BK.StateSpec(
    name="mh_roll",
    tables=lambda spark, sf_dir: {"bands": _mh_roll_table(sf_dir)},
    params=_mh_params(roll=True),
    source=_documents,
    base=_text_base,
    write_base=MINHASH_INDEX.write_base,
    fold=_text_roll_fold,
    append_fold=BK.frame_writer(
        _mh_bands(_text_roll_fold), "bkey", MINHASH_INDEX_BUCKETS, append=True
    ),
)


def clear_minhash_roll_cache() -> None:
    """Forget the roll memo AND drop this process' adoption sidecars
    (built or adopted), restoring the cold base-rebuild + fold path."""
    BK.clear_state(MINHASH_ROLL)


def minhash_roll_restore_base(spark: SparkSession, sf_dir: str) -> None:
    """Bench/test device: force the roll table back to the pre-fold
    BASE state so the next roll-forward performs the fold alone."""
    BK.restore_base(spark, MINHASH_ROLL, sf_dir)


def minhash_index_rollforward(spark: SparkSession, sf_dir: str) -> str:
    """Advance the persisted MinHash band index to cover base ∪ fold
    by appending the fold block's signature band rows — the
    ``bucketed.roll_forward`` three-state contract (adopt rolled →
    fold over base → full rebuild then fold)."""
    return BK.roll_forward(spark, MINHASH_ROLL, sf_dir)["bands"]


def minhash_rolled_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's crawl (doc_id % 10 == 5) probing the ROLLED MinHash
    band index — probe docs whose near-duplicates sit in the FOLD
    block can only surface through the appended band rows.  The probe
    plan is dedup_minhash_incremental's exactly: probe-only signature
    + banding, probe bands broadcast over the bucketed index scan,
    shared candidate-bounded exact-Jaccard verify.  Returns
    (a, b, jaccard): a from the probe block, b from base ∪ fold."""
    from smile_spark.session import release_checkpoints_on_gc
    from smile_spark.sources.bucketed import read_bucketed

    tbl = minhash_index_rollforward(spark, sf_dir)
    probe = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % MINHASH_ROLL_MOD == SETSIM_INC_MOD
    )
    pb = _lsh_bands_from_sig(_minhash_sig_from_docs(probe)).select(
        F.col("doc_id").alias("a"), "band", "bkey"
    )
    ix = read_bucketed(spark, tbl).select(
        F.col("doc_id").alias("b"), "band", "bkey"
    )
    ckpts: list = []
    cand = (
        ix.join(F.broadcast(pb), ["band", "bkey"])
        .select("a", "b")
        .distinct()
        .localCheckpoint()
    )
    ckpts.append(cand)
    out = _lsh_verify_pairs(spark, sf_dir, cand, ckpts)
    release_checkpoints_on_gc(out, ckpts)
    return out


# oracle: probe and rolled-coverage signatures in closed SQL form,
# candidates by the same band equi-join, exact Jaccard verify — the
# MINHASH_INCREMENTAL_SQL composition with the roll-block predicates
MINHASH_ROLLED_PROBE_SQL = (
    "WITH "
    + _minhash_sql_ctes(
        "p_", f"doc_id % {MINHASH_ROLL_MOD} = {SETSIM_INC_MOD}"
    )
    + ", "
    + _minhash_sql_ctes(
        "b_", f"doc_id % {MINHASH_ROLL_MOD} <> {SETSIM_INC_MOD}"
    )
    + ", "
    + _minhash_bands_sql("p_")
    + ", "
    + _minhash_bands_sql("b_")
    + ","
    " cand AS (SELECT DISTINCT pa.doc_id AS a, bb.doc_id AS b"
    "  FROM p_bands pa JOIN b_bands bb ON pa.band = bb.band"
    "   AND pa.bkey = bb.bkey),"
    " psizes AS (SELECT doc_id, COUNT(*) AS n FROM p_toks"
    "  GROUP BY doc_id),"
    " bsizes AS (SELECT doc_id, COUNT(*) AS n FROM b_toks"
    "  GROUP BY doc_id),"
    " inter AS (SELECT c.a, c.b, COUNT(*) AS i FROM cand c"
    "  JOIN p_toks ta ON ta.doc_id = c.a"
    "  JOIN b_toks tb ON tb.doc_id = c.b AND ta.sh = tb.sh"
    "  GROUP BY c.a, c.b)"
    " SELECT i.a, i.b,"
    "  CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) AS jaccard"
    " FROM inter i JOIN psizes sa ON sa.doc_id = i.a"
    "  JOIN bsizes sb ON sb.doc_id = i.b"
    f" WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i)"
    f"  >= {LSH_VERIFY_THRESHOLD}"
)


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicates
# ---------------------------------------------------------------------------

NEARDUP_QUANT_BITS = 8      # sign-quantization bucket width (fixture default)
# Auto-derivation target: with B bits, expected bucket size is N / 2^B
# (sign bits of gaussian-ish embeddings are near-uniform); keep the
# per-bucket candidate set around this many rows so the same-bucket
# self-join stays O(N * bucket_rows), never O(N²).
NEARDUP_TARGET_BUCKET_ROWS = 1024
# Real corpora use ~0.9; the synthetic gaussian fixture's same-bucket
# cosines top out near 0.5, so the demo threshold sits where the
# fixture produces a non-trivial result set.
NEARDUP_COS_THRESHOLD = 0.25


def neardup_auto_bits(n_rows: int, dim: int) -> int:
    """Bucket width scaled to corpus size: enough sign bits that the
    expected bucket holds ~NEARDUP_TARGET_BUCKET_ROWS vectors, floored
    at the fixture default and capped at the embedding dimension."""
    import math

    need = math.ceil(math.log2(max(1, n_rows / NEARDUP_TARGET_BUCKET_ROWS)))
    return max(NEARDUP_QUANT_BITS, min(dim, need))


# Auto-derived bucket widths memoized per (application, sf_dir): the
# (count, dim) probe is two tiny jobs but the corpus they describe is
# immutable for the life of the fixture dir — the same memo shape as
# _LSH_PAIR_CACHE.  At 100 TB the width is a property of the corpus
# manifest, computed once per dataset version, not per query.
_AUTO_BITS_CACHE: dict[tuple[str, str], int] = {}


def _auto_bits_cached(spark: SparkSession, sf_dir: str, emb: DataFrame) -> int:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _AUTO_BITS_CACHE:
        dim = len(emb.select("v").head()[0])
        _AUTO_BITS_CACHE[key] = neardup_auto_bits(emb.count(), dim)
    return _AUTO_BITS_CACHE[key]


def dedup_embedding_cosine(
    spark: SparkSession,
    sf_dir: str,
    quant_bits: int | str = "auto",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, cross-join-free.

    Blocking = sign quantization of the first ``quant_bits`` components
    (a fixed-hyperplane LSH: axis-aligned hyperplanes): vectors agreeing
    on all signs share a bucket, candidates are same-bucket pairs, and
    the exact cosine verify runs on candidates only.  At 100 TB this is
    one shuffle on an int bucket key — the same candidate-then-verify
    shape as MinHash-LSH, over vectors instead of shingles.

    ``quant_bits`` may be an int or ``"auto"``: auto counts the corpus
    once and widens the bucket key so expected per-bucket rows stay
    ~NEARDUP_TARGET_BUCKET_ROWS — per-bucket pair work is then bounded
    regardless of corpus size (the round-1 fixed-8-bit version grew
    O((N/256)²) per bucket).
    Returns (a, b, cos_r) with cosine rounded to 6 digits.
    """
    from smile_spark.operators.similarity import _dot, _norm, _vectors

    emb = _vectors(spark, sf_dir)
    if quant_bits == "auto":
        quant_bits = _auto_bits_cached(spark, sf_dir, emb)
    bucket = sum(
        F.when(F.element_at("v", j + 1) >= 0, F.lit(2**j)).otherwise(F.lit(0))
        for j in range(quant_bits)
    )
    # per-vector norm computed once per row before the bucket
    # self-join (r16): the per-pair form re-ran two interpreted array
    # folds per candidate; cos_r is bit-identical
    b = emb.select(
        "vec_id", "v", bucket.alias("bucket"), _norm("v").alias("nv")
    )
    ba = b.select(
        F.col("vec_id").alias("a"),
        F.col("v").alias("va"),
        "bucket",
        F.col("nv").alias("na"),
    )
    bb = b.select(
        F.col("vec_id").alias("b"),
        F.col("v").alias("vb"),
        "bucket",
        F.col("nv").alias("nb"),
    )
    pairs = ba.join(bb, "bucket").filter(F.col("a") < F.col("b"))
    return (
        pairs.select(
            "a",
            "b",
            F.round(
                _dot("va", "vb") / (F.col("na") * F.col("nb")), 6
            ).alias("cos_r"),
        )
        .filter(F.col("cos_r") >= NEARDUP_COS_THRESHOLD)
    )


def dedup_embedding_cosine_sql(quant_bits: int = NEARDUP_QUANT_BITS) -> str:
    """Oracle SQL for the sign-quantization near-dup pairs.

    LOCKSTEP CONSTRAINT: the Spark side now defaults to ``"auto"``
    width; auto resolves to NEARDUP_QUANT_BITS for any corpus up to
    NEARDUP_TARGET_BUCKET_ROWS * 2^NEARDUP_QUANT_BITS (≈262k) rows, so
    this 8-bit default stays in lockstep at every test SF.
    tests/test_dedup_scale.py asserts that equivalence against the
    actual fixture row counts — a corpus large enough to widen the
    auto path fails that canary, not the driver hash gate."""
    bits = " + ".join(
        f"(CASE WHEN v[{j + 1}] >= 0 THEN {2**j} ELSE 0 END)"
        for j in range(quant_bits)
    )
    cos = (
        "list_reduce(list_transform(generate_series(1, len(ba.v)),"
        " i -> ba.v[i] * bb.v[i]), (x, y) -> x + y)"
        " / (sqrt(list_reduce(list_transform(ba.v, x -> x * x),"
        " (x, y) -> x + y))"
        " * sqrt(list_reduce(list_transform(bb.v, x -> x * x),"
        " (x, y) -> x + y)))"
    )
    return (
        "WITH e AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings),"
        f" b AS (SELECT vec_id, v, {bits} AS bucket FROM e),"
        " scored AS (SELECT ba.vec_id AS a, bb.vec_id AS b,"
        f"  ROUND({cos}, 6) AS cos_r"
        "  FROM b ba JOIN b bb ON ba.bucket = bb.bucket"
        "   AND ba.vec_id < bb.vec_id)"
        " SELECT a, b, cos_r FROM scored"
        f" WHERE cos_r >= {NEARDUP_COS_THRESHOLD}"
    )


# ---------------------------------------------------------------------------
# SemDeDup semantic dedup (Abbas et al. 2023, arXiv:2303.09540)
# ---------------------------------------------------------------------------

# Synthetic-gaussian fixture calibration: intra-cluster cosines top
# out near 0.5-0.6, so the demo threshold sits where every SF yields
# a non-trivial drop set (87/99/706 tau-pairs at sf0.001/0.01/0.1).
# Real embedding corpora run ~0.95+ (the paper's 1 - eps).
SEMDEDUP_TAU = 0.35


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication over the embedding corpus —
    the dedup ladder's embedding-level rung (exact → simhash →
    MinHash → setsim → substring → THIS): cluster vectors by nearest
    centroid, and within each cluster drop every vector that has
    cosine >= SEMDEDUP_TAU with ANY cluster-mate ranked before it.
    Rank keeps the LOW-centroid-similarity (= far-from-centroid)
    member of each duplicate neighborhood, the retention rule the
    paper found best preserves diversity: y outranks x iff
    (y.d2 > x.d2) or (y.d2 == x.d2 and y.vec_id < x.vec_id).  Per
    the reference implementation, "ranked before" is evaluated
    against ALL cluster-mates, dropped or not — the rule is one
    matrix pass, not an iterative selection.

    Emits one row per vector: (vec_id, cid, keep, dup_of) with
    dup_of = the highest-ranked dominator (NULL for kept rows).

    Scale: clustering reuses the broadcast-centroid assignment of
    embedding_kmeans/_cells — at fixture scale the centroid set is
    the deterministic vec_id % 97 subsample; at 100 TB it comes from
    an offline k-means whose K grows with the corpus so the expected
    cluster stays ~constant-sized, keeping the intra-cluster pair
    pass LINEAR in the corpus (cluster_size x corpus rows, the
    SemDeDup design point).  The pair self-join is cid-keyed — a hot
    cluster is the one skew risk, bounded upstream by K (and by the
    salting device if a production corpus demands it); nothing is
    ever all-pairs across clusters.

    Determinism vs DuckDB: centroid assignment is the proven
    array_min-struct argmin (== ROW_NUMBER d2 ASC, cid ASC); d2 and
    cosine are strict left folds; cosine rounds to 6 before the tau
    compare; dominator choice is a (d2 DESC, vec_id ASC) row_number
    — every device already hash-verified in embedding_kmeans /
    dedup_embedding_cosine / nearest_centroid_eval.
    """
    from smile_spark.operators.similarity import (
        _assign,
        _cells,
        _vectors,
    )

    emb = _vectors(spark, sf_dir)
    cents = _cells(spark, sf_dir)
    assigned = _assign(emb, cents)
    return _semdedup_verdicts(assigned)


def _semdedup_verdicts(assigned: DataFrame) -> DataFrame:
    """The SemDeDup dominator pass over an ASSIGNED frame (vec_id, v,
    cid, d2): within each cluster, a vector is dropped iff some
    cluster-mate that outranks it (d2 DESC, vec_id ASC — the paper's
    keep-far-from-centroid retention) has cosine >= SEMDEDUP_TAU.
    Factored from :func:`semantic_dedup` so the rolled label state
    (``semantic_labels_rolled``) reuses the identical arithmetic over
    the persisted base assignment."""
    from smile_spark.operators.similarity import _dot, _norm

    # Per-VECTOR norms are computed once per row BEFORE the
    # intra-cluster pair join (r16, guide §1.2 step 2): the norm is a
    # per-vector quantity, and the previous per-PAIR evaluation ran
    # two interpreted higher-order array folds (transform + aggregate)
    # per candidate pair.  cos_r is bit-identical — same fold over the
    # same array, multiplied in the same order.
    x = assigned.select(
        F.col("vec_id").alias("xid"),
        F.col("v").alias("xv"),
        "cid",
        F.col("d2").alias("xd2"),
        _norm("v").alias("xn"),
    )
    y = assigned.select(
        F.col("vec_id").alias("yid"),
        F.col("v").alias("yv"),
        "cid",
        F.col("d2").alias("yd2"),
        _norm("v").alias("yn"),
    )
    doms = (
        x.join(y, "cid")
        .filter(
            (F.col("xid") != F.col("yid"))
            & (
                (F.col("yd2") > F.col("xd2"))
                | (
                    (F.col("yd2") == F.col("xd2"))
                    & (F.col("yid") < F.col("xid"))
                )
            )
        )
        .withColumn(
            "cos_r",
            F.round(
                _dot("xv", "yv") / (F.col("xn") * F.col("yn")), 6
            ),
        )
        .filter(F.col("cos_r") >= SEMDEDUP_TAU)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("xid").orderBy(
        F.desc("yd2"), F.asc("yid")
    )
    first_dom = (
        doms.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("xid", F.col("yid").alias("dup_of"))
    )
    return (
        assigned.join(
            first_dom, assigned["vec_id"] == first_dom["xid"], "left"
        )
        .select(
            "vec_id",
            F.col("cid").cast("bigint").alias("cid"),
            F.col("xid").isNull().alias("keep"),
            F.col("dup_of").cast("bigint").alias("dup_of"),
        )
    )


def semantic_dedup_sql() -> str:
    """Exact DuckDB oracle: same centroid subsample, same fold-exact
    d2/cosine, same argmin and dominator tie-breaks."""
    from smile_spark.operators.similarity import CENTROID_MOD

    d2 = (
        "list_reduce(list_transform(generate_series(1, len(e.v)),"
        " i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])),"
        " (x, y) -> x + y)"
    )
    cos = (
        "list_reduce(list_transform(generate_series(1, len(x.v)),"
        " i -> x.v[i] * y.v[i]), (a, b) -> a + b)"
        " / (sqrt(list_reduce(list_transform(x.v, t -> t * t),"
        " (a, b) -> a + b))"
        " * sqrt(list_reduce(list_transform(y.v, t -> t * t),"
        " (a, b) -> a + b)))"
    )
    return (
        "WITH e AS (SELECT vec_id,"
        " list_transform(embedding, t -> CAST(t AS DOUBLE)) AS v"
        " FROM embeddings),"
        f" c AS (SELECT vec_id AS cid, v AS cv FROM e"
        f"  WHERE vec_id % {CENTROID_MOD} = 0),"
        f" s AS (SELECT e.vec_id, e.v, c.cid, {d2} AS d2 FROM e, c),"
        " a AS (SELECT vec_id, v, cid, d2 FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id"
        "   ORDER BY d2 ASC, cid ASC) AS rn FROM s) WHERE rn = 1),"
        " doms AS (SELECT x.vec_id AS xid, y.vec_id AS yid, y.d2 AS yd2"
        "  FROM a x JOIN a y ON x.cid = y.cid"
        "   AND x.vec_id <> y.vec_id"
        "   AND (y.d2 > x.d2 OR (y.d2 = x.d2 AND y.vec_id < x.vec_id))"
        f"  WHERE ROUND({cos}, 6) >= {SEMDEDUP_TAU}),"
        " fd AS (SELECT xid, yid AS dup_of FROM ("
        "  SELECT xid, yid, ROW_NUMBER() OVER (PARTITION BY xid"
        "   ORDER BY yd2 DESC, yid ASC) AS rn FROM doms) WHERE rn = 1)"
        " SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid,"
        " fd.xid IS NULL AS keep, CAST(fd.dup_of AS BIGINT) AS dup_of"
        " FROM a LEFT JOIN fd ON fd.xid = a.vec_id"
    )


SEMANTIC_DEDUP_SQL = semantic_dedup_sql()


# ---------------------------------------------------------------------------
# Incremental SemDeDup: persisted assignment index + daily probe
# ---------------------------------------------------------------------------

# The embedding-modality member of the incremental-dedup family
# (setsim / MinHash / image / audio / video all have one): the
# nightly job assigns the BASE corpus to centroids ONCE and persists
# the assignment bucketed by cluster id; a daily probe assigns only
# its own vectors and verifies cosine against base cluster-mates read
# exchange-free from the bucketed table.  "Today's crawl" is the
# shared vec_id % 5 == 0 block.
SEM_INC_MOD = 5
SEM_INDEX_BUCKETS = 16


def _sem_index_table(sf_dir: str) -> str:
    """Catalog name of the persisted base assignment table.  The
    setsim/dhash single-writer assumption applies — one application
    owns the warehouse at a time; sidecar adoption never drops."""
    return BK.bucket_table_name("sem_idx_assign", sf_dir)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings")


def _sem_base() -> F.Column:
    """The embedding base block (vec_id % SEM_INC_MOD != 0)."""
    return F.col("vec_id") % SEM_INC_MOD != 0


def _sem_assigned(pred: Callable[[], F.Column]) -> Callable:
    """Frozen-model assignment rows of the ``pred()`` vector block."""
    return lambda spark, sf_dir: _sem_assign_block(spark, sf_dir, pred())


def _sem_index_params(spark: SparkSession, sf_dir: str) -> dict:
    from smile_spark.operators.similarity import CENTROID_MOD

    return {
        "op": "semantic",
        "inc_mod": SEM_INC_MOD,
        "centroid_mod": CENTROID_MOD,
        "n_buckets": SEM_INDEX_BUCKETS,
    }


SEM_INDEX = BK.StateSpec(
    name="sem_idx",
    tables=lambda spark, sf_dir: {"assign": _sem_index_table(sf_dir)},
    params=_sem_index_params,
    source=_embeddings,
    base=_sem_base,
    write_base=BK.frame_writer(
        _sem_assigned(_sem_base), "cid", SEM_INDEX_BUCKETS
    ),
)


def clear_semantic_index_cache() -> None:
    """Forget the per-process memo AND drop this process' adoption
    sidecars, so the next probe (or the bench's cold
    ``semantic_index_build`` loop) runs the full assign + write path."""
    BK.clear_state(SEM_INDEX)


def _sem_base_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroids of the NIGHTLY model: the deterministic subsample
    restricted to the base block — the index must know nothing of
    probe vectors (the stand-in for an offline k-means fitted when
    the snapshot was taken)."""
    from smile_spark.operators.similarity import CENTROID_MOD, _vectors

    emb = _vectors(spark, sf_dir)
    return emb.filter(
        (F.col("vec_id") % CENTROID_MOD == 0)
        & (F.col("vec_id") % SEM_INC_MOD != 0)
    ).select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))


def semantic_index_build(spark: SparkSession, sf_dir: str) -> str:
    """Persist the SemDeDup base assignment (cid, vec_id, v, d2)
    bucketed by cid — the corpus-linear nightly job.  Every daily
    probe then reads pre-bucketed cluster-mates with zero exchange on
    the corpus side.  Sidecar adoption follows the shared contract
    (``bucketed.build_state``): a fresh session adopts a matching
    index instead of rebuilding; a stale sidecar (snapshot changed)
    forces the rebuild; the cold path stays behind
    :func:`clear_semantic_index_cache` for bench pricing
    (``semantic_index_build``)."""
    return BK.build_state(spark, SEM_INDEX, sf_dir)["assign"]


def semantic_dedup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental SemDeDup — the embedding-modality daily-ingest
    path, completing the incremental family across text (setsim /
    MinHash), image, audio, video, and now embeddings.

    Probe vectors (vec_id % SEM_INC_MOD == 0) assign to the NIGHTLY
    model's centroids map-side (broadcast centroid array, the
    :func:`smile_spark.operators.similarity._assign` device — no
    probe row replicates through a shuffle), then broadcast over the
    persisted base assignment table (:func:`semantic_index_build`)
    joined on cid: the corpus side reads pre-bucketed data with zero
    exchange and pays no assignment work per run.  The cosine verify
    runs inline on cluster-mate candidates only — cluster size is
    bounded by K exactly as in :func:`semantic_dedup`.

    Returns (a, b, cid, cos_r): a = probe vector, b = base
    cluster-mate, cos_r = round(cosine, 6) >= SEMDEDUP_TAU.  Keep or
    drop policy over these pairs is downstream's call (the pair
    contract of every incremental rung); probe-internal duplicates
    are the next nightly rebuild's job.
    """
    return _sem_probe(
        spark,
        sf_dir,
        semantic_index_build(spark, sf_dir),
        F.col("vec_id") % SEM_INC_MOD == 0,
    )


def _sem_probe(
    spark: SparkSession, sf_dir: str, tbl: str, probe_pred
) -> DataFrame:
    """The broadcast-probe core of :func:`semantic_dedup_incremental`,
    parametrized by the assignment table and probe predicate so the
    roll-forward family reuses the identical probe plan."""
    from smile_spark.operators.similarity import (
        _assign,
        _dot,
        _norm,
        _vectors,
    )
    from smile_spark.sources.bucketed import read_bucketed

    probe = _vectors(spark, sf_dir).filter(probe_pred)
    # per-vector norms computed once per side before the cid join
    # (r16): bit-identical cos_r, two fewer interpreted array folds
    # per candidate pair
    pa = _assign(probe, _sem_base_centroids(spark, sf_dir)).select(
        F.col("vec_id").alias("a"),
        F.col("v").alias("av"),
        "cid",
        _norm("v").alias("an"),
    )
    ix = read_bucketed(spark, tbl).select(
        "cid",
        F.col("vec_id").alias("b"),
        F.col("v").alias("bv"),
        _norm("v").alias("bn"),
    )
    return (
        ix.join(F.broadcast(pa), "cid")
        .withColumn(
            "cos_r",
            F.round(_dot("av", "bv") / (F.col("an") * F.col("bn")), 6),
        )
        .filter(F.col("cos_r") >= SEMDEDUP_TAU)
        .select("a", "b", F.col("cid").cast("bigint").alias("cid"), "cos_r")
    )


def semantic_dedup_incremental_sql() -> str:
    """Exact DuckDB oracle: base-block centroid subsample, fold-exact
    d2 argmin assignment (ROW_NUMBER d2 ASC, cid ASC — the proven
    equivalent of the Spark array_min-struct device), fold-exact
    cosine rounded to 6 before the tau compare."""
    from smile_spark.operators.similarity import CENTROID_MOD

    d2 = (
        "list_reduce(list_transform(generate_series(1, len(e.v)),"
        " i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])),"
        " (x, y) -> x + y)"
    )
    cos = (
        "list_reduce(list_transform(generate_series(1, len(x.v)),"
        " i -> x.v[i] * y.v[i]), (a, b) -> a + b)"
        " / (sqrt(list_reduce(list_transform(x.v, t -> t * t),"
        " (a, b) -> a + b))"
        " * sqrt(list_reduce(list_transform(y.v, t -> t * t),"
        " (a, b) -> a + b)))"
    )
    return (
        "WITH e AS (SELECT vec_id,"
        " list_transform(embedding, t -> CAST(t AS DOUBLE)) AS v"
        " FROM embeddings),"
        f" c AS (SELECT vec_id AS cid, v AS cv FROM e"
        f"  WHERE vec_id % {CENTROID_MOD} = 0"
        f"   AND vec_id % {SEM_INC_MOD} <> 0),"
        f" s AS (SELECT e.vec_id, e.v, c.cid, {d2} AS d2 FROM e, c),"
        " asg AS (SELECT vec_id, v, cid FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id"
        "   ORDER BY d2 ASC, cid ASC) AS rn FROM s) WHERE rn = 1)"
        " SELECT x.vec_id AS a, y.vec_id AS b,"
        " CAST(x.cid AS BIGINT) AS cid,"
        f" ROUND({cos}, 6) AS cos_r"
        " FROM asg x JOIN asg y ON x.cid = y.cid"
        f"  AND x.vec_id % {SEM_INC_MOD} = 0"
        f"  AND y.vec_id % {SEM_INC_MOD} <> 0"
        f" WHERE ROUND({cos}, 6) >= {SEMDEDUP_TAU}"
    )


# --- SemDeDup assignment-index roll-forward ---------------------------------

# Assignment rows are per-vector GIVEN the centroids, and the
# centroids are the FROZEN nightly model (_sem_base_centroids — the
# base-block subsample, by construction independent of fold and probe
# vectors), so the fold is a pure bucketed append: assign only the
# fold block under the frozen model, exactly the work the daily probe
# already does.  A MODEL REFRESH is a parameter change by contract —
# the centroid rule lives in the sidecar payload, so a refreshed rule
# can never adopt a stale-model index and always forces the full
# rebuild.  Fixture blocks: fold vec_id % 10 == 0, post-roll probe
# vec_id % 10 == 5, rolled coverage vec_id % 10 != 5.

SEM_ROLL_MOD = 2 * SEM_INC_MOD


def _sem_roll_table(sf_dir: str) -> str:
    return BK.bucket_table_name("sem_roll_assign", sf_dir)


def _sem_assign_block(
    spark: SparkSession, sf_dir: str, pred
) -> DataFrame:
    """Assignment rows (cid, vec_id, v, d2) for one vector block under
    the FROZEN nightly centroids."""
    from smile_spark.operators.similarity import _assign, _vectors

    return _assign(
        _vectors(spark, sf_dir).filter(pred),
        _sem_base_centroids(spark, sf_dir),
    ).select("cid", "vec_id", "v", "d2")


def _sem_roll_params(spark: SparkSession, sf_dir: str) -> dict:
    from smile_spark.operators.similarity import CENTROID_MOD

    return {
        "op": "semantic",
        "centroid_rule": "base-block-subsample",
        "centroid_mod": CENTROID_MOD,
        "inc_mod": SEM_INC_MOD,
        "roll_mod": SEM_ROLL_MOD,
        "n_buckets": SEM_INDEX_BUCKETS,
    }


def _sem_roll_fold() -> F.Column:
    return F.col("vec_id") % SEM_ROLL_MOD == 0


SEM_ROLL = BK.StateSpec(
    name="sem_roll",
    tables=lambda spark, sf_dir: {"assign": _sem_roll_table(sf_dir)},
    params=_sem_roll_params,
    source=_embeddings,
    base=_sem_base,
    write_base=SEM_INDEX.write_base,
    fold=_sem_roll_fold,
    append_fold=BK.frame_writer(
        _sem_assigned(_sem_roll_fold), "cid", SEM_INDEX_BUCKETS, append=True
    ),
)


def clear_semantic_roll_cache() -> None:
    """Forget the roll memo AND drop this process' adoption sidecars
    (built or adopted), restoring the cold base-rebuild + fold path."""
    BK.clear_state(SEM_ROLL)


def semantic_roll_restore_base(spark: SparkSession, sf_dir: str) -> None:
    """Bench/test device: force the roll table back to the pre-fold
    BASE state so the next roll-forward performs the fold alone."""
    BK.restore_base(spark, SEM_ROLL, sf_dir)


def semantic_index_rollforward(spark: SparkSession, sf_dir: str) -> str:
    """Advance the persisted SemDeDup assignment index to cover
    base ∪ fold by appending the fold block's frozen-model assignment
    rows — the ``bucketed.roll_forward`` three-state contract."""
    return BK.roll_forward(spark, SEM_ROLL, sf_dir)["assign"]


def semantic_rolled_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's embedding batch (vec_id % 10 == 5) probing the ROLLED
    assignment index — probe vectors whose semantic duplicates sit in
    the FOLD block can only surface through the appended assignment
    rows.  The probe plan is semantic_dedup_incremental's exactly
    (the shared :func:`_sem_probe` core, frozen nightly centroids).
    Returns (a, b, cid, cos_r): a from the probe block, b from
    base ∪ fold."""
    tbl = semantic_index_rollforward(spark, sf_dir)
    return _sem_probe(
        spark,
        sf_dir,
        tbl,
        F.col("vec_id") % SEM_ROLL_MOD == SEM_INC_MOD,
    )


def semantic_rolled_probe_sql() -> str:
    """Exact oracle: FROZEN base-block centroids (the nightly model —
    unchanged by fold and probe), fold-exact argmin assignment of the
    probe block and the rolled coverage, fold-exact cosine rounded to
    6 before the tau compare."""
    from smile_spark.operators.similarity import CENTROID_MOD

    d2 = (
        "list_reduce(list_transform(generate_series(1, len(e.v)),"
        " i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])),"
        " (x, y) -> x + y)"
    )
    cos = (
        "list_reduce(list_transform(generate_series(1, len(x.v)),"
        " i -> x.v[i] * y.v[i]), (a, b) -> a + b)"
        " / (sqrt(list_reduce(list_transform(x.v, t -> t * t),"
        " (a, b) -> a + b))"
        " * sqrt(list_reduce(list_transform(y.v, t -> t * t),"
        " (a, b) -> a + b)))"
    )
    return (
        "WITH e AS (SELECT vec_id,"
        " list_transform(embedding, t -> CAST(t AS DOUBLE)) AS v"
        " FROM embeddings),"
        f" c AS (SELECT vec_id AS cid, v AS cv FROM e"
        f"  WHERE vec_id % {CENTROID_MOD} = 0"
        f"   AND vec_id % {SEM_INC_MOD} <> 0),"
        f" s AS (SELECT e.vec_id, e.v, c.cid, {d2} AS d2 FROM e, c),"
        " asg AS (SELECT vec_id, v, cid FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id"
        "   ORDER BY d2 ASC, cid ASC) AS rn FROM s) WHERE rn = 1)"
        " SELECT x.vec_id AS a, y.vec_id AS b,"
        " CAST(x.cid AS BIGINT) AS cid,"
        f" ROUND({cos}, 6) AS cos_r"
        " FROM asg x JOIN asg y ON x.cid = y.cid"
        f"  AND x.vec_id % {SEM_ROLL_MOD} = {SEM_INC_MOD}"
        f"  AND y.vec_id % {SEM_ROLL_MOD} <> {SEM_INC_MOD}"
        f" WHERE ROUND({cos}, 6) >= {SEMDEDUP_TAU}"
    )


SEMANTIC_DEDUP_INCREMENTAL_SQL = semantic_dedup_incremental_sql()


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint over the distinct word-token set of
    each document (doc_id % 10 == 0 block).

    Each token contributes ±1 per bit position from its 32-bit md5
    prefix; the fingerprint bit is the sign of the sum (ties → 1).
    Emitted as a 32-char bit string — portable across engines, and at
    scale the string packs to a long for Hamming-distance bucketing.
    """
    docs = table(spark, sf_dir, "documents")
    toks = _word_tokens(docs, SIMHASH_SUBSET_MOD).select(
        "doc_id", F.expr("substr(md5(tok), 1, 8)").alias("h")
    )
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"2 * {_simhash_bit(j)} - 1")).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    bit_chars = [
        F.when(F.col(f"s{j}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(SIMHASH_BITS)
    ]
    return sums.select("doc_id", F.concat(*bit_chars).alias("fingerprint"))


def simhash_sql() -> str:
    sums = ", ".join(
        f"SUM(2 * {_simhash_bit(j)} - 1) AS s{j}" for j in range(SIMHASH_BITS)
    )
    bits = ", ".join(
        f"CASE WHEN s{j} >= 0 THEN '1' ELSE '0' END" for j in range(SIMHASH_BITS)
    )
    return (
        "WITH toks AS ("
        "  SELECT DISTINCT doc_id, tok FROM documents,"
        "  unnest(string_split(text, ' ')) t(tok)"
        f"  WHERE doc_id % {SIMHASH_SUBSET_MOD} = 0),"
        " hashed AS (SELECT doc_id, substr(md5(tok), 1, 8) AS h FROM toks),"
        f" sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)"
        f" SELECT doc_id, concat({bits}) AS fingerprint FROM sums"
    )


# ---------------------------------------------------------------------------
# SimHash hamming-banded near-dup pair search
# ---------------------------------------------------------------------------

SIMHASH_MAX_DISTANCE = 3
SIMHASH_N_BANDS = 4
_SIMHASH_BAND_W = SIMHASH_BITS // SIMHASH_N_BANDS


def _hamming_expr(fa: str, fb: str) -> str:
    """32-term exact hamming distance between two bit-string columns —
    shared verbatim between the Spark plan and the DuckDB oracle."""
    terms = " + ".join(
        f"(CASE WHEN substr({fa}, {j + 1}, 1) <> substr({fb}, {j + 1}, 1)"
        " THEN 1 ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"({terms})"


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs via hamming-distance banding.

    The 32-bit fingerprint splits into 4 bands of 8 bits; by
    pigeonhole, any pair at hamming distance ≤ 3 agrees on at least
    one whole band, so the band equi-join has 100% recall at the
    distance threshold — candidate generation is a shuffle on the
    band key, never a pair enumeration (the same candidate-then-verify
    shape as MinHash-LSH, §dedup_minhash_lsh, but over bit bands
    instead of hash bands).  The exact 32-term hamming verify runs on
    candidates only.  Returns (a, b, hamming) with distance ≤ 3.
    """
    # materialize the fingerprint table once — it feeds BOTH sides of
    # the band self-join, so the self-join otherwise recomputes the
    # sign-sum aggregate twice (measured ~2× on the operator); same
    # move as dedup_minhash_lsh's checkpointed band table.  NO coalesce:
    # the fingerprint table is one row per document (corpus-sized at
    # 100 TB) — round 1 pinned it to a single partition, serializing
    # the band self-join onto one task.
    fp = simhash(spark, sf_dir).localCheckpoint()
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring(
                "fingerprint", b * _SIMHASH_BAND_W + 1, _SIMHASH_BAND_W
            ).alias("bkey"),
        )
        for b in range(SIMHASH_N_BANDS)
    ]
    bands = fp.select(
        "doc_id",
        "fingerprint",
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select(
        "doc_id",
        "fingerprint",
        F.col("bb.band").alias("band"),
        F.col("bb.bkey").alias("bkey"),
    )
    ba = bands.select(
        F.col("doc_id").alias("a"), F.col("fingerprint").alias("fa"),
        "band", "bkey",
    )
    bb = bands.select(
        F.col("doc_id").alias("b"), F.col("fingerprint").alias("fb"),
        "band", "bkey",
    )
    cand = (
        ba.join(bb, ["band", "bkey"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "fa", "fb")
        .distinct()
    )
    return (
        cand.select(
            "a", "b",
            F.expr(_hamming_expr("fa", "fb")).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_DISTANCE)
    )


def simhash_pairs_sql() -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, fingerprint, {b} AS band,"
        f" substr(fingerprint, {b * _SIMHASH_BAND_W + 1},"
        f" {_SIMHASH_BAND_W}) AS bkey FROM fp"
        for b in range(SIMHASH_N_BANDS)
    )
    return (
        # the fingerprint query (its own WITH chain) nests as a view
        f"WITH fp AS ({simhash_sql()}),"
        f" bands AS ({band_selects}),"
        " cand AS (SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b,"
        "  ba.fingerprint AS fa, bb.fingerprint AS fb"
        "  FROM bands ba JOIN bands bb ON ba.band = bb.band"
        "   AND ba.bkey = bb.bkey AND ba.doc_id < bb.doc_id)"
        f" SELECT a, b, CAST({_hamming_expr('fa', 'fb')} AS BIGINT)"
        "  AS hamming"
        " FROM cand"
        f" WHERE {_hamming_expr('fa', 'fb')} <= {SIMHASH_MAX_DISTANCE}"
    )


# ---------------------------------------------------------------------------
# Cross-source duplicate provenance
# ---------------------------------------------------------------------------


def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicates ACROSS sources: content hashes that appear under more
    than one source label, with per-hash source counts and a sorted
    source list — the provenance view of exact dedup (which copy is
    canonical, which sources mirror each other) that drives source-
    level dedup policy.

    Same 16-byte-hash shuffle as dedup_exact; the aggregate adds a
    distinct-source count and a deterministic collected list (sorted,
    bounded by #sources)."""
    docs = table(spark, sf_dir, "documents")
    hashed = docs.select(
        F.md5("text").alias("h"), "source", "doc_id"
    )
    return (
        hashed.groupBy("h")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_copies"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias(
                "sources"
            ),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_sources") > 1)
    )


DEDUP_CROSS_SOURCE_SQL = (
    "SELECT md5(text) AS h,"
    " COUNT(DISTINCT source) AS n_sources,"
    " COUNT(*) AS n_copies,"
    " array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,"
    " MIN(doc_id) AS canonical_doc_id"
    " FROM documents GROUP BY md5(text)"
    " HAVING COUNT(DISTINCT source) > 1"
)


# ---------------------------------------------------------------------------
# chunk-level (substring) dedup accounting
# ---------------------------------------------------------------------------

CHUNK_DD_W = 10       # tokens per chunk
CHUNK_DD_STRIDE = 5   # half-overlapping windows


def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication audit (the Lee et al. 2022 "Dedup-
    licating Training Data Makes Language Models Better" shape, on
    half-overlapping token windows instead of suffix arrays): how much
    of each source's text is made of chunks that also occur elsewhere
    in the corpus.

    Whole-document hashing misses boilerplate — headers, licenses,
    navigation — pasted into otherwise-unique pages; chunk hashing
    catches it.  Pipeline: tokenize → half-overlapping W-token windows
    (``sequence`` + ``slice``, no self-join) → md5 chunk key → global
    occurrence counts (16-byte shuffle key, map-side combine) →
    broadcast-eligible join back to per-source rows.  No all-pairs
    path: a chunk repeated R times costs R rows, never R².  The
    explode fans out through :func:`smile_spark.tables.fan_out` sizing
    partitions for post-expansion volume.

    Returns per source: n_chunks, n_dup_chunks (global occurrence >
    1), dup_chunk_pct, n_docs_affected.
    """
    docs = fan_out(table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )
    chunks = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(0, greatest(size(toks)"
                f" - {CHUNK_DD_W}, 0), {CHUNK_DD_STRIDE}),"
                f" s -> md5(concat_ws(' ', slice(toks, s + 1,"
                f" {CHUNK_DD_W}))))"
            )
        ).alias("chash"),
    )
    counts = chunks.groupBy("chash").agg(
        F.count(F.lit(1)).alias("occ")
    )
    audited = chunks.join(counts, "chash").select(
        "doc_id", "source", (F.col("occ") > 1).alias("is_dup")
    )
    return audited.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("is_dup").cast("bigint")).alias("n_dup_chunks"),
        F.round(
            100.0
            * F.sum(F.col("is_dup").cast("bigint"))
            / F.count(F.lit(1)),
            4,
        ).alias("dup_chunk_pct"),
        F.countDistinct(
            F.when(F.col("is_dup"), F.col("doc_id"))
        ).alias("n_docs_affected"),
    )


CHUNK_DEDUP_SQL = (
    "WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks"
    "  FROM documents),"
    " chunks AS (SELECT doc_id, source,"
    f"  md5(array_to_string(toks[s + 1 : s + {CHUNK_DD_W}], ' ')) AS chash"
    "  FROM t, unnest(generate_series(0,"
    f"   greatest(len(toks) - {CHUNK_DD_W}, 0), {CHUNK_DD_STRIDE}))"
    "   g(s)),"
    " counts AS (SELECT chash, COUNT(*) AS occ FROM chunks GROUP BY chash),"
    " audited AS (SELECT doc_id, source, occ > 1 AS is_dup"
    "  FROM chunks JOIN counts USING (chash))"
    " SELECT source, COUNT(*) AS n_chunks,"
    " CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS n_dup_chunks,"
    " ROUND(100.0 * SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)"
    "  / COUNT(*), 4) AS dup_chunk_pct,"
    " COUNT(DISTINCT CASE WHEN is_dup THEN doc_id END)"
    "  AS n_docs_affected"
    " FROM audited GROUP BY source"
)


# ---------------------------------------------------------------------------
# Exact set-similarity JOIN via prefix filtering (AllPairs / PPJoin)
# ---------------------------------------------------------------------------

SETSIM_TAU = 0.9  # emit pairs with word-set Jaccard >= tau
# exact rational form of tau (9/10): every threshold below is computed
# in INTEGER arithmetic.  The float forms are off-by-one at boundary
# sizes — e.g. ceil(0.9*60) = 55 in doubles (0.9*60 rounds to
# 54.000000000000007) and ceil((0.9/1.9)*133) = 64 vs the exact 63 —
# which would silently drop pairs whose Jaccard is EXACTLY tau.
SETSIM_TAU_NUM = 9
SETSIM_TAU_DEN = 10
# tau/(1+tau) = NUM / (NUM + DEN) = 9/19, the overlap fraction
_SETSIM_ALPHA_NUM = SETSIM_TAU_NUM
_SETSIM_ALPHA_DEN = SETSIM_TAU_NUM + SETSIM_TAU_DEN

# candidate pairs one reducer should shoulder for the hottest prefix
# token; the salt factor is derived so hot-token output stays near
# this per-task bound (replication cost of over-salting: n_salts=64
# blew the 14k-row replicated side to 894k rows and churned memory —
# the reason this is observation-driven, not a constant)
SETSIM_PAIRS_PER_TASK = 500_000
SETSIM_MAX_SALTS = 64


def _setsim_n_salts_pairs(
    hot_pairs: int,
    pairs_per_task: int = SETSIM_PAIRS_PER_TASK,
    cap: int = SETSIM_MAX_SALTS,
) -> int:
    """Salt factor from the hottest token's OBSERVED candidate-pair
    count (probe-bucket x index-bucket product): the join must spread
    those pairs so no task exceeds ``pairs_per_task``.  Monotone in
    the skew, 1 for small corpora (no replication overhead), capped so
    the replicated index side stays bounded."""
    return max(1, min(cap, -(-hot_pairs // pairs_per_task)))


def setsim_join_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL qualifying document pairs with word-set Jaccard >= SETSIM_TAU
    over the FULL corpus — the exact set-similarity join, made scalable
    by prefix filtering (Bayardo et al. "Scaling Up All Pairs", WWW'07;
    the PPJoin family).  Complements dedup_minhash_lsh: LSH is
    probabilistic candidate generation, this is EXACT with a lossless
    prune.

    Prefix principle: order every doc's tokens by ascending global
    document frequency (rarest first, token string tie-break).  If
    J(A,B) >= tau then, with the length filter |B| >= tau*|A|, the
    intersection has i >= tau*max(|A|,|B|) — so A and B must share at
    least one token inside each one's first n - ceil(tau*n) + 1 tokens.
    Candidates therefore come from a PREFIX-token equi-join only: the
    prefix holds the RAREST tokens, so join buckets are small by
    construction and the stopword blow-up of a naive token join never
    happens.  Verification intersects the two pre-collected sorted
    token arrays per candidate (JVM array_intersect — no second
    explosion, no Python).

    Scale: candidate count is sum over prefix tokens of bucket^2 with
    rare-token buckets; the full-token join this replaces is sum c^2
    over ALL tokens (4.5M joined rows at sf0.01; the synthetic corpus
    is so template-heavy that 7% of ALL pairs pass tau=0.9, so here
    the prefix join's win is the per-pair multiplicity — one prefix
    token instead of every shared stopword).  Every stage is an
    equi-join or bounded window (per-doc rank); nothing is quadratic
    in the corpus beyond the true result size.  The prefix-token join
    shuffles on tok (rare keys, bounded skew) and the verify stage is
    semi-joined down to candidate ids first — no corpus-proportional
    table is ever broadcast (the r05 design's one scale defect).
    Tokens are 64-bit ``xxhash64`` keys end to end (see
    :func:`_setsim_token_sets`); the raw-string path survives only as
    ``setsim_join_frame(docs, hash_tokens=False)``, the reference
    :func:`setsim_hash_agreement` certifies the hashed path against.
    """
    return setsim_join_frame(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# The set-similarity kernel: every setsim entry (the self-join, the
# in-memory and persisted incremental probes, the index build and roll
# fold, the duplicate-set statistics) is built from these stages, each
# written once.
# ---------------------------------------------------------------------------


def _setsim_token_sets(docs: DataFrame, hash_tokens: bool = True) -> DataFrame:
    """(doc_id, ts): each document's distinct whitespace tokens as a
    sorted array, built in ONE exchange (collect_set dedups inside the
    aggregate, map-side partial sets; r16 micro-bench: groupBy-direct
    0.27 s vs distinct-then-groupBy 0.35-0.46 s at sf0.1).

    Tokens are replaced by their ``xxhash64`` BEFORE the first
    shuffle: the per-doc set, the document-frequency aggregate, the
    prefix equi-join key and the verify-side arrays all carry
    fixed-width 8-byte longs instead of variable-length strings — at
    100 TB the shuffle-byte cut on the tokenize and prefix-join stages
    is the difference between a network-bound and a CPU-bound job.
    The pair set is IDENTICAL to the string path (the prefix filter
    only needs a consistent global token order, and any total order
    works; the (df, tok) tie-break just becomes (df, hash)) unless two
    corpus tokens collide in 64 bits — ~1e-9 for a 10^5-token fixture
    vocabulary, and detected rather than trusted:
    :func:`setsim_hash_agreement` certifies path agreement on a corpus
    block, and tests/test_round10_ops.py asserts full-output equality.
    ``hash_tokens=False`` keeps the raw-string tokens, the reference
    that certificate compares against (and the form the textual DuckDB
    oracle mirrors token for token)."""
    raw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    if hash_tokens:
        raw = raw.select("doc_id", F.xxhash64("tok").alias("tok"))
    return raw.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("tok")).alias("ts")
    )


def _setsim_index_frames(
    docs: DataFrame, df: DataFrame | None = None, hash_tokens: bool = True
) -> tuple[dict[str, DataFrame], list]:
    """The index side of every setsim join over a (doc_id, text)
    frame, in the persisted index layout (``_SETSIM_LAYOUT``):

    - ``prefix`` (rb, tok, nb, pos): each representative's AllPairs
      prefix, its first nb - ceil(tau*nb) + 1 tokens in the (df, tok)
      order, with 1-based positions for the PPJoin positional filter;
    - ``df`` (tok, df): the token order's document frequencies;
    - ``reps`` (rb, ts, nb): each representative's sorted token array;
    - ``members`` (rb, b, nb): representative -> member documents.

    GROUP step (the GroupJoin optimization, Bouros et al. EDBT'12):
    documents with IDENTICAL token sets are interchangeable for set
    similarity — J(a, b) = 1 within a group, and J(a, x) is the same
    for every member a — so candidate generation and verification run
    on group REPRESENTATIVES only (rb = the group's min doc id) and
    results expand back through ``members``.  On a template-heavy
    corpus this collapses the quadratic core hard (sf0.1: 5,000 docs
    -> 3,935 unique sets, one group of 248 verbatim-template docs).
    Grouping is EXACT — the key is the sorted token array itself, not
    a hash — and lossless: every output value (na, nb, i, jaccard)
    depends on the pair's token SETS only.

    ``df`` is the token order the prefixes are ranked by.  None
    computes it from these representatives (an index build); a probe
    or a fold passes the index's own df, under which tokens absent
    from the index read 0 and sort first.  The AllPairs prefix filter
    is lossless under ANY total order both sides share, so the df
    values only size the prefixes, never decide correctness.

    The membership is checkpointed (the one job that scans ``docs``);
    it carries ts per member, so the four frames are narrow
    derivations of it.  Returns the frames and the checkpoint list,
    whose release the caller owns."""
    from pyspark.sql.window import Window

    membership = (
        _setsim_token_sets(docs, hash_tokens)
        .groupBy("ts")
        .agg(
            F.min("doc_id").alias("rb"),
            F.collect_list("doc_id").alias("ms"),
        )
        .select(
            "rb",
            "ts",
            F.explode("ms").alias("b"),
            F.size("ts").cast("bigint").alias("nb"),
        )
        .localCheckpoint()
    )
    reps = membership.filter(F.col("b") == F.col("rb")).select(
        "rb", "ts", "nb"
    )
    rtoks = reps.select("rb", "nb", F.explode("ts").alias("tok"))
    if df is None:
        df = rtoks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("rb").orderBy(F.asc("df"), F.asc("tok"))
    ceil_tau_n = F.expr(
        f"({SETSIM_TAU_NUM} * nb + {SETSIM_TAU_DEN - 1})"
        f" div {SETSIM_TAU_DEN}"
    )
    prefix = (
        rtoks.join(df, "tok", "left")
        .withColumn("df", F.coalesce("df", F.lit(0)))
        .withColumn("pos", F.row_number().over(wdoc))
        .filter(F.col("pos") <= F.col("nb") - ceil_tau_n + 1)
        .select("rb", "tok", "nb", "pos")
    )
    frames = {
        "prefix": prefix,
        "df": df,
        "reps": reps,
        "members": membership.select("rb", "b", "nb"),
    }
    return frames, [membership]


def _setsim_side(prefix: DataFrame, s: str) -> DataFrame:
    """A prefix frame as join side ``s``: (r<s>, tok, n<s>, i<s>)."""
    return prefix.select(
        F.col("rb").alias(f"r{s}"),
        "tok",
        F.col("nb").alias(f"n{s}"),
        F.col("pos").alias(f"i{s}"),
    )


def _setsim_bounds() -> F.Column:
    """The length and positional filters over a joined (na, ia, nb, ib)
    prefix-token pair, in exact integers.

    Length: tau*na <= nb AND tau*nb <= na.  Positional (PPJoin, Xiao
    et al. TODS'11): a shared prefix token at positions (ia, ib)
    bounds the overlap by 1 + min(na-ia, nb-ib); a qualifying pair
    needs alpha = ceil(tau/(1+tau) * (na+nb)).  Lossless: the bound
    holds for the FIRST shared token of any qualifying pair, which
    both prefixes retain — so can't-reach-tau pairs drop inside the
    join, before the candidate distinct and the exact verify.  The
    float forms of these thresholds are off by one at boundary sizes
    (see SETSIM_TAU_NUM)."""
    na, nb = F.col("na"), F.col("nb")
    alpha = F.expr(
        f"({_SETSIM_ALPHA_NUM} * (na + nb) + {_SETSIM_ALPHA_DEN - 1})"
        f" div {_SETSIM_ALPHA_DEN}"
    )
    return (
        (nb * SETSIM_TAU_DEN >= na * SETSIM_TAU_NUM)
        & (na * SETSIM_TAU_DEN >= nb * SETSIM_TAU_NUM)
        & (1 + F.least(na - F.col("ia"), nb - F.col("ib")) >= alpha)
    )


def _setsim_verify(
    cand: DataFrame, reps_a: DataFrame, reps_b: DataFrame
) -> DataFrame:
    """Exact verify of CHECKPOINTED representative candidates
    (ra, rb, na, nb) against the two sides' (rb, ts) arrays:
    (ra, rb, na, nb, i, jaccard) with jaccard rounded to 6 places and
    >= SETSIM_TAU.

    Candidate-bounded, never corpus-bounded: each side's arrays are
    semi-joined down to the ids that appear in a candidate BEFORE
    they are broadcast (the r05 full-corpus array broadcast was the
    one 100 TB scale-killer in the repo); one distinct id set serves
    both semi-joins, so its exchange runs once.  Verification stays
    map-side over cand's partitions instead of dragging ~KB arrays
    through two shuffles per pair (measured 8x slower).  ``cand`` fans
    out first: AQE coalesces a candidate distinct to ~1 partition by
    its shuffle BYTES, while verify cost is per-ROW array_intersect
    work (measured 35 s serial vs ~4 s spread)."""
    ids = F.broadcast(
        cand.select(F.explode(F.array("ra", "rb")).alias("id")).distinct()
    )
    pa = reps_a.join(ids, F.col("rb") == F.col("id"), "semi").select(
        F.col("rb").alias("ra"), F.col("ts").alias("ta")
    )
    pb = reps_b.join(ids, F.col("rb") == F.col("id"), "semi").select(
        "rb", F.col("ts").alias("tb")
    )
    return (
        fan_out(cand)
        .join(F.broadcast(pa), "ra")
        .join(F.broadcast(pb), "rb")
        .withColumn(
            "i", F.size(F.array_intersect("ta", "tb")).cast("bigint")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= SETSIM_TAU)
        .select("ra", "rb", "na", "nb", "i", "jaccard")
    )


def _setsim_expand(
    verified: DataFrame, members_a: DataFrame, members_b: DataFrame
) -> DataFrame:
    """Expand verified representative pairs to document pairs
    (a, b, na, nb, i, jaccard): a verified (ra, rb) holds for every
    member of ra's group x every member of rb's group.  Both joins are
    output-proportional (each joined row IS one result row)."""
    ma = members_a.select(F.col("rb").alias("ra"), F.col("b").alias("a"))
    return (
        verified.join(ma, "ra")
        .join(members_b.select("rb", "b"), "rb")
        .select("a", "b", "na", "nb", "i", "jaccard")
    )


def _setsim_probe_indexed(
    docs: DataFrame, index: dict[str, DataFrame]
) -> DataFrame:
    """Probe ``docs`` against setsim index frames (the persisted
    tables via :func:`_setsim_read_index`, or a base block's in-memory
    :func:`_setsim_index_frames`): (a, b, na, nb, i, jaccard), a from
    ``docs``, b from the index.

    The probe side is the same frame builder under the index's df, so
    both sides rank tokens by one shared total order.  Both sides keep
    the AllPairs prefix n - ceil(tau*n) + 1: the sharper PPJoin index
    prefix of :func:`_setsim_join_core` is valid only under that
    join's (n, id) role canonicalization (it needs the index doc to
    be the pair's smaller set), which a semantic probe-vs-index split
    cannot impose — using it here measurably DROPS qualifying pairs
    (22 of 3,314 at sf0.001).  The length and positional filters are
    role-free and apply unchanged.  Checkpointed stages release when
    the returned frame dies."""
    from smile_spark.session import release_checkpoints_on_gc

    probe, group = _setsim_index_frames(docs, index["df"])
    cand = (
        _setsim_side(probe["prefix"], "a")
        .join(_setsim_side(index["prefix"], "b"), "tok")
        .filter(_setsim_bounds())
        .select("ra", "rb", "na", "nb")
        .distinct()
        .localCheckpoint()
    )
    group.append(cand)
    verified = _setsim_verify(cand, probe["reps"], index["reps"])
    out = _setsim_expand(verified, probe["members"], index["members"])
    release_checkpoints_on_gc(out, group)
    return out


def _setsim_join_core(
    docs: DataFrame,
    checkpoint: bool = True,
    hash_tokens: bool = True,
) -> tuple[DataFrame, DataFrame, list]:
    """The prefix-filtered exact Jaccard self-join over any
    (doc_id, text) frame up to the REPRESENTATIVE level: returns
    (verified rep pairs (ra, rb, na, nb, i, jaccard) with ra < rb,
    members (rb, b, nb), checkpoint group).  The caller owns the
    checkpoint group's release (setsim_join_frame ties it to its
    expanded result; the text label contraction releases it with the
    label frame, running connected components over the COLLAPSED
    graph — identical-token-set groups are cliques, so contraction
    preserves components, and each rep IS its group's min doc id).

    The index side is :func:`_setsim_index_frames` over the whole
    input; the self-join then takes ASYMMETRIC prefixes (PPJoin, Xiao
    et al. TODS'11): the probe side keeps the AllPairs length
    plen = n - ceil(tau*n) + 1, the INDEX side only needs
    plen_idx = n - ceil(2*tau/(1+tau)*n) + 1.  Lossless: for a
    qualifying pair let w be the FIRST shared token in the global
    (df, tok) order and y the canonical-smaller doc ((n, id) order).
    All shared tokens rank >= w, so the overlap i satisfies
    i <= n_side - pos_side(w) + 1 on EACH side; with
    i >= alpha = ceil(tau/(1+tau)*(nx+ny)) >= ceil(tau*nx) (length
    filter) the probe bound follows, and alpha >=
    ceil(2*tau/(1+tau)*ny) (ny <= nx) gives the sharper index bound.
    At tau = 9/10 the index prefix is ~n/19 + 1 vs ~n/10 + 1 — the raw
    join output roughly HALVES vs the symmetric join, measured
    3.28M -> 2.0M candidates at sf0.1.

    ``checkpoint=False`` keeps the prefix and candidate tables lazy
    (they otherwise localCheckpoint, because each feeds several
    consumers) — used by the plan audit; the membership is always
    checkpointed by the frame builder.
    """
    frames, group = _setsim_index_frames(docs, hash_tokens=hash_tokens)
    ceil_idx_n = F.expr(
        f"(2 * {SETSIM_TAU_NUM} * nb + {_SETSIM_ALPHA_DEN - 1})"
        f" div {_SETSIM_ALPHA_DEN}"
    )
    prefix = frames["prefix"].withColumn(
        "in_idx", F.col("pos") <= F.col("nb") - ceil_idx_n + 1
    )
    if checkpoint:
        # prefix feeds the salt-factor probe plus both join sides —
        # cut the lineage so the rank window computes exactly once
        prefix = prefix.localCheckpoint()
        group.append(prefix)
    # Size the salt factor from the OBSERVED hottest token's
    # probe-bucket x index-bucket product instead of a hand-tuned
    # constant: that product is the candidate-pair count the join
    # emits for the token, and the salt spread must keep each task's
    # share bounded regardless of how template-heavy the corpus is.
    # The probe is one tiny aggregate over the (checkpointed) prefix
    # table — O(distinct prefix tokens) rows.  A session conf
    # overrides for cluster-specific tuning.
    conf_salts = docs.sparkSession.conf.get("spark.smile.setsim.nSalts", None)
    if conf_salts is not None:
        n_salts = int(conf_salts)
    else:
        hot = (
            prefix.groupBy("tok")
            .agg(
                F.count(F.lit(1)).alias("cp"),
                F.sum(F.col("in_idx").cast("bigint")).alias("ci"),
            )
            .agg(F.max(F.col("cp") * F.col("ci")).alias("h"))
            .first()["h"]
        )
        n_salts = _setsim_n_salts_pairs(int(hot or 0))
    # The prefix-token join is SALTED (functions/skew.py): "prefix
    # tokens are rare" fails on a template-heavy corpus — here the
    # hottest prefix token sits in 3,816 docs' probe prefixes at
    # sf0.1, so a plain shuffle join does that token's millions of
    # candidate pairs in ONE task (output amplification AQE's skew
    # split can't see: the INPUT partitions are tiny).  Salting
    # spreads each hot token over n_salts reducers by replicating the
    # (short-prefix, hence small) index side — bounded cost, balanced
    # output, and unlike a broadcast of the full prefix table it never
    # grows with the corpus toward the 8GB broadcast cap (VERDICT r05
    # What's-wrong #1).
    from smile_spark.functions.skew import salted_join

    na, nb, ra, rb = (F.col(c) for c in ("na", "nb", "ra", "rb"))
    cand = (
        salted_join(
            _setsim_side(prefix, "a"),
            _setsim_side(prefix.filter("in_idx"), "b"),
            "tok",
            n_salts=n_salts,
        )
        # b strictly canonical-smaller than a in (n, id) order — each
        # unordered pair is generated in exactly one role assignment,
        # and the index-prefix bound applies to b
        .filter(((nb < na) | ((nb == na) & (rb < ra))) & _setsim_bounds())
        # output contract is id-ordered (ra < rb), independent of the
        # (n, id) role order the join used
        .select(
            F.least(ra, rb).alias("ra"),
            F.greatest(ra, rb).alias("rb"),
            F.when(ra < rb, na).otherwise(nb).alias("na"),
            F.when(ra < rb, nb).otherwise(na).alias("nb"),
        )
        .distinct()
    )
    if checkpoint:
        # cand feeds both id semi-joins AND the verify join — cut the
        # lineage so the (expensive) prefix join runs exactly once
        cand = cand.localCheckpoint()
        group.append(cand)
    verified = _setsim_verify(cand, frames["reps"], frames["reps"])
    return verified, frames["members"], group


def setsim_join_frame(
    docs: DataFrame,
    checkpoint: bool = True,
    hash_tokens: bool = True,
) -> DataFrame:
    """Expand :func:`_setsim_join_core`'s verified representative
    pairs back to document pairs — the full join's public face; see
    the core's docstring for the pipeline.

    Checkpoint lifetime is tied to the RETURNED frame (ADVICE r10
    medium): the invocation's checkpoints are released when the result
    is garbage-collected (``session.release_checkpoints_on_gc``), so
    back-to-back runs never accumulate dead blocks (measured 11 s ->
    48 s by the fifth sf0.1 run without release), and two LIVE setsim
    frames (setsim_hash_agreement's double run) are safe."""
    from smile_spark.session import release_checkpoints_on_gc

    verified, members, group = _setsim_join_core(
        docs, checkpoint, hash_tokens
    )
    # Inter-group: expanded pairs re-orient to the id-ordered output
    # contract; na/nb swap with the order.
    a, b = F.col("a"), F.col("b")
    inter = _setsim_expand(verified, members, members).select(
        F.least(a, b).alias("a"),
        F.greatest(a, b).alias("b"),
        F.when(a < b, F.col("na")).otherwise(F.col("nb")).alias("na"),
        F.when(a < b, F.col("nb")).otherwise(F.col("na")).alias("nb"),
        "i",
        "jaccard",
    )
    # Intra-group: members share one token set, so every in-group pair
    # is a result with i = na = nb = n and jaccard exactly 1.0 — no
    # candidate generation, no verify.  ROUND(n/(n+n-n), 6) = 1.0 on
    # both engines.
    ga = members.select("rb", F.col("b").alias("da"), "nb")
    gb = members.select("rb", F.col("b").alias("db"))
    intra = (
        ga.join(gb, "rb")
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("a"),
            F.col("db").alias("b"),
            F.col("nb").alias("na"),
            "nb",
            F.col("nb").alias("i"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    result = inter.unionByName(intra)
    release_checkpoints_on_gc(result, group)
    return result


# The prefix filter is LOSSLESS, so the oracle needs no prefix logic:
# exact all-pairs Jaccard >= tau produces the identical pair set.
def _setsim_sql(doc_where: str = "") -> str:
    """All-pairs exact-Jaccard oracle SQL, optionally over a filtered
    document block (``doc_where`` like ``"WHERE doc_id % 2 = 0"``)."""
    return (
        "WITH toks AS (SELECT DISTINCT doc_id, tok FROM documents,"
        f"  unnest(string_split(text, ' ')) t(tok) {doc_where}),"
        " sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks"
        "  GROUP BY doc_id),"
        " inter AS (SELECT ta.doc_id AS a, tb.doc_id AS b, COUNT(*) AS i"
        "  FROM toks ta JOIN toks tb ON ta.tok = tb.tok"
        "   AND ta.doc_id < tb.doc_id GROUP BY 1, 2),"
        " jacc AS (SELECT a, b,"
        "  CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,"
        "  CAST(i AS BIGINT) AS i,"
        "  ROUND(i / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS jaccard"
        "  FROM inter JOIN sizes sa ON sa.doc_id = inter.a"
        "  JOIN sizes sb ON sb.doc_id = inter.b)"
        " SELECT a, b, na, nb, i, jaccard FROM jacc"
        f" WHERE jaccard >= {SETSIM_TAU}"
    )


SETSIM_JOIN_SQL = _setsim_sql()

# Certificate block: doc_id % MOD == 0, the dedup_eval device — MOD
# is 2 at every fixture SF (so the DuckDB oracle, which cannot observe
# corpus size, stays exact) and would grow with the corpus at 100 TB
# so the double-execution audit stays fixed-cost.
SETSIM_CERT_MOD = 2


def setsim_hash_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certificate that the 64-bit-token prefix join and the
    raw-string prefix join produce the IDENTICAL pair set — the audit
    a production rollout runs before trusting hashed keys at 100 TB,
    where a silent xxhash64 collision would merge two tokens and
    could (in the worst case) admit a false pair.  Runs the full
    prefix-filtered join TWICE over the deterministic audit block
    (doc_id % SETSIM_CERT_MOD == 0), full-outer-joins the two pair
    sets on (a, b), and reduces to one row: pair counts per path,
    pairs common to both, and rounded-jaccard disagreements among
    common pairs.  Healthy output: all three counts equal, zero
    mismatches — which is also exactly what the (string-semantics)
    DuckDB oracle asserts, so ANY hash-induced divergence turns this
    entry red at the driver's correctness gate rather than silently
    shipping.
    """
    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SETSIM_CERT_MOD == 0
    )
    # Hold BOTH setsim frames alive until the returned aggregate
    # itself dies: checkpoint lifetime is tied to each frame's Python
    # object (weakref finalizer), and the derived select/join frames
    # below do not keep their parent alive on their own.
    hframe = setsim_join_frame(docs, hash_tokens=True)
    sframe = setsim_join_frame(docs, hash_tokens=False)
    hashed = hframe.select("a", "b", F.col("jaccard").alias("jh"))
    strung = sframe.select("a", "b", F.col("jaccard").alias("js"))
    both = hashed.join(strung, ["a", "b"], "full")
    out = both.agg(
        F.sum(F.col("jh").isNotNull().cast("bigint")).alias(
            "n_pairs_hashed"
        ),
        F.sum(F.col("js").isNotNull().cast("bigint")).alias(
            "n_pairs_string"
        ),
        F.sum(
            (F.col("jh").isNotNull() & F.col("js").isNotNull()).cast(
                "bigint"
            )
        ).alias("n_common"),
        F.sum(
            (
                F.col("jh").isNotNull()
                & F.col("js").isNotNull()
                & (F.col("jh") != F.col("js"))
            ).cast("bigint")
        ).alias("n_jaccard_mismatch"),
    )
    # keep the parent frames (and so their checkpoint blocks) alive
    # for as long as the caller holds the certificate frame
    from smile_spark.session import keep_alive

    return keep_alive(out, hframe, sframe)


SETSIM_HASH_AGREEMENT_SQL = (
    "WITH pairs AS ("
    + _setsim_sql(f"WHERE doc_id % {SETSIM_CERT_MOD} = 0")
    + ") SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_hashed,"
    " CAST(COUNT(*) AS BIGINT) AS n_pairs_string,"
    " CAST(COUNT(*) AS BIGINT) AS n_common,"
    " CAST(0 AS BIGINT) AS n_jaccard_mismatch FROM pairs"
)


# ---------------------------------------------------------------------------
# Incremental corpus dedup (probe an increment against the base index)
# ---------------------------------------------------------------------------

# (the increment block constant SETSIM_INC_MOD lives with the LSH
# constants at the top of this file — the minhash index shares it)


def setsim_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the shape a production pipeline
    actually runs daily: exact word-set Jaccard >= SETSIM_TAU join of
    an INCREMENT block (doc_id % SETSIM_INC_MOD == 0, the new-crawl
    stand-in) against the BASE corpus (every other document), emitting
    for each increment doc the base docs it near-duplicates.  Unlike
    :func:`setsim_join_prefix` this never enumerates base x base
    pairs: the quadratic core is probe x index, so re-deduping the
    full corpus on every ingest — the naive alternative — is avoided
    entirely.

    Plan: the base block's index frames are built in memory
    (:func:`_setsim_index_frames`: tokenize, per-side GroupJoin
    collapse, document frequencies from the BASE side only, AllPairs
    prefixes) and probed by the increment through
    :func:`_setsim_probe_indexed` — the same probe core
    :func:`setsim_incremental_indexed` runs over the persisted index.
    Because the probe and index sides are disjoint, no intra-group or
    unordered-pair handling is needed — an increment group and a base
    group with the SAME token set meet as an ordinary rep pair
    (J = 1) through the regular join.  Checkpointed stages release
    when the returned frame dies.

    Returns (a, b, na, nb, i, jaccard) with a from the increment and
    b from the base (NOT id-ordered — the sides are semantically
    distinct).
    """
    from smile_spark.session import release_checkpoints_on_gc

    docs = table(spark, sf_dir, "documents")
    is_inc = F.col("doc_id") % SETSIM_INC_MOD == 0
    index, ckpts = _setsim_index_frames(docs.filter(~is_inc))
    out = _setsim_probe_indexed(docs.filter(is_inc), index)
    release_checkpoints_on_gc(out, ckpts)
    return out


SETSIM_INCREMENTAL_SQL = (
    "WITH toks AS (SELECT DISTINCT doc_id, tok FROM documents,"
    "  unnest(string_split(text, ' ')) t(tok)),"
    " sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),"
    f" inc AS (SELECT doc_id FROM documents"
    f"  WHERE doc_id % {SETSIM_INC_MOD} = 0),"
    f" base AS (SELECT doc_id FROM documents"
    f"  WHERE doc_id % {SETSIM_INC_MOD} <> 0),"
    " inter AS (SELECT ta.doc_id AS a, tb.doc_id AS b, COUNT(*) AS i"
    "  FROM toks ta JOIN inc ON inc.doc_id = ta.doc_id"
    "  JOIN toks tb ON tb.tok = ta.tok"
    "  JOIN base ON base.doc_id = tb.doc_id"
    "  GROUP BY 1, 2),"
    " jacc AS (SELECT a, b, CAST(sa.n AS BIGINT) AS na,"
    "  CAST(sb.n AS BIGINT) AS nb, CAST(i AS BIGINT) AS i,"
    "  ROUND(i / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS jaccard"
    "  FROM inter JOIN sizes sa ON sa.doc_id = inter.a"
    "  JOIN sizes sb ON sb.doc_id = inter.b)"
    " SELECT a, b, na, nb, i, jaccard FROM jacc"
    f" WHERE jaccard >= {SETSIM_TAU}"
)


# ---------------------------------------------------------------------------
# Persisted incremental-dedup base index (VERDICT r11 What's-missing #2)
# ---------------------------------------------------------------------------

# :func:`setsim_incremental` recomputes the base side's tokenize + df
# stats + prefixes on EVERY run — corpus-linear work a daily-ingest
# pipeline should pay once.  The index below persists the base side's
# four :func:`_setsim_index_frames` as bucketed catalog tables (the
# graph_adjacency / bucketed_join_revenue physical layout), each
# bucketed on its probe join key so the index side of every probe join
# reads pre-partitioned data with ZERO exchange (``_SETSIM_LAYOUT``).
# SETSIM_INDEX_BUCKETS is a cap, not the bucket count: the count comes
# from ``bucketed.bucket_count`` on the documents file, 1 bucket when
# it is a local file within spark.sql.autoBroadcastJoinThreshold (every
# fixture SF), so the probe joins broadcast and need no bucketing, and
# 16 otherwise, so a sort-merge probe join reads the index with no
# exchange and at full width.  The sidecar payloads of setsim_idx_* and
# setsim_roll_* record the count, so an index written under another
# count is rebuilt, never adopted or appended to.
SETSIM_INDEX_BUCKETS = 16

# part -> (bucket key, persisted columns); the df part is written by a
# build only, a fold keeps it frozen
_SETSIM_LAYOUT = {
    "prefix": ("tok", ["rb", "tok", "nb", "pos"]),  # candidate join side
    "df": ("tok", ["tok", "df"]),  # the probe ranking join
    "reps": ("rb", ["rb", "ts", "nb"]),  # verify-side token arrays
    "members": ("rb", ["rb", "b"]),  # rep -> doc expansion
}


def _setsim_n_buckets(spark: SparkSession, sf_dir: str) -> int:
    """Bucket count of the setsim index tables for ``sf_dir``."""
    from smile_spark.sources.bucketed import bucket_count
    from smile_spark.tables import table_path

    return bucket_count(
        spark, table_path(sf_dir, "documents"), SETSIM_INDEX_BUCKETS
    )


def _setsim_tables(family: str, sf_dir: str) -> dict[str, str]:
    """Catalog names of the four bucketed tables of one setsim family
    (``setsim_idx`` or ``setsim_roll``) for one fixture dir.

    SINGLE-WRITER ASSUMPTION (ADVICE r12 #3): the tables (and their
    warehouse directories) are catalog/warehouse-global per sf_dir
    while the ``bucketed`` state registry is per-process — a second
    concurrent application that decides to rebuild runs
    ``drop_bucketed_table`` (which also rm -rf's the warehouse dir)
    and can yank files out from under another application's in-flight
    probe.  One application owns the warehouse at a time — the same
    contract as the repo-wide bench-vs-pytest concurrency rule (both
    clobber ``spark-warehouse``).  The sidecar adoption path (see
    :func:`setsim_index_build`) narrows the exposure — a fresh
    session that finds a valid sidecar never drops anything — but the
    rebuild path remains single-writer."""
    return {
        part: BK.bucket_table_name(f"{family}_{part}", sf_dir)
        for part in _SETSIM_LAYOUT
    }


def _setsim_read_index(
    spark: SparkSession, tables: dict[str, str]
) -> dict[str, DataFrame]:
    """The persisted index tables as the frames
    :func:`_setsim_probe_indexed` takes."""
    return {
        part: BK.read_bucketed(spark, tbl) for part, tbl in tables.items()
    }


def _setsim_params(roll: bool) -> Callable:
    def params(spark: SparkSession, sf_dir: str) -> dict:
        p = {
            "n_buckets": _setsim_n_buckets(spark, sf_dir),
            "tau": [SETSIM_TAU_NUM, SETSIM_TAU_DEN],
            "inc_mod": SETSIM_INC_MOD,
            "prefix_cols": _SETSIM_LAYOUT["prefix"][1],
        }
        if roll:
            p["roll_mod"] = SETSIM_ROLL_MOD
        return p

    return params


def _setsim_persist(
    put: Callable,
    frames: dict[str, DataFrame],
    tables: dict[str, str],
    parts: list[str],
    n_buckets: int,
) -> None:
    """Write (``put`` = write_bucketed) or append (append_bucketed)
    the ``parts`` of an index frame set in the persisted layout."""
    for part in parts:
        key, cols = _SETSIM_LAYOUT[part]
        put(frames[part].select(*cols), tables[part], key, n_buckets=n_buckets)


def _setsim_index_write(
    spark: SparkSession,
    docs: DataFrame,
    tables: dict[str, str],
    n_buckets: int,
) -> int:
    """Compute and persist the four setsim index tables for ``docs``
    (the corpus-linear pass of :func:`_setsim_index_frames`) in
    ``n_buckets`` buckets, dropping any prior version first.  The base
    write of both setsim state specs, which pass
    :func:`_setsim_n_buckets` (the count their sidecars record);
    sidecar/memo bookkeeping stays with the ``bucketed`` lifecycle.
    Build-time checkpoints are released in the finally block even when
    a drop/write throws (ADVICE r12 #2).

    Returns the number of ``docs`` rows, null ``text`` included,
    observed by the job that checkpoints the membership (the only job
    that scans ``docs``)."""
    from pyspark.sql import Observation

    from smile_spark.session import unpersist_checkpoint

    seen = Observation()
    frames, ckpts = _setsim_index_frames(
        docs.observe(seen, F.count(F.lit(1)).alias("rows"))
    )
    try:
        for tbl in tables.values():
            BK.drop_bucketed_table(spark, tbl)
        _setsim_persist(
            BK.write_bucketed, frames, tables, list(_SETSIM_LAYOUT), n_buckets
        )
    finally:
        for c in ckpts:
            unpersist_checkpoint(c)
    return seen.get["rows"]


def _setsim_write_base(
    spark: SparkSession, sf_dir: str, tables: dict[str, str]
) -> int:
    return _setsim_index_write(
        spark,
        _documents(spark, sf_dir).filter(_text_base()),
        tables,
        _setsim_n_buckets(spark, sf_dir),
    )


# the snapshot fingerprint is the base-block row count plus every
# parameter the persisted tables depend on; the sidecar name is
# sf_dir-scoped exactly like the tables
SETSIM_INDEX = BK.StateSpec(
    name="setsim_idx",
    tables=lambda spark, sf_dir: _setsim_tables("setsim_idx", sf_dir),
    params=_setsim_params(roll=False),
    source=_documents,
    base=_text_base,
    write_base=_setsim_write_base,
)


def clear_setsim_index_cache() -> None:
    """Forget the per-application index memo AND drop the adoption
    sidecars this process wrote, so the next probe (or the bench's
    cold ``setsim_index_build`` loop) runs the full drop-and-rebuild
    path — without the sidecar removal, the rebuild would ADOPT the
    tables it just wrote and the cold entry would price a no-op."""
    BK.clear_state(SETSIM_INDEX)


def setsim_index_build(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Materialize the incremental-dedup BASE index once per
    (application, fixture dir): one corpus-linear pass over the base
    block (:func:`_setsim_index_frames` — tokenize, GroupJoin
    collapse, document frequencies, AllPairs prefixes — exactly the
    base side :func:`setsim_incremental` builds in memory), persisted
    as four bucketed tables.  Returns the table-name map.

    At 100 TB this is the nightly index job: the corpus pays its
    linear pass ONCE, and every ingest probes the bucketed tables —
    the ``ann_ivf_indexed`` persist-and-probe contract applied to set
    similarity.

    A session whose per-process memo is empty first tries to ADOPT
    the existing tables (VERDICT r12 next-round #5, the shared
    ``bucketed.build_state`` contract): a sidecar JSON written after
    the tables records the base-block row count and the build
    parameters, and when it matches what this build would produce —
    and the catalog still knows all four tables — the corpus-linear
    pass is skipped entirely.  A stale sidecar (the snapshot changed)
    or missing tables fall through to the drop-and-rebuild path, which
    stays behind :func:`clear_setsim_index_cache` for the bench's cold
    pricing.  The base block is counted only when the sidecar's
    parameters match and the tables exist; a rebuild records the count
    its own scan observed.
    """
    return BK.build_state(spark, SETSIM_INDEX, sf_dir)


def setsim_incremental_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`setsim_incremental` probing the PERSISTED base index —
    the production daily-ingest path: the increment pays tokenize +
    collapse + prefix for ITS OWN documents only, while the base
    side's df stats, prefixes, rep arrays and membership come from the
    bucketed tables :func:`setsim_index_build` materialized once.  No
    corpus-linear base pass happens per run, and the candidate join's
    index side (bucketed by tok) reads pre-partitioned data with zero
    exchange.

    Result-identical to :func:`setsim_incremental` (asserted by an
    agreement test and the shared DuckDB oracle): both run the one
    probe core :func:`_setsim_probe_indexed`, here over the
    ``read_bucketed`` frames of the index instead of the in-memory
    frames of the base block.

    Returns (a, b, na, nb, i, jaccard), a from the increment, b from
    the base.
    """
    index = _setsim_read_index(spark, setsim_index_build(spark, sf_dir))
    docs = table(spark, sf_dir, "documents")
    return _setsim_probe_indexed(
        docs.filter(F.col("doc_id") % SETSIM_INC_MOD == 0), index
    )


# ---------------------------------------------------------------------------
# Nightly index roll-forward (VERDICT r13 What's-missing #1)
# ---------------------------------------------------------------------------

# Every *_index_build is corpus-linear per SNAPSHOT: when the base
# block grows, the sidecar goes stale and the whole index is dropped
# and rebuilt.  The roll-forward makes the NIGHTLY job itself
# increment-linear: fold the verified increment's rows into the
# persisted tables (append, never rewrite) and advance the sidecar
# fingerprint, reserving the full rebuild for parameter changes.
#
# Fixture block arithmetic: the standard increment (doc_id % 5 == 0)
# splits in half — the FOLD block (doc_id % 10 == 0) is "yesterday's
# verified increment" the nightly job adopts into the index, and the
# PROBE block (doc_id % 10 == 5) is "today's crawl" probing the
# rolled index.  The rolled index therefore covers exactly
# doc_id % 10 != 5, which the closed-form oracle mirrors.
#
# CORRECTNESS OF THE FROZEN df ORDER: the AllPairs prefix filter only
# requires that probe and index rank tokens by the SAME total order —
# the df values are a prefix-size heuristic, not a correctness input.
# The fold ranks its prefixes under the PERSISTED base df (absent
# tokens read df 0 and sort first), exactly the order every future
# probe uses, so the rolled index and its probes share one total
# order and the filter stays lossless.  A full rebuild on the grown
# base would choose a DIFFERENT (also internally consistent) order;
# verified pair RESULTS are identical either way — which is what the
# agreement test pins.
#
# The roll family gets its OWN table names (setsim_roll_*): folding
# into the setsim_idx_* tables in place would silently change
# setsim_incremental_indexed's verified contract (its probe block
# overlaps the fold block).  In production there is one index and the
# probe convention advances with it; the fixture keeps both states
# observable.

SETSIM_ROLL_MOD = 2 * SETSIM_INC_MOD  # fold: % 10 == 0; probe: % 10 == 5


def _setsim_fold_append(
    spark: SparkSession, sf_dir: str, tables: dict[str, str]
) -> None:
    """Append the fold block's prefix/reps/members rows — its
    :func:`_setsim_index_frames` ranked under the FROZEN persisted df
    (see the section comment) — to the persisted roll tables, the
    increment-linear nightly step.  The appends use the bucket count
    the tables were written with (the payloads' ``n_buckets``): Spark
    refuses an append whose bucket spec differs.  The ``bucketed``
    lifecycle runs it with the sidecar already removed and drops the
    tables if it fails, so a half-appended index is never adoptable (a
    transactional table format would make append+fingerprint
    atomic)."""
    from smile_spark.session import unpersist_checkpoint

    fold = _documents(spark, sf_dir).filter(_text_roll_fold())
    frames, ckpts = _setsim_index_frames(
        fold, BK.read_bucketed(spark, tables["df"])
    )
    try:
        _setsim_persist(
            BK.append_bucketed,
            frames,
            tables,
            ["prefix", "reps", "members"],
            _setsim_n_buckets(spark, sf_dir),
        )
    finally:
        for c in ckpts:
            unpersist_checkpoint(c)


# Both payloads carry every build parameter plus the covered-block
# row counts (one aggregate job), so a parameter OR a snapshot change
# forces the full rebuild.  Their ``n_buckets`` is the bucket count of
# the roll tables: the base write and the fold appends both use it.
SETSIM_ROLL = BK.StateSpec(
    name="setsim_roll",
    tables=lambda spark, sf_dir: _setsim_tables("setsim_roll", sf_dir),
    params=_setsim_params(roll=True),
    source=_documents,
    base=_text_base,
    write_base=_setsim_write_base,
    fold=_text_roll_fold,
    append_fold=_setsim_fold_append,
)


def clear_setsim_roll_cache() -> None:
    """Forget the roll-forward memo AND drop this process' adoption
    sidecars (built or adopted — the IVF contract), so the next call
    runs the full base-rebuild + fold path."""
    BK.clear_state(SETSIM_ROLL)


def setsim_roll_restore_base(spark: SparkSession, sf_dir: str) -> None:
    """Force the roll tables back to the pre-fold BASE state (drop +
    corpus-linear rebuild + base sidecar) — the bench/test device for
    pricing the FOLD alone: a fold is a one-way append, so re-timing
    it cold requires restoring the state it consumes.  Production
    never calls this; the nightly job folds each increment once."""
    BK.restore_base(spark, SETSIM_ROLL, sf_dir)


def setsim_index_rollforward(
    spark: SparkSession, sf_dir: str
) -> dict[str, str]:
    """Advance the persisted setsim index from covering the BASE
    block to covering base ∪ fold by APPENDING the fold block's
    collapse/membership/prefix rows and updating the sidecar — the
    nightly job's increment-linear form (VERDICT r13 next-round #3),
    replacing the drop-and-rebuild that made every snapshot change
    corpus-linear.

    Three-state resolution per (application, sf_dir), the shared
    ``bucketed.roll_forward`` contract:
    1. a ROLLED sidecar over live tables → adopt (nothing to do);
    2. a BASE sidecar over live tables → fold (increment-linear);
    3. anything else (no sidecar, stale snapshot, CHANGED PARAMETERS)
       → full corpus-linear base rebuild, then fold.
    Parameter changes land in state 3 by construction — every build
    parameter is in both payloads, so no rolled index built under
    other parameters can ever be adopted (the stale-params test pins
    this).  The single-writer assumption of the setsim index family
    applies unchanged."""
    return BK.roll_forward(spark, SETSIM_ROLL, sf_dir)


def setsim_rolled_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's crawl (doc_id % 10 == 5) probing the ROLLED index —
    the end-to-end proof that folded rows genuinely participate in
    candidate generation: probe docs near-duplicating FOLD docs
    (b % 10 == 0) can only surface through the appended prefix rows,
    so any fold defect (wrong ranking order, missed append, schema
    drift) fails the closed-form oracle's hash gate.

    The probe plan is setsim_incremental_indexed's (the shared
    :func:`_setsim_probe_indexed` core) over the rolled tables.
    Returns (a, b, na, nb, i, jaccard): a from the probe block, b from
    base ∪ fold.
    """
    index = _setsim_read_index(spark, setsim_index_rollforward(spark, sf_dir))
    docs = table(spark, sf_dir, "documents")
    return _setsim_probe_indexed(
        docs.filter(F.col("doc_id") % SETSIM_ROLL_MOD == SETSIM_INC_MOD),
        index,
    )


# oracle: exact all-pairs Jaccard between the probe block and the
# rolled coverage (base ∪ fold = everything except the probe block) —
# un-banded, un-prefixed closed form, so prefix/fold recall failures
# fail the row-count/hash gate
SETSIM_ROLLED_PROBE_SQL = (
    "WITH toks AS (SELECT DISTINCT doc_id, tok FROM documents,"
    "  unnest(string_split(text, ' ')) t(tok)),"
    " sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),"
    f" inc AS (SELECT doc_id FROM documents"
    f"  WHERE doc_id % {SETSIM_ROLL_MOD} = {SETSIM_INC_MOD}),"
    f" base AS (SELECT doc_id FROM documents"
    f"  WHERE doc_id % {SETSIM_ROLL_MOD} <> {SETSIM_INC_MOD}),"
    " inter AS (SELECT ta.doc_id AS a, tb.doc_id AS b, COUNT(*) AS i"
    "  FROM toks ta JOIN inc ON inc.doc_id = ta.doc_id"
    "  JOIN toks tb ON tb.tok = ta.tok"
    "  JOIN base ON base.doc_id = tb.doc_id"
    "  GROUP BY 1, 2),"
    " jacc AS (SELECT a, b, CAST(sa.n AS BIGINT) AS na,"
    "  CAST(sb.n AS BIGINT) AS nb, CAST(i AS BIGINT) AS i,"
    "  ROUND(i / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS jaccard"
    "  FROM inter JOIN sizes sa ON sa.doc_id = inter.a"
    "  JOIN sizes sb ON sb.doc_id = inter.b)"
    " SELECT a, b, na, nb, i, jaccard FROM jacc"
    f" WHERE jaccard >= {SETSIM_TAU}"
)


# ---------------------------------------------------------------------------
# Dedup quality evaluation (LSH recall/precision vs exact truth)
# ---------------------------------------------------------------------------

DEDUP_EVAL_MOD = 2  # evaluation block at fixture scale: doc_id % MOD == 0
# target size of the audit block in documents; the block modulus grows
# with the corpus so the all-pairs truth join inside the block stays a
# fixed-cost job no matter how large the corpus gets
DEDUP_EVAL_BLOCK_TARGET = 50_000


def _dedup_eval_mod(n_docs: int) -> int:
    """Audit-block modulus as a function of corpus size: the block
    (doc_id % mod == 0) holds ~n_docs/mod documents, pinned near
    DEDUP_EVAL_BLOCK_TARGET.  Equals 2 for every fixture SF (<=100k
    docs) so the DuckDB oracle — which cannot observe the corpus size
    — stays exact; at 100 TB (billions of docs) the modulus reaches
    1e4-1e5 and the truth join stays ~50k-doc quadratic, not
    half-corpus quadratic."""
    return max(DEDUP_EVAL_MOD, -(-n_docs // DEDUP_EVAL_BLOCK_TARGET))


def dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure the LSH dedup pipeline against EXACT ground truth — the
    evaluation harness a production dedup rollout runs before trusting
    a probabilistic pipeline at 100 TB: within a deterministic audit
    block (doc_id % mod == 0, modulus from :func:`_dedup_eval_mod`),
    compute the true pair set (exact shingle Jaccard >=
    LSH_VERIFY_THRESHOLD, all pairs) and compare the deployed
    dedup_minhash_lsh pairs restricted to the same block.

    Emits one row: (n_truth, n_lsh, tp, fp, fn, precision, recall).
    Structurally fp = 0 (LSH verifies candidates with the same exact
    Jaccard), so the interesting number is RECALL — the probability a
    true pair ever collided in a band (≈ 1-(1-j^r)^b); banding misses
    are exactly what this audit surfaces.

    Sampling error: the block sees a 1/mod fraction of documents and
    ~1/mod^2 of pairs; with n_truth true pairs landing in the block,
    the recall estimate carries a binomial standard error
    sqrt(r(1-r)/n_truth) — e.g. 2,000 in-block true pairs bound the
    95% CI within ±2.2 points at r=0.5 (tighter near 1).  The block
    target is sized so template-heavy corpora keep n_truth in the
    thousands; see SCALING.md §Dedup for the production numbers.

    Scale: the all-pairs truth is quadratic ONLY inside the
    fixed-size block, the LSH side reads the memoized pair table, and
    the comparison is a full-outer join on (a, b) pair keys —
    block-sized, trivially small."""
    all_docs = table(spark, sf_dir, "documents")
    # parquet row-count metadata makes this a cheap driver-side probe
    mod = _dedup_eval_mod(all_docs.count())
    docs = all_docs.filter(F.col("doc_id") % mod == 0)
    # Exact string shingles: this is the ground truth the hashed LSH
    # verify is measured against, so it must not share its collisions.
    sh = _shingles(docs).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("a"), "sh")
    sb = sh.select(F.col("doc_id").alias("b"), "sh")
    inter = (
        sa.join(sb, "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("a"),
                                F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"),
                           F.col("n").alias("nb")), "b")
        .filter(
            F.col("i").cast("double")
            / (F.col("na") + F.col("nb") - F.col("i"))
            >= LSH_VERIFY_THRESHOLD
        )
        .select("a", "b", F.lit(1).alias("t"))
    )
    lsh = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter((F.col("a") % mod == 0) & (F.col("b") % mod == 0))
        .select("a", "b", F.lit(1).alias("l"))
    )
    j = truth.join(lsh, ["a", "b"], "full")
    agg = j.agg(
        F.sum(F.col("t").isNotNull().cast("bigint")).alias("n_truth"),
        F.sum(F.col("l").isNotNull().cast("bigint")).alias("n_lsh"),
        F.sum(
            (F.col("t").isNotNull() & F.col("l").isNotNull()).cast("bigint")
        ).alias("tp"),
        F.sum(
            (F.col("t").isNull() & F.col("l").isNotNull()).cast("bigint")
        ).alias("fp"),
        F.sum(
            (F.col("t").isNotNull() & F.col("l").isNull()).cast("bigint")
        ).alias("fn"),
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.round(F.col("tp") / (F.col("tp") + F.col("fp")).cast("double"), 6),
    )
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.round(F.col("tp") / (F.col("tp") + F.col("fn")).cast("double"), 6),
    )
    return agg.select(
        "n_truth", "n_lsh", "tp", "fp", "fn",
        prec.alias("precision"), rec.alias("recall"),
    )


def dedup_eval_sql() -> str:
    # modv mirrors _dedup_eval_mod EXACTLY via integer ceiling
    # division (n + target - 1) // target, so the audit-block modulus
    # tracks the runtime corpus count on both engines at ANY fixture
    # size — no hardcoded fixture-scale constant to fall out of sync
    # (ADVICE r07 #2)
    return (
        "WITH lsh_all AS (SELECT a, b FROM ("
        + dedup_minhash_lsh_sql()
        + ")),"
        f" modv AS (SELECT GREATEST({DEDUP_EVAL_MOD},"
        f"  (COUNT(*) + {DEDUP_EVAL_BLOCK_TARGET - 1})"
        f"  // {DEDUP_EVAL_BLOCK_TARGET}) AS evmod FROM documents),"
        " lsh AS (SELECT a, b, 1 AS l FROM lsh_all, modv"
        "  WHERE a % evmod = 0 AND b % evmod = 0),"
        " d AS (SELECT doc_id, text FROM documents, modv"
        "  WHERE doc_id % evmod = 0),"
        " bpos AS (SELECT doc_id, text, unnest(generate_series(1,"
        f"  greatest(length(text) - {SHINGLE_K - 1}, 1))) AS i FROM d),"
        " btoks AS (SELECT DISTINCT doc_id,"
        f"  substr(text, i, {SHINGLE_K}) AS sh FROM bpos),"
        " bsizes AS (SELECT doc_id, COUNT(*) AS n FROM btoks GROUP BY 1),"
        " binter AS (SELECT ta.doc_id AS a, tb.doc_id AS b, COUNT(*) AS i"
        "  FROM btoks ta JOIN btoks tb ON ta.sh = tb.sh"
        "   AND ta.doc_id < tb.doc_id GROUP BY 1, 2),"
        " truth AS (SELECT a, b, 1 AS t FROM binter"
        "  JOIN bsizes sa ON sa.doc_id = a JOIN bsizes sb ON sb.doc_id = b"
        "  WHERE i / CAST(sa.n + sb.n - i AS DOUBLE)"
        f"   >= {LSH_VERIFY_THRESHOLD}),"
        " j AS (SELECT COALESCE(truth.a, lsh.a) AS a, t, l"
        "  FROM truth FULL OUTER JOIN lsh"
        "   ON truth.a = lsh.a AND truth.b = lsh.b),"
        " agg AS (SELECT"
        "  CAST(SUM(CASE WHEN t IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)"
        "   AS n_truth,"
        "  CAST(SUM(CASE WHEN l IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)"
        "   AS n_lsh,"
        "  CAST(SUM(CASE WHEN t IS NOT NULL AND l IS NOT NULL"
        "   THEN 1 ELSE 0 END) AS BIGINT) AS tp,"
        "  CAST(SUM(CASE WHEN t IS NULL AND l IS NOT NULL"
        "   THEN 1 ELSE 0 END) AS BIGINT) AS fp,"
        "  CAST(SUM(CASE WHEN t IS NOT NULL AND l IS NULL"
        "   THEN 1 ELSE 0 END) AS BIGINT) AS fn"
        "  FROM j)"
        " SELECT n_truth, n_lsh, tp, fp, fn,"
        " CASE WHEN tp + fp > 0"
        "  THEN ROUND(tp / CAST(tp + fp AS DOUBLE), 6) END AS precision,"
        " CASE WHEN tp + fn > 0"
        "  THEN ROUND(tp / CAST(tp + fn AS DOUBLE), 6) END AS recall"
        " FROM agg"
    )


# ---------------------------------------------------------------------------
# LSH banding planner: expected recall per (bands, rows) configuration
# ---------------------------------------------------------------------------

# every way to band the 16-hash signature: bands * rows = N_HASHES
LSH_PLAN_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))


def _pow_mult(expr: str, n: int) -> str:
    """x^n as an explicit left-associated multiplication chain — the
    SAME fully-parenthesized expression text runs on both engines, so
    the doubles are IEEE-identical (libm pow() may differ by an ulp
    across implementations; multiplication cannot)."""
    out = expr
    for _ in range(n - 1):
        out = f"({out} * {expr})"
    return out


def lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-recall table for every (bands, rows) banding of the
    16-hash MinHash signature, evaluated over the OBSERVED verified
    near-duplicate pairs — the measurement a dedup rollout runs before
    choosing its banding: for a pair with exact Jaccard j, the
    probability it ever collides under (b, r) is 1-(1-j^r)^b, so the
    mean over the real pair population is the expected recall of that
    configuration ON THIS CORPUS (the S-curve evaluated against the
    observed similarity distribution, not a hypothetical one).

    Scale: reads the memoized pair table (vanishing fraction of the
    corpus by LSH design), computes five arithmetic expressions per
    pair, and reduces to five rows — a planning query that costs
    nothing next to the dedup run it tunes.

    Determinism: j^r and (1-j^r)^b expand to explicit multiplication
    chains (identical text on both engines — no libm pow), each
    collision probability quantizes to DECIMAL(18,12), and the mean
    divides exact sums.  Emits (bands, rows, n_pairs, exp_recall).
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("jaccard")
    parts = []
    for b, r in LSH_PLAN_CONFIGS:
        jr = _pow_mult("jaccard", r)
        p = f"1.0D - {_pow_mult(f'(1.0D - {jr})', b)}"
        parts.append(
            pairs.select(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows"),
                F.expr(f"cast(round({p}, 12) as decimal(18,12))").alias(
                    "pc"
                ),
            )
        )
    u = parts[0]
    for nxt in parts[1:]:
        u = u.unionByName(nxt)
    return (
        u.groupBy("bands", "rows")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum("pc").cast("double") / F.count(F.lit(1)), 6
            ).alias("exp_recall"),
        )
        .select("bands", "rows", "n_pairs", "exp_recall")
    )


def lsh_band_planner_sql() -> str:
    pair_sql = dedup_minhash_lsh_sql()
    selects = []
    for b, r in LSH_PLAN_CONFIGS:
        jr = _pow_mult("jaccard", r)
        p = f"1.0 - {_pow_mult(f'(1.0 - {jr})', b)}"
        selects.append(
            f"SELECT CAST({b} AS INT) AS bands, CAST({r} AS INT) AS rows,"
            " CAST(COUNT(*) AS BIGINT) AS n_pairs,"
            f" ROUND(CAST(SUM(CAST(ROUND({p}, 12) AS DECIMAL(18,12)))"
            "  AS DOUBLE) / COUNT(*), 6) AS exp_recall"
            " FROM pairs"
        )
    return (
        f"WITH pairs AS MATERIALIZED ({pair_sql}) "
        + " UNION ALL ".join(selects)
    )


# ---------------------------------------------------------------------------
# Exact cross-document n-gram duplication profile (the "exact substring"
# dedup of Lee et al. 2022, "Deduplicating Training Data Makes Language
# Models Better" — 13-token windows)
# ---------------------------------------------------------------------------

SUBSTR_GRAM_N = 13  # the Lee-et-al window: 13 whitespace tokens


def exact_ngram_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document EXACT cross-document duplication profile at the
    13-token granularity: for every document, how many of its distinct
    13-grams appear verbatim in at least one OTHER document.  This is
    the distributed form of exact-substring dedup (Lee et al. 2022 use
    a suffix array on one machine; the n-gram inventory + count + join
    is the standard shuffle-native equivalent), and it catches partial
    template overlap that whole-document hashing (dedup_exact) and
    set-Jaccard (dedup_minhash_lsh / setsim) both miss — two documents
    sharing one long boilerplate paragraph inside otherwise-distinct
    text.

    Emits (doc_id, n_grams, n_dup, dup_frac, flagged) for every doc
    with >= 13 tokens; flagged when at least half the doc's grams are
    duplicated (n_dup*2 >= n_grams — exact integer comparison, no
    float threshold).

    Scale: one explode to ~tokens-per-doc gram rows, one map-side-
    combinable gram count, one gram-keyed equi-join back, one doc-keyed
    aggregate — every stage linear in corpus tokens, shuffles keyed on
    gram/doc (hot template grams produce count rows and H joined rows,
    never H^2).  The gram key is a 64-bit ``xxhash64`` of the window
    text: a 13-token gram is ~80-100 bytes of text, so hashing cuts
    the distinct + count + join shuffles ~10x at 100 TB; the string
    path survives as ``hash_grams=False``, the reference
    :func:`ngram_hash_agreement` certifies the hashed path against."""
    return exact_ngram_frame(
        table(spark, sf_dir, "documents"), SUBSTR_GRAM_N
    )


def _gram_expr(n: int, hashed: bool) -> str:
    """SQL expr producing the per-doc array of n-gram keys over the
    token array ``tk`` — raw window text, or its xxhash64 (8-byte
    shuffle keys; see exact_ngram_dedup's scale note)."""
    win = f"array_join(slice(tk, i, {n}), ' ')"
    if hashed:
        win = f"xxhash64({win})"
    return f"transform(sequence(1, size(tk) - {n - 1}), i -> {win})"


def exact_ngram_frame(
    docs: DataFrame, n: int, hash_grams: bool = True
) -> DataFrame:
    """Core per-doc duplicate-gram profile over any (doc_id, text)
    frame at window size ``n`` — exposed for property testing with
    small grams.  ``hash_grams`` as in :func:`dup_span_frame`."""
    toks = docs.select(
        "doc_id", F.split("text", " ").alias("tk")
    ).filter(F.size("tk") >= n)
    grams = toks.select(
        "doc_id",
        F.explode(F.expr(_gram_expr(n, hash_grams))).alias("gram"),
    ).distinct()
    gstat = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("ndocs"))
    per = (
        grams.join(gstat, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("ndocs") > 1).cast("bigint")).alias("n_dup"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_dup",
        F.round(
            F.col("n_dup").cast("double") / F.col("n_grams"), 6
        ).alias("dup_frac"),
        (F.col("n_dup") * 2 >= F.col("n_grams")).alias("flagged"),
    )


def _exact_ngram_sql(doc_where: str = "") -> str:
    """Textual n-gram profile oracle SQL, optionally over a filtered
    document block."""
    return (
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk"
        f"  FROM documents {doc_where}),"
        " eligible AS (SELECT doc_id, tk FROM toks"
        f"  WHERE len(tk) >= {SUBSTR_GRAM_N}),"
        " grams AS (SELECT DISTINCT doc_id,"
        f"  array_to_string(tk[i : i + {SUBSTR_GRAM_N - 1}], ' ') AS gram"
        f"  FROM eligible,"
        f"  unnest(generate_series(1, len(tk) - {SUBSTR_GRAM_N - 1}))"
        "   t(i)),"
        " gstat AS (SELECT gram, COUNT(*) AS ndocs FROM grams"
        "  GROUP BY gram),"
        " per AS (SELECT g.doc_id,"
        "  CAST(COUNT(*) AS BIGINT) AS n_grams,"
        "  CAST(SUM(CASE WHEN s.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)"
        "   AS n_dup"
        "  FROM grams g JOIN gstat s ON s.gram = g.gram"
        "  GROUP BY g.doc_id)"
        " SELECT doc_id, n_grams, n_dup,"
        " ROUND(CAST(n_dup AS DOUBLE) / n_grams, 6) AS dup_frac,"
        " n_dup * 2 >= n_grams AS flagged FROM per"
    )


EXACT_NGRAM_DEDUP_SQL = _exact_ngram_sql()


def ngram_hash_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certificate that the xxhash64 13-gram key and the raw-string
    13-gram key yield IDENTICAL per-document duplication profiles —
    :func:`setsim_hash_agreement`'s sibling for the exact-substring
    family (exact_ngram_dedup and dup_span_cutlist share the gram-key
    device, so one certified key certifies both).  Runs the profile
    twice over the deterministic audit block (doc_id %
    SETSIM_CERT_MOD == 0), full-outer-joins per doc_id, and reduces
    to one row: per-path doc counts, profile disagreements, and the
    block's total duplicated-gram count as a value anchor.  The
    DuckDB oracle computes the string-semantics truth, so any
    hash-induced profile drift turns the entry red at the driver
    gate.
    """
    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SETSIM_CERT_MOD == 0
    )
    ph = exact_ngram_frame(docs, SUBSTR_GRAM_N, hash_grams=True).select(
        "doc_id",
        F.col("n_grams").alias("gh"),
        F.col("n_dup").alias("dh"),
    )
    ps = exact_ngram_frame(docs, SUBSTR_GRAM_N, hash_grams=False).select(
        "doc_id",
        F.col("n_grams").alias("gs"),
        F.col("n_dup").alias("ds"),
    )
    both = ph.join(ps, "doc_id", "full")
    return both.agg(
        F.sum(F.col("gh").isNotNull().cast("bigint")).alias(
            "n_docs_hashed"
        ),
        F.sum(F.col("gs").isNotNull().cast("bigint")).alias(
            "n_docs_string"
        ),
        F.sum(
            (
                F.col("gh").isNull()
                | F.col("gs").isNull()
                | (F.col("gh") != F.col("gs"))
                | (F.col("dh") != F.col("ds"))
            ).cast("bigint")
        ).alias("n_profile_mismatch"),
        F.coalesce(F.sum("dh"), F.lit(0)).cast("bigint").alias(
            "dup_grams"
        ),
    )


NGRAM_HASH_AGREEMENT_SQL = (
    "WITH per AS ("
    + _exact_ngram_sql(f"WHERE doc_id % {SETSIM_CERT_MOD} = 0")
    + ") SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_hashed,"
    " CAST(COUNT(*) AS BIGINT) AS n_docs_string,"
    " CAST(0 AS BIGINT) AS n_profile_mismatch,"
    " CAST(COALESCE(SUM(n_dup), 0) AS BIGINT) AS dup_grams FROM per"
)


def dup_span_cutlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cut-list exact-substring dedup actually emits in production
    (Lee et al. 2022 remove duplicated SPANS, not documents): per
    document, the maximal merged spans of 13-token windows that appear
    verbatim in at least one other document — (doc_id, span_start,
    span_end, span_tokens), 1-based token positions, overlapping or
    adjacent windows merged.  exact_ngram_dedup answers "how
    duplicated is this doc"; this answers "which bytes to cut".

    Plan: the same linear gram inventory (positions kept this time),
    the duplicated-gram set from a distinct + count, a gram-keyed
    semi-join back to positions, then classic gaps-and-islands per
    document: one doc-keyed window pass flags breaks (position jumps
    past the previous window's reach), a running sum numbers islands,
    and a final (doc, island) aggregate emits merged spans.  Every
    stage is linear; the windows shuffle once on doc_id.

    Determinism: pure integer arithmetic end to end — positions,
    break flags, island ids, and span bounds are exact on both
    engines; no floats anywhere."""
    return dup_span_frame(
        table(spark, sf_dir, "documents"), SUBSTR_GRAM_N
    )


def dup_span_frame(
    docs: DataFrame, n: int, hash_grams: bool = True
) -> DataFrame:
    """Core merged-span cut list over any (doc_id, text) frame at
    window size ``n`` — exposed for property testing with small
    grams.  ``hash_grams`` (default true) joins on the 64-bit
    xxhash64 of each window instead of its text — positions, spans,
    and every output value are unchanged unless two distinct grams
    collide in 64 bits (certified by :func:`ngram_hash_agreement` and
    the two-SF equality tests); ``False`` is that certificate's
    raw-string reference."""
    toks = docs.select(
        "doc_id", F.split("text", " ").alias("tk")
    ).filter(F.size("tk") >= n)
    gpos = toks.select(
        "doc_id",
        F.posexplode(F.expr(_gram_expr(n, hash_grams))).alias("p0", "gram"),
    ).select("doc_id", (F.col("p0") + 1).alias("i"), "gram")
    gdocs = (
        gpos.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") > 1)
        .select("gram")
    )
    dup_pos = gpos.join(gdocs, "gram", "left_semi").select("doc_id", "i")
    from pyspark.sql.window import Window

    wd = Window.partitionBy("doc_id").orderBy("i")
    brk = F.when(
        F.col("i") > F.lag("i").over(wd) + n, F.lit(1)
    ).otherwise(F.lit(0))
    isl = dup_pos.withColumn("brk", brk).withColumn(
        "island",
        F.sum("brk").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("i").cast("bigint").alias("span_start"),
        (F.max("i") + (n - 1)).cast("bigint").alias("span_end"),
        (F.max("i") + (n - 1) - F.min("i") + 1)
        .cast("bigint")
        .alias("span_tokens"),
    ).select("doc_id", "span_start", "span_end", "span_tokens")


DUP_SPAN_CUTLIST_SQL = (
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk"
    "  FROM documents),"
    f" eligible AS (SELECT doc_id, tk FROM toks"
    f"  WHERE len(tk) >= {SUBSTR_GRAM_N}),"
    " gpos AS (SELECT doc_id, i,"
    f"  array_to_string(tk[i : i + {SUBSTR_GRAM_N - 1}], ' ') AS gram"
    f"  FROM eligible,"
    f"  unnest(generate_series(1, len(tk) - {SUBSTR_GRAM_N - 1})) t(i)),"
    " gdocs AS (SELECT gram FROM"
    "  (SELECT DISTINCT doc_id, gram FROM gpos)"
    "  GROUP BY gram HAVING COUNT(*) > 1),"
    " dup_pos AS (SELECT p.doc_id, p.i FROM gpos p"
    "  JOIN gdocs d ON d.gram = p.gram),"
    " flagged AS (SELECT doc_id, i,"
    "  CASE WHEN i > LAG(i) OVER (PARTITION BY doc_id ORDER BY i)"
    f"   + {SUBSTR_GRAM_N} THEN 1 ELSE 0 END AS brk FROM dup_pos),"
    " isl AS (SELECT doc_id, i, SUM(brk) OVER (PARTITION BY doc_id"
    "  ORDER BY i ROWS UNBOUNDED PRECEDING) AS island FROM flagged)"
    " SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,"
    f" CAST(MAX(i) + {SUBSTR_GRAM_N - 1} AS BIGINT) AS span_end,"
    f" CAST(MAX(i) + {SUBSTR_GRAM_N - 1} - MIN(i) + 1 AS BIGINT)"
    "  AS span_tokens"
    " FROM isl GROUP BY doc_id, island"
)


# ---------------------------------------------------------------------------
# Longest-repeat length profile (cut-threshold tuning view)
# ---------------------------------------------------------------------------


def longest_repeat_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document longest-duplicated-run profile — the statistic the
    suffix-array formulation of exact-substring dedup (Lee et al.
    2022) yields for free and the n-gram formulation must aggregate:
    how long the LONGEST cross-document duplicated token run in each
    document is, plus how much of the document duplicated spans cover.
    A dedup rollout reads this distribution to tune the span-cut
    threshold (cut only runs >= L) before committing to a cut list.

    Emits (doc_id, n_tokens, n_spans, dup_tokens, max_run,
    max_run_frac) for every doc with >= 13 tokens; docs with no
    duplicated window get explicit zeros (max_run_frac 0.0), so the
    output is a total profile, not a hit list.

    Plan: the merged-span table from :func:`dup_span_frame` (linear
    gram inventory + gaps-and-islands over 64-bit gram keys), a
    doc-keyed aggregate over it (spans per doc are disjoint by
    construction, so SUM(span_tokens) is an exact covered-token
    count), and one left join back to the
    per-doc token counts — every stage linear in corpus tokens,
    shuffled on doc_id.  Integer arithmetic throughout; the one
    double (max_run_frac) is a ROUND(int/int, 6) both engines compute
    identically."""
    return longest_repeat_frame(
        table(spark, sf_dir, "documents"), SUBSTR_GRAM_N
    )


def longest_repeat_frame(
    docs: DataFrame, n: int, hash_grams: bool = True
) -> DataFrame:
    """Core longest-repeat profile over any (doc_id, text) frame at
    window size ``n`` — exposed for property testing with small
    grams (brute-force suffix-scan comparison in
    tests/test_properties.py)."""
    spans = dup_span_frame(docs, n, hash_grams)
    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    ).filter(F.col("n_tokens") >= n)
    per = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
        F.max("span_tokens").alias("max_run"),
    )
    return toks.join(per, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0))
        .cast("bigint")
        .alias("dup_tokens"),
        F.coalesce("max_run", F.lit(0)).cast("bigint").alias("max_run"),
        F.round(
            F.coalesce("max_run", F.lit(0)).cast("double")
            / F.col("n_tokens"),
            6,
        ).alias("max_run_frac"),
    )


LONGEST_REPEAT_PROFILE_SQL = (
    f"WITH spans AS ({DUP_SPAN_CUTLIST_SQL}),"
    " toks AS (SELECT doc_id,"
    "  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens"
    f"  FROM documents WHERE len(string_split(text, ' '))"
    f"   >= {SUBSTR_GRAM_N}),"
    " per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,"
    "  CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,"
    "  CAST(MAX(span_tokens) AS BIGINT) AS max_run"
    "  FROM spans GROUP BY doc_id)"
    " SELECT t.doc_id, t.n_tokens,"
    " COALESCE(p.n_spans, 0) AS n_spans,"
    " COALESCE(p.dup_tokens, 0) AS dup_tokens,"
    " COALESCE(p.max_run, 0) AS max_run,"
    " ROUND(CAST(COALESCE(p.max_run, 0) AS DOUBLE) / t.n_tokens, 6)"
    "  AS max_run_frac"
    " FROM toks t LEFT JOIN per p ON p.doc_id = t.doc_id"
)


# ---------------------------------------------------------------------------
# Identical-token-set group statistics (the GroupJoin planning view)
# ---------------------------------------------------------------------------


def duplicate_set_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level statistics of the IDENTICAL-token-set groups that
    the setsim GroupJoin collapse (setsim_join_frame's GROUP step)
    exploits — the planning view a dedup rollout reads to decide
    whether representative collapse pays on a given corpus: how many
    documents share a verbatim token set with another, how large the
    biggest template family is, what fraction of the quadratic core
    the collapse removes, and how many result pairs come for FREE as
    intra-group J=1 expansions.

    Emits one row: (n_docs, n_groups, max_group_docs, n_dup_docs,
    collapse_pct, intra_pairs) with collapse_pct = 100 *
    (n_docs - n_groups) / n_docs rounded to 4 and intra_pairs =
    sum over groups of g*(g-1)/2 (exact integers).

    Scale: the same corpus-linear per-doc token sets
    (:func:`_setsim_token_sets`, 64-bit token hashes) and set-keyed
    groupBy the GroupJoin itself runs, then a one-row aggregate —
    strictly cheaper than any join it plans for.
    """
    groups = (
        _setsim_token_sets(table(spark, sf_dir, "documents"))
        .groupBy("ts")
        .agg(F.count(F.lit(1)).alias("g"))
    )
    return groups.agg(
        F.sum("g").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.max("g").cast("bigint").alias("max_group_docs"),
        F.sum(F.when(F.col("g") > 1, F.col("g")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_dup_docs"),
        F.round(
            100.0
            * (F.sum("g") - F.count(F.lit(1))).cast("double")
            / F.sum("g"),
            4,
        ).alias("collapse_pct"),
        F.sum(F.expr("g * (g - 1) div 2")).cast("bigint").alias(
            "intra_pairs"
        ),
    )


DUPLICATE_SET_GROUPS_SQL = (
    "WITH toks AS (SELECT DISTINCT doc_id, tok FROM documents,"
    "  unnest(string_split(text, ' ')) t(tok)),"
    " dsets AS (SELECT doc_id, list_sort(list(tok)) AS ts FROM toks"
    "  GROUP BY doc_id),"
    " groups AS (SELECT ts, COUNT(*) AS g FROM dsets GROUP BY ts)"
    " SELECT CAST(SUM(g) AS BIGINT) AS n_docs,"
    " CAST(COUNT(*) AS BIGINT) AS n_groups,"
    " CAST(MAX(g) AS BIGINT) AS max_group_docs,"
    " CAST(SUM(CASE WHEN g > 1 THEN g ELSE 0 END) AS BIGINT)"
    "  AS n_dup_docs,"
    " ROUND(100.0 * CAST(SUM(g) - COUNT(*) AS DOUBLE) / SUM(g), 4)"
    "  AS collapse_pct,"
    " CAST(SUM(g * (g - 1) // 2) AS BIGINT) AS intra_pairs"
    " FROM groups"
)


# ---------------------------------------------------------------------------
# Text-rung persisted cluster labels (VERDICT r14 next-round #2)
# ---------------------------------------------------------------------------

# The text near-dup cluster graph is the UNION of the two text rungs'
# verified pair sets — exact token-set similarity (setsim, tau = 0.9)
# and MinHash-LSH shingle similarity (verify >= 0.5) — the same two
# rungs increment_ingest_manifest composes as text_exact/text_minhash.
# Through the generic label core (operators/labels.py) the rung gets
# the full lifecycle the perceptual rungs earned in r14: a persisted
# nightly base-cluster table, an increment-linear live fold
# (text_clusters_incremental), the LSM delta-log roll
# (text_labels_rolled), and compaction — so a daily crawl's text
# duplicate_of can come from persisted cluster state instead of a
# corpus-linear rebuild (dedup_canonical's remaining gap).
#
# Block conventions follow the text family: increment doc_id % 5 == 0,
# base the other four fifths; joint graph = base↔base ∪ increment↔base
# (increment-internal pairs are the next nightly rebuild's input — the
# image/audio/video fold contract).


def _text_base_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASE↔BASE text pairs: the prefix-filtered exact-Jaccard join
    UNION the banded+verified MinHash pairs, both restricted to the
    base block BEFORE any tokenize/signature work.  Corpus-linear by
    nature — runs only inside the nightly label build (bench cold
    entry ``text_label_build``)."""
    from smile_spark.session import keep_alive, release_checkpoints_on_gc

    base = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SETSIM_INC_MOD != 0
    )
    sp = setsim_join_frame(base)
    ckpts: list = []
    cand = _lsh_band_candidates(
        _lsh_bands_from_sig(_minhash_sig_from_docs(base)), ckpts
    )
    mh = _lsh_verify_pairs(spark, sf_dir, cand, ckpts)
    out = sp.select("a", "b").union(mh.select("a", "b"))
    release_checkpoints_on_gc(out, ckpts)
    return keep_alive(out, sp)


def _text_base_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASE-block text cc labels over the CONTRACTED graph (r16): run
    min-label cc at the setsim GROUP-representative level instead of
    the expanded doc level, then map members to their rep's
    component.  Row-equal to cc over :func:`_text_base_pairs` —

    - identical-token-set groups are cliques in the setsim pair set
      (every intra-group pair has J = 1 ≥ tau), so every doc-level
      component is a union of whole groups and contracting groups
      preserves connectivity;
    - each rep is its group's MIN doc id, so the min rep of a
      contracted component IS the min doc id of the doc-level
      component — the stored label is unchanged;
    - membership: a doc was labeled iff it touched ≥1 pair; under
      contraction that is «its group has ≥2 members» (intra clique)
      or «its rep touches a contracted edge» — both preserved below.

    The quadratic expansion (323k doc pairs at sf0.1) never feeds cc:
    the contracted edge set is the verified REP pairs ∪ the
    rep-mapped MinHash pairs (guide §2.3 — decide on lightweight
    proxies, expand output-proportionally at the end)."""
    from smile_spark.session import release_checkpoints_on_gc

    base = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SETSIM_INC_MOD != 0
    )
    verified, members, group = _setsim_join_core(base)
    ckpts: list = list(group)
    cand = _lsh_band_candidates(
        _lsh_bands_from_sig(_minhash_sig_from_docs(base)), ckpts
    )
    mh = _lsh_verify_pairs(spark, sf_dir, cand, ckpts)
    m = members.select(F.col("b").alias("doc_id"), F.col("rb").alias("rep"))
    mh_rep = (
        mh.select("a", "b")
        .join(
            m.select(F.col("doc_id").alias("a"), F.col("rep").alias("ra")),
            "a",
        )
        .join(
            m.select(F.col("doc_id").alias("b"), F.col("rep").alias("rb")),
            "b",
        )
        .filter(F.col("ra") != F.col("rb"))
        .select(
            F.least("ra", "rb").alias("a"),
            F.greatest("ra", "rb").alias("b"),
        )
    )
    rep_labels = pair_components(
        verified.select(F.col("ra").alias("a"), F.col("rb").alias("b"))
        .union(mh_rep)
    )
    ckpts.append(rep_labels)
    gsz = m.groupBy("rep").agg(F.count(F.lit(1)).alias("g"))
    labels = (
        m.join(gsz, "rep")
        .join(
            rep_labels.select(F.col("id").alias("rep"), "component"),
            "rep",
            "left",
        )
        .select(
            F.col("doc_id").alias("id"),
            F.coalesce(
                "component",
                F.when(F.col("g") >= 2, F.col("rep")),
            ).alias("component"),
        )
        .filter(F.col("component").isNotNull())
    )
    release_checkpoints_on_gc(labels, ckpts)
    return labels


def _text_inc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Increment↔base text pairs: the two warm persisted-index probes
    (setsim bucketed prefix index, MinHash bucketed band index) —
    increment-linear at any corpus size."""
    from smile_spark.session import keep_alive

    sp = setsim_incremental_indexed(spark, sf_dir)
    mh = dedup_minhash_incremental(spark, sf_dir)
    out = sp.select("a", "b").union(mh.select("a", "b"))
    return keep_alive(out, sp, mh)


def _text_rung() -> L.LabelRung:
    def universe(spark: SparkSession, sf_dir: str) -> DataFrame:
        return table(spark, sf_dir, "documents").select("doc_id")

    def params(spark: SparkSession, sf_dir: str) -> dict:
        return {
            "pair_rungs": ["setsim", "minhash"],
            "inc_mod": SETSIM_INC_MOD,
            "tau": [SETSIM_TAU_NUM, SETSIM_TAU_DEN],
            "verify_threshold": LSH_VERIFY_THRESHOLD,
            "shingle_k": SHINGLE_K,
            "n_hashes": N_HASHES,
            "n_bands": N_BANDS,
        }

    return L.LabelRung(
        name="text",
        table_base="text_labelroll",
        universe=universe,
        base_pairs=_text_base_pairs,
        inc_pairs=_text_inc_pairs,
        is_increment=lambda c: c % SETSIM_INC_MOD == 0,
        params=params,
        # r16 contraction fast path — row-equal to cc over base_pairs
        # (pinned by tests/test_round15_ops.py's contraction-equality
        # test); the nightly build runs cc at group-rep level
        base_labels=_text_base_labels,
    )


TEXT_LABEL_RUNG = _text_rung()


def text_clusters_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental TEXT cluster maintenance: today's increment↔base
    setsim + MinHash pairs folded through the persisted base cluster
    labels — updated duplicate clusters and keep list for the whole
    corpus without re-clustering it (the image/audio/video r14 fold,
    completed for the text rungs; VERDICT r14 next-round #2).  Emits
    (doc_id, cluster_size, keep) for EVERY document.

    Scale: the base label table is built once per snapshot
    (corpus-linear, priced as ``text_label_build``); the fold's
    collapse/cc/relabel stages are increment-sized; the pair inputs
    are the two warm bucketed-index probes (increment-linear).  The
    oracle replays the identical joint clustering as a recursive
    min-reachability CTE over the closed-form base ∪ increment pair
    union."""
    return L.clusters_incremental(spark, sf_dir, TEXT_LABEL_RUNG)


def text_labels_rolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text keep list served from the ROLLED delta-log label state
    (base + broadcast delta remap) — byte-identical to
    :func:`text_clusters_incremental` by construction; a divergence
    means the persisted state is unfaithful.  Shares that entry's
    oracle (the ann_ivf_indexed shared-oracle contract)."""
    return L.labels_rolled(spark, sf_dir, TEXT_LABEL_RUNG)


def _minhash_block_pairs_sql(where: str) -> str:
    """Closed-form MinHash-LSH pairs WITHIN one document block: block
    signatures + banding, candidate self-join (a < b), exact shingle
    Jaccard verify — the dedup_minhash_lsh_sql arithmetic restricted
    by ``where``."""
    return (
        "WITH "
        + _minhash_sql_ctes("b_", where)
        + ", "
        + _minhash_bands_sql("b_")
        + ","
        " cand AS (SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b"
        "  FROM b_bands ba JOIN b_bands bb ON ba.band = bb.band"
        "   AND ba.bkey = bb.bkey AND ba.doc_id < bb.doc_id),"
        " sizes AS (SELECT doc_id, COUNT(*) AS n FROM b_toks"
        "  GROUP BY doc_id),"
        " inter AS (SELECT c.a, c.b, COUNT(*) AS i FROM cand c"
        "  JOIN b_toks ta ON ta.doc_id = c.a"
        "  JOIN b_toks tb ON tb.doc_id = c.b AND ta.sh = tb.sh"
        "  GROUP BY c.a, c.b)"
        " SELECT i.a, i.b FROM inter i"
        " JOIN sizes sa ON sa.doc_id = i.a"
        " JOIN sizes sb ON sb.doc_id = i.b"
        f" WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i)"
        f"  >= {LSH_VERIFY_THRESHOLD}"
    )


def _text_joint_pairs_sql() -> str:
    """The joint text pair union in closed form: base↔base setsim
    (all-pairs exact Jaccard — the prefix filter is lossless, so no
    prefix logic is needed) ∪ base↔base MinHash ∪ increment↔base
    setsim ∪ increment↔base MinHash.  Plain UNION dedups pairs the
    two rungs both find."""
    base_where = f"WHERE doc_id % {SETSIM_INC_MOD} <> 0"
    return (
        f"SELECT a, b FROM ({_setsim_sql(base_where)}) tsb"
        " UNION "
        f"SELECT a, b FROM ("
        f"{_minhash_block_pairs_sql(f'doc_id % {SETSIM_INC_MOD} <> 0')}"
        ") tmb"
        " UNION "
        f"SELECT a, b FROM ({SETSIM_INCREMENTAL_SQL}) tsi"
        " UNION "
        f"SELECT a, b FROM ({MINHASH_INCREMENTAL_SQL}) tmi"
    )


def text_clusters_incremental_sql() -> str:
    return L.keep_list_sql(
        _text_joint_pairs_sql(), "SELECT doc_id FROM documents"
    )


# ---------------------------------------------------------------------------
# Semantic-rung rolled keep/drop labels (VERDICT r14 next-round #3)
# ---------------------------------------------------------------------------

# SemDeDup's per-vector verdict is not a cc clustering — keep/drop
# comes from the dominator rule within a frozen-centroid cluster — so
# the rung's persisted label state is an APPEND-ONLY verdict table
# rather than the delta-log roll: base verdicts are computed once per
# snapshot under the FROZEN nightly model (the base-block centroid
# subsample semantic_index_rollforward's sidecar already pins) and
# never change; the daily fold appends one verdict row per increment
# vector, judged against BASE cluster-mates only (increment-internal
# duplicates are the next nightly rebuild's input — the family
# convention).  Three-state sidecar contract + the ADVICE-r14 crash
# ordering (remove before append, write rolled last) as everywhere.

def _sem_label_table(sf_dir: str) -> str:
    return BK.bucket_table_name("sem_labelroll", sf_dir)


def _sem_label_params(spark: SparkSession, sf_dir: str) -> dict:
    from smile_spark.operators.similarity import CENTROID_MOD

    return {
        "op": "semantic_labels",
        "centroid_rule": "base-block-subsample",
        "centroid_mod": CENTROID_MOD,
        "inc_mod": SEM_INC_MOD,
        "tau": SEMDEDUP_TAU,
        "n_buckets": SEM_INDEX_BUCKETS,
    }


def _sem_base_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base-block SemDeDup verdicts under the frozen nightly model —
    the dominator pass over the PERSISTED base assignment table, so
    the nightly label build reuses the assignment the index build
    already paid for."""
    from smile_spark.sources.bucketed import read_bucketed

    ix = read_bucketed(
        spark, semantic_index_build(spark, sf_dir)
    ).select("vec_id", "v", "cid", "d2")
    return _semdedup_verdicts(ix)


def _sem_fold_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Increment verdicts: assign the increment block under the FROZEN
    base centroids (map-side broadcast assign), then judge each
    increment vector against its BASE cluster-mates with the exact
    SemDeDup dominator rule — (yd2 > xd2, tie vec_id ASC) outranking,
    cosine rounded to 6 against tau, first dominator by (yd2 DESC,
    yid ASC).  The increment side broadcasts over the bucketed base
    assignment (the _sem_probe shape): zero corpus-side exchange."""
    from pyspark.sql.window import Window

    from smile_spark.operators.similarity import _dot, _norm
    from smile_spark.sources.bucketed import read_bucketed

    pa = _sem_assign_block(
        spark, sf_dir, F.col("vec_id") % SEM_INC_MOD == 0
    )
    # per-vector norms once per side before the cid join (r16):
    # bit-identical cos_r, two fewer interpreted folds per pair
    x = pa.select(
        F.col("vec_id").alias("xid"),
        F.col("v").alias("xv"),
        "cid",
        F.col("d2").alias("xd2"),
        _norm("v").alias("xn"),
    )
    ix = read_bucketed(spark, semantic_index_build(spark, sf_dir))
    y = ix.select(
        F.col("vec_id").alias("yid"),
        F.col("v").alias("yv"),
        "cid",
        F.col("d2").alias("yd2"),
        _norm("v").alias("yn"),
    )
    doms = (
        y.join(F.broadcast(x), "cid")
        .filter(
            (F.col("yd2") > F.col("xd2"))
            | (
                (F.col("yd2") == F.col("xd2"))
                & (F.col("yid") < F.col("xid"))
            )
        )
        .withColumn(
            "cos_r",
            F.round(_dot("xv", "yv") / (F.col("xn") * F.col("yn")), 6),
        )
        .filter(F.col("cos_r") >= SEMDEDUP_TAU)
    )
    w = Window.partitionBy("xid").orderBy(F.desc("yd2"), F.asc("yid"))
    first_dom = (
        doms.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("xid", F.col("yid").alias("dup_of"))
    )
    return (
        pa.select("vec_id", "cid")
        .join(first_dom, pa["vec_id"] == first_dom["xid"], "left")
        .select(
            "vec_id",
            F.col("cid").cast("bigint").alias("cid"),
            F.col("xid").isNull().alias("keep"),
            F.col("dup_of").cast("bigint").alias("dup_of"),
        )
    )


SEM_LABEL_ROLL = BK.StateSpec(
    name="sem_labelroll",
    tables=lambda spark, sf_dir: {"verdicts": _sem_label_table(sf_dir)},
    params=_sem_label_params,
    source=_embeddings,
    base=_sem_base,
    write_base=BK.frame_writer(
        _sem_base_verdicts, "vec_id", SEM_INDEX_BUCKETS
    ),
    fold=lambda: F.col("vec_id") % SEM_INC_MOD == 0,
    append_fold=BK.frame_writer(
        _sem_fold_verdicts, "vec_id", SEM_INDEX_BUCKETS, append=True
    ),
)


def clear_semantic_label_cache() -> None:
    """Forget the semantic label-state memo AND drop this process'
    adoption sidecars, restoring the cold build/fold paths (bench
    entry ``semantic_labelroll``)."""
    BK.clear_state(SEM_LABEL_ROLL)


def semantic_label_restore_base(
    spark: SparkSession, sf_dir: str
) -> None:
    """Bench/test device: force the verdict table back to the pre-fold
    BASE state so the next roll-forward performs the fold alone."""
    BK.restore_base(spark, SEM_LABEL_ROLL, sf_dir)


def semantic_label_rollforward(
    spark: SparkSession, sf_dir: str
) -> str:
    """Advance the persisted SemDeDup verdict state from covering the
    BASE block to base ∪ increment by appending the increment's
    frozen-model verdicts — the nightly keep/drop maintenance in
    increment-linear form (the ``bucketed.roll_forward`` contract)."""
    return BK.roll_forward(spark, SEM_LABEL_ROLL, sf_dir)["verdicts"]


def semantic_labels_rolled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup keep/drop state for EVERY vector (base ∪ increment)
    served from the persisted verdict table — the semantic rung's
    daily-ingest deliverable (VERDICT r14 next-round #3): base
    verdicts are the frozen nightly SemDeDup pass, increment verdicts
    are frozen-model dominator checks against base cluster-mates.
    Emits (vec_id, cid, keep, dup_of); the closed-form oracle replays
    both blocks' arithmetic exactly (fold-exact d2/cosine, argmin and
    dominator tie-breaks — the SEMANTIC_DEDUP_SQL devices)."""
    from smile_spark.sources.bucketed import read_bucketed

    tbl = semantic_label_rollforward(spark, sf_dir)
    return read_bucketed(spark, tbl).select(
        "vec_id", "cid", "keep", "dup_of"
    )


def semantic_labels_rolled_sql() -> str:
    """Exact oracle: frozen base-block centroids, fold-exact argmin
    assignment of every vector, base-block SemDeDup dominators among
    base mates, increment dominators among base mates only."""
    from smile_spark.operators.similarity import CENTROID_MOD

    d2 = (
        "list_reduce(list_transform(generate_series(1, len(e.v)),"
        " i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])),"
        " (x, y) -> x + y)"
    )
    cos = (
        "list_reduce(list_transform(generate_series(1, len(x.v)),"
        " i -> x.v[i] * y.v[i]), (a, b) -> a + b)"
        " / (sqrt(list_reduce(list_transform(x.v, t -> t * t),"
        " (a, b) -> a + b))"
        " * sqrt(list_reduce(list_transform(y.v, t -> t * t),"
        " (a, b) -> a + b)))"
    )
    outrank = (
        "(y.d2 > x.d2 OR (y.d2 = x.d2 AND y.vec_id < x.vec_id))"
    )
    return (
        "WITH e AS (SELECT vec_id,"
        " list_transform(embedding, t -> CAST(t AS DOUBLE)) AS v"
        " FROM embeddings),"
        f" c AS (SELECT vec_id AS cid, v AS cv FROM e"
        f"  WHERE vec_id % {CENTROID_MOD} = 0"
        f"   AND vec_id % {SEM_INC_MOD} <> 0),"
        f" s AS (SELECT e.vec_id, e.v, c.cid, {d2} AS d2 FROM e, c),"
        " asg AS (SELECT vec_id, v, cid, d2 FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id"
        "   ORDER BY d2 ASC, cid ASC) AS rn FROM s) WHERE rn = 1),"
        f" b AS (SELECT * FROM asg WHERE vec_id % {SEM_INC_MOD} <> 0),"
        f" p AS (SELECT * FROM asg WHERE vec_id % {SEM_INC_MOD} = 0),"
        " bdoms AS (SELECT x.vec_id AS xid, y.vec_id AS yid,"
        "  y.d2 AS yd2 FROM b x JOIN b y ON x.cid = y.cid"
        f"  AND x.vec_id <> y.vec_id AND {outrank}"
        f"  WHERE ROUND({cos}, 6) >= {SEMDEDUP_TAU}),"
        " bfd AS (SELECT xid, yid AS dup_of FROM ("
        "  SELECT xid, yid, ROW_NUMBER() OVER (PARTITION BY xid"
        "   ORDER BY yd2 DESC, yid ASC) AS rn FROM bdoms)"
        "  WHERE rn = 1),"
        " pdoms AS (SELECT x.vec_id AS xid, y.vec_id AS yid,"
        "  y.d2 AS yd2 FROM p x JOIN b y ON x.cid = y.cid"
        f"  AND {outrank}"
        f"  WHERE ROUND({cos}, 6) >= {SEMDEDUP_TAU}),"
        " pfd AS (SELECT xid, yid AS dup_of FROM ("
        "  SELECT xid, yid, ROW_NUMBER() OVER (PARTITION BY xid"
        "   ORDER BY yd2 DESC, yid ASC) AS rn FROM pdoms)"
        "  WHERE rn = 1)"
        " SELECT b.vec_id, CAST(b.cid AS BIGINT) AS cid,"
        " bfd.xid IS NULL AS keep, CAST(bfd.dup_of AS BIGINT) AS dup_of"
        " FROM b LEFT JOIN bfd ON bfd.xid = b.vec_id"
        " UNION ALL"
        " SELECT p.vec_id, CAST(p.cid AS BIGINT) AS cid,"
        " pfd.xid IS NULL AS keep, CAST(pfd.dup_of AS BIGINT) AS dup_of"
        " FROM p LEFT JOIN pfd ON pfd.xid = p.vec_id"
    )
