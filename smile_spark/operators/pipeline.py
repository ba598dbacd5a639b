"""Training-data pipeline compositions (north-star extension).

The individual north-star operators (dedup families, text analysis —
operators/dedup.py, operators/text.py) are the building blocks; a real
100 TB curation pipeline CHAINS them.  These operators are the chained
forms, oracle-verified end-to-end:

* ``dedup_canonical`` — MinHash-LSH near-dup pairs → duplicate
  clusters (graph.pair_components, the one pair-graph cc) → one
  canonical document per cluster.  This is the step that turns
  "similar pairs" into an actionable keep/drop decision.
* ``corpus_quality_filter`` — exact-dedup survivors ∩ language filter
  ∩ quality-score band ∩ token-length band, aggregated per source —
  the end-of-pipeline corpus accounting a data curation run reports.

Scale notes: the pair graph is tiny relative to the corpus by LSH
design, so the cluster iteration runs over candidate pairs only (the
corpus-sized tables are touched once, by the upstream operators).
Every pair-graph clustering in this module (``dedup_canonical``,
``golden_part_records``, ``dedup_cluster_sizes``,
``group_split_no_leakage``) goes through graph.pair_components: one
distinct-pair checkpoint, then cc_labels: one driver-side pass when
the pair graph is within the broadcast threshold, else its rounds.  The
quality filter is one pass over each upstream result joined on doc_id
— all equi-joins, quality/token/lang scores computed in single shuffles
keyed by doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smile_spark.functions.numeric import sql_dsum
from smile_spark.operators import dedup as D
from smile_spark.operators import text as T
from smile_spark.operators.graph import pair_components
from smile_spark.tables import table

QUALITY_MIN = 0.8
TOKENS_MIN, TOKENS_MAX = 5, 5000
LANG_KEEP = "en"


def dedup_canonical(
    spark: SparkSession,
    sf_dir: str,
    pairs: DataFrame | str | None = None,
) -> DataFrame:
    """Canonical-document assignment over MinHash-LSH duplicate pairs.

    Verified near-dup pairs (operators/dedup.py::dedup_minhash_lsh)
    form a graph; its connected components are the duplicate clusters;
    the canonical document of a cluster is its minimum doc_id.  Emits
    (doc_id, canonical_id, is_canonical) for every document that
    appears in some duplicate pair.

    ``pairs`` is the persisted pair table: a DataFrame with (a, b)
    columns, a parquet path, or None — None reuses the per-application
    memoized LSH result (operators/dedup.py::lsh_pairs_cached), so the
    chained pipeline never recomputes the full signature+band+verify
    chain inside the cluster pass.  At 100 TB the pair table is the
    artifact a dedup run writes once and every downstream pass reads.

    The components come from operators/graph.py::pair_components, the
    same min-label cc as connected_components, run over the PAIR graph
    only: LSH guarantees that table is a vanishing fraction of the
    corpus, so each round is a join over a small, broadcastable frame
    regardless of corpus size.
    """
    if pairs is None:
        pairs = D.lsh_pairs_cached(spark, sf_dir)
    elif isinstance(pairs, str):
        pairs = spark.read.parquet(pairs)
    labels = pair_components(pairs)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def dedup_canonical_sql() -> str:
    # The LSH pair query (its own WITH chain) nests as a derived table;
    # min-reachability over the undirected pair graph = cluster min.
    return (
        "WITH RECURSIVE pairs AS ("
        f" SELECT a, b FROM ({D.dedup_minhash_lsh_sql()}) lsh),"
        " und AS (SELECT a, b FROM pairs"
        "  UNION ALL SELECT b AS a, a AS b FROM pairs),"
        " nodes AS (SELECT DISTINCT a AS id FROM und),"
        " reach(id, r) AS ("
        "  SELECT id, id FROM nodes"
        "  UNION"
        "  SELECT rr.id, u.b FROM reach rr JOIN und u ON u.a = rr.r)"
        " SELECT id AS doc_id, MIN(r) AS canonical_id,"
        "  id = MIN(r) AS is_canonical"
        " FROM reach GROUP BY id"
    )


def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation accounting: per source, how many
    documents survive exact dedup + language filter + quality band +
    token-length band, and their token/quality totals.

    Every upstream result joins on doc_id (equi-joins on the corpus
    key); quality totals accumulate in DECIMAL so the per-source sums
    are partitioning-independent.
    """
    docs = table(spark, sf_dir, "documents")
    keep = D.dedup_exact(spark, sf_dir).select(
        F.col("keep_id").alias("doc_id")
    )
    stats = T.text_stats(spark, sf_dir).select("doc_id", "quality_score")
    toks = T.token_count(spark, sf_dir).select("doc_id", "ws_tokens")
    lang = T.lang_id(spark, sf_dir).select("doc_id", "lang_pred")
    kept = (
        docs.join(keep, "doc_id", "semi")
        .join(stats, "doc_id")
        .join(toks, "doc_id")
        .join(lang, "doc_id")
        .filter(
            (F.col("quality_score") >= QUALITY_MIN)
            & (F.col("lang_pred") == LANG_KEEP)
            & F.col("ws_tokens").between(TOKENS_MIN, TOKENS_MAX)
        )
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("sum_ws_tokens"),
        F.sum(F.col("quality_score").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_quality"),
    )


def corpus_quality_filter_sql() -> str:
    return (
        "WITH stats AS (SELECT doc_id, quality_score FROM"
        f" ({T.TEXT_STATS_SQL}) s),"
        f" toks AS (SELECT doc_id, ws_tokens FROM ({T.TOKEN_COUNT_SQL}) t),"
        f" lang AS (SELECT doc_id, lang_pred FROM ({T.lang_id_sql()}) l),"
        " keep AS (SELECT MIN(doc_id) AS doc_id FROM documents"
        "  GROUP BY md5(text))"
        " SELECT d.source, COUNT(*) AS n_docs,"
        " CAST(SUM(t.ws_tokens) AS BIGINT) AS sum_ws_tokens,"
        f" {sql_dsum('s.quality_score', 'sum_quality')}"
        " FROM documents d"
        " JOIN keep k ON d.doc_id = k.doc_id"
        " JOIN stats s ON d.doc_id = s.doc_id"
        " JOIN toks t ON d.doc_id = t.doc_id"
        " JOIN lang l ON d.doc_id = l.doc_id"
        f" WHERE s.quality_score >= {QUALITY_MIN}"
        f" AND l.lang_pred = '{LANG_KEEP}'"
        f" AND t.ws_tokens BETWEEN {TOKENS_MIN} AND {TOKENS_MAX}"
        " GROUP BY d.source"
    )


def corpus_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end curation pipeline in one query: exact dedup →
    near-dup canonical drop (MinHash-LSH clusters via the persisted
    pair table) → quality/language/token-band filter → temperature
    (α=0.5) source mixing → per-source manifest accounting.

    This is the chain a 100 TB training-data run executes before
    tokenization; every stage is one of the verified operators, joined
    on the corpus key (doc_id equi-joins) or applied as a pure filter.
    The mix rates derive from the FILTERED per-source counts (mixing
    happens after cleaning, as in production).  Emits per source:
    n_total (filtered, pre-mix), keep_pct, n_docs (post-mix),
    sum_ws_tokens (the token budget the manifest exists to report).
    """
    docs = table(spark, sf_dir, "documents")
    keep = D.dedup_exact(spark, sf_dir).select(
        F.col("keep_id").alias("doc_id")
    )
    near_dupes = (
        dedup_canonical(spark, sf_dir)
        .filter(~F.col("is_canonical"))
        .select("doc_id")
    )
    stats = T.text_stats(spark, sf_dir).select("doc_id", "quality_score")
    toks = T.token_count(spark, sf_dir).select("doc_id", "ws_tokens")
    lang = T.lang_id(spark, sf_dir).select("doc_id", "lang_pred")
    filtered = (
        docs.join(keep, "doc_id", "semi")
        .join(near_dupes, "doc_id", "anti")
        .join(stats, "doc_id")
        .join(toks, "doc_id")
        .join(lang, "doc_id")
        .filter(
            (F.col("quality_score") >= QUALITY_MIN)
            & (F.col("lang_pred") == LANG_KEEP)
            & F.col("ws_tokens").between(TOKENS_MIN, TOKENS_MAX)
        )
        .select("doc_id", "source", "ws_tokens")
    )
    counts = filtered.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    n_min = counts.agg(F.min("n_total").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "source",
        "n_total",
        F.greatest(
            F.lit(1),
            F.floor(
                100
                * F.sqrt(
                    F.col("n_min").cast("double")
                    / F.col("n_total").cast("double")
                )
            ),
        )
        .cast("bigint")
        .alias("keep_pct"),
    )
    bucket = F.expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10)"
        " as bigint) % 100"
    )
    mixed = (
        filtered.withColumn("b", bucket)
        .join(F.broadcast(rates), "source")
        .filter(F.col("b") < F.col("keep_pct"))
    )
    return mixed.groupBy("source", "n_total", "keep_pct").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").cast("bigint").alias("sum_ws_tokens"),
    )


def corpus_curation_manifest_sql() -> str:
    bucket = (
        "(('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 8))::BIGINT)"
        " % 100"
    )
    return (
        "WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents"
        "  GROUP BY md5(text)),"
        f" canon AS (SELECT doc_id FROM ({dedup_canonical_sql()}) c"
        "  WHERE NOT is_canonical),"
        " stats AS (SELECT doc_id, quality_score FROM"
        f" ({T.TEXT_STATS_SQL}) s),"
        f" toks AS (SELECT doc_id, ws_tokens FROM ({T.TOKEN_COUNT_SQL}) t),"
        f" lang AS (SELECT doc_id, lang_pred FROM ({T.lang_id_sql()}) l),"
        " filtered AS (SELECT d.doc_id, d.source, t.ws_tokens"
        "  FROM documents d"
        "  JOIN keep k ON d.doc_id = k.doc_id"
        "  JOIN stats s ON d.doc_id = s.doc_id"
        "  JOIN toks t ON d.doc_id = t.doc_id"
        "  JOIN lang l ON d.doc_id = l.doc_id"
        "  WHERE d.doc_id NOT IN (SELECT doc_id FROM canon)"
        f"  AND s.quality_score >= {QUALITY_MIN}"
        f"  AND l.lang_pred = '{LANG_KEEP}'"
        f"  AND t.ws_tokens BETWEEN {TOKENS_MIN} AND {TOKENS_MAX}),"
        " counts AS (SELECT source, COUNT(*) AS n_total FROM filtered"
        "  GROUP BY source),"
        " m AS (SELECT MIN(n_total) AS n_min FROM counts),"
        " rates AS (SELECT source, n_total,"
        "  CAST(greatest(1, floor(100 * sqrt("
        "   CAST(n_min AS DOUBLE) / CAST(n_total AS DOUBLE))))"
        "   AS BIGINT) AS keep_pct"
        "  FROM counts, m),"
        " mixed AS (SELECT f.source, r.n_total, r.keep_pct, f.ws_tokens"
        "  FROM filtered f JOIN rates r ON f.source = r.source"
        f"  WHERE {bucket} < r.keep_pct)"
        " SELECT source, n_total, keep_pct, COUNT(*) AS n_docs,"
        " CAST(SUM(ws_tokens) AS BIGINT) AS sum_ws_tokens"
        " FROM mixed GROUP BY source, n_total, keep_pct"
    )


# ---------------------------------------------------------------------------
# Increment-scoped keep/drop manifest (VERDICT r13 What's-missing #3)
# ---------------------------------------------------------------------------

# Drop-reason precedence when multiple rungs flag one document: exact
# text Jaccard is the strongest evidence, MinHash next, the perceptual
# rungs share one tier (a document has ONE modality, so tier-3 entries
# never actually tie), semantic similarity is the weakest.  The
# deterministic (prio, reason, dup) ordering makes the winning row
# reproducible on any engine.
_INC_MANIFEST_RUNGS = (
    (1, "text_exact"),
    (2, "text_minhash"),
    (3, "image_dhash"),
    (3, "audio_fp"),
    (3, "video_dhash"),
    (4, "semantic"),
)


def increment_ingest_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ONE verdict per increment document — the production deliverable
    the incremental-dedup ladder exists for: a daily crawl operator
    wants (doc_id, verdict, reason, duplicate_of), not six pair
    tables.  Joins the outputs of every incremental rung (exact
    set-similarity, MinHash-LSH, image/audio/video perceptual,
    embedding SemDeDup — each an increment-linear probe over its
    persisted nightly index) and resolves multi-rung flags by the
    fixed precedence above; ``duplicate_of`` is the winning rung's
    minimum-id base duplicate.

    The fixture's embeddings table is per-document (vec_id ≡ doc_id,
    same id range and the same %5 increment convention), so the
    semantic rung joins directly; a production pipeline would route
    through its explicit document↔vector mapping here.

    Scale: every input is an increment-sized pair table read off a
    warm bucketed index (no corpus-linear work in this operator at
    all); the per-rung min-aggregations, the precedence window, and
    the universe left join are all increment-keyed.  Emits one row
    per increment doc: (doc_id, verdict, reason, duplicate_of).
    """
    frames = _manifest_frames(spark, sf_dir)
    universe = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % D.SETSIM_INC_MOD == 0)
        .select("doc_id")
    )
    out = _manifest_verdicts(frames, universe)
    # the text rungs tie their probe/candidate checkpoints to THEIR
    # returned frames (release_checkpoints_on_gc) — the composed
    # manifest must keep every rung frame alive or evaluation after
    # this function returns hits lost-checkpoint-block errors
    from smile_spark.session import keep_alive

    return keep_alive(out, *frames.values())


def _manifest_frames(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """The six incremental rung pair frames the manifest composes —
    each an increment-linear probe over its persisted nightly index.
    Factored so the streaming (foreachBatch) manifest builds them
    once and filters per micro-batch.

    text_exact probes the PERSISTED setsim index
    (setsim_incremental_indexed) rather than re-deriving the base
    side's df/prefix stats per run (setsim_incremental) — the pair
    set is identical (the indexed-vs-unindexed agreement test and the
    shared DuckDB oracle pin it), but the manifest stops paying a
    corpus-linear base pass per invocation, matching how every other
    rung here already reads its nightly index (guide §2.4: reuse the
    persisted partitioning instead of re-shuffling; r16)."""
    from smile_spark.operators import multimodal as M

    return {
        "text_exact": D.setsim_incremental_indexed(spark, sf_dir),
        "text_minhash": D.dedup_minhash_incremental(spark, sf_dir),
        "image_dhash": M.image_dhash_incremental(spark, sf_dir),
        "audio_fp": M.audio_fingerprint_incremental(spark, sf_dir),
        "video_dhash": M.video_dhash_incremental(spark, sf_dir),
        "semantic": D.semantic_dedup_incremental(spark, sf_dir),
    }


def _manifest_verdicts(
    frames: dict[str, DataFrame], universe: DataFrame
) -> DataFrame:
    """Precedence-window composition of the rung pair frames into ONE
    (doc_id, verdict, reason, duplicate_of) row per universe doc —
    the shared core of the batch manifest and its foreachBatch
    streaming form."""
    return _manifest_verdicts_tagged(_manifest_tagged(frames), universe)


def _manifest_tagged(frames: dict[str, DataFrame]) -> DataFrame:
    """The six rung pair frames as ONE tagged (a, b, reason) union —
    r16: the streaming certificate pins a single checkpoint and runs
    a single per-batch semi-join + aggregate over it, instead of six
    of each (guide §2.4: one plan, one exchange per micro-batch)."""
    tagged = None
    for _, reason in _INC_MANIFEST_RUNGS:
        part = frames[reason].select(
            F.col("a").cast("bigint").alias("a"),
            F.col("b").cast("bigint").alias("b"),
            F.lit(reason).alias("reason"),
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    return tagged


def _manifest_verdicts_tagged(
    tagged: DataFrame, universe: DataFrame
) -> DataFrame:
    """The precedence composition over the TAGGED pair union: one
    grouped min per (reason, a) — identical rows to the former
    per-rung aggregates (min commutes with the integer cast, and
    grouping the union by reason IS the per-rung grouping) — then the
    unchanged precedence window and universe left join."""
    from pyspark.sql.window import Window

    prio_col = F.lit(None).cast("int")
    for prio, reason in reversed(_INC_MANIFEST_RUNGS):
        prio_col = F.when(
            F.col("reason") == reason, F.lit(prio)
        ).otherwise(prio_col)
    flagged = (
        tagged.groupBy("reason", "a")
        .agg(F.min("b").alias("dup"))
        .select("a", prio_col.alias("prio"), "reason", "dup")
    )
    w = Window.partitionBy("a").orderBy(
        F.asc("prio"), F.asc("reason"), F.asc("dup")
    )
    winner = (
        flagged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("a").alias("doc_id"), "reason", "dup")
    )
    return universe.join(F.broadcast(winner), "doc_id", "left").select(
        "doc_id",
        F.when(F.col("reason").isNotNull(), F.lit("drop"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
        F.coalesce("reason", F.lit("unique")).alias("reason"),
        F.col("dup").alias("duplicate_of"),
    )


def increment_ingest_manifest_sql() -> str:
    """Oracle: each rung's own closed-form oracle as a scoped
    subquery (DuckDB CTE names are subquery-local, so the six WITH
    chains compose without collision), then the identical precedence
    window and universe left join."""
    from smile_spark.operators.dedup import (
        MINHASH_INCREMENTAL_SQL,
        SETSIM_INC_MOD,
        SETSIM_INCREMENTAL_SQL,
        semantic_dedup_incremental_sql,
    )
    from smile_spark.operators.multimodal import (
        AUDIO_FINGERPRINT_INCREMENTAL_SQL,
        IMAGE_DHASH_INCREMENTAL_SQL,
        VIDEO_DHASH_INCREMENTAL_SQL,
    )

    rung_sql = {
        "text_exact": SETSIM_INCREMENTAL_SQL,
        "text_minhash": MINHASH_INCREMENTAL_SQL,
        "image_dhash": IMAGE_DHASH_INCREMENTAL_SQL,
        "audio_fp": AUDIO_FINGERPRINT_INCREMENTAL_SQL,
        "video_dhash": VIDEO_DHASH_INCREMENTAL_SQL,
        "semantic": semantic_dedup_incremental_sql(),
    }
    flagged = " UNION ALL ".join(
        f"SELECT a, {prio} AS prio, '{reason}' AS reason,"
        f" MIN(b) AS dup FROM ({rung_sql[reason]}) t_{reason}"
        " GROUP BY a"
        for prio, reason in _INC_MANIFEST_RUNGS
    )
    return (
        f"WITH flagged AS ({flagged}),"
        " winner AS (SELECT a, reason, dup FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY a"
        "   ORDER BY prio ASC, reason ASC, dup ASC) AS rn"
        "  FROM flagged) WHERE rn = 1),"
        " uni AS (SELECT doc_id FROM documents"
        f"  WHERE doc_id % {SETSIM_INC_MOD} = 0)"
        " SELECT u.doc_id,"
        " CASE WHEN w.reason IS NULL THEN 'keep' ELSE 'drop' END"
        "  AS verdict,"
        " COALESCE(w.reason, 'unique') AS reason,"
        " CAST(w.dup AS BIGINT) AS duplicate_of"
        " FROM uni u LEFT JOIN winner w ON w.a = u.doc_id"
    )


GOLDEN_MAX_DIST = 3


def _golden_candidate_pairs(groups: DataFrame) -> DataFrame:
    """Brand-blocked fuzzy match BETWEEN distinct (brand, name) groups:
    length pre-filter then levenshtein ≤ GOLDEN_MAX_DIST, emitting
    (a, b) representative-key pairs.

    No broadcast hint on the group table: it is ALL distinct groups,
    which grows with catalog cardinality — a forced broadcast is an
    OOM hazard at 100x scale.  It is a plain key equi-join on the
    brand block, so AQE picks broadcast when the table is actually
    small and a shuffled join otherwise (plan-asserted either way in
    tests/test_plans.py)."""
    from smile_spark.tables import fan_out

    a = fan_out(
        groups.select(
            "brand", F.col("rep_pk").alias("ra"), F.col("name").alias("na")
        )
    )
    b = groups.select(
        "brand", F.col("rep_pk").alias("rb"), F.col("name").alias("nb")
    )
    return (
        a.join(b, "brand")
        .filter(F.col("ra") < F.col("rb"))
        .filter(
            F.abs(F.length("na") - F.length("nb")) <= GOLDEN_MAX_DIST
        )
        .filter(F.levenshtein("na", "nb") <= GOLDEN_MAX_DIST)
        .select(F.col("ra").alias("a"), F.col("rb").alias("b"))
    )


def golden_part_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end — the MDM "golden record" flow,
    TWO-LEVEL: exact-key collapse, then fuzzy match over distinct
    representatives only.

    1. Parts sharing an identical (brand, name) collapse into one
       group (representative = min key).  This is the step that keeps
       ER tractable: a catalog with heavy exact duplication would
       otherwise hand the matcher near-CLIQUE blobs — a first cut of
       this operator matched raw parts pairwise and produced a 379k-
       pair graph over 17k nodes at sf0.1 (~11 s of component
       iteration); group-level matching is ~4k nodes and two orders
       of magnitude fewer pairs for the identical final clusters.
    2. Brand-blocked levenshtein ≤ 3 BETWEEN distinct groups (the
       fuzzy_name_match shape: broadcast block table, length
       pre-filter, fan-out probe side).
    3. Min-label components over the group-level match graph →
       canonical = min representative = min part key in the cluster.
    4. Survivorship joins back on the entity key; every part lands in
       exactly one golden record, singletons included.

    Returns (canonical_pk, canonical_name, brand, n_members).
    """
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand"),
    )
    groups = p.groupBy("brand", "name").agg(
        F.min("pk").alias("rep_pk"),
        F.count(F.lit(1)).alias("n_in_group"),
    )
    labels = pair_components(_golden_candidate_pairs(groups))
    enriched = groups.join(
        labels.withColumnRenamed("id", "rep_pk"), "rep_pk", "left"
    ).select(
        F.coalesce("component", "rep_pk").alias("canonical_pk"),
        "n_in_group",
    )
    golden = enriched.groupBy("canonical_pk").agg(
        F.sum("n_in_group").cast("bigint").alias("n_members")
    )
    return golden.join(
        p.select(
            F.col("pk").alias("canonical_pk"),
            F.col("name").alias("canonical_name"),
            "brand",
        ),
        "canonical_pk",
    ).select("canonical_pk", "canonical_name", "brand", "n_members")


def golden_part_records_sql() -> str:
    return (
        "WITH RECURSIVE grp AS (SELECT p_brand AS brand, p_name AS name,"
        "  MIN(p_partkey) AS rep_pk, COUNT(*) AS n_in_group"
        "  FROM part GROUP BY 1, 2),"
        " pairs AS (SELECT a.rep_pk AS a, b.rep_pk AS b"
        "  FROM grp a JOIN grp b ON a.brand = b.brand"
        "   AND a.rep_pk < b.rep_pk"
        f"  WHERE levenshtein(a.name, b.name) <= {GOLDEN_MAX_DIST}),"
        " und AS (SELECT a, b FROM pairs"
        "  UNION ALL SELECT b AS a, a AS b FROM pairs),"
        " nodes AS (SELECT DISTINCT a AS id FROM und),"
        " reach(id, r) AS ("
        "  SELECT id, id FROM nodes"
        "  UNION"
        "  SELECT rr.id, u.b FROM reach rr JOIN und u ON u.a = rr.r),"
        " comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),"
        " eg AS (SELECT g.n_in_group,"
        "  COALESCE(c.component, g.rep_pk) AS canonical_pk"
        "  FROM grp g LEFT JOIN comp c ON c.id = g.rep_pk),"
        " gold AS (SELECT canonical_pk,"
        "  CAST(SUM(n_in_group) AS BIGINT) AS n_members"
        "  FROM eg GROUP BY canonical_pk)"
        " SELECT gold.canonical_pk, p.p_name AS canonical_name,"
        "  p.p_brand AS brand, gold.n_members"
        " FROM gold JOIN part p ON p.p_partkey = gold.canonical_pk"
    )


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster SIZE HISTOGRAM over the LSH near-dup graph —
    the dedup planning report: how much of the corpus is duplicated at
    what multiplicity (one giant boilerplate clique vs many pairs
    changes the dedup strategy, the expected token savings, and the
    survivorship policy).

    Pipeline: the memoized LSH pair table → min-label connected
    components (graph.pair_components — alternate-round pointer
    jumping) →
    per-cluster sizes → size histogram, plus the singleton row
    (documents in no near-dup pair) computed by difference.  Every
    stage is dimension-sized once past the pair table; the oracle
    replays the clustering as a recursive min-reachability CTE.
    Emits (cluster_size, n_clusters)."""
    labels = pair_components(D.dedup_minhash_lsh(spark, sf_dir))
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    n_docs = table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("nd")
    )
    n_clustered = labels.agg(F.count(F.lit(1)).alias("nc"))
    singletons = n_docs.crossJoin(n_clustered).select(
        F.lit(1).cast("bigint").alias("cluster_size"),
        (F.col("nd") - F.col("nc")).cast("bigint").alias("n_clusters"),
    )
    return hist.select(
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
    ).union(singletons)


def dedup_cluster_sizes_sql() -> str:
    return (
        "WITH RECURSIVE pairs AS ("
        f" SELECT a, b FROM ({D.dedup_minhash_lsh_sql()}) lsh),"
        " und AS (SELECT a, b FROM pairs"
        "  UNION ALL SELECT b AS a, a AS b FROM pairs),"
        " nodes AS (SELECT DISTINCT a AS id FROM und),"
        " reach(id, r) AS ("
        "  SELECT id, id FROM nodes"
        "  UNION"
        "  SELECT rr.id, u.b FROM reach rr JOIN und u ON u.a = rr.r),"
        " comp AS (SELECT id, MIN(r) AS c FROM reach GROUP BY id),"
        " sizes AS (SELECT c, COUNT(*) AS cluster_size FROM comp"
        "  GROUP BY c)"
        " SELECT CAST(cluster_size AS BIGINT) AS cluster_size,"
        "  COUNT(*) AS n_clusters FROM sizes GROUP BY cluster_size"
        " UNION ALL"
        " SELECT CAST(1 AS BIGINT),"
        "  (SELECT COUNT(*) FROM documents)"
        "   - (SELECT COUNT(*) FROM comp)"
    )


SPLIT_TRAIN_PCT = 90  # md5-bucket share of GROUPS assigned to train


def group_split_no_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-ROW leakage-free train/eval split certificate: assign every
    document to a split by its NEAR-DUP GROUP (LSH connected
    component; singletons are their own group), so two near-duplicate
    documents can never land on opposite sides — the data-leakage
    guard every training/eval protocol needs (a test doc whose
    near-dup twin sits in train inflates every metric).  A doc-keyed
    random split CANNOT give this property; the group is the unit.

    Emits (n_train, n_eval, n_groups_train, n_groups_eval,
    crossing_pairs) with crossing_pairs — near-dup pairs whose two
    docs fall on different sides — structurally ZERO: both endpoints
    share a component, hence a group, hence a side.  The certificate
    computes it anyway from the raw pair table; a nonzero value means
    the clustering or the bucketing broke.

    Scale: the pair table is the LSH memo (built once per session),
    components come from pointer-jumping pair_components (O(log D)
    rounds),
    the group attach is one left join, and the md5 split bucket is
    the sampling_hash device — deterministic under any partitioning.
    Everything past the pair table is dimension-sized."""
    pairs = D.dedup_minhash_lsh(spark, sf_dir).select("a", "b")
    comp = pair_components(pairs)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    grouped = docs.join(
        comp.select(F.col("id").alias("doc_id"), "component"),
        "doc_id",
        "left",
    ).select(
        "doc_id", F.coalesce("component", "doc_id").alias("grp")
    )
    bucket = F.expr(
        "cast(conv(substr(md5(cast(grp as string)), 1, 8), 16, 10)"
        " as bigint) % 100"
    )
    sided = grouped.select(
        "doc_id",
        "grp",
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    ).localCheckpoint()
    sides = sided.agg(
        F.sum((F.col("split") == "train").cast("bigint")).alias("n_train"),
        F.sum((F.col("split") == "eval").cast("bigint")).alias("n_eval"),
        F.count_distinct(
            F.when(F.col("split") == "train", F.col("grp"))
        ).alias("n_groups_train"),
        F.count_distinct(
            F.when(F.col("split") == "eval", F.col("grp"))
        ).alias("n_groups_eval"),
    )
    crossing = (
        pairs.join(
            sided.select(F.col("doc_id").alias("a"),
                         F.col("split").alias("sa")), "a"
        )
        .join(
            sided.select(F.col("doc_id").alias("b"),
                         F.col("split").alias("sb")), "b"
        )
        .agg(
            F.sum((F.col("sa") != F.col("sb")).cast("bigint")).alias(
                "crossing_raw"
            )
        )
        .select(
            F.coalesce("crossing_raw", F.lit(0))
            .cast("bigint")
            .alias("crossing_pairs")
        )
    )
    return sides.crossJoin(crossing)


def group_split_no_leakage_sql() -> str:
    bucket = (
        "(('0x' || substr(md5(CAST(grp AS VARCHAR)), 1, 8))::BIGINT) % 100"
    )
    return (
        "WITH RECURSIVE pairs AS ("
        f" SELECT a, b FROM ({D.dedup_minhash_lsh_sql()}) lsh),"
        " und AS (SELECT a, b FROM pairs"
        "  UNION ALL SELECT b AS a, a AS b FROM pairs),"
        " nodes AS (SELECT DISTINCT a AS id FROM und),"
        " reach(id, r) AS ("
        "  SELECT id, id FROM nodes"
        "  UNION"
        "  SELECT rr.id, u.b FROM reach rr JOIN und u ON u.a = rr.r),"
        " comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),"
        " grouped AS (SELECT d.doc_id,"
        "  COALESCE(c.component, d.doc_id) AS grp"
        "  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),"
        " sided AS (SELECT doc_id, grp,"
        f"  CASE WHEN {bucket} < {SPLIT_TRAIN_PCT}"
        "   THEN 'train' ELSE 'eval' END AS split FROM grouped),"
        " sides AS (SELECT"
        "  CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)"
        "   AS BIGINT) AS n_train,"
        "  CAST(SUM(CASE WHEN split = 'eval' THEN 1 ELSE 0 END)"
        "   AS BIGINT) AS n_eval,"
        "  CAST(COUNT(DISTINCT CASE WHEN split = 'train' THEN grp END)"
        "   AS BIGINT) AS n_groups_train,"
        "  CAST(COUNT(DISTINCT CASE WHEN split = 'eval' THEN grp END)"
        "   AS BIGINT) AS n_groups_eval"
        "  FROM sided),"
        " crossing AS (SELECT CAST(COALESCE(SUM(CASE WHEN sa.split <>"
        "  sb.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS crossing_pairs"
        "  FROM pairs p JOIN sided sa ON sa.doc_id = p.a"
        "  JOIN sided sb ON sb.doc_id = p.b)"
        " SELECT n_train, n_eval, n_groups_train, n_groups_eval,"
        " crossing_pairs FROM sides CROSS JOIN crossing"
    )
