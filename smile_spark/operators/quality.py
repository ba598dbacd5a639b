"""Data-quality operators (north-star extension): the validation verbs
a 100 TB ingestion pipeline runs before anything downstream trusts the
data — per-column profiling, referential-integrity orphan counts, and
rule-based constraint violation counts (the Deequ/Great-Expectations
shape, expressed as plain aggregates).

The reference's closest analogue is the graph integrity check
(/root/reference/src/regtests/loadgraph_regtest.cpp:142-233), which
re-reads persisted data and compares element-wise; these operators
generalize that idea to declarative quality contracts over any table.

All three are single-pass partial/final aggregates or key-only
anti-joins: profiling shuffles one row of partials per column per
partition; orphan checks shuffle join KEYS only; constraint counts are
conditional sums fused into the scan.  Outputs are long-format
(metric, value) rows so the same schema covers any table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smile_spark.tables import table


def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of lineitem: nulls, distincts, min/max —
    ONE pass producing long-format (column, n_null, n_distinct,
    min_repr, max_repr) rows.  Numeric min/max render through C-style
    printf('%.2f') — identical on both engines, no locale separators.

    At 100 TB: count-distinct is the expensive leg — swap in HLL when
    ±2% is acceptable; this is the exact-answer path.  The distinct
    counts run in their OWN aggregate: mixing multi-distinct with
    plain aggs makes Spark's Expand rewrite drag every plain-agg
    column through the ×(distincts+1) row expansion (measured 4.4s →
    1.5s at sf0.1 from the split); the two 1-row results recombine for
    free."""
    li = table(spark, sf_dir, "lineitem")
    cols = [
        ("l_quantity", "numeric"),
        ("l_extendedprice", "numeric"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
    ]
    plain = []
    for c, kind in cols:
        plain.append(
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__nn")
        )
        if kind == "numeric":
            plain.append(
                F.format_string("%.2f", F.min(c).cast("double")).alias(
                    f"{c}__mn"
                )
            )
            plain.append(
                F.format_string("%.2f", F.max(c).cast("double")).alias(
                    f"{c}__mx"
                )
            )
        else:
            plain.append(F.min(c).alias(f"{c}__mn"))
            plain.append(F.max(c).alias(f"{c}__mx"))
    distincts = li.agg(
        *[F.countDistinct(c).alias(f"{c}__nd") for c, _ in cols]
    )
    one = li.agg(*plain).crossJoin(F.broadcast(distincts))
    stacked = one.select(
        F.expr(
            "stack({n}, {args}) AS (column, n_null, n_distinct,"
            " min_repr, max_repr)".format(
                n=len(cols),
                args=", ".join(
                    f"'{c}', `{c}__nn`, `{c}__nd`, `{c}__mn`, `{c}__mx`"
                    for c, _ in cols
                ),
            )
        )
    )
    return stacked


COLUMN_PROFILE_SQL = (
    "WITH one AS (SELECT"
    " CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS q_nn, COUNT(DISTINCT l_quantity) AS q_nd,"
    "  printf('%.2f', MIN(l_quantity)) AS q_mn,"
    "  printf('%.2f', MAX(l_quantity)) AS q_mx,"
    " CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)"
    "  AS BIGINT) AS p_nn, COUNT(DISTINCT l_extendedprice) AS p_nd,"
    "  printf('%.2f', MIN(l_extendedprice)) AS p_mn,"
    "  printf('%.2f', MAX(l_extendedprice)) AS p_mx,"
    " CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)"
    "  AS BIGINT) AS f_nn, COUNT(DISTINCT l_returnflag) AS f_nd,"
    "  MIN(l_returnflag) AS f_mn, MAX(l_returnflag) AS f_mx,"
    " CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END)"
    "  AS BIGINT) AS s_nn, COUNT(DISTINCT l_linestatus) AS s_nd,"
    "  MIN(l_linestatus) AS s_mn, MAX(l_linestatus) AS s_mx"
    " FROM lineitem)"
    " SELECT 'l_quantity' AS column, q_nn AS n_null, q_nd AS n_distinct,"
    "  q_mn AS min_repr, q_mx AS max_repr FROM one"
    " UNION ALL SELECT 'l_extendedprice', p_nn, p_nd, p_mn, p_mx FROM one"
    " UNION ALL SELECT 'l_returnflag', f_nn, f_nd, f_mn, f_mx FROM one"
    " UNION ALL SELECT 'l_linestatus', s_nn, s_nd, s_mn, s_mx FROM one"
)


def referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every declared
    foreign-key edge of the fixture schema, via key-only anti-joins —
    the generalization of the reference's element-wise reload check to
    relational constraints.  Only join KEYS shuffle; each check is one
    anti-join + count."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")

    def orphans(child, ckey, parent, pkey):
        return (
            child.select(F.col(ckey).alias("k"))
            .join(
                parent.select(F.col(pkey).alias("k")).distinct(),
                "k",
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )

    checks = [
        ("lineitem.l_orderkey -> orders", li, "l_orderkey", o, "o_orderkey"),
        ("orders.o_custkey -> customer", o, "o_custkey", c, "c_custkey"),
        ("customer.c_nationkey -> nation", c, "c_nationkey", n, "n_nationkey"),
    ]
    out = None
    for label, child, ck, parent, pk in checks:
        row = orphans(child, ck, parent, pk).select(
            F.lit(label).alias("fk_edge"), F.col("n").alias("n_orphans")
        )
        out = row if out is None else out.union(row)
    return out


REFERENTIAL_ORPHANS_SQL = (
    "SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,"
    " (SELECT COUNT(*) FROM lineitem li WHERE NOT EXISTS"
    "  (SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey))"
    "  AS n_orphans"
    " UNION ALL"
    " SELECT 'orders.o_custkey -> customer',"
    " (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS"
    "  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))"
    " UNION ALL"
    " SELECT 'customer.c_nationkey -> nation',"
    " (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS"
    "  (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))"
)


def constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based constraint audit: violation counts per declared rule
    as conditional sums FUSED into one scan — zero extra passes no
    matter how many rules are registered (the property that lets a
    100 TB pipeline run hundreds of expectations for the cost of
    one)."""
    li = table(spark, sf_dir, "lineitem")
    rules = [
        ("quantity_in_1_50", (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
        ("price_positive", F.col("l_extendedprice") <= 0),
        ("discount_in_0_1", (F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
        ("returnflag_domain", ~F.col("l_returnflag").isin("A", "N", "R")),
        ("linenumber_positive", F.col("l_linenumber") < 1),
    ]
    one = li.agg(
        *[
            F.sum(cond.cast("bigint")).alias(name)
            for name, cond in rules
        ]
    )
    return one.select(
        F.expr(
            "stack({n}, {args}) AS (rule, n_violations)".format(
                n=len(rules),
                args=", ".join(f"'{name}', `{name}`" for name, _ in rules),
            )
        )
    )


CONSTRAINT_VIOLATIONS_SQL = (
    "WITH one AS (SELECT"
    " CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0"
    "  END) AS BIGINT) AS r1,"
    " CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)"
    "  AS BIGINT) AS r2,"
    " CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0"
    "  END) AS BIGINT) AS r3,"
    " CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0"
    "  END) AS BIGINT) AS r4,"
    " CAST(SUM(CASE WHEN l_linenumber < 1 THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS r5"
    " FROM lineitem)"
    " SELECT 'quantity_in_1_50' AS rule, r1 AS n_violations FROM one"
    " UNION ALL SELECT 'price_positive', r2 FROM one"
    " UNION ALL SELECT 'discount_in_0_1', r3 FROM one"
    " UNION ALL SELECT 'returnflag_domain', r4 FROM one"
    " UNION ALL SELECT 'linenumber_positive', r5 FROM one"
)


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two table snapshots: the reconciliation
    verb behind CDC validation, backfill audits, and "what changed
    since yesterday" reports.

    Snapshots are derived deterministically from ``orders`` (the
    fixture set carries no history): snapshot A drops keys ≡0 (mod
    10); snapshot B drops keys ≡0 (mod 7) and doubles the price of
    keys ≡0 (mod 3) — additions, deletions, and in-place updates all
    occur.  The diff itself is ONE full-outer sort-merge join on the
    key with change classification in the select — no driver state, no
    second pass.  At 100 TB both sides shuffle once on the join key
    (or zero times if the snapshots are bucketed on it); the change
    log that emerges is itself partitionable downstream state.  The
    doubled price stays float-exact (×2 is a pure exponent shift), so
    the changed-row predicate is engine-independent.

    Generalizes the reference's persisted-vs-expected element-wise
    graph check (loadgraph_regtest.cpp:216-223) to keyed relational
    snapshots with update detection.
    """
    orders = table(spark, sf_dir, "orders")
    snap_a = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price_a"),
        F.col("o_orderstatus").alias("status_a"),
    )
    snap_b = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")).alias("price_b"),
        F.col("o_orderstatus").alias("status_b"),
    )
    joined = snap_a.join(snap_b, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("status_a").isNull(), F.lit("added"))
        .when(F.col("status_b").isNull(), F.lit("removed"))
        .when(
            (F.col("price_a") != F.col("price_b"))
            | (F.col("status_a") != F.col("status_b")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type") != "unchanged")
        .select(
            "o_orderkey",
            "change_type",
            F.col("price_a").alias("old_price"),
            F.col("price_b").alias("new_price"),
        )
    )


SNAPSHOT_DIFF_SQL = (
    "WITH snap_a AS (SELECT o_orderkey, o_totalprice AS price_a,"
    "  o_orderstatus AS status_a FROM orders WHERE o_orderkey % 10 <> 0),"
    " snap_b AS (SELECT o_orderkey,"
    "  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2"
    "   ELSE o_totalprice END AS price_b,"
    "  o_orderstatus AS status_b FROM orders WHERE o_orderkey % 7 <> 0),"
    " j AS (SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,"
    "  a.price_a, a.status_a, b.price_b, b.status_b"
    "  FROM snap_a a FULL OUTER JOIN snap_b b USING (o_orderkey)),"
    " c AS (SELECT o_orderkey,"
    "  CASE WHEN status_a IS NULL THEN 'added'"
    "   WHEN status_b IS NULL THEN 'removed'"
    "   WHEN price_a <> price_b OR status_a <> status_b THEN 'changed'"
    "   ELSE 'unchanged' END AS change_type,"
    "  price_a AS old_price, price_b AS new_price FROM j)"
    " SELECT o_orderkey, change_type, old_price, new_price"
    " FROM c WHERE change_type <> 'unchanged'"
)


# ---------------------------------------------------------------------------
# Bloom-filter pre-join
# ---------------------------------------------------------------------------

BLOOM_BITS = 16_384          # m: filter width
BLOOM_WORD_BITS = 32         # packed into BIGINT words, shift-safe range
BLOOM_K = 3                  # independent hash functions
BLOOM_BUILD_MIN_BAL = 9000.0  # selective build-side predicate


def _bloom_hash_spark(i: int, key: str) -> str:
    return (
        f"cast(conv(substr(md5(concat('{i}|', cast({key} as string))),"
        f" 1, 8), 16, 10) as bigint) % {BLOOM_BITS}"
    )


def _bloom_hash_duck(i: int, key: str) -> str:
    return (
        f"(('0x' || substr(md5(concat('{i}|', CAST({key} AS VARCHAR))),"
        f" 1, 8))::BIGINT) % {BLOOM_BITS}"
    )


def bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join: build a Bloom filter over a selective
    build-side key set (customers with balance > 9000), probe the fact
    side against it BEFORE any join, and account for the outcome
    (rows passed, true matches, false positives).

    This is the shuffle-elimination trick for selective joins at
    100 TB: the filter is m/32 BIGINT words built with ONE bit_or
    aggregate (mergeable partial state, like every sketch here), small
    enough to broadcast at any corpus size, and the probe-side check
    is a broadcast join + bit tests — fact rows that cannot match
    never reach the real join's shuffle.  Catalyst's runtime row-group
    Bloom pushdown is this same idea below the API; doing it
    relationally makes the filter a first-class, persistable artifact.
    Fixed md5 row hashes keep the bit pattern — and therefore the
    exact false-positive count — deterministic and oracle-checkable.

    Returns one row (n_probe, n_bloom_pass, n_true_match,
    n_false_pos, fp_pct).
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    build = cust.filter(F.col("c_acctbal") > BLOOM_BUILD_MIN_BAL).select(
        F.col("c_custkey").alias("key")
    )
    # filter build: k bit positions per key, packed (word, bits) rows
    bits = build.select(
        F.explode(
            F.array(
                *[
                    F.expr(_bloom_hash_spark(i, "key")).alias("b")
                    for i in range(BLOOM_K)
                ]
            )
        ).alias("b")
    )
    bitmap = (
        bits.select(
            (F.col("b") / BLOOM_WORD_BITS).cast("bigint").alias("word"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(b % {BLOOM_WORD_BITS}"
                " as int))"
            ).alias("m"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(m)").alias("bits"))
    )
    # probe: all k bits must be set
    probes = orders.select(F.col("o_custkey").alias("pkey")).select(
        "pkey",
        F.explode(
            F.array(
                *[
                    F.expr(_bloom_hash_spark(i, "pkey")).alias("b")
                    for i in range(BLOOM_K)
                ]
            )
        ).alias("b"),
    )
    checked = (
        probes.select(
            "pkey",
            (F.col("b") / BLOOM_WORD_BITS).cast("bigint").alias("word"),
            (F.col("b") % BLOOM_WORD_BITS).cast("int").alias("bit"),
        )
        .join(F.broadcast(bitmap), "word", "left")
        .select(
            "pkey",
            F.coalesce(
                F.expr("(shiftright(bits, bit) & 1) = 1"), F.lit(False)
            ).alias("hit"),
        )
        .groupBy("pkey")
        .agg(F.min("hit").alias("bloom_pass"))
    )
    truth = orders.select(F.col("o_custkey").alias("pkey")).join(
        F.broadcast(build), F.col("pkey") == F.col("key"), "left"
    ).select("pkey", F.col("key").isNotNull().alias("is_match"))
    audited = checked.join(truth, "pkey")
    return audited.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.col("bloom_pass").cast("bigint")).alias("n_bloom_pass"),
        F.sum(F.col("is_match").cast("bigint")).alias("n_true_match"),
        F.sum(
            (F.col("bloom_pass") & ~F.col("is_match")).cast("bigint")
        ).alias("n_false_pos"),
        F.round(
            100.0
            * F.sum((F.col("bloom_pass") & ~F.col("is_match")).cast("bigint"))
            / F.count(F.lit(1)),
            4,
        ).alias("fp_pct"),
    )


def bloom_prejoin_sql() -> str:
    build_hashes = " UNION ALL ".join(
        f"SELECT {_bloom_hash_duck(i, 'key')} AS b FROM build"
        for i in range(BLOOM_K)
    )
    probe_hashes = " UNION ALL ".join(
        f"SELECT pkey, {_bloom_hash_duck(i, 'pkey')} AS b FROM pkeys"
        for i in range(BLOOM_K)
    )
    return (
        "WITH build AS (SELECT c_custkey AS key FROM customer"
        f"  WHERE c_acctbal > {BLOOM_BUILD_MIN_BAL}),"
        f" bits AS ({build_hashes}),"
        f" bitmap AS (SELECT b // {BLOOM_WORD_BITS} AS word,"
        f"  bit_or(1::BIGINT << CAST(b % {BLOOM_WORD_BITS} AS INT))"
        "   AS bits"
        "  FROM bits GROUP BY 1),"
        " pkeys AS (SELECT o_custkey AS pkey FROM orders),"
        f" probes AS ({probe_hashes}),"
        " checked AS (SELECT p.pkey,"
        "  MIN(COALESCE((m.bits >> CAST(p.b %"
        f" {BLOOM_WORD_BITS} AS INT)) & 1 = 1, FALSE)) AS bloom_pass"
        f"  FROM probes p LEFT JOIN bitmap m"
        f"  ON m.word = p.b // {BLOOM_WORD_BITS}"
        "  GROUP BY p.pkey),"
        " truth AS (SELECT p.pkey, b.key IS NOT NULL AS is_match"
        "  FROM pkeys p LEFT JOIN build b ON p.pkey = b.key)"
        " SELECT COUNT(*) AS n_probe,"
        " CAST(SUM(CASE WHEN c.bloom_pass THEN 1 ELSE 0 END) AS BIGINT)"
        "  AS n_bloom_pass,"
        " CAST(SUM(CASE WHEN t.is_match THEN 1 ELSE 0 END) AS BIGINT)"
        "  AS n_true_match,"
        " CAST(SUM(CASE WHEN c.bloom_pass AND NOT t.is_match THEN 1"
        "  ELSE 0 END) AS BIGINT) AS n_false_pos,"
        " ROUND(100.0 * SUM(CASE WHEN c.bloom_pass AND NOT t.is_match"
        "  THEN 1 ELSE 0 END) / COUNT(*), 4) AS fp_pct"
        " FROM checked c JOIN truth t ON c.pkey = t.pkey"
    )


# ---------------------------------------------------------------------------
# Distribution drift (PSI)
# ---------------------------------------------------------------------------

DRIFT_BIN_W = 25_000.0   # o_totalprice bin width
DRIFT_MAX_BIN = 19       # cap: values above pool into the top bin


def distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index (PSI) drift profile between two
    snapshots of a measure — the monitoring verb that catches a
    feature or upstream-data distribution shifting before a model
    quietly degrades.

    Baseline = the keys-≡0 (mod 10)-removed snapshot (snapshot_diff's
    "yesterday"); current = all orders; measure = o_totalprice in
    fixed-width bins with a pooled top bin.  Per bin:
    contribution = (p_cur - p_base) · ln(p_cur / p_base), Laplace-
    smoothed so empty bins are defined; PSI = Σ contributions (< 0.1
    stable, > 0.25 drifted, by the usual rule of thumb).

    ONE pass per snapshot (conditional aggregation off a shared scan),
    shuffle = #bins rows of partials; probabilities are quotients of
    exact integer counts and the single ln rounds to 6 — the
    engine-portability discipline every score here follows.

    Returns per bin: (bin, n_base, n_cur, psi_contrib).
    """
    orders = table(spark, sf_dir, "orders")
    binned = orders.select(
        F.least(
            F.floor(F.col("o_totalprice") / DRIFT_BIN_W),
            F.lit(DRIFT_MAX_BIN),
        ).cast("bigint").alias("bin"),
        (F.col("o_orderkey") % 10 != 0).alias("in_base"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.col("in_base").cast("bigint")).alias("n_base"),
        F.count(F.lit(1)).alias("n_cur"),
    )
    totals = counts.agg(
        F.sum("n_base").alias("t_base"), F.sum("n_cur").alias("t_cur")
    )
    n_bins = DRIFT_MAX_BIN + 1
    p_base = (F.col("n_base") + 1) / (F.col("t_base") + n_bins)
    p_cur = (F.col("n_cur") + 1) / (F.col("t_cur") + n_bins)
    return counts.crossJoin(F.broadcast(totals)).select(
        "bin",
        "n_base",
        "n_cur",
        F.round((p_cur - p_base) * F.log(p_cur / p_base), 6).alias(
            "psi_contrib"
        ),
    )


DISTRIBUTION_DRIFT_SQL = (
    "WITH binned AS (SELECT"
    f"  LEAST(CAST(FLOOR(o_totalprice / {DRIFT_BIN_W}) AS BIGINT),"
    f"   {DRIFT_MAX_BIN}) AS bin,"
    "  o_orderkey % 10 <> 0 AS in_base FROM orders),"
    " counts AS (SELECT bin,"
    "  CAST(SUM(CASE WHEN in_base THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS n_base,"
    "  COUNT(*) AS n_cur FROM binned GROUP BY bin),"
    " totals AS (SELECT SUM(n_base) AS t_base, SUM(n_cur) AS t_cur"
    "  FROM counts)"
    " SELECT bin, n_base, n_cur,"
    " ROUND(("
    f"  (n_cur + 1)::DOUBLE / (t_cur + {DRIFT_MAX_BIN + 1})"
    f"  - (n_base + 1)::DOUBLE / (t_base + {DRIFT_MAX_BIN + 1})"
    " ) * ln("
    f"  ((n_cur + 1)::DOUBLE / (t_cur + {DRIFT_MAX_BIN + 1}))"
    f"  / ((n_base + 1)::DOUBLE / (t_base + {DRIFT_MAX_BIN + 1}))"
    " ), 6) AS psi_contrib"
    " FROM counts CROSS JOIN totals"
)


# ---------------------------------------------------------------------------
# Robust outlier profiling (median absolute deviation)
# ---------------------------------------------------------------------------

MAD_K = 3.0  # flag |x - median| > K * MAD


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust outlier profile of l_extendedprice via median
    absolute deviation — the outlier rule that, unlike z-scores, is
    not itself corrupted by the outliers it hunts (Hampel / robust
    statistics 101; the data-quality screen a curation pipeline runs
    before trusting numeric columns).

    Emits one row per l_returnflag: median, MAD, row count, and the
    count of rows with |x - med| > MAD_K·MAD.

    Determinism: both medians interpolate identically (percentile ≡
    quantile_cont — the percentiles precedent); every downstream
    comparison evaluates the same IEEE ops on the same doubles in both
    engines, and only the final report columns round.

    Plan: percentile aggregate (3 groups) → broadcast back onto the
    scan → second percentile aggregate → broadcast → conditional
    count.  Two scans, two tiny broadcasts, zero row shuffles beyond
    the 3-group aggregates.  At 100 TB the exact percentile buffers
    every group's values — swap both medians for approx_percentile and
    certify with the winsorize_prices_approx envelope pattern; the
    operator shape is unchanged."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5D)").alias("med_price")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").withColumn(
        "adev", F.abs(F.col("l_extendedprice") - F.col("med_price"))
    )
    mad = dev.groupBy("l_returnflag", "med_price").agg(
        F.expr("percentile(adev, 0.5D)").alias("mad_raw")
    )
    scored = dev.join(F.broadcast(mad), ["l_returnflag", "med_price"])
    return (
        scored.groupBy("l_returnflag", "med_price", "mad_raw")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.col("adev") > MAD_K * F.col("mad_raw")).cast("bigint")
            ).alias("n_outliers"),
        )
        .select(
            "l_returnflag",
            F.round("med_price", 6).alias("med_price"),
            F.round("mad_raw", 6).alias("mad"),
            "n_rows",
            "n_outliers",
        )
    )


MAD_OUTLIERS_SQL = (
    "WITH med AS (SELECT l_returnflag,"
    "  quantile_cont(l_extendedprice, 0.5) AS med_price"
    "  FROM lineitem GROUP BY l_returnflag),"
    " dev AS (SELECT l.l_returnflag, m.med_price,"
    "  ABS(l.l_extendedprice - m.med_price) AS adev"
    "  FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag),"
    " mad AS (SELECT l_returnflag, med_price,"
    "  quantile_cont(adev, 0.5) AS mad_raw"
    "  FROM dev GROUP BY l_returnflag, med_price)"
    " SELECT d.l_returnflag,"
    "  ROUND(d.med_price, 6) AS med_price,"
    "  ROUND(m.mad_raw, 6) AS mad,"
    "  COUNT(*) AS n_rows,"
    f" CAST(SUM(CASE WHEN d.adev > {MAD_K} * m.mad_raw THEN 1 ELSE 0 END)"
    "   AS BIGINT) AS n_outliers"
    " FROM dev d JOIN mad m"
    "  ON d.l_returnflag = m.l_returnflag AND d.med_price = m.med_price"
    " GROUP BY d.l_returnflag, d.med_price, m.mad_raw"
)


MAD_ACCURACY = 10_000
MAD_RANK_EPS = 5.0 / MAD_ACCURACY


def mad_outliers_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance certificate for the approx-percentile MAD path — the
    100 TB form :func:`mad_outliers`'s docstring promises, made
    driver-verifiable with the winsorize_prices_approx pattern.

    Both medians (value median, deviation median) come from
    ``approx_percentile`` (fixed-size mergeable sketch state — the
    only per-group memory that survives 100 TB groups).  The sketch
    outputs are engine-specific, so the query emits what IS portable:
    the exact value-median envelope plus TWO booleans certifying each
    sketch median sits within MAD_RANK_EPS rank error of 0.5 in its
    own distribution (value ranks for the median, deviation ranks for
    the MAD).  The oracle recomputes the exact columns and asserts
    the booleans TRUE — sketch drift on either level flips a boolean
    and fails the driver's hash gate.

    Plan: three passes, all map-side-combined — (1) per-group sketch
    + exact median aggregate, (2) broadcast-back rank count of the
    sketch median PLUS the deviation-median sketch in one aggregate,
    (3) broadcast-back rank count of the sketch MAD.  No row ever
    shuffles; only 3-group aggregates move."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    x = F.col("l_extendedprice")
    b1 = li.groupBy("l_returnflag").agg(
        F.expr(
            f"approx_percentile(l_extendedprice, 0.5D, {MAD_ACCURACY})"
        ).alias("amed"),
        F.round(F.expr("percentile(l_extendedprice, 0.5D)"), 6).alias(
            "med_price"
        ),
    )
    d = li.join(F.broadcast(b1), "l_returnflag")
    b2 = d.groupBy("l_returnflag", "med_price", "amed").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((x < F.col("amed")).cast("bigint")).alias("lt_amed"),
        F.sum((x <= F.col("amed")).cast("bigint")).alias("le_amed"),
        F.expr(
            f"approx_percentile(abs(l_extendedprice - amed), 0.5D,"
            f" {MAD_ACCURACY})"
        ).alias("amad"),
    )
    d2 = li.join(F.broadcast(b2), "l_returnflag")
    adev = F.abs(x - F.col("amed"))
    ranks = d2.groupBy(
        "l_returnflag", "med_price", "n", "lt_amed", "le_amed", "amad"
    ).agg(
        F.sum((adev < F.col("amad")).cast("bigint")).alias("lt_amad"),
        F.sum((adev <= F.col("amad")).cast("bigint")).alias("le_amad"),
    )
    eps = F.lit(MAD_RANK_EPS)
    n = F.col("n").cast("double")
    return ranks.select(
        "l_returnflag",
        "med_price",
        F.col("n").cast("bigint").alias("n"),
        (
            (F.col("lt_amed") / n <= 0.5 + eps)
            & (F.col("le_amed") / n >= 0.5 - eps)
        ).alias("med_in_tolerance"),
        (
            (F.col("lt_amad") / n <= 0.5 + eps)
            & (F.col("le_amad") / n >= 0.5 - eps)
        ).alias("mad_in_tolerance"),
    )


def mad_outliers_approx_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB production form of :func:`mad_outliers`: both
    medians from ``approx_percentile`` sketches (fixed-size mergeable
    state — no group ever buffers its values), same output schema as
    the exact sibling.  Not driver-registered — sketch outputs are
    engine-specific so no cross-engine oracle exists for the raw
    values; tests/test_approx.py pins it against the exact form, and
    :func:`mad_outliers_approx` is the registered deterministic
    certificate of the same sketches (SCALING.md "Certificate
    pricing")."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    x = F.col("l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.expr(
            f"approx_percentile(l_extendedprice, 0.5D, {MAD_ACCURACY})"
        ).alias("med_price")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").withColumn(
        "adev", F.abs(x - F.col("med_price"))
    )
    mad = dev.groupBy("l_returnflag", "med_price").agg(
        F.expr(f"approx_percentile(adev, 0.5D, {MAD_ACCURACY})").alias(
            "mad_raw"
        )
    )
    scored = dev.join(F.broadcast(mad), ["l_returnflag", "med_price"])
    return (
        scored.groupBy("l_returnflag", "med_price", "mad_raw")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.col("adev") > MAD_K * F.col("mad_raw")).cast("bigint")
            ).alias("n_outliers"),
        )
        .select(
            "l_returnflag",
            F.round("med_price", 6).alias("med_price"),
            F.round("mad_raw", 6).alias("mad"),
            "n_rows",
            "n_outliers",
        )
    )


MAD_OUTLIERS_APPROX_SQL = (
    "SELECT l_returnflag,"
    " ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS med_price,"
    " CAST(COUNT(*) AS BIGINT) AS n,"
    " TRUE AS med_in_tolerance,"
    " TRUE AS mad_in_tolerance"
    " FROM lineitem GROUP BY l_returnflag"
)


# ---------------------------------------------------------------------------
# Benford first-digit screen
# ---------------------------------------------------------------------------

# log10(1 + 1/d) for d = 1..9, written as full-precision double
# literals so BOTH engines parse the identical IEEE values (no libm
# log at query time — the lsh_band_planner no-libm convention)
BENFORD_EXPECTED = (
    (1, "0.3010299956639812"),
    (2, "0.17609125905568124"),
    (3, "0.12493873660829992"),
    (4, "0.09691001300805642"),
    (5, "0.07918124604762482"),
    (6, "0.06694678963061322"),
    (7, "0.05799194697768673"),
    (8, "0.05115252244738129"),
    (9, "0.04575749056067514"),
)


def benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Benford first-digit screen over order totals — the
    classic numeric-integrity test for ingested financial columns
    (fabricated, truncated, or unit-mangled figures move the leading-
    digit histogram off log10(1+1/d); a synthetic-uniform fixture
    deliberately FAILS it, which is exactly what the chi2 reports):
    chi2 = sum_d (obs_d - n*e_d)^2 / (n*e_d) over digits 1..9.

    Plan: broadcast dim join (orders->customer->nation, the TPC-H
    shape), one (nation, digit) count with map-side combine, the
    9-row expected table joined as a broadcast literal spine so
    zero-count digits still contribute, then a per-nation DECIMAL-
    quantized term sum.  Shuffles only (nation, digit) counters.

    Determinism: counts are exact integers, the expected frequencies
    are shared double literals, each chi2 term quantizes to
    DECIMAL(28,12) before the sum (order-independent), and the first
    digit comes from floor -> bigint -> string on both engines.
    Emits (n_name, n_orders, chi2).

    Domain: totals < 1 are filtered out explicitly (both engines).
    Benford's law is defined on positive magnitudes with a leading
    digit 1-9; without the filter a non-positive value would yield a
    NULL/'-' digit row that inflates n_orders while never joining the
    1-9 spine on Spark, and errors outright in DuckDB's CAST — a trap
    when the operator is reused on a column that, unlike TPC-H
    o_totalprice, admits non-positive values (ADVICE r08 #3)."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    ).filter(F.col("o_totalprice") >= 1)
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("n_nationkey"),
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    obs = (
        o.join(F.broadcast(c), "o_custkey")
        .join(F.broadcast(n), "n_nationkey")
        .select("n_name", digit.alias("d"))
        .groupBy("n_name", "d")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    exp_rows = ", ".join(f"({d}, {e}D)" for d, e in BENFORD_EXPECTED)
    spine = spark.sql(
        f"SELECT d, e FROM VALUES {exp_rows} AS t(d, e)"
    )
    totals = obs.groupBy("n_name").agg(
        F.sum("obs").alias("n_orders")
    )
    full = (
        totals.crossJoin(F.broadcast(spine))
        .join(obs, ["n_name", "d"], "left")
        .withColumn("o", F.coalesce("obs", F.lit(0)))
    )
    term = (
        (F.col("o") - F.col("n_orders") * F.col("e"))
        * (F.col("o") - F.col("n_orders") * F.col("e"))
        / (F.col("n_orders") * F.col("e"))
    )
    return (
        full.withColumn(
            "t", F.round(term, 12).cast("decimal(28,12)")
        )
        .groupBy("n_name")
        .agg(
            F.max("n_orders").cast("bigint").alias("n_orders"),
            F.round(F.sum("t").cast("double"), 6).alias("chi2"),
        )
    )


def benford_screen_sql() -> str:
    exp_rows = ", ".join(f"({d}, {e})" for d, e in BENFORD_EXPECTED)
    return (
        "WITH obs AS (SELECT n.n_name,"
        "  CAST(substr(CAST(CAST(FLOOR(o.o_totalprice) AS BIGINT)"
        "   AS VARCHAR), 1, 1) AS INT) AS d,"
        "  COUNT(*) AS obs"
        "  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey"
        "  JOIN nation n ON n.n_nationkey = c.c_nationkey"
        "  WHERE o.o_totalprice >= 1"
        "  GROUP BY 1, 2),"
        f" spine AS (SELECT d, CAST(e AS DOUBLE) AS e"
        f"  FROM (VALUES {exp_rows}) t(d, e)),"
        " totals AS (SELECT n_name, SUM(obs) AS n_orders FROM obs"
        "  GROUP BY n_name),"
        " fullsp AS (SELECT t.n_name, t.n_orders, s.d, s.e,"
        "  COALESCE(obs.obs, 0) AS o"
        "  FROM totals t CROSS JOIN spine s"
        "  LEFT JOIN obs ON obs.n_name = t.n_name AND obs.d = s.d),"
        " terms AS (SELECT n_name, n_orders,"
        "  CAST(ROUND((o - n_orders * e) * (o - n_orders * e)"
        "   / (n_orders * e), 12) AS DECIMAL(28,12)) AS t"
        "  FROM fullsp)"
        " SELECT n_name, CAST(MAX(n_orders) AS BIGINT) AS n_orders,"
        " ROUND(CAST(SUM(t) AS DOUBLE), 6) AS chi2"
        " FROM terms GROUP BY n_name"
    )


# ---------------------------------------------------------------------------
# Join-key skew profile (shuffle-planning diagnostic)
# ---------------------------------------------------------------------------

# a key is "hot" when its row count exceeds this multiple of the mean
SKEW_HOT_FACTOR = 2


def join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew profile of the events.user_id join key — the
    shuffle-planning diagnostic a 100 TB shop runs BEFORE keying a
    join or aggregation on a column: per-key row counts reduce to one
    summary row of the numbers that decide the physical strategy —
    how many keys, how big the hottest one is, what share of rows the
    hot keys own, and the integer salt factor that would level the
    hottest reducer to the mean (the spread functions/skew.py's
    salted_join and setsim's observation-driven probe consume; see
    SCALING.md on AQE's blind spot for output-amplification skew).

    Emits (n_keys, total_rows, max_rows, avg_rows, top_share,
    n_hot_keys, hot_rows_share, rec_salts): hot = count > 
    SKEW_HOT_FACTOR x mean, compared in exact integers
    (c * n_keys > FACTOR * total); rec_salts = ceil(max/mean) =
    (max * n_keys + total - 1) div total.

    Scale: one map-side-combinable count per key (shuffle volume =
    distinct keys), one broadcast of the single totals row back
    across the key counts, one final aggregate.  Every statistic is
    exact-integer or one double division rounded to 6 — no
    interpolated percentiles, so the result is engine-invariant.
    """
    counts = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("total_rows"),
        F.max("c").alias("max_rows"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .agg(
            F.max("n_keys").alias("n_keys"),
            F.max("total_rows").alias("total_rows"),
            F.max("max_rows").cast("bigint").alias("max_rows"),
            F.round(
                F.max("total_rows").cast("double") / F.max("n_keys"), 6
            ).alias("avg_rows"),
            F.round(
                F.max("max_rows").cast("double") / F.max("total_rows"), 6
            ).alias("top_share"),
            F.sum(
                (
                    F.col("c") * F.col("n_keys")
                    > F.lit(SKEW_HOT_FACTOR) * F.col("total_rows")
                ).cast("bigint")
            ).alias("n_hot_keys"),
            F.round(
                F.sum(
                    F.when(
                        F.col("c") * F.col("n_keys")
                        > F.lit(SKEW_HOT_FACTOR) * F.col("total_rows"),
                        F.col("c"),
                    ).otherwise(F.lit(0))
                ).cast("double")
                / F.max("total_rows"),
                6,
            ).alias("hot_rows_share"),
            F.expr(
                "(max(max_rows) * max(n_keys) + max(total_rows) - 1)"
                " div max(total_rows)"
            ).cast("bigint").alias("rec_salts"),
        )
        .select(
            F.col("n_keys").cast("bigint").alias("n_keys"),
            F.col("total_rows").cast("bigint").alias("total_rows"),
            "max_rows",
            "avg_rows",
            "top_share",
            "n_hot_keys",
            "hot_rows_share",
            "rec_salts",
        )
    )


JOIN_SKEW_PROFILE_SQL = (
    "WITH counts AS (SELECT user_id, COUNT(*) AS c FROM events"
    "  GROUP BY user_id),"
    " tot AS (SELECT COUNT(*) AS n_keys, SUM(c) AS total_rows,"
    "  MAX(c) AS max_rows FROM counts)"
    " SELECT CAST(MAX(n_keys) AS BIGINT) AS n_keys,"
    " CAST(MAX(total_rows) AS BIGINT) AS total_rows,"
    " CAST(MAX(max_rows) AS BIGINT) AS max_rows,"
    " ROUND(CAST(MAX(total_rows) AS DOUBLE) / MAX(n_keys), 6)"
    "  AS avg_rows,"
    " ROUND(CAST(MAX(max_rows) AS DOUBLE) / MAX(total_rows), 6)"
    "  AS top_share,"
    f" CAST(SUM(CASE WHEN c * n_keys > {SKEW_HOT_FACTOR} * total_rows"
    "  THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_keys,"
    f" ROUND(CAST(SUM(CASE WHEN c * n_keys > {SKEW_HOT_FACTOR}"
    "  * total_rows THEN c ELSE 0 END) AS DOUBLE) / MAX(total_rows), 6)"
    "  AS hot_rows_share,"
    " CAST((MAX(max_rows) * MAX(n_keys) + MAX(total_rows) - 1)"
    "  // MAX(total_rows) AS BIGINT) AS rec_salts"
    " FROM counts, tot"
)
