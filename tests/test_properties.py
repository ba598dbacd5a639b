"""Hypothesis property tests for algorithmic cores whose edge cases
(ties, duplicates, degenerate sizes) fixture data can't be trusted to
cover.  Small example counts — each example builds a Spark DataFrame."""

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st


points = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),   # price (small → many ties)
        st.integers(min_value=0, max_value=6),   # qty
    ),
    min_size=1,
    max_size=24,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pts=points)
def test_skyline_frame_matches_bruteforce(spark, pts):
    """The two-level distributed skyline equals brute-force dominance
    on arbitrary small integer inputs — including duplicate
    coordinates (both stay), all-equal rows, and heavy ties on either
    axis."""
    from smile_spark.operators.analytics import skyline_frame

    rows = [(i, float(p), float(q)) for i, (p, q) in enumerate(pts)]
    df = spark.createDataFrame(
        rows, "k bigint, avg_price double, total_qty double"
    )
    got = {r.k for r in skyline_frame(df, "k").collect()}

    def dominated(i):
        px, py = pts[i]
        return any(
            qx <= px and qy >= py and (qx < px or qy > py)
            for j, (qx, qy) in enumerate(pts)
            if j != i
        )

    want = {i for i in range(len(pts)) if not dominated(i)}
    assert got == want, (pts, got, want)


def test_setsim_frame_jaccard_exactly_tau_boundary(spark):
    """Pairs whose Jaccard is EXACTLY tau = 9/10 must be emitted — the
    boundary the integer thresholds exist for (float ceil computed
    alpha = 64 instead of 63 at na+nb = 133 and dropped such pairs).
    Constructed cases: containment (|A|=9 subset of |B|=10, J = 9/10)
    and near-equal sets (na=19, nb=19, i=... not integral — use
    na=9, nb=10, i=9 and na=18, nb=20, i=18), plus a just-below pair
    that must NOT appear."""
    from smile_spark.operators.dedup import SETSIM_TAU, setsim_join_frame

    def doc(i, toks):
        return (i, " ".join(toks))

    t = [f"w{j:03d}" for j in range(60)]
    rows = [
        doc(1, t[0:9]),            # A: 9 tokens
        doc(2, t[0:10]),           # B: 10 tokens, J(A,B) = 9/10 exactly
        doc(3, t[20:38]),          # C: 18 tokens
        doc(4, t[20:40]),          # D: 20 tokens, J(C,D) = 18/20 = 0.9
        doc(5, t[40:48]),          # E: 8 tokens
        doc(6, t[40:49]),          # F: 9 tokens, J(E,F) = 8/9 < 0.9
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r.a, r.b): r.jaccard for r in setsim_join_frame(df).collect()}
    assert (1, 2) in got and got[(1, 2)] == SETSIM_TAU
    assert (3, 4) in got and got[(3, 4)] == SETSIM_TAU
    assert (5, 6) not in got
    assert set(got) == {(1, 2), (3, 4)}


docs_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c"]),  # tiny alphabet → shared grams
        min_size=0,
        max_size=10,
    ),
    min_size=1,
    max_size=8,
)


def _ref_dup_profile(token_lists, n):
    """Pure-python reference for exact_ngram_frame/dup_span_frame."""
    grams = {}  # gram -> set of docs
    pos = {}    # doc -> [positions]
    for d, toks in enumerate(token_lists):
        if len(toks) < n:
            continue
        pos[d] = []
        for i in range(len(toks) - n + 1):
            g = " ".join(toks[i : i + n])
            grams.setdefault(g, set()).add(d)
            pos[d].append((i + 1, g))
    profile, spans = {}, {}
    for d, plist in pos.items():
        dgrams = {g for _, g in plist}
        ndup = sum(1 for g in dgrams if len(grams[g]) > 1)
        profile[d] = (len(dgrams), ndup)
        dp = sorted(i for i, g in plist if len(grams[g]) > 1)
        out, cur = [], None
        for i in dp:
            if cur is None or i > cur[1] - n + 1 + n:  # i > prev_i + n
                if cur:
                    out.append(tuple(cur))
                cur = [i, i + n - 1]
            else:
                cur[1] = i + n - 1
        if cur:
            out.append(tuple(cur))
        if out:
            spans[d] = out
    return profile, spans


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(token_lists=docs_strategy)
def test_ngram_dedup_and_cutlist_match_bruteforce(spark, token_lists):
    """The distributed gram profile AND the merged-span cut list equal
    the pure-python reference on arbitrary small corpora — duplicate
    grams inside ONE doc, empty docs, all-identical docs, and
    adjacent/overlapping window merges included."""
    from smile_spark.operators.dedup import (
        dup_span_frame,
        exact_ngram_frame,
    )

    n = 3
    df = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in enumerate(token_lists)],
        "doc_id long, text string",
    )
    want_profile, want_spans = _ref_dup_profile(token_lists, n)

    got_profile = {
        r.doc_id: (r.n_grams, r.n_dup)
        for r in exact_ngram_frame(df, n).collect()
    }
    assert got_profile == want_profile, (token_lists, got_profile)

    got_spans = {}
    for r in dup_span_frame(df, n).collect():
        got_spans.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end)
        )
    got_spans = {d: sorted(v) for d, v in got_spans.items()}
    assert got_spans == want_spans, (token_lists, got_spans, want_spans)


series_strategy = st.dictionaries(
    st.integers(min_value=0, max_value=9),     # day offset
    st.integers(min_value=-50, max_value=50),  # value (exact in double)
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(series=series_strategy)
def test_gap_interpolate_matches_reference(spark, series):
    """The windowed linear interpolation equals the closed-form
    reference on arbitrary sparse integer series — single-point
    series, adjacent observed days (nothing to fill), and long gaps."""
    import datetime as dt

    from smile_spark.operators.behavior import gap_interpolate_frame

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(days=off), float(v))
        for off, v in sorted(series.items())
    ]
    df = spark.createDataFrame(rows, "user_id long, d timestamp, v double")
    got = {
        (r.day - base).days: (r.is_observed, r.v_interp)
        for r in gap_interpolate_frame(df).collect()
    }
    offs = sorted(series)
    assert set(got) == set(range(offs[0], offs[-1] + 1))
    for day in range(offs[0], offs[-1] + 1):
        if day in series:
            assert got[day] == (True, float(series[day])), (series, got)
            continue
        prev = max(o for o in offs if o < day)
        nxt = min(o for o in offs if o > day)
        want = series[prev] + (series[nxt] - series[prev]) * (
            (day - prev) / (nxt - prev)
        )
        assert got[day][0] is False
        assert abs(got[day][1] - round(want, 6)) < 1e-9, (series, day, got)


setsim_corpora = st.lists(
    st.lists(
        st.integers(min_value=0, max_value=11),  # 12-token alphabet
        min_size=1,
        max_size=14,
    ),
    min_size=2,
    max_size=14,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=setsim_corpora)
def test_setsim_frame_matches_bruteforce(spark, docs):
    """The full r10 pipeline — xxhash64 token keys, identical-set
    GroupJoin collapse + expansion, asymmetric PPJoin prefixes,
    salting, verify — equals brute-force thresholded Jaccard on
    arbitrary small corpora.  The tiny alphabet forces exactly the
    hazards the rework introduced: many identical token sets (group
    expansion paths, intra-group J=1 pairs), equal-size ties in the
    (n, id) canonical order, and boundary Jaccards."""
    from smile_spark.operators.dedup import SETSIM_TAU, setsim_join_frame
    from smile_spark.operators.fit import _round_half_up

    rows = [
        (i, " ".join(f"t{t}" for t in toks)) for i, toks in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.a, r.b): (r.na, r.nb, r.i, r.jaccard)
        for r in setsim_join_frame(df).collect()
    }

    sets = [set(f"t{t}" for t in toks) for toks in docs]
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            i = len(sets[a] & sets[b])
            na, nb = len(sets[a]), len(sets[b])
            jac = _round_half_up(i / (na + nb - i))
            if jac >= SETSIM_TAU:
                want[(a, b)] = (na, nb, i, jac)
    assert got == want, (docs, got, want)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(token_lists=docs_strategy)
def test_longest_repeat_profile_matches_bruteforce(spark, token_lists):
    """The per-doc longest-repeat profile equals the aggregate of the
    brute-force merged spans: max/sum/count over _ref_dup_profile's
    span list, zeros for eligible docs with no duplicated window."""
    from smile_spark.operators.dedup import longest_repeat_frame

    n = 3
    df = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in enumerate(token_lists)],
        "doc_id long, text string",
    )
    _, want_spans = _ref_dup_profile(token_lists, n)
    want = {}
    for d, toks in enumerate(token_lists):
        if len(toks) < n:
            continue
        spans = want_spans.get(d, [])
        lens = [e - s + 1 for s, e in spans]
        want[d] = (
            len(toks),
            len(spans),
            sum(lens),
            max(lens, default=0),
        )
    got = {
        r.doc_id: (r.n_tokens, r.n_spans, r.dup_tokens, r.max_run)
        for r in longest_repeat_frame(df, n).collect()
    }
    assert got == want, (token_lists, got, want)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(token_lists=docs_strategy)
def test_setsim_incremental_matches_bruteforce(spark, token_lists):
    """The probe-vs-base join equals brute-force exact Jaccard between
    the two doc_id%MOD sides on arbitrary small corpora — duplicate
    token sets (the per-side GroupJoin collapse path), empty docs, and
    boundary-tau pairs included."""
    from smile_spark.operators.dedup import (
        SETSIM_INC_MOD,
        SETSIM_TAU,
        setsim_incremental,
    )
    import smile_spark.tables as tables

    rows = [(d, " ".join(toks)) for d, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    want = {}
    sets = {d: set((" ".join(t)).split(" ")) for d, t in enumerate(token_lists)}
    for a, ta in sets.items():
        if a % SETSIM_INC_MOD:
            continue
        for b, tb in sets.items():
            if b % SETSIM_INC_MOD == 0:
                continue
            i = len(ta & tb)
            j = round(i / len(ta | tb), 6)
            if j >= SETSIM_TAU:
                want[(a, b)] = (len(ta), len(tb), i, j)

    # setsim_incremental reads the documents table by sf_dir; patch
    # the loader to serve the synthetic frame instead
    orig = tables.table
    try:
        tables.table = lambda _s, _d, _n: df
        import smile_spark.operators.dedup as dmod

        dmod.table = tables.table
        got = {
            (r.a, r.b): (r.na, r.nb, r.i, r.jaccard)
            for r in setsim_incremental(spark, "synthetic").collect()
        }
    finally:
        tables.table = orig
        import smile_spark.operators.dedup as dmod

        dmod.table = orig
    assert got == want, (token_lists, got, want)


@st.composite
def cc_graphs(draw):
    """(distinct node ids, undirected edges among them, endpoints of
    null-ended edges).  Random edges give isolated nodes,
    self-loops, duplicate edges and several components; the optional
    path over shuffled fresh ids is 40 nodes long, beyond 2^5 hops."""
    ids = draw(
        st.lists(
            st.integers(min_value=-10**6, max_value=10**12),
            min_size=1,
            max_size=30,
            unique=True,
        )
    )
    edges = draw(
        st.lists(st.tuples(st.sampled_from(ids), st.sampled_from(ids)),
                 max_size=40)
    )
    if draw(st.booleans()):
        start = max(ids) + 1
        path = draw(st.permutations(range(start, start + 40)))
        ids = ids + path
        edges = edges + list(zip(path, path[1:]))
    null_ended = draw(st.lists(st.sampled_from(ids), max_size=2))
    return ids, edges, null_ended


# 139, 137, .., 101, 100, 102, .., 138
_MIN_MID_PATH = [*range(139, 100, -2), *range(100, 140, 2)]


def _union_find_min(ids, edges):
    parent = {i: i for i in ids}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {i: root(i) for i in ids}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(graph=cc_graphs())
@example(
    # isolated 99, self-loop on 5, duplicate 5-6, components {5, 6}
    # and a 40-node path with its min id mid-path, a null-ended edge
    graph=(
        [99, 5, 6, *_MIN_MID_PATH],
        [(5, 5), (5, 6), (6, 5), *zip(_MIN_MID_PATH, _MIN_MID_PATH[1:])],
        [6],
    )
)
def test_cc_driver_and_distributed_paths_match_union_find(
    spark, cc_paths, graph
):
    """cc_labels' driver-side pass, its distributed loop (threshold -1)
    and a brute-force union-find give the same (id, component) row for
    every row of nodes, with the same schema; edges with a null
    endpoint are ignored.  The loop runs at its default cap, which
    cannot bind (min-label propagation settles within diameter + 1 <=
    n rounds), even on a path with shuffled ids."""
    from smile_spark.operators.graph import cc_labels

    nodes, edges, null_ended = graph
    comp = _union_find_min(nodes, edges)
    want = sorted((i, comp[i]) for i in nodes)
    und = (
        edges
        + [(b, a) for a, b in edges]
        + [(None, x) for x in null_ended]
        + [(x, None) for x in null_ended]
    )
    nodes_df = spark.createDataFrame([(i,) for i in nodes], "id bigint")
    e = spark.createDataFrame(und, "src bigint, dst bigint")
    got = {}
    for path in cc_paths():
        out = cc_labels(nodes_df, e, n_edges=len(und))
        got[path] = (out.schema, sorted(tuple(r) for r in out.collect()))
    assert got["driver"] == got["distributed"]
    assert got["driver"][1] == want
