"""Property-based golden tests: the store vs a pure-Python simulation of the
reference's semantics (floor-to-resolution, last-write-wins across sequential
puts, dense end-exclusive zero-filled reads — `dbase/dbase.go:125-231`,
`dblock/dblock.go:198-205`).

Few examples (Spark round-trips are seconds each), but each example is an
arbitrary interleaving of writes the hand-written golden tests can't cover.
"""

import tempfile
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kdb_spark import StoreConfig, TimeSeriesStore

NOW = 11999
RES = 10
ZERO = bytes(4)

ts_strategy = st.integers(10_000, 11_990)
tag_strategy = st.sampled_from(["a", "b"])
payload_strategy = st.binary(min_size=4, max_size=4)
row_strategy = st.tuples(ts_strategy, tag_strategy, tag_strategy, payload_strategy)
batches_strategy = st.lists(
    st.lists(row_strategy, min_size=1, max_size=6), min_size=1, max_size=2
)


def simulate(batches, start, end, tags):
    """Reference semantics in plain Python: sequential Put loop."""
    state = {}
    for batch in batches:
        for ts, t1, t2, pld in batch:
            state[(t1, t2, ts - ts % RES)] = pld
    start -= start % RES
    end -= end % RES
    return [
        state.get((tags[0], tags[1], slot), ZERO)
        for slot in range(start, end, RES)
    ]


def _store(spark):
    cfg = StoreConfig(
        database_name="prop",
        data_path=tempfile.mkdtemp(prefix="kdbs_prop_"),
        index_depth=2,
        payload_size=4,
        bucket_duration=1000,
        resolution=RES,
    )
    return TimeSeriesStore(spark, cfg)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=batches_strategy,
    start=ts_strategy,
    width=st.integers(0, 40),
    t1=tag_strategy,
    t2=tag_strategy,
)
def test_get_matches_sequential_put_simulation(spark, batches, start, width, t1, t2):
    store = _store(spark)
    for batch in batches:
        store.put_batch(batch, now=NOW)
    end = min(start + width, NOW)  # end may not pass now (dbase_test.go:268-276)
    got = [
        bytes(r["payload"])
        for r in store.get(start, end, [t1, t2], now=NOW).collect()
    ]
    assert got == simulate(batches, start, end, [t1, t2])


def simulate_find(batches, start, end, tags):
    """Reference find: presence = any point in a bucket the loop scans
    (floor(start) .. floor(end) INCLUSIVE, `dbase/dbase.go:247,256`), each
    present series densified over the floored range."""
    BUCKET = 1000
    state = {}
    for batch in batches:
        for ts, t1, t2, pld in batch:
            state[(t1, t2, ts - ts % RES)] = pld
    start -= start % RES
    end -= end % RES
    b0, b1 = start - start % BUCKET, end - end % BUCKET
    if start >= end:
        # The reference returns present series with EMPTY payload slices for
        # a zero-width range (the bucket loop still runs); a row-based output
        # cannot represent a zero-row series, so find() yields no rows — the
        # one deliberate representational deviation.
        return {}
    present = set()
    for (t1, t2, slot), _ in state.items():
        if tags[0] not in ("", t1) or tags[1] not in ("", t2):
            continue
        if b0 <= slot - slot % BUCKET <= b1:
            present.add((t1, t2))
    return {
        (t1, t2): [
            state.get((t1, t2, slot), ZERO) for slot in range(start, end, RES)
        ]
        for (t1, t2) in present
    }


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=batches_strategy,
    start=ts_strategy,
    width=st.integers(0, 40),
    t1=st.sampled_from(["a", "b", ""]),
    t2=st.sampled_from(["a", "b", ""]),
)
def test_find_matches_presence_simulation(spark, batches, start, width, t1, t2):
    store = _store(spark)
    for batch in batches:
        store.put_batch(batch, now=NOW)
    end = min(start + width, NOW)
    got = {}
    for r in store.find(start, end, [t1, t2], now=NOW).collect():
        got.setdefault((r["tag1"], r["tag2"]), []).append(bytes(r["payload"]))
    assert got == simulate_find(batches, start, end, [t1, t2])


# --------------------------- curation-op laws over arbitrary tiny corpora

doc_strategy = st.lists(
    st.text(
        alphabet="abc xyz 019 \n\t.",
        min_size=0,
        max_size=120,
    ),
    min_size=1,
    max_size=12,
)


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=doc_strategy)
def test_chunking_reconstructs_every_token(spark, texts):
    """Law: concatenating each doc's chunks with overlaps removed yields
    exactly the doc's token stream — no token lost or duplicated."""
    import pyspark.sql.functions as F

    from kdb_spark.llm import curation as cu
    from kdb_spark.llm.dedup import tokens

    SIZE, OVERLAP = 7, 2
    df = _docs_df(spark, texts)
    want = {
        r.doc_id: list(r.toks)
        for r in df.select("doc_id", tokens("text").alias("toks")).collect()
    }
    chunks = {}
    for r in cu.chunk_documents(df, size=SIZE, overlap=OVERLAP).collect():
        chunks.setdefault(r.doc_id, []).append(r)
    for doc_id, toks in want.items():
        got = sorted(chunks[doc_id], key=lambda r: r.chunk_id)
        rebuilt = list((got[0].chunk_text or "").split())
        for c in got[1:]:
            rebuilt.extend((c.chunk_text or "").split()[OVERLAP:])
        assert rebuilt == toks, (doc_id, rebuilt, toks)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=doc_strategy, budget=st.integers(2, 40))
def test_pack_sequences_offsets_follow_bucket_cumsum(spark, texts, budget):
    """Law: within an md5 bucket, pack offsets are the running token count
    mod budget, pack ids never decrease in doc_id order, and every doc
    appears exactly once."""
    from kdb_spark.llm import curation as cu

    df = _docs_df(spark, texts)
    rows = cu.pack_sequences(df, budget=budget).collect()
    assert sorted(r.doc_id for r in rows) == list(range(len(texts)))
    by_bucket: dict = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    for _, rs in by_bucket.items():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        prev_pack = None
        for r in rs:
            assert r.pack_offset == cum % budget, r
            assert r.pack_id == r.bucket * 1_000_000_000 + cum // budget, r
            if prev_pack is not None:
                assert r.pack_id >= prev_pack
            prev_pack = r.pack_id
            cum += r.n_tok


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=doc_strategy)
def test_jaccard_pairs_match_bruteforce(spark, texts):
    """Law: the single-shuffle pair generator emits exactly the (a < b)
    pairs whose true shingle-set jaccard clears the threshold — identical
    to a brute-force all-pairs python computation."""
    import re

    from kdb_spark.llm import dedup as dd

    def sh(t, n=3):
        toks = re.findall(r"[a-z0-9]+", t.lower())
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: sh(t) for i, t in enumerate(texts)}
    expect = {}
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i < j and (sets[i] or sets[j]):
                inter = len(sets[i] & sets[j])
                union = len(sets[i] | sets[j])
                if union and inter / union >= 0.5:
                    expect[(i, j)] = inter / union
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.dedup_ngram_jaccard(_docs_df(spark, texts)).collect()
    }
    assert got.keys() == expect.keys()
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)


def test_jaccard_df_cap_bounds_pairs_per_shingle(spark):
    """Law: with df_cap=c, a shingle shared by d > c documents generates
    zero pairs (the group is dropped), so worst-case pair output is bounded
    by c(c-1)/2 per shingle instead of d(d-1)/2 — the 100 TB stop-shingle
    guard. Docs glued ONLY by the capped shingle must vanish from the
    output; docs whose similarity survives on other shingles must not."""
    from kdb_spark.llm import dedup as dd

    stop = "the quick brown"  # one shared 3-gram across every doc
    texts = [f"{stop} fox {i} jumps high" for i in range(6)]
    # identical twin pair: similar far beyond the stop shingle
    texts += ["alpha beta gamma delta epsilon zeta", "alpha beta gamma delta epsilon zeta"]
    df = _docs_df(spark, texts)
    uncapped = dd.dedup_ngram_jaccard(df, threshold=0.01)
    capped = dd.dedup_ngram_jaccard(df, threshold=0.01, df_cap=3)
    # stop-shingle df=6 > 3: the 15 stop-glued pairs disappear...
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (6, 7) in got  # ...but the twins (glued by df=1 shingles) remain
    assert all(a >= 6 for a, b in got), got
    # and without the cap the stop-glued pairs do exist (sanity of setup)
    assert {(r.doc_a, r.doc_b) for r in uncapped.collect()} > got


def test_jaccard_rejects_doc_id_beyond_32bit_pack(spark):
    """A doc_id >= 2^32 cannot be packed into the high 32 bits without
    collision — the job must fail loudly, not corrupt pairs silently."""
    import pytest

    from kdb_spark.llm import dedup as dd

    df = spark.createDataFrame(
        [(1 << 32, "alpha beta gamma delta"), (3, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="32-bit pack range"):
        dd.dedup_ngram_jaccard(df, threshold=0.01).collect()


def test_waiting_supplier_rejects_suppkey_beyond_31bit_pack(spark):
    """sql_waiting_supplier packs epoch seconds << 31 | suppkey; a suppkey
    outside [0, 2^31) would alias another supplier, so the job must fail
    loudly."""
    import pytest

    from kdb_spark.analytics import aggregations as agg

    li = spark.sql(
        "SELECT l_orderkey, l_suppkey, TIMESTAMP_NTZ'1995-01-01 00:00:00' AS l_shipdate"
        " FROM VALUES (1L, 2147483648L), (1L, 3L) AS t(l_orderkey, l_suppkey)"
    )
    sup = spark.sql("SELECT 3L AS s_suppkey, 's3' AS s_name")
    with pytest.raises(Exception, match="31-bit pack range"):
        agg.sql_waiting_supplier(sup, li).collect()


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    points=st.lists(
        st.tuples(st.integers(0, 23), st.integers(0, 10_000)),
        min_size=1,
        max_size=30,
    )
)
def test_interpolate_laws(spark, points):
    """Laws: observed slots pass through exactly; interior gaps are convex
    combinations of (and bounded by) their neighbors; slots outside the
    observed span stay NULL; output is exactly one row per grid slot."""
    HOUR = 3_600_000_000
    from kdb_spark.analytics.windows import win_interpolate

    rows = [
        (i, h * HOUR + 7, 1, float(c) / 100, "x")
        for i, (h, c) in enumerate(points)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_us long, user_id long, value double, event_type string"
    )
    out = {
        r["slot_us"]: r["value_c"]
        for r in win_interpolate(df, 0, 24 * HOUR, HOUR).collect()
    }
    assert len(out) == 24
    by_slot = {}
    for h, c in points:
        by_slot.setdefault(h * HOUR, []).append(c)
    known = {s: sum(cs) / len(cs) for s, cs in by_slot.items()}
    lo, hi = min(known), max(known)
    for s, v in known.items():
        assert abs(out[s] - round(v, 4)) < 1e-9, (s, out[s], v)
    for s, v in out.items():
        if s < lo or s > hi:
            assert v is None, (s, v)
        elif s not in known:
            prev = max(k for k in known if k < s)
            nxt = min(k for k in known if k > s)
            lo_v, hi_v = sorted((known[prev], known[nxt]))
            assert lo_v - 1e-6 <= v <= hi_v + 1e-6, (s, v)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 50),          # ts slot
            st.integers(0, 3),           # user
            st.integers(-100, 100),      # value
        ),
        min_size=1,
        max_size=40,
    )
)
def test_moving_median_matches_bruteforce(spark, pts):
    """Law: win_moving_median over (user, ts, event_id) row frames equals a
    per-row numpy median of the trailing k+1 rows in the same order."""
    import statistics

    from kdb_spark.analytics import windows as wn

    rows = [
        (i, int(u), int(t) * 1_000_000, float(v))
        for i, (t, u, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, value double"
    )
    got = {
        r.event_id: r.mmed
        for r in wn.win_moving_median(df, k=4).collect()
    }
    series: dict[int, list] = {}
    for eid, u, ts, v in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        hist = series.setdefault(u, [])
        hist.append(v)
        expect = round(statistics.median(hist[-5:]), 4)
        assert abs(got[eid] - expect) < 1e-9, (eid, got[eid], expect)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 100),                  # ts slot
            st.integers(0, 2),                    # user
            st.sampled_from(["error", "click"]),
            st.integers(-50, 50),                 # value
        ),
        min_size=1,
        max_size=40,
    )
)
def test_window_join_matches_bruteforce(spark, pts):
    """Law: join_window(w) returns one row per error probe with the exact
    count/avg of same-user clicks in [t-w, t+w) — including count 0 —
    identical to an all-pairs python computation."""
    from kdb_spark.analytics import joins as jn

    W = 10 * 1_000_000
    rows = [
        (i, int(u), et, int(t) * 1_000_000, float(v))
        for i, (t, u, et, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    got = {
        r.event_id: (r.n_in_win, r.avg_in_win)
        for r in jn.join_window(df, width_us=W).collect()
    }
    probes = [r for r in rows if r[2] == "error"]
    assert set(got) == {r[0] for r in probes}
    for eid, u, _, ts, _ in probes:
        hits = [
            v for (_, cu, cet, cts, v) in rows
            if cet == "click" and cu == u and ts - W <= cts < ts + W
        ]
        n, avg = got[eid]
        assert n == len(hits), (eid, n, len(hits))
        if hits:
            assert abs(avg - round(sum(hits) / len(hits), 4)) < 1e-9
        else:
            assert avg is None


def test_window_join_counts_null_value_clicks(spark):
    """An in-window click whose value is NULL must still count toward
    n_in_win — the window predicate, not value presence, gates the count
    (matching SQL count(click_ts)); avg is over the values that exist."""
    from kdb_spark.analytics import joins as jn

    W = 10 * 1_000_000
    rows = [
        (0, 1, "error", 50_000_000, None),
        (1, 1, "click", 52_000_000, None),  # in window, NULL value
        (2, 1, "click", 55_000_000, 4.0),  # in window, valued
        (3, 1, "click", 99_000_000, 7.0),  # outside window
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    [r] = jn.join_window(df, width_us=W).collect()
    assert (r.n_in_win, r.avg_in_win) == (2, 4.0)


# ------------------------------------------------------------ BMP codec


@given(
    w=st.integers(1, 9),
    h=st.integers(1, 6),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_bmp_roundtrip_identity(w, h, seed):
    """decode(encode(x)) == x for arbitrary dimensions (every padding class)
    and arbitrary pixel bytes — pure-python, no Spark session needed."""
    import numpy as np

    from kdb_spark.llm import multimodal as mm

    px = np.random.RandomState(seed).randint(0, 256, size=(h, w, 3)).astype(np.uint8)
    out = mm.decode_bmp(mm.encode_bmp(px))
    assert out.shape == (h, w, 3) and (out == px).all()


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=doc_strategy)
def test_cross_corpus_matches_bruteforce(spark, texts):
    """Law: dedup_cross_corpus emits exactly the per-incoming-doc rollup of
    the true cross-split jaccard pairs — LSH candidates + exact verify must
    equal brute force (16×2 banding recall at j>=0.5 is ~1 at these sizes),
    and no within-side pair may ever contribute."""
    import hashlib
    import re

    from kdb_spark.llm import dedup as dd

    def sh(t, n=3):
        toks = re.findall(r"[a-z0-9]+", t.lower())
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    def incoming(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100 < 20

    sets = {i: sh(t) for i, t in enumerate(texts) if sh(t)}
    expect = {}
    for i, si in sets.items():
        if not incoming(i):
            continue
        hits = []
        for j, sj in sets.items():
            if incoming(j):
                continue
            jac = len(si & sj) / len(si | sj)
            if jac >= 0.5:
                hits.append((j, jac))
        if hits:
            expect[i] = (
                len(hits),
                min(j for j, _ in hits),
                max(jac for _, jac in hits),
            )
    got = {
        r.doc_id: (r.n_dups, r.min_base, r.best_jaccard)
        for r in dd.dedup_cross_corpus(_docs_df(spark, texts)).collect()
    }
    assert got.keys() == expect.keys()
    for k, (n, mb, bj) in expect.items():
        assert got[k][0] == n and got[k][1] == mb
        assert abs(got[k][2] - bj) < 1e-12


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 60),     # ts slot
            st.integers(0, 2),      # user
            st.integers(-200, 200), # value in 0.25 steps → exact cents
        ),
        min_size=2,
        max_size=40,
        unique_by=lambda p: (p[0], p[1]),
    )
)
def test_twap_matches_bruteforce(spark, pts):
    """Law: agg_twap equals the hand-computed Σv·Δt/ΣΔt per series over the
    (ts, event_id) order, the last tick carries no weight, and twap always
    lies within [min, max] of the contributing values."""
    from kdb_spark.analytics import aggregations as agg

    rows = [
        (i, int(u), "a", v / 4.0, int(t) * 1_000_000)
        for i, (t, u, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, ts_us long"
    )
    got = {r.user_id: r for r in agg.agg_twap(df).collect()}
    series: dict[int, list] = {}
    for eid, u, _t, v, ts in sorted(rows, key=lambda r: (r[4], r[0])):
        series.setdefault(u, []).append((ts, round(v * 100)))
    for u, ticks in series.items():
        if len(ticks) < 2:
            assert u not in got
            continue
        num = sum(c * (ticks[i + 1][0] - ts) for i, (ts, c) in enumerate(ticks[:-1]))
        den = ticks[-1][0] - ticks[0][0]
        r = got[u]
        assert r.duration_us == den
        # The engine's round(…,4) is HALF_UP (Spark/DuckDB contract); Python's
        # built-in round() is banker's and disagrees exactly on .xxxx5 halves
        # (e.g. 2025000000/32000000 = 63.28125), so quantize HALF_UP here.
        want = float(
            Decimal(num / den).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )
        assert abs(r.twap_c - want) < 1e-9
        held = [c for _, c in ticks[:-1]]
        assert min(held) - 1e-9 <= r.twap_c <= max(held) + 1e-9


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=15,
    )
)
def test_pagerank_laws_on_symmetrized_graphs(spark, edges):
    """Laws on any symmetrized graph: ranks are positive, sum to ~1 (no
    dangling mass), and a higher-degree vertex never ranks below an
    otherwise-identical leaf (checked via the star components hypothesis
    tends to generate)."""
    from kdb_spark.analytics import graph as gr

    sym = sorted({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    df = spark.createDataFrame(sym, "src long, dst long")
    # keyed _reused cache would serve a stale persisted plan across examples
    from kdb_spark.llm.dedup import _REUSE_CACHE
    for k in ("pagerank_edges", "pagerank_contrib", "pagerank_base"):
        _REUSE_CACHE.pop(k, None)
    out = {r.v: (r.rank, r.out_deg) for r in gr.pagerank(df).collect()}
    n_v = len({v for e in sym for v in e})
    assert len(out) == n_v
    assert all(r > 0 for r, _ in out.values())
    assert abs(sum(r for r, _ in out.values()) - 1.0) < 1e-6
    degs = {v: d for v, (_, d) in out.items()}
    assert degs == {v: sum(1 for s, _ in sym if s == v) for v in out}


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=15,
    )
)
def test_pagerank_matches_bruteforce_on_directed_graphs(spark, edges):
    """Law on DIRECTED graphs (out-degree ≥ 1 contract enforced, in-degree-0
    sources allowed): pagerank equals the hand-iterated power method and
    Σrank = 1 exactly each run. This is the regression for the r8 bug where
    ranks were rebuilt from groupBy(dst) alone, silently dropping source-only
    vertices and leaking their (1-d)/N mass after round 1."""
    from kdb_spark.analytics import graph as gr
    from kdb_spark.llm.dedup import _REUSE_CACHE

    es = sorted({(a, b) for a, b in edges})
    verts = sorted({v for e in es for v in e})
    # enforce the caller contract: every vertex has out-degree >= 1, without
    # symmetrizing (so hypothesis still reaches in-degree-0 source vertices)
    srcs = {a for a, _ in es}
    for v in verts:
        if v not in srcs:
            es.append((v, min(u for u in verts if u != v)) if len(verts) > 1
                      else (v, v + 1))
    es = sorted(set(es))
    verts = sorted({v for e in es for v in e})
    n = len(verts)
    deg = {v: sum(1 for s, _ in es if s == v) for v in verts}
    rank = {v: 1.0 / n for v in verts}
    for _ in range(3):
        inflow = {v: 0.0 for v in verts}
        for s, d in es:
            inflow[d] += rank[s] / deg[s]
        rank = {v: (1.0 - 0.85) / n + 0.85 * inflow[v] for v in verts}

    for k in ("pagerank_edges", "pagerank_contrib", "pagerank_base"):
        _REUSE_CACHE.pop(k, None)
    df = spark.createDataFrame(es, "src long, dst long")
    out = {r.v: (r.rank, r.out_deg) for r in gr.pagerank(df).collect()}
    assert set(out) == set(verts)  # source-only vertices must survive
    assert abs(sum(r for r, _ in out.values()) - 1.0) < 1e-6
    for v in verts:
        assert out[v][1] == deg[v]
        assert abs(out[v][0] - rank[v]) < 1e-8


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=doc_strategy)
def test_decontaminate_fuzzy_matches_bruteforce(spark, texts):
    """Law: decontaminate_fuzzy equals the brute-force cross-split rollup at
    the LOWER j>=0.3 threshold (the 32x1 banding the op re-tunes to), with
    roles flipped vs dedup_cross_corpus: reported docs are TRAIN side,
    matches are TEST side, no within-side pair contributes."""
    import hashlib
    import re

    from kdb_spark.llm import dedup as dd

    def sh(t, n=3):
        toks = re.findall(r"[a-z0-9]+", t.lower())
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    def is_test(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100 < 20

    sets = {i: sh(t) for i, t in enumerate(texts) if sh(t)}
    expect = {}
    for i, si in sets.items():
        if is_test(i):
            continue
        hits = [
            (j, len(si & sj) / len(si | sj))
            for j, sj in sets.items()
            if is_test(j) and len(si & sj) / len(si | sj) >= 0.3
        ]
        if hits:
            expect[i] = (len(hits), min(j for j, _ in hits),
                         max(jac for _, jac in hits))
    got = {
        r.doc_id: (r.n_test_matches, r.min_test_id, r.best_jaccard)
        for r in dd.decontaminate_fuzzy(_docs_df(spark, texts)).collect()
    }
    assert got.keys() == expect.keys()
    for k, (n, mt, bj) in expect.items():
        assert got[k][0] == n and got[k][1] == mt
        assert abs(got[k][2] - bj) < 1e-12


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 80),     # ts slot
            st.integers(0, 2),      # user
            st.integers(-400, 400), # quarter-unit values → exact cents
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda p: (p[0], p[1]),
    )
)
def test_hampel_matches_bruteforce(spark, pts):
    """Law: win_hampel's frame median/MAD equal a per-row numpy median over
    the trailing k+1 cents, and the spike flag follows the documented
    3-MAD rule with the zero-MAD any-move convention."""
    import statistics

    from kdb_spark.analytics import windows as wn

    rows = [
        (i, int(u), "a", v / 4.0, int(t) * 1_000_000)
        for i, (t, u, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, ts_us long"
    )
    got = {r.event_id: r for r in wn.win_hampel(df, k=4).collect()}
    series: dict[int, list] = {}
    for eid, u, _t, v, ts in sorted(rows, key=lambda r: (r[4], r[0])):
        hist = series.setdefault(u, [])
        hist.append(round(v * 100))
        frame = hist[-5:]
        med = statistics.median(frame)
        mad = statistics.median([abs(x - med) for x in frame])
        dev = abs(frame[-1] - med)
        expect_spike = (dev > 3.0 * mad) if mad > 0 else (dev > 0)
        r = got[eid]
        assert abs(r.med - round(med / 100, 6)) < 1e-9
        assert abs(r.mad - round(mad / 100, 6)) < 1e-9
        assert r.is_spike == expect_spike, (eid, frame)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 80),
            st.integers(0, 1),
            st.integers(-400, 400),
        ),
        min_size=2,
        max_size=30,
        unique_by=lambda p: (p[0], p[1]),
    )
)
def test_bollinger_matches_bruteforce(spark, pts):
    """Law: win_bollinger's mid/σ equal the trailing-frame mean and sample
    stdev of the cents, and the band flag uses the exact cents compare."""
    import statistics

    from kdb_spark.analytics import windows as wn

    rows = [
        (i, int(u), "a", v / 4.0, int(t) * 1_000_000)
        for i, (t, u, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, ts_us long"
    )
    got = {r.event_id: r for r in wn.win_bollinger(df, k=4).collect()}
    series: dict[int, list] = {}
    for eid, u, _t, v, ts in sorted(rows, key=lambda r: (r[4], r[0])):
        hist = series.setdefault(u, [])
        c = round(v * 100)
        hist.append(c)
        frame = hist[-5:]
        mu = statistics.mean(frame)
        r = got[eid]
        assert abs(r.mid - round(mu / 100, 6)) < 1e-9
        if len(frame) < 2:
            assert r.band is None and r.upper is None
        else:
            sd = statistics.stdev(frame)
            assert abs(r.upper - round((mu + 2 * sd) / 100, 6)) < 1e-6
            expect = ("above" if c > mu + 2 * sd
                      else "below" if c < mu - 2 * sd else "in")
            assert r.band == expect, (eid, frame)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    items=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 5)),  # (order, part)
        min_size=1,
        max_size=40,
    )
)
def test_assoc_rules_match_bruteforce(spark, items):
    """Law: agg_assoc_rules equals the hand-computed support/confidence/lift
    over deduped baskets at min_pair=1 (so hypothesis-size inputs produce
    pairs), with n_total = the ORDER table row count (incl. empty baskets)."""
    from kdb_spark.analytics import behavior as bh

    n_orders = 10
    orders = spark.createDataFrame([(o,) for o in range(n_orders)], "o_orderkey long")
    li = spark.createDataFrame(
        [(o, p) for o, p in items], "l_orderkey long, l_partkey long"
    )
    got = {
        (r.a, r.b): r
        for r in bh.agg_assoc_rules(orders, li, min_pair=1, k=1000).collect()
    }
    baskets: dict[int, set] = {}
    for o, p in items:
        baskets.setdefault(o, set()).add(p)
    from collections import Counter
    item_n = Counter(p for s in baskets.values() for p in s)
    pair_n = Counter(
        (a, b)
        for s in baskets.values()
        for a in s
        for b in s
        if a < b
    )
    assert set(got) == set(pair_n)
    for (a, b), nb in pair_n.items():
        r = got[(a, b)]
        na, nbq = item_n[a], item_n[b]
        assert (r.n_both, r.n_a, r.n_b) == (nb, na, nbq)
        assert abs(r.support - round(nb / n_orders, 6)) < 1e-12
        assert abs(r.conf_a_b - round(nb / na, 6)) < 1e-12
        assert abs(r.conf_b_a - round(nb / nbq, 6)) < 1e-12
        assert abs(r.lift - round(nb * n_orders / (na * nbq), 6)) < 1e-12


def test_assoc_rules_max_basket_noop_when_cap_exceeds_baskets(spark):
    """A cap at least as large as every basket must be byte-identical to the
    uncapped path (the cap branch runs, drops nothing)."""
    from kdb_spark.analytics import behavior as bh

    orders = spark.createDataFrame([(o,) for o in range(4)], "o_orderkey long")
    li = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 1), (1, 2), (2, 2), (2, 3), (3, 9)],
        "l_orderkey long, l_partkey long",
    )
    plain = sorted(map(tuple, bh.agg_assoc_rules(orders, li, min_pair=1).collect()))
    capped = sorted(
        map(tuple, bh.agg_assoc_rules(orders, li, min_pair=1, max_basket=3).collect())
    )
    assert capped == plain and len(plain) == 3


def test_assoc_rules_max_basket_caps_pairs_keeps_uncapped_marginals(spark):
    """Capping keeps each basket's ``max_basket`` LOWEST part keys for pair
    formation only: basket {1,2,3} at cap=2 contributes just (1,2), while
    n_a/n_b (confidence denominators) still come from the uncapped
    incidence — and the drop is deterministic under repartitioning."""
    from kdb_spark.analytics import behavior as bh

    orders = spark.createDataFrame([(o,) for o in range(2)], "o_orderkey long")
    li = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3)],
        "l_orderkey long, l_partkey long",
    )
    for nparts in (1, 7):
        rows = {
            (r.a, r.b): r
            for r in bh.agg_assoc_rules(
                orders, li.repartition(nparts), min_pair=1, max_basket=2
            ).collect()
        }
        # basket 0 capped to {1,2} -> (1,2); basket 1 untouched -> (2,3)
        assert set(rows) == {(1, 2), (2, 3)}
        r12, r23 = rows[(1, 2)], rows[(2, 3)]
        assert (r12.n_both, r12.n_a, r12.n_b) == (1, 1, 2)
        assert (r23.n_both, r23.n_a, r23.n_b) == (1, 2, 2)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 30),     # ts slot
            st.integers(0, 2),      # user
            st.integers(-200, 200), # value in 0.25 steps → exact cents
            st.integers(0, 5),      # volume k (0 exercises the null guard)
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda p: (p[0], p[1]),
    )
)
def test_vwap_matches_bruteforce(spark, pts):
    """Laws: agg_vwap equals hand-computed Σc·k/Σk per series, volume and
    tick counts are exact, a zero-volume series yields NULL vwap, and vwap
    lies within [min, max] cents of the ticks that carry volume."""
    from kdb_spark.analytics import aggregations as agg

    rows = [
        (i, int(u), "a", v / 4.0, '{"k": %d}' % k, int(t) * 1_000_000)
        for i, (t, u, v, k) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double,"
        " props string, ts_us long",
    )
    got = {r.user_id: r for r in agg.agg_vwap(df).collect()}
    series: dict[int, list] = {}
    for _eid, u, _t, v, props, _ts in rows:
        k = int(props.split(":")[1].rstrip("}"))
        series.setdefault(u, []).append((round(v * 100), k))
    for u, ticks in series.items():
        r = got[u]
        assert r.n_ticks == len(ticks)
        vol = sum(k for _, k in ticks)
        assert r.volume == vol
        if vol == 0:
            assert r.vwap_c is None
            continue
        num = sum(c * k for c, k in ticks)
        want = float(
            Decimal(num / vol).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )
        assert abs(r.vwap_c - want) < 1e-9
        held = [c for c, k in ticks if k > 0]
        assert min(held) - 1e-9 <= r.vwap_c <= max(held) + 1e-9


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 50),     # ts slot
            st.integers(-100, 100), # value in 0.25 steps
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda p: p[0],
    )
)
def test_donchian_matches_bruteforce(spark, pts):
    """Laws: hi/lo equal the trailing-20-row max/min of the series order,
    chan_pos is NULL exactly when the channel is flat, and otherwise lies
    in [0, 1] with the current value reproducing hi/lo at the extremes."""
    from kdb_spark.analytics import windows as wn

    rows = [
        (i, 1, "a", v / 4.0, int(t) * 1_000_000)
        for i, (t, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, ts_us long"
    )
    got = {r.event_id: r for r in wn.win_donchian(df).collect()}
    ordered = sorted(rows, key=lambda r: (r[4], r[0]))
    cs = [round(r[3] * 100) for r in ordered]
    for i, row in enumerate(ordered):
        frame = cs[max(0, i - 19) : i + 1]
        hi, lo = max(frame), min(frame)
        r = got[row[0]]
        assert abs(r.hi - hi / 100.0) < 1e-9 and abs(r.lo - lo / 100.0) < 1e-9
        if hi == lo:
            assert r.chan_pos is None
        else:
            want = float(
                Decimal((cs[i] - lo) / (hi - lo)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            assert abs(r.chan_pos - want) < 1e-9
            assert -1e-9 <= r.chan_pos <= 1 + 1e-9


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(-800, 800),  # value = k·0.25 → exact cents
        min_size=2,
        max_size=60,
    )
)
def test_skew_kurtosis_matches_bruteforce(spark, vals):
    """Law: agg_skew_kurtosis equals the numpy population moments of the
    SAME rounded-cents data, to the 1e-6 output rounding."""
    import numpy as np

    from kdb_spark.analytics import aggregations as agg

    rows = [
        (i, 1, "m", 1_000_000 * i, k * 0.25) for i, k in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    [r] = agg.agg_skew_kurtosis(df).collect()
    c = np.array([round(k * 0.25 * 100) for k in vals], dtype=float)
    m = c.mean()
    m2 = ((c - m) ** 2).mean()
    assert r.n == len(vals)
    assert abs(r.mean - m / 100.0) < 1.01e-4
    if m2 <= 0:
        assert r.skewness is None and r.kurtosis_excess is None
    else:
        skew = ((c - m) ** 3).mean() / m2**1.5
        kurt = ((c - m) ** 4).mean() / m2**2 - 3.0
        # Cancellation-aware tolerance (r12, hypothesis-found at
        # vals=[313, 314]): the operator computes RAW-moment algebra in
        # doubles (the expression both engines share verbatim — the parity
        # contract), so when |mean| >> spread the m⁴-scale terms cancel to
        # an O(m2²) result and the error floor is ~eps·(Σc⁴/n)/m2^p, not
        # 1e-5. numpy's centered form here is the stable one; the gap
        # between the two formulations is bounded below.
        eps = 2.3e-15  # ~10 double ulps of headroom per cancelled term
        tol3 = 1e-5 + eps * float((np.abs(c) ** 3).mean()) / m2**1.5
        tol4 = 1e-5 + eps * float((c**4).mean()) / m2**2
        assert abs(r.skewness - skew) < tol3, (r.skewness, skew, tol3)
        assert abs(r.kurtosis_excess - kurt) < tol4, (r.kurtosis_excess, kurt, tol4)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cents_vals=st.lists(st.integers(1, 1_000_000), min_size=1, max_size=60)
)
def test_hdr_histogram_percentile_law(spark, cents_vals):
    """Law: each pN_bucket is the smallest log2 bucket whose cumulative
    count reaches N% of the series — checked against brute force on the
    exact cents, and the true exact percentile value always falls inside
    [2^b, 2^(b+1)) of its reported bucket."""
    from kdb_spark.analytics import aggregations as agg

    rows = [
        (i, 1, "m", 1_000_000 * i, c / 100.0)
        for i, c in enumerate(cents_vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    [r] = agg.agg_hdr_histogram(df).collect()
    buckets = sorted(c.bit_length() - 1 for c in cents_vals)
    n = len(buckets)

    def law(q):
        need = q * n  # cum·100 >= q·n  ⇔  100·rank >= q·n
        for i, b in enumerate(buckets, start=1):
            if i * 100 >= need:
                return b
        raise AssertionError

    assert (r.n, r.p50_bucket, r.p95_bucket, r.p99_bucket) == (
        n, law(50), law(95), law(99),
    )
    # the reported bucket must bracket the true exact percentile sample
    svals = sorted(cents_vals)
    for q, b in ((50, r.p50_bucket), (95, r.p95_bucket), (99, r.p99_bucket)):
        import math

        exact = svals[math.ceil(q * n / 100) - 1]
        assert 2**b <= exact < 2 ** (b + 1)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 400),    # hour index
            st.integers(-800, 800), # value = k·0.25 → exact cents
        ),
        min_size=2,
        max_size=50,
    )
)
def test_linreg_matches_bruteforce(spark, pts):
    """Law: agg_linreg equals numpy's closed-form OLS on the same
    (hour, cents) points, to the output rounding; a degenerate x-column
    (all one hour) yields nulls."""
    import numpy as np

    from kdb_spark.analytics import aggregations as agg

    HOUR_US = 3_600_000_000
    rows = [
        (i, 1, "m", h * HOUR_US, k * 0.25) for i, (h, k) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    [r] = agg.agg_linreg(df).collect()
    x = np.array([h for h, _ in pts], dtype=float)
    y = np.array([round(k * 0.25 * 100) for _, k in pts], dtype=float)
    n = len(pts)
    det = n * (x * x).sum() - x.sum() ** 2
    assert r.n == n
    if det <= 0:
        assert r.slope_per_hour is None and r.intercept is None
    else:
        slope = (n * (x * y).sum() - x.sum() * y.sum()) / det
        inter = (y.sum() - slope * x.sum()) / n
        assert abs(r.slope_per_hour - slope / 100.0) < 1e-5
        assert abs(r.intercept - inter / 100.0) < 1.01e-4


def test_sq8_quantization_error_bound(spark):
    """Law: SQ8 codes stay in [0, 255] (code_sum ≤ 255·d) and the
    reconstruction MSE respects the hard half-step bound
    mse ≤ (range/510)² for every vector."""
    from kdb_spark.llm import similarity as sim
    from kdb_spark.tables import load
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    d = emb.selectExpr("size(embedding) d").first().d
    for r in sim.emb_quantize_sq8(emb).collect():
        assert 0 <= r.code_sum <= 255 * d
        half_step = (r.hi - r.lo) / 510.0
        assert r.mse <= half_step * half_step + 1e-12


def test_benford_frequencies_are_a_distribution(spark):
    """Law: per series, observed digit counts sum to n and the pinned
    Benford expectations sum to 1 (they're log10(1+1/d))."""
    import math

    from kdb_spark.analytics import aggregations as agg
    from kdb_spark.tables import events_us
    from tests.conftest import SF_DIR

    assert abs(sum(agg.BENFORD_P.values()) - 1.0) < 1e-12
    for d, p in agg.BENFORD_P.items():
        assert abs(p - math.log10(1 + 1 / d)) < 1e-15
    rows = agg.agg_benford(events_us(spark, SF_DIR)).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for t, rs in by_type.items():
        assert sum(r.n_d for r in rs) == rs[0].n
        assert {r.digit for r in rs} <= set(range(1, 10))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    xs=st.lists(st.integers(1, 40), min_size=1, max_size=30),
    ys=st.lists(st.integers(1, 40), min_size=1, max_size=30),
)
def test_ks_test_matches_bruteforce(spark, xs, ys):
    """Law: agg_ks_test's d equals the brute-force sup of
    |F_a(v)·n_a·n_b − F_b(v)·n_a·n_b| over all pooled values, rounded
    half-up to the 1e-6 grid EXACTLY (integer-space round, no float
    tolerance). The raw d_num diagnostic was dropped from the output in
    r11 (it carried an int64 ceiling the statistic itself does not)."""
    from kdb_spark.analytics import aggregations as agg

    rows = [
        (i, 1, "a", 1_000_000 * i, c / 100.0) for i, c in enumerate(xs)
    ] + [
        (10_000 + i, 1, "b", 1_000_000 * i, c / 100.0)
        for i, c in enumerate(ys)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    out = agg.agg_ks_test(df)
    assert "d_num" not in out.columns
    [r] = out.collect()
    na, nb = len(xs), len(ys)
    want = max(
        abs(
            sum(1 for x in xs if x <= v) * nb
            - sum(1 for y in ys if y <= v) * na
        )
        for v in set(xs) | set(ys)
    )
    assert (r.type_a, r.type_b, r.n_a, r.n_b) == ("a", "b", na, nb)
    want6 = (2 * 10**6 * want + na * nb) // (2 * na * nb)
    assert r.d == want6 / 1e6


def test_ks_test_d_formula_past_int64_ceiling(spark):
    """The d-statistic select compiles pure decimal(38,0) arithmetic, so
    it must stay exact where n_a·n_b (and d_num itself) exceed the int64
    max — the regime the dropped bigint diagnostic could not reach.
    Evaluates the operator's exact SQL fragment on literal magnitudes."""
    na = nb = 3_500_000_000  # n_a·n_b = 1.225e19 > 9.2e18 (int64 max)
    d_num = 9_500_000_000_000_000_000  # |diff| itself above int64 max
    [r] = spark.sql(
        f"SELECT CAST((2000000 * CAST({d_num} AS DECIMAL(38,0))"
        f" + CAST({na} AS DECIMAL(38,0)) * CAST({nb} AS DECIMAL(38,0)))"
        f" DIV (2 * CAST({na} AS DECIMAL(38,0))"
        f"      * CAST({nb} AS DECIMAL(38,0))) AS BIGINT) AS d6"
    ).collect()
    want6 = (2 * 10**6 * d_num + na * nb) // (2 * na * nb)
    assert r.d6 == want6


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    acts=st.lists(
        st.tuples(st.integers(1, 6), st.integers(0, 45)),  # (user, day)
        min_size=1,
        max_size=40,
    ),
)
def test_dau_mau_laws(spark, acts):
    """Laws: dau ≤ mau (the window contains its own day) so stickiness ≤ 1;
    per-day dau equals the distinct users that day; mau equals the brute
    distinct over the trailing 30 days; event multiplicity is irrelevant."""
    from kdb_spark.analytics import aggregations as agg
    from kdb_spark.llm import dedup as dd

    D = 86_400_000_000
    rows = [
        (i, u, "view", 1.0, d * D + (i % 3))  # duplicates within a day too
        for i, (u, d) in enumerate(acts)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, ts_us long"
    )
    dd._REUSE_CACHE.pop("dau_mau_incidence", None)
    out = {r.day: r for r in agg.agg_dau_mau(df).collect()}
    byday = {}
    for u, d in acts:
        byday.setdefault(d, set()).add(u)
    assert set(out) == set(byday)
    for d, users in byday.items():
        r = out[d]
        assert r.dau == len(users)
        want_mau = len(set().union(*[byday.get(x, set())
                                     for x in range(d - 29, d + 1)]))
        assert r.mau == want_mau
        assert r.dau <= r.mau and 0.0 < r.stickiness <= 1.0


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ca=st.lists(st.integers(0, 20), min_size=2, max_size=4),
    cb=st.lists(st.integers(0, 20), min_size=2, max_size=4),
)
def test_chi2_drift_matches_bruteforce(spark, ca, cb):
    """Law: agg_chi2_drift equals the textbook Σ(O−E)²/E to the 1e-6 grid,
    is non-negative, and is zero iff the two lang distributions are
    proportional."""
    from kdb_spark.analytics import aggregations as agg

    L = max(len(ca), len(cb))
    ca = (ca + [0] * L)[:L]
    cb = (cb + [0] * L)[:L]
    # a lang absent from BOTH sides contributes no cell
    if sum(ca) == 0 or sum(cb) == 0:
        return
    rows, i = [], 0
    for l in range(L):
        for _ in range(ca[l]):
            rows.append((i, "t", f"l{l}", "A", 1)); i += 1
        for _ in range(cb[l]):
            rows.append((i, "t", f"l{l}", "B", 1)); i += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    [r] = agg.agg_chi2_drift(df).collect()
    na, nb = sum(ca), sum(cb)
    want = 0.0
    for l in range(L):
        col = ca[l] + cb[l]
        if col == 0:
            continue
        t = na + nb
        for o, n in ((ca[l], na), (cb[l], nb)):
            e = n * col / t
            want += (o - e) ** 2 / e
    assert r.chi2 >= 0.0
    assert abs(r.chi2 - want) <= 2e-6
    if all(ca[l] * nb == cb[l] * na for l in range(L)):
        assert r.chi2 == 0.0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(
            # ±10^17 numerators: at k=6 the grid reaches 10^23 — PAST the
            # old DIV device's 2^63 wrap boundary, exercising the r12
            # decimal floor-division domain
            st.integers(-(10**17), 10**17),  # numerators, signed
            st.integers(1, 10**12),          # denominators, positive
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.sampled_from([4, 6]),
)
def test_integer_round_device_is_half_away_from_zero(spark, pairs, k):
    """Law for the repo's cross-engine rounding device (used by every
    hardened ratio contract), r12 decimal floor-division form
    (kdb_spark/analytics/exact.py): sign(num) ·
    floor((2·10^k·|num| + den) / (2·den)) carried exactly in decimal
    equals decimal round-half-away-from-zero of num/den at k digits, for
    any signed numerator and positive denominator with grid values up to
    the 32 integer digits of decimal(38,6) — including exact half
    boundaries, where round(double, k) would be engine-dependent (the r9
    win_macd failure), and including grids PAST 2^63, where the pre-r12
    DIV device silently wrapped (hypothesis found that; the decimal form
    deleted the limit)."""
    from kdb_spark.analytics.exact import iround_grid_sql

    df = spark.createDataFrame(pairs, "num long, den long")
    scale = 10**k
    got = df.selectExpr(
        "num", "den", iround_grid_sql("num", "den", k) + " AS r"
    ).collect()
    for row in got:
        want = int(
            (Decimal(row.num) * scale / Decimal(row.den)).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )
        assert int(row.r) == want, (row.num, row.den, k, row.r, want)


def test_integer_round_device_exact_half_boundaries(spark):
    """Pinned half-boundary cases: num/den landing exactly on x.00005 /
    x.5-grid points must round AWAY from zero in the device — these are
    the inputs where Spark's and DuckDB's round(double, k) disagree."""
    from kdb_spark.analytics.exact import iround_grid_sql

    cases = [(1, 2), (-1, 2), (3, 2), (-3, 2), (25, 1000), (-25, 1000), (125, 10000)]
    df = spark.createDataFrame(cases, "num long, den long")
    got = {
        (r.num, r.den): int(r.r)
        for r in df.selectExpr(
            "num", "den", iround_grid_sql("num", "den", 6) + " AS r"
        ).collect()
    }
    assert got[(1, 2)] == 500000 and got[(-1, 2)] == -500000
    assert got[(3, 2)] == 1500000 and got[(-3, 2)] == -1500000
    assert got[(25, 1000)] == 25000 and got[(-25, 1000)] == -25000
    assert got[(125, 10000)] == 12500


def test_integer_round_device_decimal_domain(spark):
    """The r12 decimal floor-division device is EXACT past the old DIV
    form's 2^63 grid wrap (the r11-pinned boundary at num=9223372036855,
    den=1, k=6 — hypothesis-found): the quotient now rides decimal(38,6)
    end to end, so the former first-wrapping input and magnitudes orders
    beyond it produce the true grid value. The new ceiling is the 32
    integer digits of decimal(38,6) (|num/den| < 10^26 at k=6), past
    which Spark errors (ANSI) / NULLs (non-ANSI) LOUDLY instead of
    wrapping — no silent-wrap domain remains to pin."""
    from kdb_spark.analytics.exact import iround_grid_sql

    # the exact input that wrapped under the old device
    [r] = spark.sql(
        "SELECT " + iround_grid_sql("CAST(9223372036855 AS BIGINT)", "1", 6) + " AS g"
    ).collect()
    assert int(r.g) == 9223372036855 * 10**6
    # three orders of magnitude past the old boundary, negative numerator,
    # non-trivial denominator (grid value ≈ -4.5e21 — exact in decimal)
    [r2] = spark.sql(
        "SELECT "
        + iround_grid_sql("CAST(-9000000000000001 AS BIGINT)", "2", 6)
        + " AS g"
    ).collect()
    want = int(
        (Decimal(-9000000000000001) * 10**6 / Decimal(2)).quantize(
            Decimal(1), rounding=ROUND_HALF_UP
        )
    )
    assert int(r2.g) == want == -4500000000000000500000


def _duck_events(rows):
    """The hypothesis event rows as a DuckDB connection with an `events`
    view carrying ts_us directly (the sf tables derive it via epoch_us)."""
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "value", "ts_us"]
    )
    con = duckdb.connect()
    con.register("events", pdf)
    return con


def _assert_bitwise(spark_rows, duck_df, key_cols, val_cols):
    """Order-insensitive BITWISE comparison of Spark rows vs a DuckDB
    pandas frame: None==None (DuckDB surfaces NULL doubles as NaN through
    pandas), everything else by ``==`` — at 6dp-grid magnitudes that means
    bit-identical doubles, the driver's hash contract."""
    a = sorted(
        (tuple(r[c] for c in key_cols), tuple(r[c] for c in val_cols))
        for r in spark_rows
    )
    b = sorted(
        (
            tuple(rec[c] for c in key_cols),
            tuple(None if v is None or v != v else v for v in (rec[c] for c in val_cols)),
        )
        for rec in duck_df.to_dict("records")
    )
    assert len(a) == len(b), (len(a), len(b))
    for (ka, va), (kb, vb) in zip(a, b):
        assert ka == kb, (ka, kb)
        assert va == vb, (ka, va, vb)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 80),      # minute slot -> ts
            st.integers(0, 1),       # user
            st.integers(-400, 400),  # quarter-dollar value
        ),
        min_size=2,
        max_size=30,
        unique_by=lambda p: (p[0], p[1]),
    )
)
def test_bollinger_cross_engine_bitwise(spark, pts):
    """r12 (VERDICT item 7): win_bollinger's variance leg is integer-moment
    — exact bigint window sums (Σc, Σc², n) feeding ONE shared double
    expression — so Spark and DuckDB must agree BITWISE on mid/upper/lower
    and the band flag for ARBITRARY inputs, not merely within tolerance
    (the brute-force law above uses 1e-9/1e-6 slack and cannot see an
    engine-rounding flip; this is the cross-engine treatment the r11
    rounding device got). The DuckDB side is the registered oracle
    derivation verbatim, with epoch_us(ts) inlined to ts_us."""
    from kdb_spark.analytics import windows as wn

    rows = [
        (i, int(u), "a", v / 4.0, int(t) * 60_000_000)
        for i, (t, u, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double, ts_us long",
    )
    got = wn.win_bollinger(df, k=4).collect()
    con = _duck_events(rows)
    want = con.execute(
        """
        WITH m AS (
          SELECT event_id, user_id, event_type, value,
                 CAST(round(value * 100) AS BIGINT) AS c,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) AS s1,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)
                          * CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) AS s2,
                 CAST(count(*) OVER w AS DOUBLE) AS n
          FROM events
          WINDOW w AS (PARTITION BY user_id, event_type
                       ORDER BY ts_us, event_id
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
        b AS (
          SELECT event_id, user_id, event_type, value, c, s1 / n AS mu_c,
                 CASE WHEN n > 1.0
                      THEN sqrt((s2 - s1 * s1 / n) / (n - 1.0)) END AS sd_c
          FROM m)
        SELECT event_id, user_id, event_type, value,
               round(mu_c / 100.0, 6) AS mid,
               round((mu_c + 2.0 * sd_c) / 100.0, 6) AS upper,
               round((mu_c - 2.0 * sd_c) / 100.0, 6) AS lower,
               CASE WHEN sd_c IS NULL THEN NULL
                    WHEN CAST(c AS DOUBLE) > mu_c + 2.0 * sd_c THEN 'above'
                    WHEN CAST(c AS DOUBLE) < mu_c - 2.0 * sd_c THEN 'below'
                    ELSE 'in' END AS band
        FROM b
        """
    ).df()
    con.close()
    _assert_bitwise(
        got, want, ["event_id"], ["user_id", "event_type", "value", "mid", "upper", "lower", "band"]
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 5),       # hour bucket
            st.integers(0, 59),      # minute within the hour
            st.integers(0, 1),       # event_type selector
            st.integers(-400, 400),  # quarter-dollar value
        ),
        min_size=2,
        max_size=30,
        unique_by=lambda p: (p[0], p[1], p[2]),
    )
)
def test_keltner_cross_engine_bitwise(spark, pts):
    """r12 (VERDICT item 7): win_keltner's smoothing legs are fully
    integer-moment (exact OHLC cent picks → bigint EWMA lag-chain folds →
    the decimal floor-division round(6) device), so Spark and DuckDB must
    agree BITWISE on middle/upper/lower for arbitrary bar shapes including
    series heads (renormalized EWMA) and single-row bars (range 0). The
    DuckDB side regenerates the registered oracle from the SAME
    ewma_weights_int literals."""
    from kdb_spark.analytics import windows as wn

    rows = [
        (
            i,
            0,
            "ab"[ty],
            v / 4.0,
            int(h) * 3_600_000_000 + int(m) * 60_000_000,
        )
        for i, (h, m, ty, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double, ts_us long",
    )
    got = wn.win_keltner(df).collect()

    def ew(col):
        num = " + ".join(
            f"coalesce(lag({col}, {k}) OVER w, 0) * {wk}::HUGEINT"
            for k, wk in enumerate(wn.ewma_weights_int(0.25))
        )
        den = " + ".join(
            f"(CASE WHEN lag({col}, {k}) OVER w IS NOT NULL"
            f" THEN {wk}::HUGEINT ELSE 0::HUGEINT END)"
            for k, wk in enumerate(wn.ewma_weights_int(0.25))
        )
        return num, den

    def idiv6(num, den):
        return (
            f"CAST((CASE WHEN ({num}) < 0 THEN -1 ELSE 1 END)"
            f" * ((2000000 * abs({num}) + ({den})) // (2 * ({den})))"
            f" AS DOUBLE) / 1e6"
        )

    nt, dt = ew("t3")
    nr, _ = ew("rngc")
    con = _duck_events(rows)
    want = con.execute(
        f"""
        WITH bars AS (
          SELECT event_type,
                 ts_us - ts_us % 3600000000 AS hour_us,
                 CAST(round(max(value) * 100) AS BIGINT) AS hc,
                 CAST(round(min(value) * 100) AS BIGINT) AS lc,
                 CAST(round(last(value ORDER BY ts_us, event_id) * 100)
                      AS BIGINT) AS cc
          FROM events GROUP BY 1, 2),
        t AS (
          SELECT event_type, hour_us,
                 hc + lc + cc AS t3, hc - lc AS rngc
          FROM bars),
        e AS (
          SELECT event_type, hour_us,
                 ({nt}) AS nt, ({nr}) AS nr, ({dt}) AS dt
          FROM t
          WINDOW w AS (PARTITION BY event_type ORDER BY hour_us))
        SELECT event_type, hour_us,
               {idiv6("nt", "300 * dt")} AS middle,
               {idiv6("1000 * nt + 6000 * nr", "300000 * dt")} AS upper,
               {idiv6("1000 * nt - 6000 * nr", "300000 * dt")} AS lower
        FROM e
        """
    ).df()
    con.close()
    _assert_bitwise(
        got, want, ["event_type", "hour_us"], ["middle", "upper", "lower"]
    )


def _iround_py(num: int, den: int, k: int = 6) -> float:
    """Python twin of the repo's rounding device (exact, half-away)."""
    s = -1 if num < 0 else 1
    grid = s * ((2 * 10**k * abs(num) + den) // (2 * den))
    return float(grid) / 10**k


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    toks=st.lists(st.sampled_from(["a", "b", "c", "zz", "q9"]), min_size=0, max_size=40)
)
def test_simpson_and_hapax_match_bruteforce(spark, toks):
    """Law: the run-length Simpson fold and the sorted-neighbour hapax scan
    equal the Counter-based definitions EXACTLY (including the device
    rounding), for arbitrary token multisets."""
    from collections import Counter

    from kdb_spark.llm import textstats as tx

    df = spark.createDataFrame([("d", " ".join(toks))], "doc_id string, text string")
    [s] = tx.text_simpson_diversity(df).collect()
    [h] = tx.text_hapax_ratio(df).collect()
    cnt = Counter(toks)
    n = len(toks)
    pairs = sum(c * (c - 1) // 2 for c in cnt.values())
    hapax = sum(1 for c in cnt.values() if c == 1)
    assert s.n_tokens == n and s.n_equal_pairs == pairs
    assert (h.n_tokens, h.n_types, h.n_hapax) == (n, len(cnt), hapax)
    if n > 1:
        assert s.simpson == _iround_py(2 * pairs, n * (n - 1))
        assert s.gini_simpson == _iround_py(n * (n - 1) - 2 * pairs, n * (n - 1))
    else:
        assert s.simpson is None and s.gini_simpson is None
    if len(cnt) > 0:
        assert h.hapax_type_ratio == _iround_py(hapax, len(cnt))
        assert h.hapax_token_ratio == _iround_py(hapax, n)
    else:
        assert h.hapax_type_ratio is None


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(st.integers(-50, 50), min_size=2, max_size=40),
)
def test_runs_test_matches_bruteforce(spark, vals):
    """Law: agg_runs_test's runs/sign counts and null-model moments equal
    the hand computation over the zero-dropped delta signs, exactly."""
    from kdb_spark.analytics import aggregations as agg

    rows = [(i, 1, "a", i * 1000, v / 4.0) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts_us long, value double",
    )
    out = agg.agg_runs_test(df).collect()
    signs = []
    for a, b in zip(vals, vals[1:]):
        d = b - a
        if d != 0:
            signs.append(1 if d > 0 else -1)
    if not signs:
        assert out == []
        return
    [r] = out
    runs = 1 + sum(1 for x, y in zip(signs, signs[1:]) if x != y)
    p, nn = signs.count(1), signs.count(-1)
    N = p + nn
    assert (r.n_runs, r.n_pos, r.n_neg) == (runs, p, nn)
    assert r.mu_runs == _iround_py(N + 2 * p * nn, N)
    if N > 1:
        assert r.var_runs == _iround_py(
            2 * p * nn * (2 * p * nn - N), N * N * (N - 1)
        )
    else:
        assert r.var_runs is None


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(st.integers(-400, 400), min_size=1, max_size=30),
    k=st.sampled_from([3, 24]),
)
def test_aroon_matches_bruteforce(spark, vals, k):
    """Law: win_aroon's since_hi/lo equal the brute-force trailing-frame
    argmax/argmin with LATEST-tie-wins, and the lines are the exact device
    ratios over the available span."""
    from kdb_spark.analytics import windows as wn

    rows = [(i, 1, "a", i * 1000, v / 4.0) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts_us long, value double",
    )
    got = {r.event_id: r for r in wn.win_aroon(df, k=k).collect()}
    cents_seq = [v * 25 for v in vals]
    for i in range(len(vals)):
        lo_i = max(0, i - k)
        frame = cents_seq[lo_i : i + 1]
        # latest occurrence wins ties on both extremes
        hi_pos = max(range(len(frame)), key=lambda j: (frame[j], j))
        lo_pos = max(range(len(frame)), key=lambda j: (-frame[j], j))
        since_hi = len(frame) - 1 - hi_pos
        since_lo = len(frame) - 1 - lo_pos
        m = len(frame) - 1
        r = got[i]
        assert (r.since_hi, r.since_lo) == (since_hi, since_lo), (i, frame)
        if m == 0:
            assert r.aroon_up is None and r.aroon_down is None
        else:
            assert r.aroon_up == _iround_py(100 * (m - since_hi), m, 4)
            assert r.aroon_down == _iround_py(100 * (m - since_lo), m, 4)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 80),      # minute slot
            st.integers(0, 1),       # user
            st.integers(-400, 400),  # quarter-dollar value
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda p: (p[0], p[1]),
    )
)
def test_ichimoku_and_ulcer_cross_engine_bitwise(spark, pts):
    """r12: win_ichimoku's exact midpoint grids and win_ulcer_index's
    bigint drawdown moments must agree BITWISE with DuckDB evaluating the
    registered oracle derivations on identical inputs — the same
    cross-engine treatment win_bollinger/win_keltner got."""
    from kdb_spark.analytics import windows as wn

    rows = [
        (i, int(u), "a", v / 4.0, int(t) * 60_000_000)
        for i, (t, u, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double, ts_us long",
    )
    con = _duck_events(rows)
    got_i = wn.win_ichimoku(df).collect()
    want_i = con.execute(
        """
        WITH m AS (
          SELECT event_id, user_id, event_type, value,
                 max(CAST(round(value*100) AS BIGINT)) OVER w8
                   + min(CAST(round(value*100) AS BIGINT)) OVER w8 AS t2,
                 max(CAST(round(value*100) AS BIGINT)) OVER w25
                   + min(CAST(round(value*100) AS BIGINT)) OVER w25 AS b2,
                 max(CAST(round(value*100) AS BIGINT)) OVER w51
                   + min(CAST(round(value*100) AS BIGINT)) OVER w51 AS sb2
          FROM events
          WINDOW w8 AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id
                        ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
                 w25 AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id
                         ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
                 w51 AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id
                         ROWS BETWEEN 51 PRECEDING AND CURRENT ROW))
        SELECT event_id, CAST(t2 * 5000 AS DOUBLE)/1e6 AS tenkan,
               CAST(b2 * 5000 AS DOUBLE)/1e6 AS kijun,
               CAST((t2 + b2) * 2500 AS DOUBLE)/1e6 AS span_a,
               CAST(sb2 * 5000 AS DOUBLE)/1e6 AS span_b
        FROM m
        """
    ).df()
    _assert_bitwise(got_i, want_i, ["event_id"], ["tenkan", "kijun", "span_a", "span_b"])
    got_u = wn.win_ulcer_index(df).collect()
    want_u = con.execute(
        """
        WITH t AS (
          SELECT event_id, user_id, event_type, value, ts_us,
                 CAST(round(value * 100) AS BIGINT) AS c
          FROM events),
        d AS (
          SELECT event_id, user_id, event_type, value, ts_us,
                 max(c) OVER w - c AS dd
          FROM t
          WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        u AS (
          SELECT event_id, sum(dd*dd) OVER w AS sq, count(*) OVER w AS n,
                 max(dd) OVER w AS mdd
          FROM d
          WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        SELECT event_id,
               round(sqrt(CAST(sq AS DOUBLE)/CAST(n AS DOUBLE))/100.0, 4) AS ulcer,
               CAST(mdd AS DOUBLE)/100.0 AS max_dd
        FROM u
        """
    ).df()
    con.close()
    _assert_bitwise(got_u, want_u, ["event_id"], ["ulcer", "max_dd"])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lines=st.lists(
        st.tuples(
            st.integers(0, 40),     # day slot
            st.integers(0, 2),      # supplier
            st.integers(1, 50),     # quantity
            st.integers(1, 2000),   # quarter-dollar price
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda p: (p[0], p[1]),
    )
)
def test_vwap_and_obv_cross_engine_bitwise(spark, lines):
    """r12: win_trailing_vwap's decimal frame sums + device grid and
    win_obv's signed running sum must agree BITWISE with DuckDB on
    arbitrary shipment sequences (incl. flat prices and frame heads)."""
    import datetime

    import duckdb
    import pandas as pd

    from kdb_spark.analytics import windows as wn

    rows = [
        (i, 1, int(s), float(q), p / 4.0,
         datetime.datetime(2024, 1, 1) + datetime.timedelta(days=int(d)))
        for i, (d, s, q, p) in enumerate(lines)
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_suppkey long,"
        " l_quantity double, l_extendedprice double, l_shipdate timestamp",
    )
    pdf = pd.DataFrame(
        rows,
        columns=["l_orderkey", "l_linenumber", "l_suppkey",
                 "l_quantity", "l_extendedprice", "l_shipdate"],
    )
    con = duckdb.connect()
    con.register("lineitem", pdf)
    got_v = wn.win_trailing_vwap(df).collect()
    want_v = con.execute(
        """
        WITH t AS (
          SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
                 CAST(round(l_quantity) AS BIGINT) AS q
          FROM lineitem),
        m AS (
          SELECT l_orderkey,
                 sum(CAST(pc AS HUGEINT) * q) OVER w AS nq,
                 CAST(sum(q) OVER w AS BIGINT) AS dq,
                 CAST(count(*) OVER w AS BIGINT) AS n_lines
          FROM t
          WINDOW w AS (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                       ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        SELECT l_orderkey, n_lines,
               CASE WHEN dq > 0 THEN
                 CAST((2000000 * nq + 100 * CAST(dq AS HUGEINT))
                      // (200 * CAST(dq AS HUGEINT)) AS DOUBLE) / 1e6
               END AS vwap
        FROM m
        """
    ).df()
    _assert_bitwise(got_v, want_v, ["l_orderkey"], ["n_lines", "vwap"])
    got_o = wn.win_obv(df).collect()
    want_o = con.execute(
        """
        WITH t AS (
          SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
                 CAST(round(l_quantity) AS BIGINT) AS q,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
          FROM lineitem),
        d AS (
          SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate, q,
                 pc - lag(pc) OVER (PARTITION BY l_suppkey
                                    ORDER BY l_shipdate, l_orderkey, l_linenumber) AS dp
          FROM t)
        SELECT l_orderkey,
               CAST(sum(CASE WHEN dp > 0 THEN q WHEN dp < 0 THEN -q ELSE 0 END)
                    OVER (PARTITION BY l_suppkey
                          ORDER BY l_shipdate, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS obv
        FROM d
        """
    ).df()
    con.close()
    _assert_bitwise(got_o, want_o, ["l_orderkey"], ["obv"])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 40),    # minute slot
            st.integers(-3, 3),    # SMALL value range -> frames full of ties
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda p: p[0],
    )
)
def test_aroon_cross_engine_bitwise_under_ties(spark, pts):
    """r12: win_aroon's struct-max argmax/argmin tie rule (LATEST wins)
    must be engine-identical — the deliberately tiny value range makes
    almost every frame a tie pile, the exact case where an unspecified
    arg_max would diverge. Spark vs DuckDB ROW-comparison max, bitwise."""
    from kdb_spark.analytics import windows as wn

    rows = [
        (i, 1, "a", v / 4.0, int(t) * 60_000_000)
        for i, (t, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double, ts_us long",
    )
    got = wn.win_aroon(df, k=5).collect()
    con = _duck_events(rows)
    want = con.execute(
        """
        WITH t AS (
          SELECT event_id, user_id, event_type, ts_us,
                 CAST(round(value * 100) AS BIGINT) AS c,
                 CAST(row_number() OVER (PARTITION BY user_id, event_type
                                         ORDER BY ts_us, event_id)
                      AS BIGINT) AS pos
          FROM events),
        m AS (
          SELECT event_id, pos,
                 (max(struct_pack(v := c, p := pos)) OVER w).p AS hi_pos,
                 (max(struct_pack(v := -c, p := pos)) OVER w).p AS lo_pos,
                 CAST(count(*) OVER w - 1 AS BIGINT) AS m
          FROM t
          WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id
                       ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
        SELECT event_id,
               CAST(pos - hi_pos AS BIGINT) AS since_hi,
               CAST(pos - lo_pos AS BIGINT) AS since_lo,
               CASE WHEN m > 0 THEN
                 CAST((20000 * (100 * (CAST(m AS HUGEINT) - (pos - hi_pos))) + m)
                      // (2 * CAST(m AS HUGEINT)) AS DOUBLE) / 1e4
               END AS aroon_up,
               CASE WHEN m > 0 THEN
                 CAST((20000 * (100 * (CAST(m AS HUGEINT) - (pos - lo_pos))) + m)
                      // (2 * CAST(m AS HUGEINT)) AS DOUBLE) / 1e4
               END AS aroon_down
        FROM m
        """
    ).df()
    con.close()
    _assert_bitwise(
        got, want, ["event_id"], ["since_hi", "since_lo", "aroon_up", "aroon_down"]
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 23),      # quarter-day slot → days 0..5 (Thu..Tue)
            st.integers(0, 1),       # user
            st.integers(-400, 400),  # quarter-dollar value
        ),
        min_size=2,
        max_size=30,
        unique_by=lambda p: (p[0], p[1]),
    )
)
def test_spearman_and_mannwhitney_cross_engine_bitwise(spark, pts):
    """r12 continuation: agg_spearman's doubled-average-rank co-moments
    and agg_mann_whitney's exact 2U/tie-corrected variance must agree
    BITWISE with DuckDB evaluating the registered derivations on
    identical inputs (ties are the hard part — the strategy generates
    plenty)."""
    from kdb_spark.analytics import aggregations as agg

    Q = 21_600_000_000  # 6h in µs
    rows = [
        (i, int(u), "a", v / 4.0, int(t) * Q) for i, (t, u, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double, ts_us long",
    )
    con = _duck_events(rows)
    got_s = agg.agg_spearman(df).collect()
    want_s = con.execute(
        """
        WITH b AS (
          SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x,
                 ts_us % 86400000000 AS y
          FROM events),
        r AS (
          SELECT event_type,
                 2 * rank() OVER (PARTITION BY event_type ORDER BY x)
                   + count(*) OVER (PARTITION BY event_type, x) - 1 AS rx,
                 2 * rank() OVER (PARTITION BY event_type ORDER BY y)
                   + count(*) OVER (PARTITION BY event_type, y) - 1 AS ry
          FROM b),
        g AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(rx AS HUGEINT)) AS su, sum(CAST(ry AS HUGEINT)) AS sv,
                 sum(CAST(rx AS HUGEINT) * rx) AS suu,
                 sum(CAST(ry AS HUGEINT) * ry) AS svv,
                 sum(CAST(rx AS HUGEINT) * ry) AS suv
          FROM r GROUP BY 1),
        t AS (
          SELECT event_type, n,
                 CAST(n AS HUGEINT) * suv - su * sv AS cm,
                 CAST(n AS HUGEINT) * suu - su * su AS a,
                 CAST(n AS HUGEINT) * svv - sv * sv AS b
          FROM g)
        SELECT event_type, n,
               CASE WHEN a > 0 AND b > 0 THEN
                 CAST(floor(CAST(cm AS DOUBLE)
                            / sqrt(CAST(a AS DOUBLE) * CAST(b AS DOUBLE))
                            * 1e4 + 0.5) AS DOUBLE) / 1e4
               END AS spearman_rho
        FROM t
        """
    ).df()
    _assert_bitwise(got_s, want_s, ["event_type"], ["n", "spearman_rho"])
    got_m = agg.agg_mann_whitney(df).collect()
    want_m = con.execute(
        """
        WITH b AS (
          SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x,
                 ((ts_us // 86400000000) % 7) IN (2, 3) AS is_b
          FROM events),
        r AS (
          SELECT event_type, is_b,
                 2 * rank() OVER (PARTITION BY event_type ORDER BY x)
                   + count(*) OVER (PARTITION BY event_type, x) - 1 AS rx
          FROM b),
        g AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 sum(CASE WHEN is_b THEN CAST(rx AS HUGEINT) ELSE 0 END) AS r2b
          FROM r GROUP BY 1),
        tc AS (
          SELECT event_type, sum(CAST(t AS HUGEINT) * t * t - t) AS tcorr
          FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
                FROM b GROUP BY 1, 2) GROUP BY 1),
        j AS (
          SELECT g.event_type, n, n - n_b AS n_a, n_b,
                 CAST(r2b - CAST(n_b AS HUGEINT) * (n_b + 1) AS BIGINT) AS u2_b,
                 CAST(n - n_b AS HUGEINT) * n_b
                   * (CAST(n AS HUGEINT) * n * n - n - tcorr) AS vnum
          FROM g JOIN tc ON tc.event_type = g.event_type)
        SELECT event_type, n_a, n_b, u2_b,
               CASE WHEN n_a > 0 AND n_b > 0 AND vnum > 0 THEN
                 CAST(floor(
                   CAST(CAST(u2_b AS HUGEINT) - CAST(n_a AS HUGEINT) * n_b
                        AS DOUBLE)
                   / (2 * sqrt(CAST(vnum AS DOUBLE)
                               / CAST(12 * CAST(n AS HUGEINT) * (n - 1)
                                      AS DOUBLE)))
                   * 1e4 + 0.5) AS DOUBLE) / 1e4
               END AS z
        FROM j
        """
    ).df()
    con.close()
    _assert_bitwise(got_m, want_m, ["event_type"], ["n_a", "n_b", "u2_b", "z"])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(st.integers(-400, 400), min_size=1, max_size=25),
    period=st.sampled_from([3, 5, 20]),
)
def test_cci_matches_bruteforce(spark, vals, period):
    """Law: win_cci equals the brute-force denominator-cleared rational
    1000·L·(c·L−S)/(15·Σ|cⱼ·L−S|) on every frame, NULL on zero
    deviation."""
    from kdb_spark.analytics import windows as wn

    rows = [(i, 1, "a", i * 1000, v / 4.0) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts_us long, value double",
    )
    got = {r.event_id: r.cci for r in wn.win_cci(df, period=period).collect()}
    cents_seq = [v * 25 for v in vals]
    for i in range(len(vals)):
        frame = cents_seq[max(0, i - period + 1) : i + 1]
        L, S = len(frame), sum(frame)
        dev = sum(abs(x * L - S) for x in frame)
        if dev == 0:
            assert got[i] is None, i
        else:
            assert got[i] == _iround_py(
                1000 * L * (cents_seq[i] * L - S), 15 * dev
            ), (i, frame)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 30),      # hour slot
            st.integers(0, 2),       # user
            st.integers(1, 400),     # quarter-dollar value
        ),
        min_size=1,
        max_size=30,
    ),
    hours=st.sampled_from([4, 24]),
)
def test_rolling_beta_matches_bruteforce(spark, pts, hours):
    """Law: win_rolling_beta equals the brute-force exact rational
    (L·Σxy−ΣxΣy)/(L·Σxx−(Σx)²) over trailing ACTIVE hours, NULL on
    constant market flow or single-row frames."""
    from collections import defaultdict

    from kdb_spark.analytics import windows as wn

    HOUR = 3_600_000_000
    rows = [
        (i, int(u), "a", int(h) * HOUR + i, v / 4.0)
        for i, (h, u, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts_us long, value double",
    )
    got = {
        (r.user_id, r.h): r.beta
        for r in wn.win_rolling_beta(df, hours=hours).collect()
    }
    uh = defaultdict(int)
    mh = defaultdict(int)
    for h, u, v in pts:
        uh[(int(u), int(h))] += v * 25
        mh[int(h)] += v * 25
    for (u, _), _ in list(uh.items()):
        hs = sorted(h for (uu, h) in uh if uu == u)
        for idx, h in enumerate(hs):
            frame = hs[max(0, idx - hours + 1) : idx + 1]
            L = len(frame)
            xs = [mh[hh] for hh in frame]
            ys = [uh[(u, hh)] for hh in frame]
            cden = L * sum(x * x for x in xs) - sum(xs) ** 2
            if L < 2 or cden <= 0:
                assert got[(u, h)] is None, (u, h)
            else:
                cnum = L * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
                assert got[(u, h)] == _iround_py(cnum, cden), (u, h)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lines=st.lists(
        st.tuples(st.integers(0, 300), st.integers(1, 60)),  # quarter-$ price, qty
        min_size=1,
        max_size=20,
    ),
    period=st.sampled_from([3, 14]),
)
def test_mfi_matches_bruteforce(spark, lines, period):
    """Law: win_mfi equals the brute-force split-flow device ratio on
    the supplier sequence (pmf/nmf exact, index on the device grid)."""
    import datetime

    from kdb_spark.analytics import windows as wn

    rows = [
        (i, 1, 7, float(q), p / 4.0, datetime.datetime(2024, 1, 1)
         + datetime.timedelta(days=i))
        for i, (p, q) in enumerate(lines)
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_suppkey long,"
        " l_quantity double, l_extendedprice double, l_shipdate timestamp",
    )
    got = {r.l_orderkey: r for r in wn.win_mfi(df, period=period).collect()}
    pcs = [p * 25 for p, _ in lines]
    qs = [q for _, q in lines]
    flows = []
    for i in range(len(lines)):
        if i == 0:
            flows.append((0, 0))
        elif pcs[i] > pcs[i - 1]:
            flows.append((pcs[i] * qs[i], 0))
        elif pcs[i] < pcs[i - 1]:
            flows.append((0, pcs[i] * qs[i]))
        else:
            flows.append((0, 0))
    for i in range(len(lines)):
        fr = flows[max(0, i - period + 1) : i + 1]
        pmf, nmf = sum(f[0] for f in fr), sum(f[1] for f in fr)
        r = got[i]
        assert (r.pmf_c, r.nmf_c) == (pmf, nmf), i
        if pmf + nmf == 0:
            assert r.mfi is None
        else:
            assert r.mfi == _iround_py(100 * pmf, pmf + nmf), i


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 200)),  # hour slot, quarter-$
        min_size=1,
        max_size=30,
    )
)
def test_atr_matches_bruteforce(spark, pts):
    """Law: win_atr equals the brute-force Wilder TR chain over hourly
    candles (h-l seed, max of three ranges after) with the device mean."""
    from collections import defaultdict

    from kdb_spark.analytics import windows as wn

    HOUR = 3_600_000_000
    rows = [
        (i, 1, "a", int(h) * HOUR + i, v / 4.0) for i, (h, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    got = {r.hour_us: r for r in wn.win_atr(df).collect()}
    by_h = defaultdict(list)
    for i, (h, v) in enumerate(pts):
        by_h[int(h)].append((int(h) * HOUR + i, i, v * 25))
    hours = sorted(by_h)
    trs = []
    prev_close = None
    for h in hours:
        cs = [c for (_, _, c) in by_h[h]]
        hi, lo = max(cs), min(cs)
        close = max(by_h[h])[2]  # max (ts, eid) pick
        if prev_close is None:
            tr = hi - lo
        else:
            tr = max(hi - lo, abs(hi - prev_close), abs(lo - prev_close))
        trs.append(tr)
        prev_close = close
    for idx, h in enumerate(hours):
        fr = trs[max(0, idx - 13) : idx + 1]
        r = got[h * HOUR]
        assert r.tr == trs[idx] / 100.0, h
        assert r.atr == _iround_py(sum(fr), 100 * len(fr)), h


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=st.lists(st.integers(-200, 200), min_size=1, max_size=25))
def test_williams_r_is_stochastic_complement(spark, vals):
    """Law: %R = %K − 100 exactly on the shared grid (both device-exact
    over the same 14-row channel), NULL exactly on flat channels."""
    from kdb_spark.analytics import windows as wn

    rows = [(i, 1, "a", i * 1000, v / 4.0) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    willr = {r.event_id: r.willr for r in wn.win_williams_r(df).collect()}
    pctk = {r.event_id: r.pct_k for r in wn.win_stochastic(df).collect()}
    cents_seq = [v * 25 for v in vals]
    for i in range(len(vals)):
        frame = cents_seq[max(0, i - 13) : i + 1]
        hi, lo, c = max(frame), min(frame), cents_seq[i]
        if hi == lo:
            assert willr[i] is None and pctk[i] is None
        else:
            assert willr[i] == -_iround_py(100 * (hi - c), hi - lo)
            # grid identity: %K − 100 with both on the 1e-6 grid
            assert round(pctk[i] - 100.0 - willr[i], 6) == 0.0


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=st.lists(st.integers(-200, 200), min_size=1, max_size=25))
def test_ratios_dpo_rvol_class_bruteforce(spark, vals):
    """Law: win_ratios' sign-aware devices and win_dpo's displaced frame
    equal the Python-int brute forms on arbitrary signed series."""
    from kdb_spark.analytics import windows as wn

    rows = [(i, 1, "a", i * 1000, v / 4.0) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    cents_seq = [v * 25 for v in vals]
    got_r = {r.event_id: r for r in wn.win_ratios(df).collect()}
    for i in range(len(vals)):
        r = got_r[i]
        if i == 0 or cents_seq[i - 1] == 0:
            assert r.ratio is None and r.ret is None
        else:
            c, pc = cents_seq[i], cents_seq[i - 1]
            assert r.ratio == _iround_py(c if pc > 0 else -c, abs(pc))
            d = c - pc
            assert r.ret == _iround_py(d if pc > 0 else -d, abs(pc))
    got_d = {r.event_id: r.dpo for r in wn.win_dpo(df).collect()}
    for i in range(len(vals)):
        lo, hi = max(0, i - 30), i - 11
        frame = cents_seq[lo : hi + 1] if hi >= lo else []
        if not frame:
            assert got_d[i] is None
        else:
            L, S = len(frame), sum(frame)
            assert got_d[i] == _iround_py(cents_seq[i] * L - S, 100 * L)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=st.lists(st.integers(-300, 300), min_size=1, max_size=40))
def test_var_es_matches_bruteforce(spark, vals):
    """Law: agg_var_es picks the exact ⌈0.95·n⌉-th order statistic and
    the exact tail mean, ties and signs included."""
    from kdb_spark.analytics import aggregations as agg

    rows = [(i, 1, "a", i * 1000, v / 4.0) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    [r] = agg.agg_var_es(df).collect()
    cs = sorted(v * 25 for v in vals)
    n = len(cs)
    k = (95 * n + 99) // 100
    tail = cs[k - 1 :]
    assert r.n == n and r.tail_n == len(tail)
    assert r.var_usd == cs[k - 1] / 100.0
    assert r.es_usd == _iround_py(sum(tail), 100 * len(tail))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=st.lists(st.integers(-300, 300), min_size=1, max_size=40))
def test_winsorized_and_iqr_match_bruteforce(spark, vals):
    """Law: agg_winsorized's trim/clamp and agg_iqr_fence's quartile
    fences equal the Python-int brute forms, ties and signs included."""
    from kdb_spark.analytics import aggregations as agg

    rows = [(i, 1, "a", i * 1000, v / 4.0) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    cs = sorted(v * 25 for v in vals)
    n = len(cs)
    [w] = agg.agg_winsorized(df).collect()
    lo = (5 * n + 99) // 100
    hi = n - lo
    mid = cs[lo:hi]
    assert w.n_cut == lo
    assert w.mean == _iround_py(sum(cs), 100 * n)
    if not mid:
        assert w.trimmed_mean is None and w.winsorized_mean is None
    else:
        assert w.trimmed_mean == _iround_py(sum(mid), 100 * len(mid))
        wsum = sum(mid) + lo * cs[lo] + lo * cs[hi - 1]
        assert w.winsorized_mean == _iround_py(wsum, 100 * n)
    [f] = agg.agg_iqr_fence(df).collect()
    q1 = cs[(25 * n + 99) // 100 - 1]
    q3 = cs[(75 * n + 99) // 100 - 1]
    assert f.q1 == q1 / 100.0 and f.q3 == q3 / 100.0
    n_out = sum(1 for x in cs if 2 * x < 5 * q1 - 3 * q3 or 2 * x > 5 * q3 - 3 * q1)
    assert f.n_outliers == n_out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=st.lists(st.integers(-200, 200), min_size=2, max_size=30))
def test_underwater_and_downside_match_bruteforce(spark, vals):
    """Law: agg_underwater's spell census and agg_downside_risk's
    conditional moments equal the brute single-series forms."""
    from kdb_spark.analytics import aggregations as agg

    rows = [(i, 1, "a", i * 1000, v / 4.0) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    cs = [v * 25 for v in vals]
    # underwater spells
    peak, spells, run = None, [], 0
    for c in cs:
        peak = c if peak is None or c > peak else peak
        if c < peak:
            run += 1
        else:
            if run:
                spells.append(run)
            run = 0
    if run:
        spells.append(run)
    got_u = agg.agg_underwater(df).collect()
    if not spells:
        assert got_u == []
    else:
        [u] = got_u
        assert u.n_spells == len(spells) and u.max_spell == max(spells)
        assert u.mean_spell == _iround_py(sum(spells), len(spells))
    # downside moments
    ds = [b - a for a, b in zip(cs, cs[1:])]
    neg = [d for d in ds if d < 0]
    [r] = agg.agg_downside_risk(df).collect()
    assert (r.n, r.n_down) == (len(ds), len(neg))
    import math as _m

    want = _m.floor(_m.sqrt(sum(d * d for d in neg) / len(ds)) / 100 * 1e4 + 0.5) / 1e4
    assert r.semidev_usd == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=st.lists(st.integers(-50, 50), min_size=1, max_size=30))
def test_swing_and_twap_match_bruteforce(spark, vals):
    """Law: win_swing_points' full-frame centered extremes and
    win_trailing_twap's in-force-weighted device mean equal the brute
    forms on arbitrary series (ties included — the small value range
    forces plateaus)."""
    from kdb_spark.analytics import windows as wn

    rows = [(i, 1, "a", i * 1000 + (i % 3), v / 4.0) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    cs = [v * 25 for v in vals]
    ts = [i * 1000 + (i % 3) for i in range(len(vals))]
    k = 2
    got_s = {r.event_id: r for r in wn.win_swing_points(df, k=k).collect()}
    n = len(vals)
    for i in range(n):
        frame = cs[max(0, i - k): min(n, i + k + 1)]
        full = len(frame) == 2 * k + 1
        assert got_s[i].swing_high == (full and cs[i] == max(frame)), i
        assert got_s[i].swing_low == (full and cs[i] == min(frame)), i
    got_t = {r.event_id: r.twap for r in wn.win_trailing_twap(df).collect()}
    gaps = [ts[i + 1] - ts[i] for i in range(n - 1)] + [0]
    for i in range(n):
        lo = max(0, i - 9)
        nw = sum(cs[j] * gaps[j] for j in range(lo, i + 1))
        dw = sum(gaps[j] for j in range(lo, i + 1))
        if dw == 0:
            assert got_t[i] is None, i
        else:
            assert got_t[i] == _iround_py(nw, 100 * dw), i


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    a_iv=st.lists(
        st.tuples(st.integers(0, 200), st.integers(1, 100)),
        min_size=1, max_size=12,
    ),
    b_iv=st.lists(
        st.tuples(st.integers(0, 200), st.integers(1, 100)),
        min_size=1, max_size=12,
    ),
)
def test_interval_overlap_matches_bruteforce(spark, a_iv, b_iv):
    """Law: day-bucket blocking finds EXACTLY the brute-force overlap
    pairs with exact lengths — blocking must never change semantics.
    Intervals are scaled to cross bucket boundaries aggressively."""
    from kdb_spark.analytics import joins as jn

    S = 10_000_000_000  # 10^10 µs ≈ 0.12 day → many spans cross buckets
    A = [(i, s * S, s * S + l * S) for i, (s, l) in enumerate(a_iv)]
    B = [(100 + i, s * S, s * S + l * S) for i, (s, l) in enumerate(b_iv)]
    a = spark.createDataFrame(A, "a_id long, a_start long, a_end long")
    b = spark.createDataFrame(B, "b_id long, b_start long, b_end long")
    got = {(r.a_id, r.b_id): r.overlap_us
           for r in jn.join_interval_overlap(a, b).collect()}
    want = {}
    for (ai, as_, ae) in A:
        for (bi, bs, be) in B:
            if as_ < be and bs < ae:
                want[(ai, bi)] = min(ae, be) - max(as_, bs)
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lines=st.lists(
        st.sampled_from(["", "a", "bb", "- x", "ok...", "  spaced", "a"]),
        min_size=1,
        max_size=15,
    )
)
def test_gopher_quality_matches_bruteforce(spark, lines):
    """Law: the sorted run-length fold's dup counts equal the Counter
    brute form (empty lines included), filters exact."""
    from collections import Counter

    from kdb_spark.llm import textstats as tx

    text = "\n".join(lines)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    [r] = tx.text_gopher_quality(df).collect()
    cnt = Counter(lines)
    dup_lines = sum(m for m in cnt.values() if m > 1)
    dup_chars = sum(m * len(l) for l, m in cnt.items() if m > 1)
    n = len(lines)
    assert (r.n_lines, r.dup_lines, r.dup_chars) == (n, dup_lines, dup_chars)
    assert r.dup_line_ratio == _iround_py(dup_lines, n)
    bullets = sum(1 for l in lines if l.lstrip(" ").startswith(("-", "*")))
    assert r.bullet_lines == bullets


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 5), st.integers(0, 400)),
        min_size=2,
        max_size=40,
    )
)
def test_churn_and_records_match_bruteforce(spark, pts):
    """Law: agg_user_churn's adjacent-day sets and agg_record_stats'
    record/stale predicates equal the brute set/scan forms."""
    from collections import defaultdict

    from kdb_spark.analytics import aggregations as agg

    DAY = 86_400_000_000
    rows = [
        (i, int(u), "a", int(d) * DAY + i, v / 4.0)
        for i, (d, u, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )
    active = defaultdict(set)
    for d, u, _ in pts:
        active[int(d)].add(int(u))
    got_c = {r.day: r for r in agg.agg_user_churn(df).collect()}
    days = set(active) | {d + 1 for d in active}
    for d in sorted(days):
        prev, today = active.get(d - 1, set()), active.get(d, set())
        if not prev:
            assert d not in got_c
            continue
        r = got_c[d]
        assert r.retained == len(prev & today)
        assert r.new_users == len(today - prev)
        assert r.churned == len(prev - today)
    # record/stale per user series pooled
    series = defaultdict(list)
    for i, (d, u, v) in enumerate(pts):
        series[int(u)].append((int(d) * DAY + i, i, v * 25))
    n = rec = stale = 0
    for u, sl in series.items():
        sl.sort()
        mx = None
        for idx, (_, _, c) in enumerate(sl):
            if idx > 0:
                n += 1
                if mx is not None and c > mx:
                    rec += 1
                if c == sl[idx - 1][2]:
                    stale += 1
            mx = c if mx is None or c > mx else mx
    got_r = agg.agg_record_stats(df).collect()
    if n == 0:
        assert got_r == []
    else:
        [r] = got_r
        assert (r.n, r.n_records, r.n_stale) == (n, rec, stale)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 3), st.integers(0, 99)),
        min_size=0, max_size=20, unique_by=lambda r: r[0],
    ),
    inc=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 3), st.integers(100, 199)),
        min_size=1, max_size=10, unique_by=lambda r: r[0],
    ),
)
def test_scoped_upsert_matches_dict_model(spark, base, inc, tmp_path_factory):
    """Brute-force law for the partition-scoped MERGE: against a plain
    dict model keyed (part, key) — scoped semantics — the table after
    bootstrap-upsert(base) + upsert(inc) equals model[base] updated by
    model[inc], for ANY partition layout the data implies."""
    from kdb_spark.sources import scan_version, sink_upsert

    path = str(tmp_path_factory.mktemp("prop_upsert") / "t")
    schema = "id long, part int, v long"
    bdf = spark.createDataFrame([(i, p, v) for i, p, v in base], schema)
    idf = spark.createDataFrame([(i, p, v) for i, p, v in inc], schema)
    if base:
        sink_upsert(bdf, path, key="id", part_col="part")
    sink_upsert(idf, path, key="id", part_col="part")
    model = {(p, i): v for i, p, v in base}
    model.update({(p, i): v for i, p, v in inc})
    got = {(r.part, r.id): r.v for r in scan_version(spark, path).collect()}
    assert got == model


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
        min_size=1, max_size=20,
    ),
    seeds=st.sets(st.integers(0, 9), min_size=1, max_size=3),
)
def test_bfs_levels_matches_bruteforce(spark, edges, seeds):
    """BFS law: levels equal the hand-computed multi-source BFS (depth 3)
    on any directed graph, including unreachable vertices (absent) and
    isolated seeds (level 0)."""
    from kdb_spark.analytics import graph as gr
    from kdb_spark.llm.dedup import _REUSE_CACHE

    _REUSE_CACHE.pop("bfs_edges", None)
    edf = spark.createDataFrame(sorted(set(edges)), "src long, dst long")
    sdf = spark.createDataFrame([(v,) for v in sorted(seeds)], "v long")
    got = {r.v: r.lvl for r in gr.bfs_levels(edf, sdf, max_depth=3).collect()}
    # hand BFS
    adj = {}
    for a, b in set(edges):
        adj.setdefault(a, set()).add(b)
    want = {v: 0 for v in seeds}
    frontier = set(seeds)
    for lvl in (1, 2, 3):
        nxt = set()
        for u in frontier:
            nxt |= adj.get(u, set())
        nxt -= set(want)
        for v in nxt:
            want[v] = lvl
        frontier = nxt
    assert got == want
    _REUSE_CACHE.pop("bfs_edges", None)
