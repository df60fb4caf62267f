"""Property-based tests (hypothesis) for operator laws the oracle can't
express: MERGE idempotence/commutativity-with-dedupe, money_sum order
independence, as-of join vs a naive per-row reference, latest_per_key
determinism. The reference ships no tests at all (SURVEY.md §5) — these
are the engine's stronger guarantee."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from football_lakehouse_spark.functions.scalars import money_sum
from football_lakehouse_spark.operators.merge import dedupe_updates, merge_upsert
from football_lakehouse_spark.operators.rolling import latest_per_key

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows = st.lists(
    st.tuples(
        st.integers(0, 20),                      # key
        st.integers(0, 5),                       # version/ts
        st.floats(-1e6, 1e6, allow_nan=False),   # value
    ),
    min_size=0,
    max_size=40,
)


@given(base=rows, upd=rows)
@SLOW
def test_merge_upsert_laws(spark, base, upd):
    schema = "k int, v int, x double"
    b = dedupe_updates(spark.createDataFrame(base, schema), ["k"], ["v", "x"])
    u = dedupe_updates(spark.createDataFrame(upd, schema), ["k"], ["v", "x"])
    merged = merge_upsert(b, u, ["k"])
    got = {r.k: (r.v, r.x) for r in merged.collect()}
    bd = {r.k: (r.v, r.x) for r in b.collect()}
    ud = {r.k: (r.v, r.x) for r in u.collect()}
    # law: result keyspace = union; updates win on collision
    assert set(got) == set(bd) | set(ud)
    for k, val in got.items():
        assert val == (ud[k] if k in ud else bd[k])
    # law: merging the same updates again is a no-op (rerun-safe)
    again = merge_upsert(merged, u, ["k"])
    assert {r.k: (r.v, r.x) for r in again.collect()} == got


@given(vals=st.lists(st.floats(0, 1e5, allow_nan=False), min_size=1, max_size=30),
       seed=st.integers(0, 5))
@SLOW
def test_money_sum_order_independent(spark, vals, seed):
    import random

    shuffled = vals[:]
    random.Random(seed).shuffle(shuffled)
    a = spark.createDataFrame([(v,) for v in vals], "x double").agg(
        money_sum(F.col("x")).alias("s")
    ).first().s
    b = (
        spark.createDataFrame([(v,) for v in shuffled], "x double")
        .repartition(7)
        .agg(money_sum(F.col("x")).alias("s"))
        .first()
        .s
    )
    assert a == b  # bitwise equal regardless of order/partitioning


@given(data=rows)
@SLOW
def test_latest_per_key_matches_python_argmax(spark, data):
    if not data:
        return
    df = spark.createDataFrame(data, "k int, v int, x double")
    got = {r.k: (r.v, r.x) for r in latest_per_key(df, "k", ["v", "x"]).collect()}
    expect: dict[int, tuple] = {}
    for k, v, x in data:
        if k not in expect or (v, x) > expect[k]:
            expect[k] = (v, x)
    assert got == expect


@given(
    left=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), max_size=25),
    right=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100), st.floats(0, 10, allow_nan=False)),
        max_size=25,
    ),
)
@SLOW
def test_asof_join_matches_naive(spark, left, right):
    from football_lakehouse_spark.operators.asof import asof_join

    # unique right ts per key (operator contract)
    seen = set()
    right = [r for r in right if not ((r[0], r[1]) in seen or seen.add((r[0], r[1])))]
    if not left:
        return
    ldf = spark.createDataFrame([(k, t, i) for i, (k, t) in enumerate(left)], "k int, ts int, lid int")
    rdf = spark.createDataFrame(right, "k int, ts int, payload double")
    got = {
        r.lid: r.asof_payload
        for r in asof_join(ldf, rdf, "k", "ts", "ts", ["payload"]).collect()
    }
    for i, (k, t) in enumerate(left):
        prior = [(rt, p) for (rk, rt, p) in right if rk == k and rt < t]
        expect = max(prior)[1] if prior else None
        assert got[i] == expect, (i, k, t, prior)


@given(
    left=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), max_size=25),
    right=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100), st.floats(0, 10, allow_nan=False)),
        max_size=25,
    ),
    window=st.integers(1, 40),
)
@SLOW
def test_banded_range_join_matches_naive(spark, left, right, window):
    from football_lakehouse_spark.operators.range_join import banded_prior_window_join

    if not left or not right:
        return
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k int, ts int, lid int"
    )
    rdf = spark.createDataFrame(right, "k int, ts int, payload double")
    cand = banded_prior_window_join(ldf, rdf, "k", "ts", "ts", window, ["payload"])
    got = sorted((r.lid, r["__p_payload"]) for r in cand.collect())
    expect = sorted(
        (i, p)
        for i, (k, t) in enumerate(left)
        for (rk, rt, p) in right
        if rk == k and t - window <= rt < t
    )
    assert got == expect


@given(
    toks=st.lists(st.integers(1, 300), min_size=0, max_size=40),
    cap=st.integers(8, 300),
)
@SLOW
def test_greedy_pack_matches_reference_fold(spark, toks, cap):
    from football_lakehouse_spark.operators.packing import greedy_pack

    df = spark.createDataFrame(
        [(i, i % 2, n) for i, n in enumerate(toks)],
        schema="doc_id bigint, shard bigint, n_tokens bigint",
    )
    got = {
        r["doc_id"]: r["pack_id"]
        for r in greedy_pack(df, ["shard"], "doc_id", "n_tokens", cap).collect()
    }
    # pure-python reference: the same greedy fold per shard
    want = {}
    for shard in (0, 1):
        pid, fill, first = 0, 0, True
        for i, n in enumerate(toks):
            if i % 2 != shard:
                continue
            if first:
                pid, fill, first = 0, n, False
            elif fill + n > cap:
                pid, fill = pid + 1, n
            else:
                fill += n
            want[i] = pid
    assert got == want
    # invariants: no pack over capacity unless it holds a single doc
    by_pack = {}
    for i, n in enumerate(toks):
        by_pack.setdefault((i % 2, want[i]), []).append(n)
    for members in by_pack.values():
        assert sum(members) <= cap or len(members) == 1


@given(
    intervals=st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 10)),  # (start, dur)
        min_size=1, max_size=30,
    )
)
@SLOW
def test_sweep_line_concurrency_matches_naive(spark, intervals):
    """q169's sweep must equal the brute-force point-wise maximum of
    open intervals under closed-open semantics, for arbitrary
    (overlapping, nested, touching) interval sets."""
    from pyspark.sql import Window

    rows_ = [(i, s, s + d) for i, (s, d) in enumerate(intervals)]
    df = spark.createDataFrame(rows_, "iid int, t0 int, t1 int")
    deltas = df.select(
        F.col("t0").alias("t"), F.lit(1).alias("delta"), "iid"
    ).unionByName(
        df.select(F.col("t1").alias("t"), F.lit(-1).alias("delta"), "iid")
    )
    w = Window.orderBy(
        F.col("t").asc(), F.col("delta").asc(), F.col("iid").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    got = (
        deltas.withColumn("open_now", F.sum("delta").over(w))
        .agg(F.max("open_now")).collect()[0][0]
    )
    # naive: at every start point, count intervals covering it ([t0, t1))
    want = max(
        sum(1 for (_, a, b) in rows_ if a <= s < b)
        for (_, s, _b) in rows_
    )
    assert got == want


@given(
    docs=st.lists(
        st.sets(st.integers(0, 12), min_size=1, max_size=8),
        min_size=2, max_size=12,
    )
)
@SLOW
def test_prefix_filter_blocking_complete(spark, docs):
    """q168's pigeonhole law on arbitrary token sets: every pair with
    Jaccard >= 0.5 shares at least one PREFIX token under ANY fixed
    global token order, where prefix length = L - ceil(L/2) + 1."""
    order = sorted({t for s in docs for t in s})  # any fixed total order
    rank = {t: i for i, t in enumerate(order)}
    prefixes = []
    for s in docs:
        toks = sorted(s, key=lambda t: rank[t])
        L = len(toks)
        p = L - (L + 1) // 2 + 1
        prefixes.append(set(toks[:p]))
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            inter = len(docs[i] & docs[j])
            uni = len(docs[i] | docs[j])
            if 2 * inter >= uni:
                assert prefixes[i] & prefixes[j], (
                    f"pair {i},{j} with J>=0.5 missed by prefix blocking"
                )


@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=2, max_size=10, unique=True,
    )
)
@SLOW
def test_symspell_delete_blocking_complete(spark, words):
    """q176's blocking law on arbitrary strings: any pair within edit
    distance 1 shares a deletion variant (the string itself or a
    single-character delete)."""

    def lev(a, b):
        import functools

        @functools.lru_cache(maxsize=None)
        def d(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            return min(
                d(i - 1, j) + 1, d(i, j - 1) + 1,
                d(i - 1, j - 1) + (a[i - 1] != b[j - 1]),
            )
        return d(len(a), len(b))

    def variants(w):
        return {w} | {w[:i] + w[i + 1:] for i in range(len(w))}

    vs = {w: variants(w) for w in words}
    for i, a in enumerate(words):
        for b in words[i + 1:]:
            if lev(a, b) <= 1:
                assert vs[a] & vs[b], f"lev<=1 pair {a!r},{b!r} missed"


@given(
    a=st.lists(st.integers(0, 10), min_size=1, max_size=25),
    b=st.lists(st.integers(0, 10), min_size=1, max_size=25),
)
@SLOW
def test_ks_numerator_matches_naive(spark, a, b):
    """q183's integer ECDF-gap form must equal the naive two-sample KS
    numerator max|c1(v)·n2 − c2(v)·n1| over all thresholds, with the
    standard after-ties evaluation, for arbitrary integer samples."""
    from pyspark.sql import Window

    rows_ = [(float(v), 1) for v in a] + [(float(v), 0) for v in b]
    df = spark.createDataFrame(rows_, "value double, is_a int")
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        df.withColumn("c1", F.sum("is_a").over(w))
        .withColumn("c2", F.sum(1 - F.col("is_a")).over(w))
        .groupBy("value")
        .agg(F.max("c1").alias("c1"), F.max("c2").alias("c2"))
    )
    n1, n2 = len(a), len(b)
    got = cum.select(
        F.max(F.abs(F.col("c1") * n2 - F.col("c2") * n1)).alias("d")
    ).collect()[0]["d"]
    want = max(
        abs(sum(1 for x in a if x <= v) * n2 - sum(1 for x in b if x <= v) * n1)
        for v in set(a) | set(b)
    )
    assert got == want


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)),  # (price, size)
        min_size=1, max_size=25,
    )
)
@SLOW
def test_skyline_sorted_scan_matches_dominance_definition(spark, pts):
    """q195's sorted-scan rewrite must equal the O(n²) dominance
    definition (no q with price<=, size>=, one strict) on arbitrary
    point sets including duplicates and price ties."""
    from pyspark.sql import Window

    rows_ = [(i, p, s) for i, (p, s) in enumerate(pts)]
    df = spark.createDataFrame(rows_, "pid int, price long, size int")
    w_cheaper = Window.orderBy("price").rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_same = Window.partitionBy("price")
    m = df.select(
        "*",
        F.max("size").over(w_cheaper).alias("mc"),
        F.max("size").over(w_same).alias("ms"),
    )
    got = {
        r.pid
        for r in m.where(
            (F.col("mc").isNull() | (F.col("size") > F.col("mc")))
            & (F.col("size") == F.col("ms"))
        ).collect()
    }
    want = {
        i for i, (p, s) in enumerate(pts)
        if not any(
            (q <= p and t >= s and (q < p or t > s))
            for j, (q, t) in enumerate(pts) if j != i
        )
    }
    assert got == want


@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 1_000_000),   # key (unique-ified below)
            st.integers(-50, 50),        # order value (negatives cross 0)
            st.integers(1, 9),           # weight
        ),
        min_size=1,
        max_size=60,
    ),
    width=st.sampled_from([1, 3, 8, 1000]),
    descending=st.booleans(),
)
@SLOW
def test_bucketed_prefix_matches_naive_window(spark, data, width, descending):
    """bucketed_prefix law: for ANY bucket width (including the
    degenerate one-bucket case) and either direction, the global rank,
    running sum, AND running max equal the naive unpartitioned
    window's — including
    duplicate order values straddling bucket boundaries and negative
    values (floor-division bucketing must stay monotone below zero)."""
    from pyspark.sql import Window

    from football_lakehouse_spark.operators.selection import bucketed_prefix

    uniq = [(i, v, w) for i, (_, v, w) in enumerate(data)]
    df = spark.createDataFrame(uniq, "k bigint, v bigint, w bigint")
    base = df.withColumn(
        "bucket", F.floor(F.col("v") / width).cast("bigint")
    )
    order = [
        F.col("v").desc() if descending else F.col("v").asc(),
        F.col("k").asc(),
    ]
    got = {
        r.k: (r.i, r.cum, r.mx)
        for r in bucketed_prefix(
            base, "bucket", order, sums={"cum": F.col("w")}, rank="i",
            descending=descending, maxs={"mx": F.col("w")},
        ).collect()
    }
    w_g = Window.orderBy(*order)
    w_g_cum = w_g.rowsBetween(Window.unboundedPreceding, 0)
    naive = {
        r.k: (r.i, r.cum, r.mx)
        for r in df.withColumn("i", F.row_number().over(w_g))
        .withColumn("cum", F.sum("w").over(w_g_cum))
        .withColumn("mx", F.max("w").over(w_g_cum))
        .collect()
    }
    assert got == naive


@given(
    n=st.integers(1, 97),
    k=st.sampled_from([2, 5, 10]),
)
@SLOW
def test_ntile_expr_matches_window_ntile(spark, n, k):
    """ntile_expr law: the arithmetic tile cut from (rank, n) is
    bit-identical to the ntile(k) window function for every population
    size, including n < k and n not divisible by k."""
    from pyspark.sql import Window

    from football_lakehouse_spark.operators.selection import ntile_expr

    df = spark.range(1, n + 1).withColumnRenamed("id", "i")
    w = Window.orderBy("i")
    naive = {
        r.i: r.t
        for r in df.withColumn("t", F.ntile(k).over(w)).collect()
    }
    got = {
        r.i: r.t
        for r in df.withColumn(
            "t", ntile_expr(F.col("i"), F.lit(n), k)
        ).collect()
    }
    assert got == naive


@given(
    items=st.lists(st.integers(0, 8), min_size=1, max_size=120),
    m=st.sampled_from([2, 3, 5]),
    parts=st.sampled_from([1, 3, 7]),
)
@SLOW
def test_exact_heavy_hitters_matches_naive(spark, items, m, parts):
    """Misra–Gries two-pass law: for ANY stream, summary size m, and
    partitioning, exact_heavy_hitters returns EXACTLY the items whose
    true count·(m+1) > n with their true counts — the m < vocabulary
    sizes here force the decrement/truncation path the flat fixture
    vocabulary never exercises, and varying `parts` checks
    partition-independence of the final (verified) answer."""
    from collections import Counter

    from football_lakehouse_spark.operators.frequency import exact_heavy_hitters

    df = spark.createDataFrame(
        [(str(x),) for x in items], "token string"
    ).repartition(parts)
    got = {
        r.item: (r.n_item, r.share_ppm)
        for r in exact_heavy_hitters(df, "token", m=m).collect()
    }
    n = len(items)
    want = {
        str(k): (c, c * 1_000_000 // n)
        for k, c in Counter(items).items()
        if c * (m + 1) > n
    }
    assert got == want


def test_exact_heavy_hitters_bigint_above_2_53(spark):
    """The verify pass must compare candidates in STRING space on both
    sides: a native bigint == string join coerces both to double, and
    ids 2^53 and 2^53+1 collapse to the same double — the exactness
    guarantee would silently merge/drop them."""
    from football_lakehouse_spark.operators.frequency import exact_heavy_hitters

    a, b = 2**53, 2**53 + 1  # float(a) == float(b)
    rows = [(a,)] * 6 + [(b,)] * 3 + [(7,)] * 1
    df = spark.createDataFrame(rows, "id bigint").repartition(3)
    got = {
        r.item: r.n_item for r in exact_heavy_hitters(df, "id", m=3).collect()
    }
    # n=10, m=3 → threshold count*4 > 10 → counts ≥ 3 qualify
    assert got == {a: 6, b: 3}


def test_mg_merge_truncation_law():
    """_mg_merge unit law: merged summary never exceeds m counters, and
    every item's residual is within (true count − n/(m+1), true count]
    across a multi-batch stream — the classic MG error envelope."""
    from collections import Counter

    from football_lakehouse_spark.operators.frequency import _mg_merge

    stream = [0, 1, 0, 2, 0, 3, 0, 4, 1, 0, 5, 0, 1, 6, 0, 7, 1, 0, 8, 0]
    m = 3
    state: dict[str, int] = {}
    for i in range(0, len(stream), 4):
        batch = Counter(str(x) for x in stream[i : i + 4])
        state = _mg_merge(state, batch, m)
    true = Counter(str(x) for x in stream)
    n = len(stream)
    assert len(state) <= m
    for k, resid in state.items():
        assert resid <= true[k]
        assert resid > true[k] - n / (m + 1)
    # completeness: any item with count > n/(m+1) must survive
    for k, c in true.items():
        if c * (m + 1) > n:
            assert k in state, (k, c)


# --- connected-components variant equivalence (random graphs) ---------

edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)),
    min_size=1,
    max_size=60,
).map(lambda es: [(a, b) for a, b in es if a != b])


@given(edges=edge_lists)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
def test_components_variants_agree_on_random_graphs(spark, edges):
    """The label-propagation oracle, the driver union-find, the
    star-round fallback (forced with ``max_edges=1``) and the pure-Python
    union-find must produce identical cluster assignments on arbitrary
    graphs — the law that makes the path choice a pure performance
    decision."""
    from football_lakehouse_spark.operators.dedup import neardup_clusters
    from tests.cc_oracles import label_propagation, union_find

    if not edges:
        return
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    lp = sorted(tuple(r) for r in label_propagation(df, max_iters=200).collect())
    driver = sorted(tuple(r) for r in neardup_clusters(df).collect())
    fallback = sorted(
        tuple(r) for r in neardup_clusters(df, max_edges=1).collect()
    )
    assert lp == driver == fallback == union_find(edges)


@given(edges=edge_lists, max_edges=st.integers(0, 60))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
def test_components_edge_bound_either_side(spark, edges, max_edges):
    """With the edge bound drawn on either side of the graph's size,
    neardup_clusters takes the driver path or the distributed fallback
    — the answer and the output schema must not depend on which."""
    from football_lakehouse_spark.operators.dedup import neardup_clusters
    from tests.cc_oracles import union_find

    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    out = neardup_clusters(df, max_edges=max_edges)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("doc_id", "bigint"), ("cluster_id", "bigint"), ("is_canonical", "boolean")
    ]
    assert sorted(tuple(r) for r in out.collect()) == union_find(edges)


def _ref_duplicate_spans(docs: list[tuple[int, str]], n: int, min_docs: int):
    """Pure-Python reference for duplicate_spans: positions whose
    n-gram occurs in >= min_docs distinct docs, merged when the gap to
    the previous duplicated position is <= n."""
    from collections import defaultdict

    occ = defaultdict(set)
    toks_of = {}
    for did, text in docs:
        toks = [t for t in text.split(" ") if t]
        toks_of[did] = toks
        for i in range(len(toks) - n + 1):
            occ[" ".join(toks[i:i + n])].add(did)
    spans = set()
    for did, toks in toks_of.items():
        hits = sorted(
            i for i in range(len(toks) - n + 1)
            if len(occ[" ".join(toks[i:i + n])]) >= min_docs
        )
        cur = None
        for p in hits:
            if cur is None:
                cur = [p, p]
            elif p - cur[1] <= n:
                cur[1] = p
            else:
                spans.add((did, cur[0], cur[1] + n))
                cur = [p, p]
        if cur is not None:
            spans.add((did, cur[0], cur[1] + n))
    return spans


#: small token alphabet → plenty of cross-doc n-gram collisions
_span_docs = st.lists(
    st.tuples(
        st.integers(0, 9),
        st.lists(
            st.sampled_from("aa bb cc dd ee".split()), min_size=0, max_size=14
        ).map(" ".join),
    ),
    min_size=0,
    max_size=8,
    unique_by=lambda t: t[0],
)


@given(docs=_span_docs, n=st.integers(2, 4), min_docs=st.integers(1, 3))
@SLOW
def test_duplicate_spans_matches_reference(spark, docs, n, min_docs):
    """duplicate_spans == the pure-Python reference on random corpora
    over a tiny alphabet (dense collisions): exact span set, and
    trim_duplicate_spans removes exactly the spanned positions."""
    from football_lakehouse_spark.operators.dedup import (
        duplicate_spans,
        trim_duplicate_spans,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string") if docs else None
    if df is None:
        return
    got_df = duplicate_spans(df, n=n, min_docs=min_docs)
    got = {(r.doc_id, r.span_start, r.span_end) for r in got_df.collect()}
    want = _ref_duplicate_spans(docs, n, min_docs)
    assert got == want

    # trim law: surviving tokens are exactly the un-spanned positions
    trimmed = {r.doc_id: (r.text, r.n_tokens_removed)
               for r in trim_duplicate_spans(df, got_df).collect()}
    for did, text in docs:
        toks = [t for t in text.split(" ") if t]
        spanned = set()
        for d, s, e in want:
            if d == did:
                spanned.update(range(s, e))
        kept = [t for i, t in enumerate(toks) if i not in spanned]
        assert trimmed[did] == (" ".join(kept), len(spanned))


def test_merge_null_keys_are_rerun_safe(spark):
    """NULL join keys never match a plain equi-join, so a replayed batch
    with a NULL-key row used to add one more copy per rerun. The
    null-safe anti join keeps merge_upsert idempotent, and
    dedupe_updates must treat ('a', NULL) and (NULL, 'a') as DIFFERENT
    composite keys (the concat_ws composite collapsed them)."""
    from pyspark.sql import functions as F

    from football_lakehouse_spark.operators.merge import (
        dedupe_updates,
        merge_upsert,
    )

    schema = "k string, v bigint, x bigint"
    base = spark.createDataFrame([("a", 1, 0), (None, 1, 0)], schema)
    upd = spark.createDataFrame([(None, 2, 1)], schema)
    once = merge_upsert(base, upd, ["k"])
    twice = merge_upsert(once, upd, ["k"])
    def rows(df):
        return sorted(((r.k, r.v, r.x) for r in df.collect()),
                      key=lambda t: (t[0] is None, t))
    assert rows(once) == [("a", 1, 0), (None, 2, 1)]
    assert rows(twice) == rows(once), "rerun grew the NULL-key row"
    # composite-key dedup: NULL parts must not collide across positions
    cschema = "k1 string, k2 string, v bigint"
    ups = spark.createDataFrame(
        [("a", None, 1), (None, "a", 2), ("a", None, 3)], cschema
    )
    got = dedupe_updates(ups, ["k1", "k2"], ["v"]).collect()
    assert len(got) == 2, "distinct NULL-part composites collapsed"
    assert {r.v for r in got} == {3, 2}  # latest wins within ('a', NULL)
    # separator-bearing values must not collide either
    ups2 = spark.createDataFrame(
        [("a§b", "c", 1), ("a", "b§c", 2)], cschema
    )
    assert dedupe_updates(ups2, ["k1", "k2"], ["v"]).count() == 2


@given(
    left=st.lists(st.tuples(st.integers(0, 4), st.integers(0, 50)), max_size=20),
    right=st.lists(
        st.tuples(
            st.integers(0, 4),
            st.integers(0, 50),
            st.one_of(st.none(), st.floats(0, 10, allow_nan=False)),
        ),
        max_size=20,
    ),
)
@SLOW
def test_asof_join_null_payload_law(spark, left, right):
    """merge_asof law with NULLABLE payloads: the matched row is the
    latest strictly-prior right row, and its payload is returned even
    when NULL — the fill must never reach past it to an older non-NULL
    value (the ignorenulls-per-column bug class)."""
    from football_lakehouse_spark.operators.asof import asof_join

    seen = set()
    right = [r for r in right if not ((r[0], r[1]) in seen or seen.add((r[0], r[1])))]
    if not left:
        return
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k int, ts int, lid int"
    )
    rdf = spark.createDataFrame(right, "k int, ts int, payload double")
    got = {
        r.lid: r.asof_payload
        for r in asof_join(ldf, rdf, "k", "ts", "ts", ["payload"]).collect()
    }
    for i, (k, t) in enumerate(left):
        prior = [(rt, p) for (rk, rt, p) in right if rk == k and rt < t]
        expect = max(prior, key=lambda x: x[0])[1] if prior else None
        assert got[i] == expect, (i, k, t, prior)


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 60)),   # score (NULL ok)
            st.one_of(st.none(), st.integers(0, 9)),    # val (NULL ok)
        ),
        max_size=24,
    ),
    width=st.integers(1, 16),
    descending=st.booleans(),
)
@SLOW
def test_bucketed_prefix_equals_global_window_law(spark, rows, width, descending):
    """bucketed_prefix == the true unpartitioned global window, for ANY
    score distribution (NULL buckets included), ANY bucket width, both
    directions, with NULLABLE sum expressions — running sums stay NULL
    until the first non-null contribution, ranks are exact, prefix-max
    matches."""
    from pyspark.sql import Window

    from football_lakehouse_spark.operators.selection import bucketed_prefix

    if not rows:
        return
    df = spark.createDataFrame(
        [(i, s, v) for i, (s, v) in enumerate(rows)],
        "id bigint, score bigint, val bigint",
    ).withColumn("bucket", F.floor(F.col("score") / width).cast("bigint"))
    order = [
        F.col("score").desc() if descending else F.col("score").asc(),
        F.col("id").asc(),
    ]
    got = bucketed_prefix(
        df, "bucket", order, sums={"rv": F.col("val")},
        rank="rk", descending=descending, maxs={"rm": F.col("val")},
    )
    gw = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "id",
        F.sum("val").over(gw).alias("rv"),
        F.max("val").over(gw).alias("rm"),
        F.row_number().over(Window.orderBy(*order)).alias("rk"),
    )
    g = {r.id: (r.rv, r.rm, r.rk) for r in got.collect()}
    w = {r.id: (r.rv, r.rm, r.rk) for r in want.collect()}
    assert g == w


@given(m=st.integers(-(10**18), 10**18))
@settings(max_examples=200, deadline=None)
def test_py_money_from_micros_truncs_toward_zero(m):
    """ADVICE r12: the stateful twins' bare ``micros // 10**4`` floored
    toward -inf, reading negative running totals one cent below the
    batch money_sum. py_money_from_micros must trunc toward zero,
    matching _trunc_div and DuckDB ``//`` at any magnitude/sign."""
    from football_lakehouse_spark.functions.scalars import py_money_from_micros

    q = abs(m) // 10**4
    want = (-q if m < 0 else q) / 100.0
    assert py_money_from_micros(m) == want


def test_py_money_from_micros_matches_money_sum_on_negatives(spark):
    """Single negative value where floor != trunc: -0.035 → -3 cents
    (trunc), not -4 (floor). Spark money_sum and the Python twin agree."""
    import numpy as np

    from football_lakehouse_spark.functions.scalars import (
        money_sum,
        py_money_from_micros,
    )

    vals = [-0.035, -123.4567, 0.005, 7.7777]
    got_spark = (
        spark.createDataFrame([(v,) for v in vals], "x double")
        .agg(money_sum(F.col("x")).alias("s"))
        .first()
        .s
    )
    micros = int(np.floor(np.array(vals) * 1e6 + 0.5).astype("int64").sum())
    assert py_money_from_micros(micros) == got_spark


@given(vals=st.lists(st.floats(-1e9, 1e9, allow_nan=False), min_size=1, max_size=40),
       parts=st.integers(1, 7))
@SLOW
def test_sum_micros_exact_equals_decimal_sum(spark, vals, parts):
    """r13 limb redesign: the bigint-limb sum must be BIT-IDENTICAL to
    the decimal(38,0) sum of the same per-row micros, for any sign and
    magnitude the double quantisation itself supports, under any
    partitioning (limb sums are algebraic, so partial merges are
    exact)."""
    from football_lakehouse_spark.functions.scalars import (
        _sum_micros_exact,
        micros,
    )

    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(parts)
    got = df.agg(_sum_micros_exact(F.col("x")).alias("s")).first().s
    want = df.agg(F.sum(micros(F.col("x"))).alias("s")).first().s
    assert got == want


@given(
    vals=st.lists(
        st.floats(-1e5, 1e5, allow_nan=False), min_size=1, max_size=30
    )
)
@SLOW
def test_money_sql_string_form_equals_column_form(spark, vals):
    """r14: money_sum/money_avg accept a SQL-string input that builds
    the whole limb aggregate in ONE parsed expression (construction
    trim). The parsed tree must be VALUE-IDENTICAL to the Column-built
    form — negative totals included (the trunc-vs-floor corner)."""
    from football_lakehouse_spark.functions.scalars import money_avg

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    col_form = df.agg(
        money_sum(F.col("x")).alias("s"), money_avg(F.col("x")).alias("a")
    ).first()
    str_form = df.agg(
        money_sum("x").alias("s"), money_avg("x").alias("a")
    ).first()
    assert (col_form.s, col_form.a) == (str_form.s, str_form.a)
