"""Property-based cross-checks (Hypothesis) of the custom distributed
operators against trivially-correct pure-Python references. These hunt
the bug classes example tests miss: partition-boundary effects, tie
handling, degenerate graphs, block-count edge cases.

Examples are kept small (Spark job latency dominates) but randomized —
Hypothesis shrinks any failure to a minimal counterexample.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from deployment_spark.operators import dedup
from deployment_spark.operators.similarity import (
    cosine_neardup_pairs_exact,
    topk_similarity_join,
)

PROP = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def ref_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find reference: node -> min id of its component, only for
    nodes that appear in some edge (the operator's contract)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], ["a_id", "b_id"]
    )
    got = {r.node: r.label for r in dedup.connected_components(pairs).collect()}
    assert got == ref_components(25, edges)


@PROP
@given(
    n=st.integers(2, 40),
    dim=st.integers(2, 6),
    thr=st.floats(-0.5, 0.95),
    blocks=st.integers(1, 7),
    seed=st.integers(0, 2**16),
)
def test_exact_blockpair_matches_numpy(spark, n, dim, thr, blocks, seed):
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((n, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)], ["vec_id", "embedding"]
    )
    got = {
        (r.a_id, r.b_id): r.cosine
        for r in cosine_neardup_pairs_exact(df, thr, num_blocks=blocks).collect()
    }
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    sims = (mat / norms) @ (mat / norms).T
    want = {
        (i, j): sims[i, j] for i in range(n) for j in range(i + 1, n) if sims[i, j] >= thr
    }
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-9 for k in got)


@PROP
@given(
    n=st.integers(1, 30),
    nq=st.integers(1, 4),
    k=st.integers(1, 8),
    dim=st.integers(2, 5),
    parts=st.integers(1, 6),
    seed=st.integers(0, 2**16),
)
def test_topk_matches_numpy_reference(spark, n, nq, k, dim, parts, seed):
    """Distributed pre-reduce top-k == numpy argsort with the documented
    (sim desc, id asc) tie-break, across random partitionings and
    k > corpus (k-capping)."""
    rng = np.random.default_rng(seed)
    cmat = rng.standard_normal((n, dim))
    qmat = rng.standard_normal((nq, dim))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in cmat[i]]) for i in range(n)], ["vec_id", "embedding"]
    ).repartition(parts)
    queries = spark.createDataFrame(
        [(i, [float(x) for x in qmat[i]]) for i in range(nq)],
        ["query_id", "query_vec"],
    )
    got = [
        (r.query_id, r.rank, r.vec_id)
        for r in topk_similarity_join(corpus, queries, k=k)
        .orderBy("query_id", "rank")
        .collect()
    ]
    cn = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-300)
    qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-300)
    sims = cn @ qn.T
    want = []
    for q in range(nq):
        order = sorted(range(n), key=lambda i: (-round(sims[i, q], 12), i))[:k]
        want.extend((q, r + 1, i) for r, i in enumerate(order))
    assert got == want


@PROP
@given(
    n_left=st.integers(1, 25),
    n_right=st.integers(0, 25),
    n_keys=st.integers(1, 4),
    direction=st.sampled_from(["backward", "forward"]),
    seed=st.integers(0, 2**16),
)
def test_asof_join_matches_merge_asof_random(
    spark, n_left, n_right, n_keys, direction, seed
):
    """asof_join == pandas merge_asof on random data with duplicate LEFT
    timestamps, empty right sides, and keys missing from either side.
    Right timestamps are kept unique per key (the documented contract)."""
    import datetime as dt

    import pandas as pd

    from deployment_spark.operators.asof import asof_join

    rng = np.random.default_rng(seed)
    base = dt.datetime(2024, 1, 1)

    def t(m):
        return base + dt.timedelta(minutes=int(m))

    lrows = [
        (i, int(rng.integers(n_keys)), t(rng.integers(0, 50)))
        for i in range(n_left)
    ]
    seen = set()
    rrows = []
    for _ in range(n_right):
        k, m = int(rng.integers(n_keys)), int(rng.integers(0, 50))
        if (k, m) in seen:
            continue
        seen.add((k, m))
        rrows.append((k, t(m), float(rng.integers(100))))
    trades = spark.createDataFrame(lrows, "event_id LONG, user_id LONG, ts TIMESTAMP")
    quotes = spark.createDataFrame(
        rrows or [(0, t(999), 0.0)], "user_id LONG, ts TIMESTAMP, value DOUBLE"
    )
    if not rrows:
        quotes = quotes.filter("user_id < 0")  # truly empty, typed

    got = {
        r.event_id: r.value
        for r in asof_join(
            trades, quotes, by=["user_id"], right_cols=["value"],
            direction=direction,
        ).collect()
    }
    lt = pd.DataFrame(lrows, columns=["event_id", "user_id", "ts"]).sort_values("ts")
    rt = pd.DataFrame(rrows, columns=["user_id", "ts", "value"]).sort_values("ts")
    if rt.empty:
        want = {e: None for e in lt.event_id}
    else:
        m = pd.merge_asof(
            lt, rt, on="ts", by="user_id", direction=direction,
            suffixes=("", "_right"),
        )
        want = {
            r.event_id: (None if pd.isna(r.value) else r.value)
            for r in m.itertuples()
        }
    assert got == want


def test_asof_join_null_payload_not_backfilled(spark):
    """A genuinely-NULL payload field in the nearest right row must stay
    NULL — not be backfilled from an OLDER right row (per-column carries
    would mix columns of different right rows; merge_asof/DuckDB ASOF
    take the whole nearest row, NULLs included)."""
    import datetime as dt

    from deployment_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)

    def t(m):
        return base + dt.timedelta(minutes=m)

    # older right row has both fields; nearest has bid NULL
    quotes = spark.createDataFrame(
        [(1, t(0), 10.0, 11.0), (1, t(5), None, 22.0)],
        "user_id LONG, ts TIMESTAMP, bid DOUBLE, ask DOUBLE",
    )
    trades = spark.createDataFrame(
        [(100, 1, t(6))], "event_id LONG, user_id LONG, ts TIMESTAMP"
    )
    row = asof_join(
        trades, quotes, by=["user_id"], right_cols=["bid", "ask"]
    ).collect()[0]
    assert row.ask == 22.0
    assert row.bid is None, "NULL bid was backfilled from an older right row"
    # tolerance excludes the nearest row: time AND payload null together
    row = asof_join(
        trades, quotes, by=["user_id"], right_cols=["bid", "ask"],
        tolerance_us=120_000_000,  # 2 min >= the 1-min gap: row kept
    ).collect()[0]
    assert row.ts_right is not None and row.ask == 22.0
    row = asof_join(
        trades.withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 MINUTES")),
        quotes, by=["user_id"], right_cols=["bid", "ask"],
        tolerance_us=60_000_000,
    ).collect()[0]
    assert row.ts_right is None and row.ask is None and row.bid is None


@PROP
@given(
    n_tokens=st.integers(0, 40),
    window=st.integers(1, 12),
    stride_delta=st.integers(0, 8),
    seed=st.integers(0, 2**16),
)
def test_chunk_text_matches_python_reference(spark, n_tokens, window, stride_delta, seed):
    """chunk_text == a python sliding-window reference for random doc
    lengths / window / stride combinations (stride <= window), including
    empty docs, single-chunk docs, and exact-boundary endings."""
    from deployment_spark.operators.textstats import chunk_text

    stride = max(1, window - stride_delta)
    toks = [f"t{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
    got = {
        (r.chunk_id, r.chunk)
        for r in chunk_text(df, window_tokens=window, stride=stride).collect()
    }
    want = set()
    if toks:
        pos, cid = 0, 0
        while pos < len(toks):
            chunk = toks[pos : pos + window]
            # drop trailing windows fully covered by the previous one
            if pos == 0 or len(chunk) > window - stride:
                want.add((cid, " ".join(chunk)))
            pos += stride
            cid += 1
    assert got == want


@PROP
@given(
    budget=st.integers(5, 50),
    sizes=st.lists(st.integers(1, 80), min_size=1, max_size=30),
)
def test_pack_greedy_oversized_and_random(spark, budget, sizes):
    """Random token sizes INCLUDING docs larger than the budget: greedy
    reference equivalence, and every pack except oversized singletons
    respects the budget."""
    from deployment_spark.operators.packing import pack_greedy

    rows = [(i, 0, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, ["doc_id", "shard", "n_tokens"])
    got = {
        r.doc_id: r.pack_id for r in pack_greedy(df, budget=budget).collect()
    }
    pid, fill, want = 0, 0, {}
    for i, s in enumerate(sizes):
        if fill > 0 and fill + s > budget:
            pid, fill = pid + 1, 0
        fill += s
        want[i] = pid
    assert got == want


@PROP
@given(
    n_pts=st.integers(1, 40),
    n_iv=st.integers(0, 15),
    width=st.floats(0.5, 30.0),
    seed=st.integers(0, 2**16),
)
def test_range_join_matches_naive_random(spark, n_pts, n_iv, width, seed):
    """Binned range join == nested-loop BETWEEN join for random points,
    intervals (including empty / zero-length / overlapping), and bucket
    widths."""
    from deployment_spark.operators.rangejoin import range_join

    rng = np.random.default_rng(seed)
    pts = [(i, float(rng.uniform(0, 100))) for i in range(n_pts)]
    ivs = []
    for b in range(n_iv):
        lo = float(rng.uniform(0, 100))
        ivs.append((b, lo, lo + float(rng.uniform(0, 20))))
    pdf = spark.createDataFrame(pts, "pid LONG, v DOUBLE")
    idf = spark.createDataFrame(ivs or [(0, 1.0, 0.0)], "band_id LONG, lo DOUBLE, hi DOUBLE")
    if not ivs:
        idf = idf.filter("band_id < 0")
    got = {
        (r.pid, r.band_id)
        for r in range_join(pdf, idf, "v", "lo", "hi", width).collect()
    }
    want = {
        (p, b) for p, v in pts for b, lo, hi in ivs if lo <= v <= hi
    }
    assert got == want


def test_range_join_auto_bucket_width():
    """auto width = median interval span (replication ~2x for the
    typical interval); degenerate/empty right sides fall back to 1.0."""
    from deployment_spark.operators.rangejoin import auto_bucket_width

    from deployment_spark import get_spark

    spark = get_spark(cpus=8, shuffle_partitions=8)
    ivs = spark.createDataFrame(
        [(0, 0.0, 2.0), (1, 10.0, 14.0), (2, 20.0, 26.0), (3, 30.0, 38.0), (4, 40.0, 50.0)],
        "band_id LONG, lo DOUBLE, hi DOUBLE",
    )
    w = auto_bucket_width(ivs, "lo", "hi")
    assert w == pytest.approx(6.0, rel=0.2)  # spans 2,4,6,8,10 -> median 6
    degen = spark.createDataFrame([(0, 5.0, 5.0)], "band_id LONG, lo DOUBLE, hi DOUBLE")
    assert auto_bucket_width(degen, "lo", "hi") == 1.0
    empty = degen.filter("band_id < 0")
    assert auto_bucket_width(empty, "lo", "hi") == 1.0
    # skew guard: many tiny spans + one huge one must NOT pick the tiny
    # median as the width (the huge interval would explode into
    # span/width bucket rows); width floors at max_span/max_replication
    skewed = spark.createDataFrame(
        [(i, float(i), float(i) + 0.01) for i in range(200)]
        + [(999, 0.0, 1_000_000.0)],
        "band_id LONG, lo DOUBLE, hi DOUBLE",
    )
    w = auto_bucket_width(skewed, "lo", "hi", max_replication=1024)
    assert w >= 1_000_000.0 / 1024


def test_custom_joins_scale_stress(spark):
    """Scale probe (VERDICT r2 item 6): the two custom joins on a 10x-ish
    fixture keep their designed distributed shapes AND stay exact.

    range_join: 60k points x 3k intervals with self-sized buckets — the
    naive plan is 180M comparisons; the binned plan must (a) contain no
    CartesianProduct/BroadcastNestedLoopJoin, (b) match a numpy
    reference exactly, (c) keep interval replication near the ~2x the
    median-span width predicts (the 100 TB knob).

    asof_join: 100k trades x 10k quotes over 50 keys — must stay the
    tagged-union single-window shape (no join operator in the plan) and
    match pandas merge_asof."""
    import datetime as dt

    import pandas as pd

    from deployment_spark.operators.asof import asof_join
    from deployment_spark.operators.rangejoin import auto_bucket_width, range_join

    rng = np.random.default_rng(11)

    # ---- range join ----
    n_pts, n_iv = 60_000, 3_000
    pts_v = rng.uniform(0, 10_000, n_pts)
    lo = rng.uniform(0, 10_000, n_iv)
    span = rng.uniform(0, 20, n_iv)
    pdf = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(pts_v)], "pid LONG, v DOUBLE"
    ).repartition(8)
    idf = spark.createDataFrame(
        [(int(b), float(lo[b]), float(lo[b] + span[b])) for b in range(n_iv)],
        "band_id LONG, lo DOUBLE, hi DOUBLE",
    )
    joined = range_join(pdf, idf, "v", "lo", "hi")  # bucket_width=None
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    got = joined.groupBy("band_id").count()
    got_counts = {r.band_id: r["count"] for r in got.collect()}
    hi = lo + span
    want_counts = {}
    for b in range(n_iv):
        c = int(((pts_v >= lo[b]) & (pts_v <= hi[b])).sum())
        if c:
            want_counts[b] = c
    assert got_counts == want_counts
    # replication bound: exploded right rows ~ sum(span/width)+|R| <= 3|R|
    w = auto_bucket_width(idf, "lo", "hi")
    repl = int(np.sum(np.floor(hi / w) - np.floor(lo / w) + 1))
    assert repl <= 3 * n_iv, (w, repl)

    # ---- as-of join ----
    n_l, n_r, n_keys = 100_000, 10_000, 50
    base = dt.datetime(2024, 1, 1)
    lt = pd.DataFrame(
        {
            "event_id": np.arange(n_l),
            "user_id": rng.integers(n_keys, size=n_l),
            "ts": [base + dt.timedelta(seconds=int(s)) for s in rng.integers(0, 10**6, n_l)],
        }
    )
    # unique (key, ts) on the right: the documented contract
    rt = pd.DataFrame(
        {
            "user_id": rng.integers(n_keys, size=n_r),
            "ts": [base + dt.timedelta(seconds=int(s)) for s in rng.integers(0, 10**6, n_r)],
            "value": rng.uniform(0, 100, n_r),
        }
    ).drop_duplicates(["user_id", "ts"])
    trades = spark.createDataFrame(lt).repartition(8)
    quotes = spark.createDataFrame(rt)
    out = asof_join(trades, quotes, by=["user_id"], right_cols=["value"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "asof must stay the tagged-union window shape"
    got_asof = {r.event_id: r.value for r in out.collect()}
    m = pd.merge_asof(
        lt.sort_values("ts"),
        rt.sort_values("ts"),
        on="ts",
        by="user_id",
        direction="backward",
    )
    want_asof = {
        r.event_id: (None if pd.isna(r.value) else r.value) for r in m.itertuples()
    }
    assert len(got_asof) == n_l
    mism = [
        k
        for k in want_asof
        if (got_asof[k] is None) != (want_asof[k] is None)
        or (got_asof[k] is not None and abs(got_asof[k] - want_asof[k]) > 1e-9)
    ]
    assert not mism, mism[:5]


@PROP
@given(
    n=st.integers(3, 30),
    dim=st.integers(1, 8),
    seed=st.integers(0, 10**6),
)
def test_sq_codec_matches_numpy_reference(spark, n, dim, seed):
    """SQ8 (operators/sq.py) vs a trivially-correct numpy replica of the
    same formulas: trained ranges are the exact per-dim min/max, every
    code matches round-to-nearest quantization, decode error is within
    half a step, and the Catalyst ADC score equals the numpy ADC score
    (1e-9 — the sums are tiny, so order effects stay below that)."""
    from deployment_spark.operators.sq import SQCodec

    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n, dim))
    x[0] = x[1]  # planted duplicate: exercises zero-range protection only
    # when dim collapses; harmless otherwise
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    codec = SQCodec.train(df)
    lo, hi = x.min(axis=0), x.max(axis=0)
    np.testing.assert_allclose(codec.lo, lo, atol=1e-12)
    np.testing.assert_allclose(codec.hi, hi, atol=1e-12)
    scale = np.where(hi - lo > 0, (hi - lo) / 255.0, 1.0)
    codes = {r.vec_id: np.array(r.codes, dtype=np.int64) for r in codec.encode(df).collect()}
    q = rng.normal(size=dim)
    qdf = spark.createDataFrame(
        [(0, [float(v) for v in q])], "query_id long, query_vec array<double>"
    )
    got = {
        r.vec_id: r.similarity
        for r in codec.search(codec.encode(df), qdf, k=n).collect()
    }
    for i in range(n):
        want_code = np.clip(np.round((x[i] - lo) / scale), 0, 255) - 128
        assert (codes[i] == want_code.astype(np.int64)).all(), i
        dec = lo + (codes[i] + 128) * scale
        assert (np.abs(dec - x[i]) <= scale / 2 + 1e-9).all(), i
        assert abs(got[i] - float(dec @ q)) < 1e-9, i


@PROP
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]), min_size=0, max_size=12),
        min_size=1,
        max_size=12,
    ),
    terms=st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "epsilon"]), min_size=1, max_size=3, unique=True
    ),
)
def test_bm25_matches_python_reference_random(spark, docs, terms):
    """BM25 (operators/retrieval.py) vs a plain-Python replica on random
    tiny corpora: token-less documents are excluded from N and avgdl
    (the operator's contract — they produce no token rows), terms absent
    from the corpus contribute nothing, matched docs agree to 1e-9."""
    import math

    from deployment_spark.operators.retrieval import bm25_scores

    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id long, text string",
    )
    toks = {i: words for i, words in enumerate(docs) if words}
    want = {}
    if toks:
        k1, b = 1.2, 0.75
        n = len(toks)
        avgdl = sum(len(w) for w in toks.values()) / n
        for i, ws in toks.items():
            s, matched = 0.0, 0
            for t in terms:
                tf = ws.count(t)
                if tf == 0:
                    continue
                matched += 1
                dfreq = sum(1 for w2 in toks.values() if t in w2)
                idf = math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(ws) / avgdl))
            if matched:
                want[i] = (s, matched)
    got = {
        r.doc_id: (r.bm25, r.matched_terms) for r in bm25_scores(df, list(terms)).collect()
    }
    assert set(got) == set(want)
    for i, (s, m) in want.items():
        assert got[i][1] == m, i
        assert abs(got[i][0] - s) < 1e-9, (i, got[i][0], s)


def ref_span_dedup(docs: dict[int, list[str]], k: int, min_count: int):
    """Plain-python duplicated-span reference: global k-gram counts →
    covered positions → surviving token lists."""
    from collections import Counter

    counts = Counter(
        " ".join(toks[i : i + k])
        for toks in docs.values()
        for i in range(len(toks) - k + 1)
    )
    out = {}
    for did, toks in docs.items():
        starts = [
            i
            for i in range(len(toks) - k + 1)
            if counts[" ".join(toks[i : i + k])] >= min_count
        ]
        covered = set()
        for s in starts:
            covered.update(range(s, s + k))
        kept = [t for j, t in enumerate(toks) if j not in covered]
        out[did] = (len(toks), len(covered), kept)
    return out


@PROP
@given(
    n_docs=st.integers(1, 8),
    vocab=st.integers(2, 5),
    max_len=st.integers(1, 25),
    k=st.integers(2, 6),
    seed=st.integers(0, 2**16),
)
def test_span_dedup_matches_python_reference(spark, n_docs, vocab, max_len, k, seed):
    """span_dedup == the python reference for random corpora over a TINY
    vocabulary (so chance k-gram collisions are common): token counts,
    removal counts, and the byte-exact surviving text."""
    import hashlib
    import random

    from deployment_spark.operators.dedup import span_dedup

    rng = random.Random(seed)
    docs = {
        d: [f"w{rng.randrange(vocab)}" for _ in range(rng.randrange(1, max_len + 1))]
        for d in range(n_docs)
    }
    df = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs.items()], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in span_dedup(df, span_words=k).collect()}
    want = ref_span_dedup(docs, k, 2)
    assert set(got) == set(want)
    for did, (n_tok, n_rm, kept) in want.items():
        assert got[did].n_tokens == n_tok, did
        assert got[did].n_removed == n_rm, did
        exp_hash = (
            hashlib.md5(" ".join(kept).encode()).hexdigest() if kept else None
        )
        assert got[did].clean_hash == exp_hash, did


def ref_dsir_weights(docs: dict[int, tuple[list[str], bool]], n_buckets: int):
    """Plain-python DSIR reference over md5-hashed uni+bigram buckets."""
    import hashlib
    import math
    from collections import Counter

    def bucket(f: str) -> int:
        return int(hashlib.md5(f"dsir|{f}".encode()).hexdigest()[:8], 16) % n_buckets

    raw_c: Counter = Counter()
    tgt_c: Counter = Counter()
    feats_by_doc = {}
    for did, (toks, is_t) in docs.items():
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        bs = [bucket(f) for f in feats]
        feats_by_doc[did] = bs
        raw_c.update(bs)
        if is_t:
            tgt_c.update(bs)
    raw_n, tgt_n = sum(raw_c.values()), sum(tgt_c.values())
    out = {}
    for did, bs in feats_by_doc.items():
        w = sum(
            math.log((tgt_c[b] + 1) / (tgt_n + n_buckets))
            - math.log((raw_c[b] + 1) / (raw_n + n_buckets))
            for b in bs
        )
        out[did] = (len(bs), w)
    return out


@PROP
@given(
    n_docs=st.integers(1, 10),
    vocab=st.integers(2, 6),
    max_len=st.integers(1, 15),
    seed=st.integers(0, 2**16),
)
def test_dsir_weights_match_python_reference(spark, n_docs, vocab, max_len, seed):
    """dsir_weights == the python reference (same md5 buckets, same
    smoothing) for random corpora and random target labelling —
    including the all-target and no-target degenerate cases."""
    import random

    from deployment_spark.operators.selection import dsir_weights

    rng = random.Random(seed)
    docs = {
        d: (
            [f"w{rng.randrange(vocab)}" for _ in range(rng.randrange(1, max_len + 1))],
            rng.random() < 0.5,
        )
        for d in range(n_docs)
    }
    df = spark.createDataFrame(
        [(d, " ".join(t), is_t) for d, (t, is_t) in docs.items()],
        ["doc_id", "text", "is_t"],
    )
    got = {r.doc_id: r for r in dsir_weights(df, F.col("is_t")).collect()}
    want = ref_dsir_weights(docs, 512)
    assert set(got) == set(want)
    for did, (n_f, w) in want.items():
        assert got[did].n_features == n_f, did
        assert abs(got[did].log_weight - w) < 1e-9, (did, got[did].log_weight, w)
        assert got[did].is_target == int(docs[did][1]), did


@PROP
@given(
    n=st.integers(5, 40),
    nq=st.integers(1, 4),
    k=st.integers(1, 6),
    dim=st.integers(2, 6),
    seed=st.integers(0, 2**16),
)
def test_keyset_pages_tile_ranking_random(spark, n, nq, k, dim, seed):
    """Pagination invariant under random geometry (including tied and
    near-tied scores): page1 + page2 via the keyset cursor == global
    top-2k, exactly, for every query. Requires a full first page
    (n > k): a query with no rank-k row has no cursor, and a NULL
    cursor re-opens the iterator at page 1 by design."""
    from hypothesis import assume

    from deployment_spark.operators.similarity import (
        keyset_page,
        topk_similarity_join_expr,
    )

    assume(n > k)
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype("float32")
    # plant exact duplicates so similarity ties actually occur
    if n >= 10:
        vecs[n - 1] = vecs[0]
        vecs[n - 2] = vecs[1]
    corpus = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(n)], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(nq)], ["query_id", "query_vec"]
    )
    page1 = topk_similarity_join_expr(corpus, queries, k=k)
    after = page1.filter(F.col("rank") == k).select(
        "query_id",
        F.col("similarity").alias("last_sim"),
        F.col("vec_id").alias("last_id"),
    )
    page2 = keyset_page(corpus, queries, after, k=k)
    want = topk_similarity_join_expr(corpus, queries, k=2 * k)
    got = {(r.query_id, r.rank + k, r.vec_id) for r in page2.collect()}
    exp = {
        (r.query_id, r.rank, r.vec_id)
        for r in want.collect()
        if r.rank > k
    }
    # queries with fewer than k results have no cursor: page2 is empty
    # for them and exp contains nothing past rank k either
    assert got == exp


_DROP_RECREATE = [
    ("insert", 1), ("drop", 0), ("insert", 0), ("update", 0), ("replace", 0),
]


@PROP
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(
                ["insert", "upsert", "delete", "update", "replace", "drop",
                 "compact", "vacuum", "meta", "sibling"]
            ),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=3,
        max_size=10,
    ),
    mode=st.sampled_from(["cow", "mor"]),
    seed=st.integers(min_value=0, max_value=10_000),
)
# drop then re-create through the SAME handle
@example(ops=_DROP_RECREATE, mode="cow", seed=1)
@example(ops=_DROP_RECREATE, mode="mor", seed=1)
def test_snapshot_store_matches_dict_model(spark, tmp_path_factory, ops, mode, seed):
    """Stateful model check of the store — the component whose claim /
    vacuum / meta logic all changed in r7. Random interleavings of
    mutations and maintenance against a plain dict model: after every
    op, read() == model, point reads (zone + bloom skipping on mor) ==
    model, versions move strictly forward, and commit meta is carried
    forward (never erased by compact/vacuum/meta-less mutations).
    ``sibling`` runs the next mutation through a second long-lived
    handle on the same root; ``drop`` resets the model, and the next
    insert or replace re-creates the store on the dropped handle. After
    every op the first handle's read() must equal a fresh handle's, and
    a time-travel read of a random surviving earlier version must equal
    the model recorded there — the driver-side caches are keyed by
    durable state, so neither a sibling's commits nor an old version
    can serve a stale entry."""
    import random

    from deployment_spark.operators.crud import SnapshotStore

    rng = random.Random(seed)
    root = str(tmp_path_factory.mktemp("prop_store"))

    def handle():
        return SnapshotStore(
            spark, root, key="id", mode=mode,
            compact_when=4 if mode == "mor" else None,
            # tiny bloom (16 words): high fp rate on purpose — fp must only
            # cost a scan; the model check catches any wrong skip
            bloom_bits=1 << 10 if mode == "mor" else None,
        )

    store = handle()
    sibling = handle()  # long-lived too: its memos must not go stale
    model: dict[int, str] = {}
    meta_model: dict = {}
    history: dict[int, dict] = {}  # version -> model at that version
    next_id = 0
    last_version = 0
    to_sibling = False

    def mk_rows(pairs):
        return spark.createDataFrame(pairs, "id long, payload string")

    for op, arg in ops:
        if op == "sibling":
            to_sibling = True
            continue
        w = sibling if to_sibling else store
        to_sibling = False
        if op == "insert":
            rows = [(next_id + i, f"p{seed}-{next_id + i}") for i in range(arg + 1)]
            next_id += len(rows)
            if w.exists():
                w.insert(mk_rows(rows))
            else:
                w.create(mk_rows(rows))
            for k, v in rows:
                model.setdefault(k, v)
        elif op == "upsert" and model:
            ks = rng.sample(sorted(model), min(arg + 1, len(model)))
            rows = [(k, f"u{seed}-{k}-{arg}") for k in ks]
            w.upsert(mk_rows(rows))
            model.update(dict(rows))
        elif op == "delete" and model:
            ks = rng.sample(sorted(model), min(arg + 1, len(model)))
            w.delete_ids(ks)
            for k in ks:
                model.pop(k)
        elif op == "update" and model:
            # delete the sampled keys, re-insert all but one of them with
            # new payloads plus one NEW id (update may move ids)
            ks = rng.sample(sorted(model), min(arg + 1, len(model)))
            rows = [(k, f"d{seed}-{k}-{arg}") for k in ks[1:]]
            rows.append((next_id, f"d{seed}-{next_id}-{arg}"))
            next_id += 1
            w.update(ks, mk_rows(rows))
            for k in ks:
                model.pop(k)
            model.update(dict(rows))
        elif op == "replace":
            keep = rng.sample(sorted(model), min(arg, len(model)))
            rows = [(k, f"r{seed}-{k}-{arg}") for k in keep]
            rows.append((next_id, f"r{seed}-{next_id}-{arg}"))
            next_id += 1
            w.replace(mk_rows(rows))  # create() when the store is absent
            model = dict(rows)
        elif op == "drop":
            w.drop()
            model, meta_model, history = {}, {}, {}
            last_version = 0
        elif op == "compact" and w.exists():
            w.compact()
        elif op == "vacuum" and w.exists():
            keep = rng.choice([1, 2, 5])
            w.vacuum(keep_last=keep)
            history = {
                hv: m for hv, m in history.items()
                if hv > w.current_version() - keep
            }
        elif op == "meta" and w.exists():
            new = {f"k{arg % 3}": arg}
            w.update_meta(new)
            meta_model.update(new)
        if not store.exists():
            continue
        v = store.current_version()
        assert v >= last_version, (v, last_version)
        for hv in range(last_version + 1, v + 1):
            history[hv] = dict(model)
        last_version = v
        got = {r.id: r.payload for r in store.read().collect()}
        assert got == model, (op, arg, len(got), len(model))
        fresh = {r.id: r.payload for r in handle().read().collect()}
        assert fresh == got, (op, arg)
        tv = rng.choice(sorted(history))
        got_tv = {r.id: r.payload for r in store.read(tv).collect()}
        assert got_tv == history[tv], (op, arg, tv)
        # point read through the skipping stack: present keys, a deleted/
        # never-inserted key, mixed — must equal the model's view exactly
        probe = rng.sample(sorted(model), min(2, len(model))) if model else []
        probe.append(1_000_000 + arg)  # definitely absent
        got_pt = {r.id: r.payload for r in store.read_where_key_in(probe).collect()}
        assert got_pt == {k: model[k] for k in probe if k in model}, (op, probe)
        got_meta = store.commit_meta()
        for k, want in meta_model.items():
            assert got_meta.get(k) == want, (k, got_meta)
