"""Top-k similarity join (J1) — numpy brute force is the golden oracle
(SURVEY §5.2(2))."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from deployment_spark.operators.binary import hamming_topk_blocked
from deployment_spark.operators.pq import PQCodec
from deployment_spark.operators.similarity import (
    cosine_neardup_pairs,
    radius_search,
    radius_search_auto,
    radius_search_blocked,
    cosine_neardup_pairs_exact,
    cosine_neardup_pairs_expr,
    enrich_topk,
    topk_similarity_join,
    topk_similarity_join_auto,
    topk_similarity_join_blocked,
    topk_similarity_join_expr,
)
from deployment_spark.operators.sq import SQCodec


def _blocked_small(corpus, queries, k=5, **kw):
    # tiny blocks so the fixture actually exercises multi-block grids
    return topk_similarity_join_blocked(
        corpus, queries, k=k, query_block_rows=2, corpus_block_rows=32, **kw
    )


@pytest.fixture(scope="module")
def corpus_np(embeddings):
    rows = embeddings.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], mat[order]


def numpy_topk(ids, mat, qids, qmat, k):
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qn = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    sims = matn @ qn.T
    golden = {}
    for j, qid in enumerate(qids):
        # sort by (-sim, id) to mirror the engine's deterministic tie-break
        order = np.lexsort((ids, -sims[:, j]))[:k]
        golden[qid] = [(int(ids[i]), float(sims[i, j])) for i in order]
    return golden


@pytest.fixture(scope="module")
def queries_df(embeddings):
    return embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@pytest.mark.parametrize(
    "impl", [topk_similarity_join, topk_similarity_join_expr, _blocked_small]
)
def test_topk_matches_numpy(embeddings, queries_df, corpus_np, impl):
    k = 5
    ids, mat = corpus_np
    qrows = queries_df.collect()
    qids = [r.query_id for r in qrows]
    qmat = np.array([r.query_vec for r in qrows], dtype=np.float64)
    golden = numpy_topk(ids, mat, qids, qmat, k)

    got = impl(embeddings, queries_df, k=k).collect()
    assert len(got) == len(qids) * k
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.similarity))
    for qid in qids:
        rows = sorted(by_q[qid])
        assert [v for _, v, _ in rows] == [v for v, _ in golden[qid]]
        for (_, _, sim), (_, gsim) in zip(rows, golden[qid]):
            assert abs(sim - gsim) < 1e-9


def test_query_from_corpus_is_own_nearest(embeddings, queries_df):
    """Queries drawn from the corpus must hit themselves at rank 1
    (reference behavior: queries are the first rows of the data,
    Milvus/stream1.py:26,398)."""
    got = topk_similarity_join(embeddings, queries_df, k=1).collect()
    for r in got:
        assert r.vec_id == r.query_id
        assert abs(r.similarity - 1.0) < 1e-9


def test_k_capping(embeddings, queries_df):
    """V7 — k > corpus size never over-returns (pipeline+ui.py:230)."""
    small = embeddings.filter(F.col("vec_id") < 4)
    got = topk_similarity_join(small, queries_df, k=100).collect()
    per_q = {}
    for r in got:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(v == 4 for v in per_q.values())


def test_enrich_topk(embeddings, queries_df):
    res = topk_similarity_join(embeddings, queries_df, k=3)
    enriched = enrich_topk(res, embeddings, payload_cols=["label"])
    rows = enriched.collect()
    assert len(rows) == 9
    assert "label" in enriched.columns


def test_blocked_tie_break_across_corpus_blocks(spark):
    """The blocked path's local pre-reduce must apply the TYPED global
    tie-break even though ids travel as strings through the pandas
    stage: 40 identical vectors hashed across 8 corpus blocks all tie
    at exactly 1.0 (axis vectors — no BLAS jitter), so string order
    ('10' < '9') instead of numeric order at the block-local k-boundary
    would surface the wrong ids."""
    import random

    rng = random.Random(7)
    ids = list(range(40))
    rng.shuffle(ids)
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0]) for i in ids], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame([(0, [1.0, 0.0, 0.0])], ["query_id", "query_vec"])
    got = (
        topk_similarity_join_blocked(
            corpus, queries, k=5, num_corpus_blocks=8, num_query_blocks=1
        )
        .orderBy("rank")
        .collect()
    )
    assert [r.vec_id for r in got] == [0, 1, 2, 3, 4]
    assert all(abs(r.similarity - 1.0) < 1e-12 for r in got)


def test_blocked_empty_and_kcap(spark, embeddings, queries_df):
    """Typed empty result on an empty query set; k > corpus never
    over-returns (same V7 contract as the broadcast path)."""
    empty_q = queries_df.limit(0)
    out = topk_similarity_join_blocked(embeddings, empty_q, k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "rank", "similarity"]
    small = embeddings.filter(F.col("vec_id") < 4)
    got = topk_similarity_join_blocked(
        small, queries_df, k=100, num_corpus_blocks=2
    ).collect()
    per_q = {}
    for r in got:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(v == 4 for v in per_q.values())


def test_blocked_paths_tolerate_null_vectors(spark):
    """r8 review: null-vector rows crashed the numpy stage of the
    blocked paths while their broadcast siblings drop such rows through
    a null similarity — a caller auto-routed across the query-count
    threshold went from working to crashing on identical data. Null
    rows are now excluded codegen-side: null corpus rows never rank,
    null-vec queries return no rows."""
    from deployment_spark.operators.similarity import radius_search_blocked

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.8, 0.6]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, None)],
        "query_id long, query_vec array<double>",
    )
    got = _blocked_small(corpus, queries, k=2).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    assert sorted(by_q[10]) == [(1, 1), (2, 2)]
    assert 11 not in by_q
    hits = radius_search_blocked(
        corpus, queries, radius=0.5, query_block_rows=1, corpus_block_rows=2
    ).collect()
    assert {(r.query_id, r.vec_id) for r in hits} == {(10, 1), (10, 2)}


def _ones(vec):
    # one packed word of x ones, x = the vector's first component: the
    # Hamming distance between two such words is |x_a - x_b|
    return F.expr(f"array(shiftleft(1L, cast({vec}[0] as int)) - 1)")


def _pq_codec():
    # m=1: the six centroids are the inline corpus vectors themselves
    return PQCodec(np.array([[[float(i), 1.0] for i in range(6)]]))


def _sq_codec():
    return SQCodec(np.array([0.0, 1.0]), np.array([5.0, 1.0]))


# every blocked operator over an inline (vec_id, embedding) corpus and
# (query_id, query_vec) batch; on the frames below each ranks corpus
# rows by closeness of the first component to the query's
BLOCKED_OPS = {
    "topk_similarity_join_blocked": lambda c, q, k: topk_similarity_join_blocked(
        c, q, k=k, num_corpus_blocks=3
    ),
    "radius_search_blocked": lambda c, q, k: radius_search_blocked(
        c, q, 0.99, limit_per_query=k, num_corpus_blocks=3
    ),
    "hamming_topk_blocked": lambda c, q, k: hamming_topk_blocked(
        c.select("vec_id", _ones("embedding").alias("bits")),
        q.select("query_id", _ones("query_vec").alias("query_bits")),
        k=k, num_corpus_blocks=3,
    ),
    "PQCodec.search_batch": lambda c, q, k: _pq_codec().search_batch(
        _pq_codec().encode(c), q, k=k, num_code_blocks=3
    ),
    "SQCodec.search_batch": lambda c, q, k: _sq_codec().search_batch(
        _sq_codec().encode(c), q, k=k, num_code_blocks=3
    ),
}


@pytest.mark.parametrize("op", list(BLOCKED_OPS))
def test_blocked_preserves_large_int64_ids(spark, op):
    """Ids above 2^53 — the reason every blocked operator moves ids
    through its pandas stage as strings: the union frame's nullable id
    columns become float64 in pandas, which silently corrupts
    snowflake-scale int64 ids (base+4 and base+5 would collide)."""
    base = 1 << 60
    corpus = spark.createDataFrame(
        [(base + i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(base + 100, [5.0, 1.0])], "query_id long, query_vec array<double>"
    )
    got = BLOCKED_OPS[op](corpus, queries, 2).collect()
    assert {r.query_id for r in got} == {base + 100}
    assert sorted(r.vec_id for r in got) == [base + 4, base + 5]


@pytest.mark.parametrize("op", list(BLOCKED_OPS))
def test_blocked_rejects_unorderable_id_types(spark, op):
    """r8 review: a decimal/timestamp corpus id would silently fall back
    to STRING tie-break order inside the pandas stage while the global
    window orders by the real type — wrong ids at tied k-boundaries.
    Every blocked operator must refuse such types up front instead."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], ["vec_id", "embedding"]
    ).withColumn("vec_id", F.col("vec_id").cast("decimal(10,0)"))
    queries = spark.createDataFrame([(1, [1.0, 0.0])], ["query_id", "query_vec"])
    with pytest.raises(ValueError, match="unsupported corpus id type"):
        BLOCKED_OPS[op](corpus, queries, 1)


def test_radius_blocked_matches_broadcast(embeddings, queries_df):
    """The blocked range search must return the same HIT SET as the
    broadcast form (membership is ulp-robust here: the probe radius sits
    ≥ 4.5e-4 from every sim at this SF — same margin argument as the
    topk_enriched radius probe), and the limited form the same capped
    ranking."""
    a = radius_search(embeddings, queries_df, 0.3).collect()
    b = radius_search_blocked(
        embeddings, queries_df, 0.3, query_block_rows=2, corpus_block_rows=64
    ).collect()
    assert {(r.query_id, r.vec_id) for r in a} == {(r.query_id, r.vec_id) for r in b}
    al = radius_search(embeddings, queries_df, 0.3, limit_per_query=7).collect()
    bl = radius_search_blocked(
        embeddings, queries_df, 0.3, limit_per_query=7,
        query_block_rows=2, corpus_block_rows=64,
    ).collect()
    ka = {(r.query_id, r.rank): r.vec_id for r in al}
    kb = {(r.query_id, r.rank): r.vec_id for r in bl}
    assert ka == kb
    # auto: both routes agree
    auto_b = radius_search_auto(
        embeddings, queries_df, 0.3, limit_per_query=7, broadcast_max_queries=0
    ).collect()
    assert {(r.query_id, r.rank): r.vec_id for r in auto_b} == ka


def test_radius_blocked_exact_duplicates_only(embeddings, queries_df):
    """radius 1.0: only exact self/duplicate matches survive — mirrors
    test_radius_one_returns_only_exact_duplicates for the blocked form
    (1 − 1e-9 guard: pairwise numpy cosine of a vector with itself can
    land at 1.0 − ulp)."""
    got = radius_search_blocked(
        embeddings, queries_df, 1.0 - 1e-9, query_block_rows=2, corpus_block_rows=64
    ).collect()
    assert {r.query_id for r in got} == {r.query_id for r in queries_df.collect()}
    for r in got:
        assert r.similarity >= 1.0 - 1e-9


def test_topk_auto_routes_by_query_count(embeddings, queries_df):
    """The auto entry point: FAISS-contract batches broadcast; above the
    threshold the block-pair path runs — and both return the same
    ranking (ulp-tolerant compare: BLAS summation order differs across
    matrix shapes, so similarities may differ in the last bits)."""
    via_bcast = topk_similarity_join_auto(embeddings, queries_df, k=5)
    via_blocked = topk_similarity_join_auto(
        embeddings, queries_df, k=5, broadcast_max_queries=0
    )
    a = {(r.query_id, r.rank): (r.vec_id, r.similarity) for r in via_bcast.collect()}
    b = {(r.query_id, r.rank): (r.vec_id, r.similarity) for r in via_blocked.collect()}
    assert a.keys() == b.keys()
    for key in a:
        (av, asim), (bv, bsim) = a[key], b[key]
        assert abs(asim - bsim) < 1e-9
        # rank flips are legitimate only between ulp-tied candidates
        if av != bv:
            assert abs(asim - bsim) < 1e-12


def test_topk_tie_break_deterministic_across_partitions(spark):
    """Exact-similarity ties straddling the local k-boundary (common in
    dedup-style corpora with duplicate vectors) must resolve by the
    documented (sim desc, id asc) order — the local pre-reduce has to be
    tie-aware, or a lower-id tied candidate gets dropped before the
    global window sees it (round-1 advice)."""
    # 40 identical vectors spread over 8 partitions, ids shuffled so low
    # ids land in different partitions; all sims tie at 1.0.
    import random

    rng = random.Random(7)
    ids = list(range(40))
    rng.shuffle(ids)
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0]) for i in ids], ["vec_id", "embedding"]
    ).repartition(8)
    queries = spark.createDataFrame([(0, [1.0, 0.0, 0.0])], ["query_id", "query_vec"])
    for _ in range(3):  # repeated runs: determinism, not luck
        got = topk_similarity_join(corpus, queries, k=5).orderBy("rank").collect()
        assert [r.vec_id for r in got] == [0, 1, 2, 3, 4]
        assert all(abs(r.similarity - 1.0) < 1e-12 for r in got)


def test_cosine_neardup_pairs(embeddings):
    sub = embeddings.filter(F.col("vec_id") < 50)
    pairs = cosine_neardup_pairs(sub, threshold=-1.0).collect()
    assert len(pairs) == 50 * 49 // 2
    for r in pairs:
        assert r.a_id < r.b_id


def test_exact_blocked_matches_catalyst_twin(embeddings):
    """The distributed block-pair form (multiple blocks, so cross-block
    and same-block code paths both run) must equal the pure-Catalyst
    all-pairs twin exactly."""
    sub = embeddings.filter(F.col("vec_id") < 60)
    got = {
        (r.a_id, r.b_id): r.cosine
        for r in cosine_neardup_pairs_exact(
            sub, 0.2, target_block_rows=16
        ).collect()
    }
    want = {
        (r.a_id, r.b_id): r.cosine
        for r in cosine_neardup_pairs_expr(sub, 0.2).collect()
    }
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-9 for k in got)


def test_lsh_path_full_recall_at_high_threshold(spark, embeddings):
    """Bucket-first LSH path (the 100 TB default): banding auto-sized for
    the threshold must recover every true pair the exact path finds —
    planted near-dups at cosine ≈ 0.9999 across a corpus whose natural
    pairs top out far below the threshold."""
    base = embeddings.filter(F.col("vec_id") < 100).select("vec_id", "embedding")
    planted = base.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 5000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * 1.0001
        ).alias("embedding"),
    )
    allv = base.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(planted)
    got = {
        (r.a_id, r.b_id)
        for r in cosine_neardup_pairs(allv, 0.99, method="lsh").collect()
    }
    want = {
        (r.a_id, r.b_id)
        for r in cosine_neardup_pairs_exact(allv, 0.99).collect()
    }
    assert got == want
    assert want  # the planted pairs actually exist


def test_neardup_never_touches_the_driver(spark, embeddings, monkeypatch):
    """Round-1 verdict item 1: no driver-side corpus collect() in either
    near-dup path. collect() is forbidden for the whole build+execute."""
    import pyspark.sql

    def forbidden(self):
        raise AssertionError("cosine_neardup_pairs collected to the driver")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", forbidden)
    sub = embeddings.filter(F.col("vec_id") < 40)
    n_lsh = cosine_neardup_pairs(sub, 0.99, method="lsh").count()
    n_exact = cosine_neardup_pairs_exact(sub, 0.5, target_block_rows=16).count()
    assert n_lsh >= 0 and n_exact >= 0


@pytest.mark.parametrize(
    "impl", [topk_similarity_join, topk_similarity_join_expr, _blocked_small]
)
def test_l2_metric_matches_numpy(spark, embeddings, impl):
    """metric='l2' — FAISS IndexFlatL2 parity on UN-normalized vectors:
    smallest squared distance wins, desc-similarity window unchanged."""
    import numpy as np

    sub = embeddings.filter(F.col("vec_id") < 60).select("vec_id", "embedding")
    rows = sub.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    queries = spark.createDataFrame(
        [(int(ids[i]), [float(x) for x in mat[i]]) for i in range(3)],
        ["query_id", "query_vec"],
    )
    got = {
        (r.query_id, r.rank): r.vec_id
        for r in impl(sub, queries, k=5, metric="l2").collect()
    }
    for qi in range(3):
        d2 = ((mat - mat[qi]) ** 2).sum(axis=1)
        order = sorted(range(len(ids)), key=lambda j: (round(d2[j], 9), ids[j]))[:5]
        for rank, j in enumerate(order, 1):
            assert got[(int(ids[qi]), rank)] == int(ids[j])


def test_radius_search_matches_numpy_filter(embeddings, queries_df, corpus_np):
    """Range search (Milvus range-search mode): hit set must equal the
    brute-force cosine >= radius filter, self-query included at sim 1."""
    from deployment_spark.operators.similarity import radius_search

    ids, mat = corpus_np
    qrows = queries_df.collect()
    radius = 0.3
    got = {}
    for r in radius_search(embeddings, queries_df, radius=radius).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for q in qrows:
        qv = np.array(q.query_vec, dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        sims = matn @ qv
        want = {int(i) for i, s in zip(ids, sims) if s >= radius}
        assert got.get(q.query_id, set()) == want
        assert q.query_id in got[q.query_id]  # self-hit at sim 1.0


def test_radius_search_limit_caps_and_ranks(embeddings, queries_df):
    from deployment_spark.operators.similarity import radius_search

    out = radius_search(embeddings, queries_df, radius=-1.0, limit_per_query=7)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append((r.rank, r.similarity))
    for qid, rs in per_q.items():
        rs.sort()
        assert [rank for rank, _ in rs] == list(range(1, 8))
        sims = [s for _, s in rs]
        assert sims == sorted(sims, reverse=True)


def test_radius_search_unlimited_has_no_shuffle(embeddings, queries_df):
    """Without a limit the radius scan is a broadcast join + filter —
    zero shuffle exchanges; output size is bounded by selectivity, so
    nothing needs a global ordering pass."""
    from deployment_spark.operators.similarity import radius_search

    plan = (
        radius_search(embeddings, queries_df, radius=0.3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan, plan


def test_radius_one_returns_only_exact_duplicates(embeddings, queries_df):
    from deployment_spark.operators.similarity import radius_search

    rows = radius_search(embeddings, queries_df, radius=1.0 - 1e-9).collect()
    assert {r.query_id for r in rows} == {0, 1, 2}
    for r in rows:
        assert r.similarity >= 1.0 - 1e-9


def test_grouped_topk_distinct_groups_and_best_member(embeddings, queries_df, corpus_np):
    """Grouping search (Milvus group_by_field): per query, k DISTINCT
    groups, each represented by its best member; verified against a
    numpy group-max reference."""
    from deployment_spark.operators.similarity import grouped_topk

    ids, mat = corpus_np
    labels = {r.vec_id: r.label for r in embeddings.select("vec_id", "label").collect()}
    out = grouped_topk(embeddings, queries_df, k=4, group_col="label").collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for q in queries_df.collect():
        rows = sorted(per_q[q.query_id], key=lambda r: r.rank)
        # distinct groups, ranks 1..k, sims descending
        assert len({r.label for r in rows}) == len(rows) == 4
        sims = [r.similarity for r in rows]
        assert sims == sorted(sims, reverse=True)
        # reference: best sim per group, then top-4 groups
        qv = np.array(q.query_vec, dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        s = matn @ qv
        best = {}
        for i, cid in enumerate(ids):
            g = labels[int(cid)]
            # mirror the (sim desc, id asc) tie-break
            cur = best.get(g)
            if cur is None or (s[i], -int(cid)) > (cur[0], -cur[1]):
                best[g] = (float(s[i]), int(cid))
        want = sorted(best.items(), key=lambda kv: (-kv[1][0], kv[1][1]))[:4]
        got = [(r.label, (round(r.similarity, 9), r.vec_id)) for r in rows]
        for (wg, (ws, wc)), (gg, (gs, gc)) in zip(want, got):
            assert wg == gg and wc == gc, (want, got)


def test_filtered_ann_pushes_predicate_to_scan(spark, embeddings, queries_df):
    """Scalar-filtered ANN: the label predicate must reach the parquet
    scan (PushedFilters), not run above the similarity evaluation."""
    from deployment_spark.operators.similarity import topk_similarity_join_expr

    filt = topk_similarity_join_expr(
        embeddings.filter(F.col("label") % 3 == 0), queries_df, k=5
    )
    labels = {r.vec_id: r.label for r in embeddings.select("vec_id", "label").collect()}
    assert all(labels[r.vec_id] % 3 == 0 for r in filt.collect())


def test_keyset_pages_tile_the_global_ranking(embeddings, queries_df):
    """search_iterator semantics: page 1 (top-k) + page 2 via the
    keyset cursor must equal the global top-2k exactly, in order — the
    cursor predicate never skips or readmits a row. Cursor and page-2
    scores both come from the Catalyst scorer, so the boundary
    comparison is bit-exact."""
    from deployment_spark.operators.similarity import (
        keyset_page,
        topk_similarity_join_expr,
    )

    k = 5
    page1 = topk_similarity_join_expr(embeddings, queries_df, k=k)
    after = page1.filter(F.col("rank") == k).select(
        "query_id",
        F.col("similarity").alias("last_sim"),
        F.col("vec_id").alias("last_id"),
    )
    page2 = keyset_page(embeddings, queries_df, after, k=k)
    want = topk_similarity_join_expr(embeddings, queries_df, k=2 * k)
    got = {
        (r.query_id, r.rank + k): r.vec_id for r in page2.collect()
    }
    exp = {
        (r.query_id, r.rank): r.vec_id
        for r in want.filter(F.col("rank") > k).collect()
    }
    assert got == exp


def test_keyset_page_without_cursor_is_page_one(embeddings, queries_df):
    """A query absent from the cursor table gets page 1 (NULL cursor
    disables the predicate) — the iterator's opening call."""
    from deployment_spark.operators.similarity import (
        keyset_page,
        topk_similarity_join_expr,
    )

    empty = embeddings.sparkSession.createDataFrame(
        [], "query_id long, last_sim double, last_id long"
    )
    got = keyset_page(embeddings, queries_df, empty, k=3).collect()
    exp = topk_similarity_join_expr(embeddings, queries_df, k=3).collect()
    assert {(r.query_id, r.rank, r.vec_id) for r in got} == {
        (r.query_id, r.rank, r.vec_id) for r in exp
    }


def test_auto_router_nq_hint_skips_count(spark, embeddings):
    """r9 (VERDICT r8 finding #3): a caller-supplied nq must be trusted
    for routing — no count aggregate over the query frame — and both
    hint values route to exact results (the hint changes plan shape,
    never the answer)."""
    from unittest import mock

    from deployment_spark.operators.similarity import (
        topk_similarity_join,
        topk_similarity_join_auto,
    )

    q = embeddings.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    want = {
        (r.query_id, r.rank): r.vec_id
        for r in topk_similarity_join(embeddings, q, k=3).collect()
    }
    for hint, label in ((6, "broadcast"), (10**7, "blocked")):
        # instance patch: only the QUERY frame's count must be skipped —
        # the blocked route's corpus-side sizing count is legitimate
        with mock.patch.object(
            q, "count", side_effect=AssertionError("router counted queries")
        ):
            df = topk_similarity_join_auto(embeddings, q, k=3, nq=hint)
        got = {(r.query_id, r.rank): r.vec_id for r in df.collect()}
        assert got == want, label


def test_broadcast_ceiling_is_dim_aware(spark):
    """r10 (VERDICT r9 #5): the auto routers' broadcast ceiling is a
    BYTES budget divided by the query dimensionality, not a fixed row
    count — the switch point must move with d (halve at 2×d, grow at
    d=64), preserve the d=384 derivation exactly, honor a caller dim
    hint without probing, and fall back safely on an empty frame."""
    from unittest import mock

    from deployment_spark.operators import similarity as sim

    def qdf(d):
        return spark.createDataFrame(
            [(1, [0.1] * d)], "query_id long, query_vec array<double>"
        )

    assert sim._broadcast_query_ceiling(qdf(384), "query_vec") == 65536
    assert sim._broadcast_query_ceiling(qdf(768), "query_vec") == 32768
    assert sim._broadcast_query_ceiling(qdf(64), "query_vec") == 393216
    # dim hint wins over the frame (and must not probe it)
    frame = qdf(64)
    with mock.patch.object(
        type(frame), "first", side_effect=AssertionError("probed despite hint")
    ):
        assert sim._broadcast_query_ceiling(frame, "query_vec", dim=768) == 32768
    empty = spark.createDataFrame([], "query_id long, query_vec array<double>")
    assert sim._broadcast_query_ceiling(empty, "query_vec") == 65536
    # and the routers consume it: at d=64, nq=70k stays broadcast (the
    # old fixed 65536 ceiling would have routed it to blocked); above
    # the derived ceiling the blocked path fires
    routed = {}
    with mock.patch.object(
        sim, "topk_similarity_join",
        side_effect=lambda *a, **k: routed.setdefault("route", "bcast"),
    ), mock.patch.object(
        sim, "topk_similarity_join_blocked",
        side_effect=lambda *a, **k: routed.setdefault("route", "blocked"),
    ):
        sim.topk_similarity_join_auto(qdf(64), qdf(64), k=3, nq=70_000)
        assert routed.pop("route") == "bcast"
        sim.topk_similarity_join_auto(qdf(64), qdf(64), k=3, nq=400_000)
        assert routed.pop("route") == "blocked"
        sim.topk_similarity_join_auto(qdf(768), qdf(768), k=3, nq=70_000)
        assert routed.pop("route") == "blocked"
