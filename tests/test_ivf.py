"""IVF index (V3-V5): nprobe=nlist must equal exact search; nprobe<nlist
must reach a recall floor (SURVEY §5.2(2))."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deployment_spark.operators.ivf import IVFIndex, reference_nlist
from deployment_spark.operators.similarity import topk_similarity_join


def test_reference_nlist():
    assert reference_nlist(4) == 2
    assert reference_nlist(10000) == 100
    assert reference_nlist(1000000) == 100  # capped at 100
    assert reference_nlist(0) == 1  # UI-Demo max(1, ...) guard


@pytest.fixture(scope="module")
def index(spark, embeddings, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ivf"))
    idx = IVFIndex(spark, root).build(embeddings, nlist=16)
    return idx


@pytest.fixture(scope="module")
def queries_df(embeddings):
    return embeddings.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_index_roundtrip(index, embeddings):
    assert index.ntotal() == embeddings.count()
    assert index.centroids().shape == (16, 64)
    assert "cluster_id" in index.data().columns


def test_full_probe_equals_exact(index, embeddings, queries_df):
    exact = topk_similarity_join(embeddings, queries_df, k=5)
    ivf = index.search(queries_df, k=5, nprobe=16)
    e = {(r.query_id, r.rank): r.vec_id for r in exact.collect()}
    g = {(r.query_id, r.rank): r.vec_id for r in ivf.collect()}
    assert e == g


def test_range_search_full_probe_is_exact_radius(index, embeddings, queries_df):
    """r8: Milvus range search against the index. At nprobe ≥ nlist the
    pruning is a no-op, so the result must equal the flat radius_search
    on the same rows — both sides run the identical Catalyst cosine on
    the identical vectors, so even the similarities are bit-equal."""
    from deployment_spark.operators.similarity import radius_search

    got = sorted(
        map(
            tuple,
            index.range_search(
                queries_df, radius=0.3, nprobe=10**9, limit_per_query=20
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            radius_search(
                embeddings, queries_df, radius=0.3, limit_per_query=20
            ).collect(),
        )
    )
    assert got == want and got
    # unlimited form: no rank column, every limited hit present, every
    # row a true radius hit
    g2 = index.range_search(queries_df, radius=0.3, nprobe=10**9)
    assert g2.columns == ["query_id", "vec_id", "similarity"]
    rows2 = g2.collect()
    assert {(q, v) for q, v, _r, _s in want} <= {
        (r.query_id, r.vec_id) for r in rows2
    }
    assert all(r.similarity >= 0.3 for r in rows2)


def test_range_search_pruned_is_subset(index, embeddings, queries_df):
    """Pruning may only REMOVE hits (the Milvus approximate-range
    contract): every pruned hit is a true radius hit. (No self-hit
    guarantee at nprobe=1: assignment is Euclidean k-means while
    routing is cosine on the raw vectors, so a query's top cosine
    centroid need not be its assigned cluster.)"""
    from deployment_spark.operators.similarity import radius_search

    exact = {
        (r.query_id, r.vec_id)
        for r in radius_search(embeddings, queries_df, radius=0.3).collect()
    }
    pruned = [
        r for r in index.range_search(queries_df, radius=0.3, nprobe=1).collect()
    ]
    assert pruned
    assert {(r.query_id, r.vec_id) for r in pruned} <= exact
    assert all(r.similarity >= 0.3 for r in pruned)
    # pruning at nprobe=1 must be a STRICT subset on this fixture (if it
    # ever equals the exact set the test is vacuous — widen the fixture)
    assert len({(r.query_id, r.vec_id) for r in pruned}) < len(exact)


def test_range_search_empty_and_bad_routing(spark, index, queries_df):
    empty = queries_df.limit(0)
    out = index.range_search(empty, radius=0.3)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "similarity"]
    out_lim = index.range_search(empty, radius=0.3, limit_per_query=5)
    assert out_lim.columns == ["query_id", "vec_id", "rank", "similarity"]
    with pytest.raises(ValueError, match="unknown routing"):
        index.range_search(queries_df, radius=0.3, routing="Driver")


def test_range_search_batch_matches_interactive(index, embeddings, queries_df):
    """r8: the corpus-scale batch range route (blocked centroid routing
    + grouped radius hits) must match range_search at the same nprobe —
    hit set (ulp-robust: the 0.3 boundary clears every sim by ≥ 4.5e-4
    at this SF), capped ranking, and salting invisibility."""
    a = {
        (r.query_id, r.vec_id)
        for r in index.range_search(queries_df, radius=0.3, nprobe=4).collect()
    }
    b = {
        (r.query_id, r.vec_id)
        for r in index.range_search_batch(
            queries_df, radius=0.3, nprobe=4, num_query_blocks=2
        ).collect()
    }
    assert a == b and a
    al = index.range_search(
        queries_df, radius=0.3, nprobe=10**9, limit_per_query=7
    ).collect()
    bl = index.range_search_batch(
        queries_df, radius=0.3, nprobe=10**9, limit_per_query=7,
        num_query_blocks=2,
    ).collect()
    assert {(r.query_id, r.rank): r.vec_id for r in al} == {
        (r.query_id, r.rank): r.vec_id for r in bl
    }
    # salting must not change the hit set (bound small enough to split
    # every probed cluster)
    salted = {
        (r.query_id, r.vec_id)
        for r in index.range_search_batch(
            queries_df, radius=0.3, nprobe=4, max_cluster_rows_per_task=7
        ).collect()
    }
    assert salted == b
    # empty query set keeps both shapes typed
    empty = queries_df.limit(0)
    assert index.range_search_batch(empty, radius=0.3).columns == [
        "query_id", "vec_id", "similarity",
    ]
    assert index.range_search_batch(
        empty, radius=0.3, limit_per_query=5
    ).columns == ["query_id", "vec_id", "rank", "similarity"]


def test_search_batch_matches_search(index, embeddings, queries_df):
    """The corpus-scale batch path (blocked centroid routing + cluster-
    grouped scoring, nothing query-scale on the driver) must return the
    same results as search() — full probe (exact) AND pruned, with the
    same deterministic tie contract. Sims may differ in the last ulp
    (numpy matmul vs Catalyst aggregate), so id equality is asserted
    per rank with an ulp-tie escape, like the auto-router parity test."""

    def keyed(df):
        return {(r.query_id, r.rank): (r.vec_id, r.similarity) for r in df.collect()}

    for nprobe in (16, 4):  # full probe = exact; pruned = same candidates
        a = keyed(index.search(queries_df, k=5, nprobe=nprobe, routing="driver"))
        b = keyed(index.search_batch(queries_df, k=5, nprobe=nprobe))
        assert a.keys() == b.keys()
        for key in a:
            (av, asim), (bv, bsim) = a[key], b[key]
            assert abs(asim - bsim) < 1e-9
            if av != bv:  # only ulp-tied candidates may swap ranks
                assert abs(asim - bsim) < 1e-12


def test_search_routing_batch_dispatches(index, queries_df):
    """search(routing='batch') is the explicit corpus-scale-queries
    entry — same results as search_batch."""
    a = {
        (r.query_id, r.rank): r.vec_id
        for r in index.search(queries_df, k=3, nprobe=4, routing="batch").collect()
    }
    b = {
        (r.query_id, r.rank): r.vec_id
        for r in index.search_batch(queries_df, k=3, nprobe=4).collect()
    }
    assert a == b


def test_search_rejects_unknown_routing(index, queries_df):
    """r8 review: a typo'd routing string must raise, not silently fall
    through to the driver-collect path a batch caller is avoiding."""
    with pytest.raises(ValueError, match="unknown routing"):
        index.search(queries_df, k=3, routing="Batch")


def test_search_batch_salted_matches_unsalted(index, queries_df):
    """Hot-cluster sub-blocking must not change results: with a bound
    small enough to split EVERY cluster into multiple salts, the salted
    grid returns exactly what the unsalted path returns (local-global
    correctness: every (query, salt) emits its tie-aware local top-k;
    the global window merges)."""
    plain = {
        (r.query_id, r.rank): r.vec_id
        for r in index.search_batch(queries_df, k=5, nprobe=16).collect()
    }
    salted = {
        (r.query_id, r.rank): r.vec_id
        for r in index.search_batch(
            queries_df, k=5, nprobe=16, max_cluster_rows_per_task=8
        ).collect()
    }
    assert plain == salted


def test_search_batch_empty_and_self_hit(index, queries_df):
    empty = index.search_batch(queries_df.limit(0), k=3)
    assert empty.count() == 0
    got = index.search_batch(queries_df, k=1, nprobe=4).collect()
    for r in got:  # own cluster is probed first: self-hit at rank 1
        assert r.vec_id == r.query_id and abs(r.similarity - 1.0) < 1e-9


def test_pruned_probe_recall(index, embeddings, queries_df):
    exact = topk_similarity_join(embeddings, queries_df, k=10)
    ivf = index.search(queries_df, k=10, nprobe=4)
    e, g = {}, {}
    for r in exact.collect():
        e.setdefault(r.query_id, set()).add(r.vec_id)
    for r in ivf.collect():
        g.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(e[q] & g.get(q, set())) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.5  # nprobe=4/16 recall floor
    # rank-1 self-hit must survive pruning: query's own cluster is probed first
    for r in ivf.collect():
        if r.rank == 1:
            assert r.vec_id == r.query_id


def test_partition_pruning_in_plan(index, queries_df):
    """The probed-cluster filter must reach the scan as a NON-EMPTY
    partition filter, and pruning must shrink the scanned file set."""
    from deployment_spark.plans import audit

    df = index.search(queries_df, k=3, nprobe=2)
    assert audit.has_partition_filters(df)
    plan = audit.physical_plan(df)
    assert "cluster_id" in plan


def test_ivf_recall_entry_reports_operating_point(spark, sf_dir):
    """V5 — the driver-visible recall entry: nprobe=10 of 16 lists (the
    reference's operating point, FAISS/PlainDemo/pipeline.py:257) must
    report per-query recall@10, averaging well above chance but below
    1.0 (it IS approximate)."""
    from deployment_spark.queries import q_ivf_recall

    rows = q_ivf_recall(spark, sf_dir).collect()
    assert len(rows) == 20
    mean = sum(r.recall_at_10 for r in rows) / len(rows)
    assert 0.5 <= mean <= 1.0
    assert all(0.0 <= r.recall_at_10 <= 1.0 for r in rows)


def test_brp_lsh_radius_join_cannot_do_topk(spark, sf_dir):
    """SURVEY §4's flagged BucketedRandomProjectionLSH comparison,
    measured and retired: its approxSimilarityJoin is radius-based — at
    a radius wide enough for high top-k recall on this corpus (natural
    neighbor cosines mostly < 0.5), the candidate set approaches the
    full cross join, i.e. the LSH prefilter prunes nothing. IVF/nprobe
    keeps pruned scans at recall 0.89 instead."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    feat = emb.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("raw")
    )
    norm = Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(feat).select(
        "vec_id", "features"
    )
    queries = norm.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "features"
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5,
        numHashTables=8, seed=42,
    ).fit(norm)
    # d=1.45 on unit vectors == cos >= -0.05: the radius needed for
    # recall@10 ~ 0.995 (measured r2). The join must degenerate.
    pairs = model.approxSimilarityJoin(queries, norm, 1.45, distCol="d").count()
    assert pairs > 0.5 * 20 * n, f"expected degenerate join, got {pairs} of {20*n}"


def test_assign_matches_build_assignment(spark, sf_dir, tmp_path):
    """Catalyst nearest-centroid assign (incremental-ingest path) must
    reproduce the builder's own KMeans cluster assignment for every row."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = IVFIndex(spark, str(tmp_path / "ivf_assign")).build(emb, nlist=8)
    built = {r.vec_id: r.cluster_id for r in idx.data().collect()}
    assigned = {r.vec_id: r.cluster_id for r in idx.assign(emb).collect()}
    assert assigned == built


def test_streaming_ingest_maintains_ivf_layout(spark, sf_dir, tmp_path):
    """Incremental index maintenance end-to-end: micro-batch ingest
    routes new vectors through IVFIndex.assign into a cluster-partitioned
    snapshot store; searching the streamed store with nprobe pruning
    returns the same top-k as brute force over the same rows."""
    import uuid

    from deployment_spark.operators.crud import SnapshotStore
    from deployment_spark.operators.similarity import topk_similarity_join_expr
    from deployment_spark.streaming.ingest import ingest_to_store

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = IVFIndex(spark, str(tmp_path / "ivf_stream")).build(
        emb.limit(200), nlist=8
    )  # quantizer trained on the head; stream routes the WHOLE table

    landing = str(tmp_path / "vec_landing")
    emb.repartition(4).write.parquet(landing)  # 4 files -> 4 micro-batches
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    store = SnapshotStore(
        spark, str(tmp_path / "vec_store"), key="vec_id", partition_by="cluster_id"
    )
    q = ingest_to_store(
        stream, store, str(tmp_path / "ckpt"), transform=idx.assign
    )
    q.awaitTermination(120)
    assert store.count() == emb.count()

    # the streamed store IS the index data: point the searcher at it
    data = store.read()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # search over the streamed store via the same routing/pruning path:
    # reuse IVFIndex.search by writing data under a root with centroids
    import shutil as _shutil

    root2 = str(tmp_path / "ivf_from_stream")
    data.write.mode("overwrite").partitionBy("cluster_id").parquet(
        f"{root2}/data"
    )
    _shutil.copy(
        str(tmp_path / "ivf_stream" / "centroids.json"), f"{root2}/centroids.json"
    )
    got = (
        IVFIndex(spark, root2)
        .search(queries, k=5, nprobe=10**9)
        .select("query_id", "vec_id", "rank")
        .collect()
    )
    want = (
        topk_similarity_join_expr(emb, queries, k=5)
        .select("query_id", "vec_id", "rank")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_drift_monitor_flags_distribution_shift(spark, sf_dir, tmp_path):
    """Fresh data from the TRAINED distribution scores like the build
    corpus; shifted data (vectors scaled + offset) scores measurably
    higher — the re-train signal SURVEY §4 calls for."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = IVFIndex(spark, str(tmp_path / "ivf_drift")).build(emb, nlist=8)
    base_score = idx.drift_score(emb)
    shifted = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * 3.0 + 2.0
        ).alias("embedding"),
    )
    drift = idx.drift_score(shifted)
    assert drift > 1.5 * base_score, (base_score, drift)
    stats = idx.assignment_stats(emb)
    assert stats.agg(F.sum("n")).first()[0] == emb.count()


def test_distributed_routing_matches_driver(index, queries_df):
    """route_distributed must produce the same (query_id, cluster_id)
    probe set as the driver-side router — same cosine, same
    sim-desc/cluster-asc tie order — with no centroid collect. So at
    partial nprobe the two routes of search and range_search (with and
    without a per-query limit) return identical rows."""
    qrows = queries_df.collect()
    pairs, _ = index.route(qrows, nprobe=4)
    dist = {
        (r.query_id, r.cluster_id)
        for r in index.route_distributed(queries_df, nprobe=4).collect()
    }
    assert dist == set(pairs)

    def both(method, **kw):
        return [
            sorted(map(tuple, method(queries_df, nprobe=4, routing=r, **kw).collect()))
            for r in ("driver", "distributed")
        ]

    drv, dst = both(index.search, k=5)
    assert drv == dst and len(drv) == 5 * 8
    for lim in (None, 7):
        drv, dst = both(index.range_search, radius=0.3, limit_per_query=lim)
        assert drv == dst and drv


def test_distributed_search_exact_at_large_nlist(spark, tmp_path):
    """VERDICT r5 next #4: the distributed routing path must stay
    correct at nlist > 1,000 (the 10⁴-10⁵ regime a 100 TB corpus needs,
    nlist ≈ √n) with NO driver-side centroid collect, and the scan must
    still be partition-pruned to the probed lists. The index layout is
    hand-built (KMeans at nlist=1,200 is not the thing under test)."""
    import json
    import os
    import re

    import numpy as np

    rng = np.random.default_rng(7)
    NLIST, DIM, N, NQ, K = 1200, 8, 400, 4, 5
    cents = rng.normal(size=(NLIST, DIM))
    vecs = rng.normal(size=(N, DIM))
    assign = np.argmin(((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(-1), axis=1)
    root = str(tmp_path / "bigidx")
    os.makedirs(root)
    spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]], int(assign[i])) for i in range(N)],
        "vec_id long, embedding array<double>, cluster_id int",
    ).write.partitionBy("cluster_id").parquet(os.path.join(root, "data"))
    with open(os.path.join(root, "centroids.json"), "w") as f:
        json.dump(
            {"nlist": NLIST, "dim": DIM, "centroids": [c.tolist() for c in cents]}, f
        )
    idx = IVFIndex(spark, root)
    idx._write_centroids_parquet([c.tolist() for c in cents])

    queries = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.normal(size=DIM)]) for i in range(NQ)],
        "query_id long, query_vec array<double>",
    ).cache()
    queries.count()

    # the distributed router must stay correct in the large-nlist
    # regime (auto switches at the measured AUTO_DISTRIBUTED_NLIST=8192
    # crossover; this fixture pins correctness, not the switch point)
    assert idx.nlist() == NLIST > 1024

    # nprobe = nlist ⇒ exact: equals the numpy brute-force top-k
    rows = idx.search(queries, k=K, nprobe=NLIST, routing="distributed").collect()
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    for r in queries.collect():
        q = np.asarray(r.query_vec)
        sims = vn @ (q / np.linalg.norm(q))
        order = np.lexsort((np.arange(N), -sims))[:K]
        got = [
            x.vec_id
            for x in sorted(
                (x for x in rows if x.query_id == r.query_id), key=lambda x: x.rank
            )
        ]
        assert got == [int(i) for i in order]

    # pruned probe: the scan carries a literal partition filter over the
    # probed ids (≤ nq × nprobe of them — bounded by the query contract,
    # never nlist-scale), so non-probed lists are skipped on disk
    plan = (
        idx.search(queries, k=K, nprobe=3, routing="distributed")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"PartitionFilters: \[cluster_id[^\]]*INSET ([^\]]*)", plan)
    assert m is not None, plan[:2000]
    # the capture may include trailing non-INSET predicates; the point
    # is the probe set is query-contract-sized, nowhere near nlist
    assert len(m.group(1).split(",")) < 50 < NLIST


def test_nlist_survives_corrupt_centroids_json(spark, tmp_path, embeddings):
    """r6 ADVICE (ivf.py nlist): a truncated/corrupt centroids.json must
    fall back to counting the centroid table — the behavior the
    docstring advertises — not crash search(routing='auto')."""
    import os

    idx = IVFIndex(spark, str(tmp_path / "ivf_corrupt")).build(
        embeddings.limit(100), nlist=4
    )
    with open(os.path.join(idx.root, "centroids.json"), "w") as f:
        f.write('{"nlist": 4, "cent')  # truncated mid-write
    assert idx.nlist() == 4  # from centroids_parquet
    with open(os.path.join(idx.root, "centroids.json"), "w") as f:
        f.write('{"dim": 64}')  # valid JSON, missing key
    assert idx.nlist() == 4


def test_build_from_centroids_matches_literal_assign(spark, tmp_path, embeddings):
    """build_from_centroids / assign_distributed (the broadcast-numpy
    scale path for nlist >> 100) must reproduce the Catalyst literal
    assign() row for row — same argmin, same first-min tie-break."""
    emb = embeddings.limit(300)
    built = IVFIndex(spark, str(tmp_path / "a")).build(emb, nlist=8)
    twin = IVFIndex(spark, str(tmp_path / "b")).build_from_centroids(
        emb, built.centroids()
    )
    lit = {r.vec_id: r.cluster_id for r in built.assign(emb).collect()}
    dist = {r.vec_id: r.cluster_id for r in twin.assign_distributed(emb).collect()}
    assert lit == dist
    stored = {r.vec_id: r.cluster_id for r in twin.data().collect()}
    assert stored == lit
    assert twin.nlist() == 8


def test_ann_recall_distributed_group_is_exact(spark, sf_dir):
    """The r7 ann_recall widening: the (ivf, distributed) group runs
    route_distributed on a hand-seeded nlist > 1,024 index whose
    construction makes recall 1.0 the only correct answer."""
    from deployment_spark.queries import q_ivf_distributed_recall

    rows = q_ivf_distributed_recall(spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r.recall_at_10 == 1.0 for r in rows)
    assert all(r.meets_floor for r in rows)


def test_streamed_store_snapshot_is_prunable_index_data(spark, sf_dir, tmp_path):
    """r7 (VERDICT r6 next #3 support): point IVFIndex at a snapshot the
    streaming ingest maintained (data_path=store.snapshot_dir()) — the
    pruned search must carry a partition filter over the STORE's files
    and match the driver-gated full-probe semantics on the probed lists."""
    from deployment_spark.operators.crud import SnapshotStore
    from deployment_spark.plans import audit
    from deployment_spark.streaming.ingest import ingest_to_store

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = IVFIndex(spark, str(tmp_path / "quant")).build(emb.limit(200), nlist=8)
    landing = str(tmp_path / "landing")
    emb.repartition(3).write.parquet(landing)
    store = SnapshotStore(
        spark, str(tmp_path / "vstore"), key="vec_id", partition_by="cluster_id"
    )
    q = ingest_to_store(
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing),
        store,
        str(tmp_path / "ckpt"),
        transform=idx.assign,
    )
    q.awaitTermination(120)
    assert store.count() == emb.count()

    searcher = IVFIndex(spark, idx.root, data_path=store.snapshot_dir())
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    pruned = searcher.search(queries, k=3, nprobe=2)
    assert audit.has_partition_filters(pruned)
    assert "cluster_id" in audit.physical_plan(pruned)
    # rank-1 self-hit survives pruning (query's own cluster probed first)
    for r in pruned.collect():
        if r.rank == 1:
            assert r.vec_id == r.query_id
    # full probe over the streamed snapshot == exact brute force
    got = searcher.search(queries, k=3, nprobe=10**9).select(
        "query_id", "vec_id", "rank"
    ).collect()
    want = topk_similarity_join(emb, queries, k=3).select(
        "query_id", "vec_id", "rank"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # r8: the corpus-scale batch route over the SAME streamed snapshot —
    # blocked centroid routing + cluster-grouped scoring must read the
    # streaming-maintained store identically (a forced ≥2-block grid so
    # the multi-block path, not a degenerate single block, is what runs)
    got_batch = searcher.search_batch(
        queries, k=3, nprobe=10**9, num_query_blocks=2
    ).select("query_id", "vec_id", "rank").collect()
    assert sorted(map(tuple, got_batch)) == sorted(map(tuple, want))


def test_auto_routing_threshold_pinned(spark, tmp_path, embeddings):
    """The routing='auto' switch point is MEASURED (tools/routing_probe,
    BASELINE.md corrected table) — pin the constant and the switch
    behavior so an accidental edit resurfaces as a red test, not a
    silent latency change."""
    import json
    import os
    from unittest import mock

    from deployment_spark.operators.ivf import AUTO_DISTRIBUTED_NLIST

    assert AUTO_DISTRIBUTED_NLIST == 8192
    idx = IVFIndex(spark, str(tmp_path / "thr")).build(
        embeddings.limit(60), nlist=4
    )
    q = embeddings.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for fake_nlist, expect_distributed in (
        (AUTO_DISTRIBUTED_NLIST, False),
        (AUTO_DISTRIBUTED_NLIST + 1, True),
    ):
        with open(os.path.join(idx.root, "centroids.json")) as f:
            meta = json.load(f)
        meta["nlist"] = fake_nlist
        with open(os.path.join(idx.root, "centroids.json"), "w") as f:
            json.dump(meta, f)
        called = {"d": False}
        orig = IVFIndex.route_distributed

        def spy(self, *a, **k):
            called["d"] = True
            return orig(self, *a, **k)

        with mock.patch.object(IVFIndex, "route_distributed", spy):
            rows = idx.search(q, k=2, nprobe=4, routing="auto").collect()
        assert len(rows) == 4
        assert called["d"] == expect_distributed, (fake_nlist, called)


def test_maybe_salt_skips_balanced_and_salts_hot(spark, embeddings):
    """r9 default-on salting decision: _maybe_salt_hot_groups runs the
    nlist-bounded count and salts ONLY when a group exceeds the bound —
    a balanced layout gets the IDENTICAL unsalted frames back (no join,
    no _salt column), a hot layout gets the ["_g","_salt"] grid, and
    bound=None opts out even on a hot layout."""
    from deployment_spark.operators.similarity import _maybe_salt_hot_groups

    counts_src = spark.createDataFrame(
        [(i, i % 4) for i in range(40)], "vec_id long, cluster_id int"
    )
    q = spark.createDataFrame(
        [("0", None, [1.0], 0)],
        "_qid string, _cid string, _vec array<double>, _g int",
    )
    c = counts_src.select(
        F.lit(None).cast("string").alias("_qid"),
        F.col("vec_id").cast("string").alias("_cid"),
        F.array(F.lit(1.0)).alias("_vec"),
        F.col("cluster_id").alias("_g"),
    )
    # balanced: every cluster holds 10 rows, bound 10 → untouched
    q2, c2, cols = _maybe_salt_hot_groups(q, c, counts_src, 10)
    assert cols == ["_g"] and q2 is q and c2 is c
    # hot: bound 4 → ceil(10/4)=3 salts per cluster
    q3, c3, cols3 = _maybe_salt_hot_groups(q, c, counts_src, 4)
    assert cols3 == ["_g", "_salt"]
    assert q3.filter(F.col("_g") == 0).count() == 3  # replicated per salt
    assert c3.count() == 40  # corpus rows take exactly one salt
    assert c3.select(F.max("_salt")).first()[0] <= 2
    # explicit opt-out
    _, _, cols4 = _maybe_salt_hot_groups(q, c, counts_src, None)
    assert cols4 == ["_g"]


def test_maybe_salt_unknown_group_survives(spark):
    """ADVICE r10 (medium): a group present in the DATA but missing from
    the precomputed counts mapping (stale cluster_stats.json under an
    unchanged token) must survive the salt joins with one default salt —
    stale metadata may mis-TUNE the plan, never drop rows. Pins the
    left-join + coalesce(_ns, 1) shape on both sides."""
    from deployment_spark.operators.similarity import _maybe_salt_hot_groups

    q = spark.createDataFrame(
        [("0", None, [1.0], 0), ("1", None, [1.0], 7)],
        "_qid string, _cid string, _vec array<double>, _g int",
    )
    c = spark.createDataFrame(
        [(None, str(i), [1.0], i % 2 * 7) for i in range(20)],
        "_qid string, _cid string, _vec array<double>, _g int",
    )
    # counts claim only cluster 0 exists (hot: 10 rows > bound 4);
    # cluster 7 holds 10 data rows the metadata does not know about
    stale_counts = {0: 10}
    q2, c2, cols = _maybe_salt_hot_groups(q, c, None, 4, counts=stale_counts)
    assert cols == ["_g", "_salt"]
    # unknown group keeps ALL its corpus rows, at exactly one salt (0)
    c7 = c2.filter(F.col("_g") == 7)
    assert c7.count() == 10
    assert c7.select(F.collect_set("_salt")).first()[0] == [0]
    # unknown group's query replicates once, not zero times
    q7 = q2.filter(F.col("_g") == 7)
    assert q7.count() == 1
    assert q7.select("_salt").first()[0] == 0
    # the known hot group still gets its full salt grid
    assert q2.filter(F.col("_g") == 0).count() == 3


def test_search_batch_default_salting_is_on(index, queries_df):
    """The signature default must be the derived bound, not None (r8
    VERDICT #1): a caller that forgets the knob gets the skew guard."""
    import inspect

    from deployment_spark.operators.ivf import DEFAULT_SALT_BOUND
    from deployment_spark.operators.ivfpq import IVFPQIndex
    from deployment_spark.operators.ivfsq import IVFSQIndex
    from deployment_spark.operators.similarity import (
        DEFAULT_MAX_CLUSTER_ROWS_PER_TASK,
    )

    assert DEFAULT_SALT_BOUND == DEFAULT_MAX_CLUSTER_ROWS_PER_TASK == 8192
    for fn in (
        IVFIndex.search_batch,
        IVFIndex.range_search_batch,
        IVFPQIndex.search_batch,
        IVFSQIndex.search_batch,
    ):
        sig = inspect.signature(fn)
        assert (
            sig.parameters["max_cluster_rows_per_task"].default
            == DEFAULT_MAX_CLUSTER_ROWS_PER_TASK
        ), fn.__qualname__
    # and the defaulted call still matches the interactive contract
    got = {
        (r.query_id, r.rank): r.vec_id
        for r in index.search_batch(queries_df, k=3, nprobe=16).collect()
    }
    exact = {
        (r.query_id, r.rank): r.vec_id
        for r in index.search(queries_df, k=3, nprobe=16).collect()
    }
    assert got == exact


def test_search_batch_prunes_unprobed_clusters(index, queries_df):
    """r8 VERDICT #2 (reshaped r10, VERDICT r9 #1): at LOW probe
    coverage the batch routes must not shuffle clusters no query probes
    — the probed set is collected (nlist-bounded) and pruned as a
    STATIC partition filter (``cluster_id IN (...)`` at the scan,
    strictly stronger than the r9 runtime semi-join); at coverage ≥
    PRUNE_SKIP_COVERAGE the prune machinery is skipped outright (its
    fixed overhead buys nothing when every list is probed)."""
    import re

    from deployment_spark.plans import audit

    df = index.search_batch(queries_df, k=3, nprobe=2)
    plan = audit.physical_plan(df)
    pf = re.findall(r"PartitionFilters: \[[^\]]*cluster_id[^\]]*IN[^\]]*\]", plan)
    assert pf, plan
    assert "LeftSemi" not in plan, plan  # replaced by the static filter
    dfr = index.range_search_batch(queries_df, radius=0.3, nprobe=2)
    rplan = audit.physical_plan(dfr)
    assert re.findall(
        r"PartitionFilters: \[[^\]]*cluster_id[^\]]*IN[^\]]*\]", rplan
    ), rplan
    # full coverage: no prune machinery at all (coverage gate)
    full = index.search_batch(queries_df, k=3, nprobe=10**9)
    fplan = audit.physical_plan(full)
    assert "LeftSemi" not in fplan
    assert not re.findall(
        r"PartitionFilters: \[[^\]]*cluster_id[^\]]*IN[^\]]*\]", fplan
    ), fplan


def test_cluster_stats_metadata(spark, tmp_path, embeddings, queries_df):
    """r10 (VERDICT r9 #1/#2): per-cluster row counts are persisted as
    index metadata at build time, keyed by the data path; the salting
    decision and the prune-coverage check are metadata LOOKUPS — a
    repeated search_batch on an unchanged index never re-runs the count
    job, and a data-path change (new store snapshot) invalidates by
    token, not by mtime."""
    import json as _json
    import os as _os
    from unittest import mock

    idx = IVFIndex(spark, str(tmp_path / "stats")).build(embeddings, nlist=4)
    path = _os.path.join(idx.root, "cluster_stats.json")
    assert _os.path.exists(path)
    with open(path) as f:
        d = _json.load(f)
    assert d["data_token"] == idx._data_path
    truth = {
        int(r["cluster_id"]): r["n"]
        for r in idx.data().groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert idx.cluster_counts() == truth
    # a FRESH object (cold memo) must answer from the file, zero jobs:
    # write_cluster_stats is the only code path that runs the count
    fresh = IVFIndex(spark, idx.root)
    with mock.patch.object(
        IVFIndex, "write_cluster_stats", side_effect=AssertionError("count job ran")
    ):
        assert fresh.cluster_counts(refresh_if_missing=True) == truth
        # and the batch routes' decisions run off that metadata
        fresh.search_batch(queries_df, k=3, nprobe=2)
        fresh.range_search_batch(queries_df, radius=0.3, nprobe=2)
    # token invalidation: point the same root at EXTERNAL data — stale
    # stats must NOT be served (path token mismatch), and a refresh
    # recomputes + persists under the new token
    ext = str(tmp_path / "extdata")
    idx.data().write.mode("overwrite").partitionBy("cluster_id").parquet(ext)
    ext_idx = IVFIndex(spark, idx.root, data_path=ext)
    assert ext_idx.cluster_counts() is None
    assert ext_idx.cluster_counts(refresh_if_missing=True) == truth
    with open(path) as f:
        assert _json.load(f)["data_token"] == ext

    # the salting decision consumes the metadata (counts != None)
    seen = {}
    from deployment_spark.operators import similarity as sim

    orig = sim._maybe_salt_hot_groups

    def spy(q, c, counts_src, bound, group_key="cluster_id", counts=None):
        seen["counts"] = counts
        return orig(q, c, counts_src, bound, group_key, counts)

    with mock.patch.object(sim, "_maybe_salt_hot_groups", spy):
        idx.search_batch(queries_df, k=3, nprobe=2)
    assert seen["counts"] is not None
    assert set(seen["counts"]) <= set(truth)


def test_search_batch_tolerates_null_corpus_vectors(
    spark, tmp_path, embeddings, queries_df
):
    """r8 ADVICE: a corpus row with a valid cluster_id but NULL embedding
    (possible via external store-maintained data) must not crash the
    numpy stage — the batch routes exclude it codegen-side, matching the
    interactive path's visible top-k (null cosine ranks last there)."""
    idx = IVFIndex(spark, str(tmp_path / "nulltol")).build(embeddings, nlist=4)
    before_topk = {
        (r.query_id, r.rank): r.vec_id
        for r in idx.search_batch(queries_df, k=5, nprobe=4).collect()
    }
    before_range = {
        (r.query_id, r.vec_id)
        for r in idx.range_search_batch(queries_df, radius=0.3, nprobe=4).collect()
    }
    null_row = spark.createDataFrame(
        [(999_999, None, 0, 0)],
        idx.data().schema,
    )
    null_row.write.mode("append").partitionBy("cluster_id").parquet(
        str(tmp_path / "nulltol" / "data")
    )
    after_topk = {
        (r.query_id, r.rank): r.vec_id
        for r in idx.search_batch(queries_df, k=5, nprobe=4).collect()
    }
    after_range = {
        (r.query_id, r.vec_id)
        for r in idx.range_search_batch(queries_df, radius=0.3, nprobe=4).collect()
    }
    assert after_topk == before_topk
    assert after_range == before_range


def test_drift_triggered_retrain_relayouts_store(spark, sf_dir, tmp_path):
    """r9 (VERDICT r8 #5): ingest_to_store's drift_retrain monitor must
    stay quiet on build-distribution batches, fire on a shifted one,
    retrain the quantizer, and relayout the store atomically — after
    which every stored row's partition matches the NEW quantizer's
    assignment and full-probe search over the store is still exact."""
    from deployment_spark.operators.crud import SnapshotStore
    from deployment_spark.operators.similarity import topk_similarity_join_expr
    from deployment_spark.streaming.ingest import ingest_to_store

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    b0 = emb.filter(F.col("vec_id") < 100)
    b1 = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
    b2 = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(5.0)).alias("embedding"),
    )
    idx = IVFIndex(spark, str(tmp_path / "ivf_drift")).build(b0, nlist=4)
    baseline = idx.drift_score(b0)
    cents_before = idx.centroids().copy()

    landing = str(tmp_path / "drift_landing")
    for i, b in enumerate((b0, b1, b2)):
        b.coalesce(1).write.parquet(f"{landing}/b={i:03d}")
    store = SnapshotStore(
        spark, str(tmp_path / "drift_store"), key="vec_id",
        partition_by="cluster_id",
    )
    fired = []
    q = ingest_to_store(
        (
            spark.readStream.schema(b0.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(landing)
        ),
        store,
        str(tmp_path / "drift_ckpt"),
        transform=idx.assign,
        drift_retrain={
            "index": idx,
            "baseline": baseline,
            "threshold": 2.0,
            "on_retrain": lambda bid, score: fired.append((bid, score)),
        },
    )
    q.awaitTermination(180)
    assert [bid for bid, _ in fired] == [2], fired  # shifted batch ONLY
    assert fired[0][1] > 2.0 * baseline
    assert (idx.centroids() != cents_before).any()  # quantizer swapped
    assert store.count() == 200

    # relayout completeness: every stored row sits in the partition the
    # NEW quantizer assigns it to (including pre-shift rows)
    relabeled = idx.assign(
        store.read().drop("cluster_id")
    ).withColumnRenamed("cluster_id", "want")
    mismatch = (
        store.read().select("vec_id", "cluster_id")
        .join(relabeled.select("vec_id", "want"), "vec_id")
        .filter(F.col("cluster_id") != F.col("want"))
        .count()
    )
    assert mismatch == 0

    # full probe over the streamed+relayouted store is still exact
    searcher = IVFIndex(
        spark, idx.root, data_path=store.snapshot_dir()
    )
    queries = b0.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = b0.unionByName(b1).unionByName(b2)
    got = {
        (r.query_id, r.rank): r.vec_id
        for r in searcher.search(queries, k=5, nprobe=10**9).collect()
    }
    want = {
        (r.query_id, r.rank): r.vec_id
        for r in topk_similarity_join_expr(corpus, queries, k=5).collect()
    }
    assert got == want


def test_drift_retrain_mor_relayout_touches_only_moved_rows(
    spark, sf_dir, tmp_path
):
    """r10 (VERDICT r9 #4): on a mor store the drift relayout must be
    TOUCHED-ROWS-ONLY — after the retrain fires, (1) every segment file
    that existed before is byte-identical (unmoved rows never
    rewritten), (2) the store's visible assignment still matches the
    new quantizer for EVERY row (last-wins shadows the stale copies),
    and (3) the physical rows written by the relayout equal exactly the
    moved-row count — O(moved), not O(corpus)."""
    import glob
    import hashlib
    import os

    from deployment_spark.operators.crud import SnapshotStore
    from deployment_spark.streaming.ingest import ingest_to_store

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    b0 = emb.filter(F.col("vec_id") < 100)
    b_shift = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(5.0)).alias("embedding"),
    )
    idx = IVFIndex(spark, str(tmp_path / "mor_drift_ivf")).build(b0, nlist=4)
    baseline = idx.drift_score(b0)
    landing = str(tmp_path / "mor_landing")
    b0.coalesce(1).write.parquet(f"{landing}/b=000")
    store = SnapshotStore(
        spark, str(tmp_path / "mor_drift_store"), key="vec_id", mode="mor"
    )
    fired = []
    drift = {
        "index": idx,
        "baseline": baseline,
        "threshold": 2.0,
        "on_retrain": lambda bid, score: fired.append(bid),
    }

    def drain():
        q = ingest_to_store(
            (
                spark.readStream.schema(b0.schema)
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true")
                .parquet(landing)
            ),
            store,
            str(tmp_path / "mor_drift_ckpt"),
            transform=idx.assign,
            drift_retrain=drift,
        )
        q.awaitTermination(180)

    drain()  # stage 1: build-distribution corpus lands, monitor quiet
    assert fired == []
    old_assign = {
        r.vec_id: r.cluster_id
        for r in store.read().select("vec_id", "cluster_id").collect()
    }

    def seg_files():
        return {
            p: hashlib.md5(open(p, "rb").read()).hexdigest()
            for p in glob.glob(os.path.join(store.root, "s*", "**"), recursive=True)
            if os.path.isfile(p)
        }

    before = seg_files()
    b_shift.coalesce(1).write.parquet(f"{landing}/b=001")
    drain()  # stage 2: shifted batch → retrain + touched-rows relayout
    assert fired == [1]
    after = seg_files()
    for p, h in before.items():  # (1) unmoved rows' files byte-identical
        assert after.get(p) == h, p
    # (2) visible layout complete under the NEW quantizer
    relabeled = idx.assign(store.read().drop("cluster_id")).withColumnRenamed(
        "cluster_id", "want"
    )
    mismatch = (
        store.read()
        .select("vec_id", "cluster_id")
        .join(relabeled.select("vec_id", "want"), "vec_id")
        .filter(F.col("cluster_id") != F.col("want"))
        .count()
    )
    assert mismatch == 0
    # (3) relayout wrote exactly the moved rows: live physical rows =
    # corpus + moved (shadow copies) + the new batch's own segment
    new_assign = {
        r.vec_id: r.cluster_id for r in idx.assign(b0).collect()
    }
    moved = sum(1 for v in old_assign if new_assign[v] != old_assign[v])
    assert 0 < moved < len(old_assign), moved  # a real partial relayout
    m = store._read_manifest(store.current_version())
    phys = sum(e["rows"] for e in m["segments"])
    assert phys == len(old_assign) + moved + b_shift.count()
    # (4) r11 (VERDICT r10 #3): the relayout upsert carried its own
    # moved-row deltas, so the commit-embedded per-cluster counts stayed
    # EXACT through retrain + relayout + the batch's own insert —
    # despite upsert being the mutation that normally can't know them
    live = {
        r.cluster_id: r["count"]
        for r in store.read().groupBy("cluster_id").count().collect()
    }
    assert store.cluster_counts() == live


def test_batch_prune_plan_decision_tiers(spark, tmp_path, embeddings, queries_df):
    """r10: the prune decision's three tiers, unit-pinned. (1) nprobe ≥
    0.8·non-empty-lists skips with NO probed collect; (2) low measured
    coverage returns the collected probed list and counts filtered to
    it; (3) a probed set above PRUNE_ISIN_MAX falls back to the
    broadcast semi-join instead of a plan-bloating literal."""
    from unittest import mock

    from deployment_spark.operators import ivf as ivf_mod
    from deployment_spark.plans import audit

    idx = IVFIndex(spark, str(tmp_path / "tiers")).build(embeddings, nlist=8)
    probes = spark.createDataFrame(
        [(0, 1), (1, 2)], "query_id long, cluster_id int"
    )
    # tier 1: free skip — collecting the probed set would be a bug here
    with mock.patch.object(
        type(probes), "distinct", side_effect=AssertionError("collected")
    ):
        probed, counts = idx.batch_prune_plan(probes, nprobe=7)  # 7 ≥ .8·8
    assert probed is None and counts is not None
    # tier 2: measured low coverage → collected list + filtered counts
    probed, counts = idx.batch_prune_plan(probes, nprobe=1)
    assert probed == [1, 2]
    assert set(counts) == {1, 2}
    # tier 3: oversized probed set → semi-join, not a literal
    with mock.patch.object(ivf_mod, "PRUNE_ISIN_MAX", 1):
        pruned = idx._apply_cluster_prune(idx.data(), [1, 2])
    plan = audit.physical_plan(pruned)
    assert "LeftSemi" in plan, plan
    small = idx._apply_cluster_prune(idx.data(), [1, 2])
    assert "LeftSemi" not in audit.physical_plan(small)
    # both prune shapes keep the same rows
    assert pruned.count() == small.count() > 0
    # tier-2 coverage counts only NON-EMPTY probed clusters (ADVICE
    # r10): 8 probed ids of which 5 route to empty lists cover 3/4
    # non-empty = 75% < 80%, so the prune must be KEPT — the raw
    # len(probed)=8 ≥ 0.8·4 comparison would wrongly skip it.
    sparse_counts = {0: 10, 1: 10, 2: 10, 3: 10}
    probes8 = spark.createDataFrame(
        [(q, c) for q, c in enumerate([0, 1, 2, 10, 11, 12, 13, 14])],
        "query_id long, cluster_id int",
    )
    with mock.patch.object(
        idx, "cluster_counts", lambda refresh_if_missing=False: sparse_counts
    ):
        probed, counts = idx.batch_prune_plan(probes8, nprobe=3)
    assert probed == [0, 1, 2, 10, 11, 12, 13, 14]
    assert set(counts) == {0, 1, 2}


def test_readonly_root_store_snapshot_counts_are_free(spark, embeddings, tmp_path):
    """r11 (VERDICT r10 #3): a FRESH IVFIndex object on a READ-ONLY
    index root whose data_path is a cow-store snapshot gets its
    per-cluster counts from the store's commit pointer — ZERO count
    jobs. Poison-patched: write_cluster_stats (the only count-job path
    inside cluster_counts) raises if touched. Also pins staleness: an
    index pinned to an OLDER snapshot must read a miss, never the
    newer commit's counts."""
    import os
    import stat
    from unittest import mock

    from deployment_spark.operators.crud import SnapshotStore

    emb = embeddings.limit(120)
    idx = IVFIndex(spark, str(tmp_path / "ro_quant")).build(emb, nlist=4)
    store = SnapshotStore(
        spark, str(tmp_path / "ro_store"), key="vec_id",
        partition_by="cluster_id",
    )
    store.create(idx.assign(emb))
    old_snap = store.snapshot_dir()
    # a second commit moves the pointer (and its embedded counts) on
    store.insert(idx.assign(
        embeddings.filter(F.col("vec_id").between(200, 239))
    ))
    snap = store.snapshot_dir()
    # expected live counts, computed independently of the code under test
    want = {
        r.cluster_id: r["count"]
        for r in store.read().groupBy("cluster_id").count().collect()
    }
    # strip any index-root stats file, then make the root READ-ONLY
    stats = os.path.join(idx.root, "cluster_stats.json")
    if os.path.exists(stats):
        os.remove(stats)
    ro = stat.S_IRUSR | stat.S_IXUSR | stat.S_IRGRP | stat.S_IXGRP
    os.chmod(idx.root, ro)
    try:
        fresh = IVFIndex(spark, idx.root, data_path=snap)
        with mock.patch.object(
            IVFIndex, "write_cluster_stats",
            side_effect=AssertionError("count job ran"),
        ):
            got = fresh.cluster_counts(refresh_if_missing=True)
            assert got == want
            # memoized: a second call is a dict lookup
            assert fresh.cluster_counts() == want
            # an index pinned to the SUPERSEDED snapshot must miss
            # (token names the current snapshot only) — absent, never
            # the newer counts
            stale = IVFIndex(spark, idx.root, data_path=old_snap)
            assert stale.cluster_counts() is None
    finally:
        os.chmod(idx.root, ro | stat.S_IWUSR)


# ---------------------------------------------------------------------------
# filtered_search — selectivity-aware scalar-filtered ANN (r11)
# ---------------------------------------------------------------------------


def _fmap(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, []).append(
            (r.rank, r.vec_id, round(r.similarity, 9))
        )
    return {k: sorted(v) for k, v in out.items()}


def _exact_filtered(embeddings, queries_df, pred, k=5):
    from deployment_spark.operators.similarity import topk_similarity_join_expr

    return _fmap(
        topk_similarity_join_expr(embeddings.filter(pred), queries_df, k=k).select(
            "query_id", "vec_id", "rank", "similarity"
        )
    )


def test_filtered_search_both_routes_exact_at_full_probe(
    index, embeddings, queries_df
):
    """At full probe BOTH routes must return the exact filtered top-k
    (the docstring's total-order argument), on a selective and a broad
    predicate."""
    for pred in (F.col("vec_id") % 37 == 0, F.col("label") % 3 == 0):
        want = _exact_filtered(embeddings, queries_df, pred)
        for route in ("auto", "prefilter", "postfilter"):
            got = _fmap(
                index.filtered_search(
                    queries_df, pred, k=5, nprobe=10**9, route=route
                )
            )
            assert got == want, (str(pred), route)


def test_filtered_search_auto_routes_by_scan_fraction(
    index, queries_df, monkeypatch
):
    """auto compares match fraction against POSTFILTER_MARGIN ·
    nprobe/nlist — spied via IVFIndex.search, which only the postfilter
    path calls. At nprobe=1, nlist=16 the threshold is 12.5%: the 2.7%
    predicate prefilters, the ~40% one postfilters. At FULL probe
    postfilter can never win on scan volume, so even the broad
    predicate prefilters."""
    calls = []
    orig = IVFIndex.search

    def spy(self, *a, **kw):
        calls.append("search")
        return orig(self, *a, **kw)

    monkeypatch.setattr(IVFIndex, "search", spy)
    index.filtered_search(
        queries_df, F.col("vec_id") % 37 == 0, k=5, nprobe=1
    ).collect()
    assert calls == []
    index.filtered_search(
        queries_df, F.col("label") % 3 == 0, k=5, nprobe=1
    ).collect()
    assert calls == ["search"]
    calls.clear()
    index.filtered_search(
        queries_df, F.col("label") % 3 == 0, k=5, nprobe=10**9
    ).collect()
    assert calls == []


def test_filtered_search_n_match_hint_skips_count(index, queries_df, monkeypatch):
    """A caller-supplied n_match must be TRUSTED (no count job) and
    steer the route: a tiny hint forces prefilter even for the broad
    predicate, a corpus-sized hint forces postfilter for the selective
    one (both at nprobe=1, threshold 12.5%)."""
    calls = []
    orig = IVFIndex.search

    def spy(self, *a, **kw):
        calls.append("search")
        return orig(self, *a, **kw)

    monkeypatch.setattr(IVFIndex, "search", spy)
    index.filtered_search(
        queries_df, F.col("label") % 3 == 0, k=5, nprobe=1, n_match=1
    ).collect()
    assert calls == []
    index.filtered_search(
        queries_df, F.col("vec_id") % 37 == 0, k=5, nprobe=1,
        n_match=index.ntotal(),
    ).collect()
    assert calls == ["search"]


def test_filtered_search_rescue_under_returns_never(index, embeddings, queries_df):
    """amp=1 on a selective predicate starves every query (top-5
    candidates rarely contain 5 matches of a 2.7% filter) — the exact
    rescue must bring every query back to the exact filtered top-k."""
    pred = F.col("vec_id") % 37 == 0
    want = _exact_filtered(embeddings, queries_df, pred)
    got = _fmap(
        index.filtered_search(
            queries_df, pred, k=5, nprobe=10**9, route="postfilter", amp=1
        )
    )
    assert got == want


def test_filtered_search_accepts_sql_string_and_rejects_bad_route(
    index, embeddings, queries_df
):
    want = _exact_filtered(embeddings, queries_df, F.col("label") % 3 == 0)
    got = _fmap(
        index.filtered_search(queries_df, "label % 3 = 0", k=5, nprobe=10**9)
    )
    assert got == want
    with pytest.raises(ValueError, match="unknown route"):
        index.filtered_search(queries_df, "label % 3 = 0", route="sideways")
