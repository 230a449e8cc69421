"""k-nearest-neighbor graph construction + semantic deduplication.

Training-data curation ops beyond the reference surface (north-star M8
family, same lineage as ``similarity.cosine_neardup_pairs``): the kNN
graph is the substrate for SemDeDup-style semantic dedup, diversity
sampling, and label propagation; semantic dedup itself resolves the
near-duplicate graph to a kept set, like ``dedup.dedup_by_pairs`` does
for text MinHash pairs but over embedding cosine.

Reference lineage: the scoring semantics are the reference's one real
query — top-k by cosine on normalized vectors (``FAISS/PlainDemo/
pipeline.py:254-263``) — applied corpus-to-itself instead of
query-to-corpus; cluster pruning reuses the IVF/nprobe idea
(``FAISS/PlainDemo/pipeline.py:257``).

Scale design:

- ``knn_graph`` (exact): block-pair replication — the corpus is hashed
  into B blocks, each of the B(B+1)/2 block pairs is scored by one
  numpy matmul task that PRE-REDUCES to the local top-k per source id
  before anything shuffles. Surviving rows are O(N·B·k), not O(N²);
  one global window finishes the ranking. Exact all-pairs flops are
  inherently O(N²·d) — use the clustered variant beyond ~10⁷ rows.
- ``knn_graph_clustered`` (approximate): KMeans-partitioned search, the
  IVF kNN-graph build — each vector probes its ``nprobe`` nearest
  clusters only; per-cluster numpy tasks emit local top-k, a global
  window merges. Work drops to O(N·nprobe·N/nlist·d); with the usual
  nlist ≈ √N that is O(N^1.5·d), the standard ANN-graph build shape.
  Recall is floor-gated in tests against the exact graph.
- ``semantic_dedup``: LSH-bucketed near-dup pairs (never all-pairs) →
  min-label connected components to fixpoint → keep lowest id per
  component. Every stage shuffles on content/label keys, never the
  pair space.

NO driver-side collect anywhere except the ≤``nlist``-row centroid
table (the FAISS coarse-quantizer contract, ≤100 centroids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_EDGE_SCHEMA = StructType(
    [
        StructField("src_id", LongType()),
        StructField("dst_id", LongType()),
        StructField("cosine", DoubleType()),
    ]
)


def _final_topk(candidates: DataFrame, k: int) -> DataFrame:
    """Global top-k per source over pre-reduced candidates. Deterministic
    tie-break by dst_id so results are reproducible and oracle-hashable
    (same contract as ``similarity._rank_window``)."""
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("dst_id"))
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "dst_id", "rank", "cosine")
    )


def _knn_kernel():
    """The local top-k of every kNN-graph task, NESTED so cloudpickle
    ships it by value (the ``similarity._exact_scoring_core``
    contract). ``local_topk(q_ids, q_mat, c_ids, c_mat, k)``: over
    row-normalized matrices, each query's k best corpus rows other than
    itself (a same-id pair is masked to -inf and never emitted), in the
    SAME composite order as the global window (cosine desc, dst_id asc)
    so pre-reduction can never drop a row the final window would keep.
    Returns an ``_EDGE_SCHEMA``-typed (src_id, dst_id, cosine) frame."""

    def local_topk(q_ids, q_mat, c_ids, c_mat, k):
        import numpy as np
        import pandas as pd

        sims = q_mat @ c_mat.T  # (nq, nc)
        sims = np.where(q_ids[:, None] == c_ids[None, :], -np.inf, sims)
        take = min(k, sims.shape[1])
        order = np.lexsort((c_ids[None, :].repeat(len(q_ids), 0), -sims), axis=1)[
            :, :take
        ]
        rows = np.repeat(np.arange(len(q_ids)), take)
        cols = order.reshape(-1)
        keep = sims[rows, cols] > -np.inf
        return pd.DataFrame(
            {
                "src_id": np.repeat(q_ids, take)[keep],
                "dst_id": c_ids[cols][keep],
                "cosine": sims[rows, cols][keep],
            }
        ).astype({"src_id": "int64", "dst_id": "int64", "cosine": "float64"})

    return local_topk


def knn_graph(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
    target_block_rows: int = 4096,
) -> DataFrame:
    """Exact cosine kNN graph: for every vector, its k nearest OTHER
    vectors. Output (src_id, dst_id, rank, cosine), rank 1..k per src.

    Distributed block-pair form (``similarity._self_block_pairs``, the
    layout of ``similarity.cosine_neardup_pairs_exact``): rows hash into B blocks,
    each block-pair task runs one numpy matmul and emits only each
    present id's local top-k — O(N·B·k) survivor rows — then one global
    window finalizes. Peak task memory is two blocks, independent of N.
    """
    import numpy as np
    import pandas as pd

    from deployment_spark.operators.similarity import (
        _exact_scoring_core,
        _self_block_pairs,
    )

    exploded = _self_block_pairs(df, id_col, vec_col, num_blocks, target_block_rows)
    kk = int(k)
    normalize_rows = _exact_scoring_core()[0]
    local_topk = _knn_kernel()

    def block_pair_topk(key, pdf):
        i, j = key
        mat = normalize_rows(np.array(pdf["_vec"].tolist(), dtype=np.float64))
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        if i == j:
            return local_topk(ids, mat, ids, mat, kk)
        blk = pdf["_blk"].to_numpy()
        li, rj = blk == i, blk == j
        return pd.concat(
            [
                local_topk(ids[li], mat[li], ids[rj], mat[rj], kk),
                local_topk(ids[rj], mat[rj], ids[li], mat[li], kk),
            ],
            ignore_index=True,
        )

    candidates = exploded.groupBy("_pi", "_pj").applyInPandas(
        block_pair_topk, schema=_EDGE_SCHEMA
    )
    return _final_topk(candidates, kk)


def knn_graph_auto(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    exact_max_rows: int = 100_000,
    nprobe: int = 4,
    seed: int = 42,
    train_fraction: float | None = None,
) -> DataFrame:
    """Scale-safe kNN-graph entry point (VERDICT r5 next #8, mirroring
    ``similarity.cosine_neardup_pairs``'s ``method='auto'``): the exact
    block-pair graph is O(N²·d) flops by nature, correct to run only on
    bounded corpora — above ``exact_max_rows`` auto routes to the
    IVF-clustered O(N^1.5·d) build with nlist ≈ √N so the quadratic
    path cannot be invoked on a 100 TB corpus by accident. Explicit
    ``method='exact'`` / ``'clustered'`` still forces either."""
    if method not in ("auto", "exact", "clustered"):
        raise ValueError(f"unknown method {method!r}")
    if method == "exact":
        return knn_graph(df, k, id_col, vec_col)
    n = df.count()  # O(1) aggregate, not a collect
    if method == "auto" and n <= exact_max_rows:
        return knn_graph(df, k, id_col, vec_col)
    nlist = max(16, int(n**0.5))
    return knn_graph_clustered(
        df, k, id_col, vec_col,
        nlist=nlist, nprobe=nprobe, seed=seed, train_fraction=train_fraction,
    )


def knn_graph_clustered(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    train_fraction: float | None = None,
) -> DataFrame:
    """Approximate kNN graph via KMeans cluster pruning — the IVF
    (nprobe) idea of ``FAISS/PlainDemo/pipeline.py:257`` applied
    corpus-to-itself. Each vector is a member of its own cluster and a
    QUERY against its ``nprobe`` nearest clusters; one task per
    (probed cluster) scores members × probers with numpy and emits local
    top-k; a global window merges the ≤ nprobe·k candidates per vector.

    Shuffle: members N rows + probers N·nprobe rows, all keyed by
    cluster — never the pair space. Flops O(N·nprobe·N/nlist·d); with
    nlist ≈ √N this is the standard O(N^1.5) ANN-graph build. Recall vs
    the exact graph is floor-gated in ``tests/test_knn.py``.
    """
    import numpy as np

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from deployment_spark.operators.similarity import _exact_scoring_core

    feat = df.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_vec")
    ).withColumn("_features", array_to_vector(F.col("_vec").cast("array<double>")))
    train = feat if train_fraction is None else feat.sample(train_fraction, seed=seed)
    model = KMeans(
        k=nlist, seed=seed, featuresCol="_features", predictionCol="_cluster"
    ).fit(train)
    assigned = model.transform(feat).drop("_features")

    # centroid table is ≤ nlist rows (FAISS coarse-quantizer contract);
    # embed as a literal so probing is a per-row Catalyst expression —
    # no collect of data rows, no join against a tiny dim table
    cents = [c.tolist() for c in model.clusterCenters()]
    cent_lits = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])
    v = F.col("_vec").cast("array<double>")
    sq_dists = F.transform(
        cent_lits,
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    np_ = min(int(nprobe), len(cents))
    probed = F.slice(
        F.transform(
            F.array_sort(
                F.zip_with(
                    sq_dists,
                    F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                    lambda d, i: F.struct(d.alias("d"), i.alias("c")),
                )
            ),
            lambda s: s.getField("c"),
        ),
        1,
        np_,
    )

    members = assigned.select(
        F.col("_cluster").alias("_grp"),
        F.lit(1).cast("int").alias("_is_member"),
        "_id",
        "_vec",
    )
    probers = (
        assigned.withColumn("_p", F.explode(probed))
        .select(
            F.col("_p").alias("_grp"),
            F.lit(0).cast("int").alias("_is_member"),
            "_id",
            "_vec",
        )
    )
    tagged = members.unionByName(probers)
    kk = int(k)

    normalize_rows = _exact_scoring_core()[0]
    local_topk = _knn_kernel()

    def cluster_topk(key, pdf):
        mat = normalize_rows(np.array(pdf["_vec"].tolist(), dtype=np.float64))
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        is_m = pdf["_is_member"].to_numpy() == 1
        return local_topk(ids[~is_m], mat[~is_m], ids[is_m], mat[is_m], kk)

    candidates = tagged.groupBy("_grp").applyInPandas(cluster_topk, schema=_EDGE_SCHEMA)
    # a vector can meet the same dst in several probed clusters — dedup
    # before ranking so rank numbers stay dense
    return _final_topk(candidates.dropDuplicates(["src_id", "dst_id"]), kk)


def read_knn_graph(spark, root: str, live_keys: DataFrame | None = None) -> DataFrame:
    """Edges from a streaming-maintained graph store (r11 —
    ``streaming.ingest._maintain_knn_graph`` keeps one mor SnapshotStore
    of edges, pk src·k+rank−1, exact per its update's contract): the
    (src_id, dst_id, rank, cosine) frame ``graph_assisted_topk``
    consumes, latest committed snapshot.

    ``live_keys`` (r12 — the query-time half of the delete story): a
    one-column frame of the corpus store's CURRENT ids. When given,
    edges whose SOURCE or DESTINATION vanished are semi-joined out —
    two key-only joins, no edge-store rewrite — so an expansion
    between maintenance runs never walks through (or surfaces) deleted
    rows. Surviving sources may then carry fewer than k edges (recall
    dips until the maintainer's deletes-only repair re-tops them
    exactly); graph-assisted recall stays a lower bound of the
    repaired graph's by the superset argument."""
    from deployment_spark.operators.crud import SnapshotStore

    edges = (
        SnapshotStore(spark, root, key="edge_id", mode="mor")
        .read()
        .select("src_id", "dst_id", "rank", "cosine")
    )
    if live_keys is not None:
        alive = live_keys.select(
            F.col(live_keys.columns[0]).cast("long").alias("_alive")
        )
        edges = edges.join(
            alive, edges.src_id == alive._alive, "left_semi"
        ).join(alive, F.col("dst_id") == alive._alive, "left_semi")
    return edges


def probed_cluster_ids(
    df: DataFrame,
    index,
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> list[int]:
    """Distinct IVF cluster ids probed by ``df``'s vectors — the
    restriction set for ANN-assisted graph maintenance (r12, VERDICT
    r11 #2). Same literal-centroid squared-L2 Catalyst expression as
    ``knn_graph_clustered`` (the FAISS coarse-quantizer contract), one
    scan over the BATCH only; the collect is nlist-bounded (≤ a few
    hundred ints), never data rows."""
    cents = [list(map(float, c)) for c in index.centroids()]
    cent_lits = F.array(*[F.array(*[F.lit(x) for x in c]) for c in cents])
    v = F.col(vec_col).cast("array<double>")
    sq = F.transform(
        cent_lits,
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    np_ = min(int(nprobe), len(cents))
    probed = F.slice(
        F.transform(
            F.array_sort(
                F.zip_with(
                    sq,
                    F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                    lambda d, i: F.struct(d.alias("d"), i.alias("c")),
                )
            ),
            lambda s: s.getField("c"),
        ),
        1,
        np_,
    )
    rows = df.select(F.explode(probed).alias("c")).distinct().collect()
    return sorted(int(r["c"]) for r in rows)


def knn_graph_update(
    edges: DataFrame,
    corpus: DataFrame,
    batch: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact INCREMENTAL kNN-graph maintenance (r11, VERDICT r10 #1):
    given ``edges`` = the exact k-NN graph over ``corpus`` and a fresh
    ``batch`` of new rows (ids disjoint from the corpus — the curated
    ingest watermark contract), return the REPLACEMENT edge rows for
    every source whose neighborhood can have changed, such that
    (unchanged edges ∪ replacements) is EXACTLY ``knn_graph(corpus ∪
    batch, k)``.

    Exactness argument: for an existing row c, its true top-k in C∪B is
    a subset of (its top-k in C) ∪ (its top-k among B) — nothing
    outside those two sets can rank above members of both — so merging
    c's stored edges with the c×B candidates and re-ranking is exact;
    a new row b's neighborhood is scored directly against C∪B. This is
    the Milvus/HNSW "maintain the graph on every insert"
    (``Milvus/stream1.py:282``) re-expressed for a data-parallel
    engine: two blocked pair passes per batch — B×(C∪B) for the new
    rows and C×B for the reverse direction — O(|C|·|B|) pair work and
    O((|B| + touched)·k) output rows, never the O(|C|²) rebuild. The
    reverse pass is the irreducible cost of asking "which existing rows
    gained a batch neighbor" — irreducible for EXACT maintenance only
    (r12, VERDICT r11 #2): passing a RESTRICTED ``corpus`` (the rows in
    the IVF clusters the batch probes — ``probed_cluster_ids`` +
    partition-pruned layout read, wired in
    ``streaming.ingest._maintain_knn_graph(reverse='ivf')``) cuts BOTH
    passes to O(|C|·probed/nlist·|B|), trading the exactness claim for
    the same nprobe-recall class as every other IVF surface
    (floor-gated in the ann_recall graph_stream_ivf group; slope
    flattening recorded by tools/graph_maint_probe.py). The
    TOUCHED set it yields is bounded by the rows that actually keep a
    batch edge.

    Output (src_id, dst_id, rank, cosine), rank 1..k per returned src —
    the callers upsert these per-src replacement sets over the stored
    graph (edge pk = src·k + rank−1, so a replacement overwrites
    exactly its source's slots)."""
    from deployment_spark.operators.similarity import (
        topk_similarity_join_blocked,
    )

    kk = int(k)
    c_sl = corpus.select(
        F.col(id_col).cast("long").alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    b_sl = batch.select(
        F.col(id_col).cast("long").alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    full = c_sl.unionByName(b_sl)
    # new rows: exact top-k over corpus ∪ batch; k+1 then self-filter
    # (a batch row is its own best match at cosine 1)
    b_q = b_sl.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    fwd = (
        topk_similarity_join_blocked(full, b_q, k=kk + 1)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            F.col("query_id").alias("src_id"),
            F.col("vec_id").alias("dst_id"),
            F.col("similarity").alias("cosine"),
        )
    )
    # existing rows: candidates among the batch only (ids disjoint, so
    # no self-pairs), merged with their stored edges and re-topped
    c_q = c_sl.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rev = topk_similarity_join_blocked(b_sl, c_q, k=kk).select(
        F.col("query_id").alias("src_id"),
        F.col("vec_id").alias("dst_id"),
        F.col("similarity").alias("cosine"),
    )
    # dedup (src, dst) before re-ranking: stored edges and the reverse
    # candidates CAN overlap — e.g. right after a deletes-only repair,
    # whose re-top over the current corpus already saw batch rows — and
    # a duplicated pair would occupy two ranks, silently evicting a
    # true neighbor from the top-k (r12; same guard knn_graph_clustered
    # carries for multi-probe rediscovery)
    merged = _final_topk(
        edges.select("src_id", "dst_id", "cosine")
        .unionByName(rev)
        .dropDuplicates(["src_id", "dst_id"]),
        kk,
    )
    # only sources whose re-topped set actually KEEPS a batch edge
    # changed — emitting the rest would rewrite the whole graph per
    # batch (the O(corpus)-write failure mode the mor relayout closed)
    batch_ids = b_sl.select(F.col("vec_id").alias("dst_id")).distinct()
    touched = (
        merged.join(F.broadcast(batch_ids), "dst_id", "left_semi")
        .select("src_id")
        .distinct()
    )
    # no broadcast hint on touched: usually O(batch·k) but unbounded
    # when a batch is very central — let AQE pick the join strategy
    changed = merged.join(touched, "src_id", "left_semi")
    return _final_topk(
        fwd, kk
    ).unionByName(changed.select("src_id", "dst_id", "rank", "cosine"))


def _expand_frontier(cand: DataFrame, edges: DataFrame, hops: int) -> DataFrame:
    """``hops`` rounds of neighbor-of-candidate growth over the edge
    table, one distributed join per hop, with a PER-HOP ``distinct()``
    (VERDICT r10 #2): without it duplicate (query, candidate) rows
    multiply by graph_k EVERY hop — exponential row amplification on
    dense graphs at hops≥2. Deduping inside the loop bounds each hop's
    frontier (and therefore every join input) at nq × |reachable set|,
    the structural maximum; the union is deduped once more at the end
    so seeds rediscovered by the graph don't double-score."""
    frontier = cand
    for _ in range(hops):
        frontier = (
            frontier.join(edges, frontier["_cid"] == edges["_eid"])
            .select("_qid", F.col("_dst").alias("_cid"))
            .distinct()
        )
        cand = cand.unionByName(frontier)
    return cand.distinct()


def graph_assisted_topk(
    corpus: DataFrame,
    queries: DataFrame,
    seeds: DataFrame,
    graph: DataFrame,
    k: int = 10,
    hops: int = 1,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Graph-assisted ANN re-ranking (r10, VERDICT r9 #8 — the V8/HNSW
    closure): cheap per-query SEED candidates (an IVF pruned search, an
    LSH bucket probe — any recall-lossy route) are EXPANDED over a
    precomputed kNN graph (``knn_graph``/``knn_graph_auto`` edges,
    ``hops`` rounds of neighbor-of-candidate growth), the union is
    scored EXACTLY against the full vectors, and one window takes the
    final top-k per query.

    ``broadcast_queries`` is the usual interactive/batch duality: True
    (default) broadcasts the nq-scale query batch into the scoring
    join — the FAISS interactive contract; False shuffle-joins instead,
    for CORPUS-SIZED query sets (seeds from ``search_batch``) where no
    task may hold the query matrix. Results are identical — the knob
    only picks the join strategy (parity-pinned in tests).

    This is HNSW's load-bearing idea — "a near neighbor's neighbors
    are near" — expressed Spark-first: instead of a serving-side
    pointer-chase over an in-RAM graph (sequential, single-node, the
    part of HNSW that does not map to a data-parallel engine), each
    hop is ONE distributed join of the candidate frontier against the
    edge table, keyed by vector id. Recall can only go UP: the scored
    candidate set is a superset of the seeds, scoring is exact, so
    graph recall ≥ seed recall by construction (pinned in tests), with
    the measured lift published in the ``ann_recall`` panel
    (``ivf``/``graph`` group).

    Reference lineage: the reference drives Milvus with HNSW
    (``Milvus/stream1.py:117-130``); this recovers the recall-latency
    trade HNSW buys — high recall without full-probe cost — from the
    artifacts this engine already maintains (IVF routing + the kNN
    graph), at the same exact-top-k result contract.

    Scale shape: frontier⋈edges shuffles on vector id (frontier is
    nq·seed_k·graph_k^hop rows — query-batch-scale, never corpus);
    the exact scoring fetches ONLY candidate ids' vectors (id join
    against the corpus) with the nq-scale query batch broadcast. No
    corpus-wide scan outside the id-selective fetch.

    Output: (query_id, vec_id, rank, similarity) — the standard
    (sim desc, id asc) contract."""
    from deployment_spark.functions.vector import cosine_similarity

    edges = graph.select(
        F.col("src_id").alias("_eid"), F.col("dst_id").alias("_dst")
    )
    cand = seeds.select(
        F.col(query_id).alias("_qid"), F.col(corpus_id).alias("_cid")
    )
    cand = _expand_frontier(cand, edges, int(hops))
    qv = queries.select(
        F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qv")
    )
    if broadcast_queries:
        qv = F.broadcast(qv)
    scored = (
        cand.join(
            corpus.select(
                F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cvec")
            ),
            "_cid",
        )
        .join(qv, "_qid")
        .withColumn("_sim", cosine_similarity("_cvec", "_qv"))
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("_sim"), F.asc("_cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            "rank",
            F.col("_sim").alias("similarity"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    max_iters: int = 50,
    **neardup_kwargs,
) -> DataFrame:
    """SemDeDup-style embedding-level deduplication: pairs with cosine ≥
    ``threshold`` (LSH-bucketed by default — see
    ``similarity.cosine_neardup_pairs`` for the 100 TB path) resolve via
    min-label connected components to a kept set. Output
    (``id_col``, component, kept): component = min id of the duplicate
    class (own id for singletons), kept = True for the class
    representative.

    Transitive closure is deliberate (A≈B≈C collapses to one survivor
    even when cos(A,C) < threshold) — the same policy as the MinHash text
    chain in ``dedup.dedup_by_pairs``; both are resolved by the same
    fixpoint propagation so text- and embedding-dedup semantics can
    never diverge."""
    from deployment_spark.operators.dedup import connected_components
    from deployment_spark.operators.similarity import cosine_neardup_pairs

    pairs = cosine_neardup_pairs(
        df, threshold, id_col=id_col, vec_col=vec_col, method=method, **neardup_kwargs
    )
    labels = connected_components(pairs, max_iters=max_iters)
    ids = df.select(F.col(id_col).cast("long").alias(id_col))
    return ids.join(
        labels.withColumnRenamed("node", id_col), id_col, "left"
    ).select(
        id_col,
        F.coalesce(F.col("label"), F.col(id_col)).alias("component"),
        (F.coalesce(F.col("label"), F.col(id_col)) == F.col(id_col)).alias("kept"),
    )
