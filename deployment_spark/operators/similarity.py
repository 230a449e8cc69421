"""Top-k similarity search (SURVEY §2.5 J1/J2, §2.6 T1/T3, §2.9 V6/V7).

The reference's one real query: for each query vector, the k nearest
corpus vectors — FAISS ``index.search(q, k)`` (``FAISS/PlainDemo/
pipeline.py:254-263``) / Milvus COSINE search (``Milvus/stream1.py:161-162``).

Scale design (SURVEY §4 "genuinely custom" item 1): a naive
``crossJoin + Window(partitionBy=query_id)`` shuffles nq·N scored rows —
at 100 TB corpus that shuffle IS the job. Instead:

1. Broadcast the (small) query set — queries are k·nq-scale, like the
   reference's 3-query sample (``Milvus/stream1.py:26``).
2. Per corpus partition, score with one numpy matmul (Arrow-batched
   ``mapInPandas``) and pre-reduce to the local top-k per query — each
   partition emits ≤ nq·k rows regardless of its size.
3. Global top-k over the nq·k·P survivors with one tiny window.

Shuffle volume drops from nq·N rows to nq·k·P rows (P = #partitions) —
the classic tree-aggregate shape. Scoring is numpy double-precision
matmul, not per-row Python.

``topk_similarity_join_expr`` is the same semantics in pure Catalyst
expressions (no Python at all) — used as a cross-check and for small
corpora where a broadcast-nest-loop join wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from deployment_spark.functions.vector import cosine_similarity, dot_product


def _rank_window(query_id: str):
    # Deterministic tie-break by corpus id so results are reproducible and
    # oracle-hashable (SURVEY §5.2(2)).
    return Window.partitionBy(query_id).orderBy(F.desc("_sim"), F.asc("_cid"))


def topk_similarity_join_expr(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    metric: str = "cosine",
    assume_normalized: bool = False,
) -> DataFrame:
    """Exact top-k with pure Catalyst expressions.

    Broadcast-nest-loop join of corpus × queries, score via higher-order
    functions, rank with one window per query. k never over-returns
    (V7 k-capping, ``FAISS/UI-Demo/pipeline+ui.py:230``, falls out of
    ``row_number``).
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qvec")
        )
    )
    c = corpus.select(F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cvec"))
    if metric == "l2":
        # FAISS IndexFlatL2 parity on UN-normalized vectors: rank by
        # smallest distance == largest negated squared distance, so the
        # same desc window serves every metric
        from deployment_spark.functions.vector import squared_l2_distance

        score = -squared_l2_distance("_cvec", "_qvec")
    elif metric in ("dot", "ip") or (metric == "cosine" and assume_normalized):
        score = dot_product("_cvec", "_qvec")
    elif metric == "cosine":
        score = cosine_similarity("_cvec", "_qvec")
    else:
        raise ValueError(f"unknown metric {metric!r}")
    scored = c.crossJoin(q).withColumn("_sim", score)
    return (
        scored.withColumn("rank", F.row_number().over(_rank_window("_qid")))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            F.col("rank"),
            F.col("_sim").alias("similarity"),
        )
    )


def keyset_page(
    corpus: DataFrame,
    queries: DataFrame,
    after: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Search-iterator page — the Milvus ``search_iterator`` protocol
    (the store family's pagination mode, ``Milvus/stream1.py`` drives
    that store): the next ``k`` results strictly AFTER a per-query
    keyset cursor, i.e. rows with ``sim < last_sim`` or
    ``sim = last_sim AND id > last_id``.

    OFFSET-free by design: the cursor predicate prunes everything
    already returned BEFORE the ranking window, so page N costs the
    same one scan + one k-bounded window as page 1 — never a re-rank of
    N·k rows, never a growing OFFSET sort. The tie-break id in the
    cursor makes pagination exact even through runs of equal scores
    (the same composite key the ranking window uses).

    ``after``: (query_id, last_sim DOUBLE, last_id) — the rank-k row of
    the previous page, k·nq-scale, broadcast with the queries. Queries
    absent from ``after`` get page 1 (a NULL cursor disables the
    predicate).
    """
    cur = after.select(
        F.col(query_id).alias("_qid"),
        F.col("last_sim").alias("_lsim"),
        F.col("last_id").alias("_lid"),
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qvec")
        ).join(cur, "_qid", "left")
    )
    c = corpus.select(F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cvec"))
    scored = c.crossJoin(q).withColumn(
        "_sim", cosine_similarity("_cvec", "_qvec")
    )
    later = (
        F.col("_lsim").isNull()
        | (F.col("_sim") < F.col("_lsim"))
        | ((F.col("_sim") == F.col("_lsim")) & (F.col("_cid") > F.col("_lid")))
    )
    return (
        scored.filter(later)
        .withColumn("rank", F.row_number().over(_rank_window("_qid")))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            F.col("rank"),
            F.col("_sim").alias("similarity"),
        )
    )



def _exact_scoring_core():
    """The ONE source of the exact paths' scoring + tie-break semantics
    — broadcast and blocked both capture these, so a metric fix cannot
    silently land in only one. Returned as NESTED functions on purpose:
    cloudpickle serializes nested callables BY VALUE into the
    mapInPandas/applyInPandas closures, so executors never need to
    import deployment_spark (a module-level helper pickles by
    reference and crashes any driver whose workers lack the package on
    PYTHONPATH — caught by the r8 from-/tmp verify drive)."""

    def normalize_rows(m):
        import numpy as np

        n = np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return m / n

    def pair_scores(qmat, cmat, metric, query_prenormalized=False):
        """(nc, nq) score matrix, higher = nearer: cosine = normalized
        dot, dot/ip = raw dot, l2 = -||c-q||² in expanded form (one
        matmul per block)."""
        if metric == "cosine":
            if not query_prenormalized:
                qmat = normalize_rows(qmat)
            cmat = normalize_rows(cmat)
        if metric == "l2":
            return (
                2.0 * (cmat @ qmat.T)
                - (cmat**2).sum(axis=1, keepdims=True)
                - (qmat**2).sum(axis=1)
            )
        return cmat @ qmat.T

    def tie_aware_order(sims_col, sort_ids, take):
        """Local top-`take` indices for one query column, ordered by the
        SAME composite key the global window uses (sim desc, corpus id
        asc) — pre-reduction can never drop a tied candidate the final
        window would keep. argpartition alone breaks exact-similarity
        ties arbitrarily (nondeterministic under duplicate vectors)."""
        import numpy as np

        return np.lexsort((sort_ids, -sims_col))[:take]

    def split_pair(pdf, cid_kind):
        """One group of a union frame (see _block_pair_frame) split into
        its query rows and corpus rows, or None when either side is
        empty; plus the corpus ids as transported (strings) and as the
        TYPED global window orders them ("10" < "9" as strings, but
        9 < 10 as the window sees them — a tied candidate at the local
        k-boundary would otherwise be pre-reduced away in favor of one
        the window discards; _cid_sort_kind resolves ``cid_kind``)."""
        import numpy as np

        is_q = pdf["_qid"].notna()
        qp, cp = pdf[is_q], pdf[~is_q]
        if qp.empty or cp.empty:
            return None
        cid_arr = cp["_cid"].to_numpy()
        if cid_kind == "int":
            sort_ids = cid_arr.astype(np.int64)
        elif cid_kind == "float":
            sort_ids = cid_arr.astype(np.float64)
        else:
            sort_ids = cid_arr
        return qp, cp, cid_arr, sort_ids

    return normalize_rows, pair_scores, tie_aware_order, split_pair


def topk_similarity_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k at scale: broadcast queries, numpy-matmul scoring with
    per-partition top-k pre-reduction, then a global top-k window.

    Output: (query_id, corpus_id, rank, similarity) — rank 1..k per query.
    """
    if metric not in ("cosine", "dot", "ip", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    spark = corpus.sparkSession
    qid_type = queries.schema[query_id].dataType
    cid_type = corpus.schema[corpus_id].dataType
    qrows = queries.select(query_id, query_vec).collect()  # nq-scale: small by contract
    if not qrows:
        schema = StructType(
            [
                StructField(query_id, qid_type),
                StructField(corpus_id, cid_type),
                StructField("rank", LongType()),
                StructField("similarity", DoubleType()),
            ]
        )
        return spark.createDataFrame([], schema)

    import numpy as np

    _normalize_rows, _pair_scores, _tie_aware_order, _ = _exact_scoring_core()
    qids = [r[query_id] for r in qrows]
    qmat = np.array([r[query_vec] for r in qrows], dtype=np.float64)
    if metric == "cosine":
        qmat = _normalize_rows(qmat)  # once on the driver, not per batch
    bq = spark.sparkContext.broadcast((qids, qmat))
    kk = int(k)

    out_schema = StructType(
        [
            StructField("_qid", qid_type),
            StructField("_cid", cid_type),
            StructField("_sim", DoubleType()),
        ]
    )

    from deployment_spark.operators.dedup import spread_for_cpu

    # the matmul stage parallelizes per-partition; a single-file corpus
    # scans as 1-2 tasks and would serialize it (no-op at scale)
    c = spread_for_cpu(
        corpus.select(F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cvec"))
    )

    def local_topk(batches):
        import pandas as pd

        ids, qm = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            cmat = np.array(pdf["_cvec"].tolist(), dtype=np.float64)
            sims = _pair_scores(qm, cmat, metric, query_prenormalized=True)
            take = min(kk, sims.shape[0])
            cid_arr = pdf["_cid"].to_numpy()
            out_q, out_c, out_s = [], [], []
            for j, qid in enumerate(ids):
                order = _tie_aware_order(sims[:, j], cid_arr, take)
                out_q.extend([qid] * len(order))
                out_c.extend(cid_arr[order].tolist())
                out_s.extend(sims[order, j].tolist())
            yield pd.DataFrame({"_qid": out_q, "_cid": out_c, "_sim": out_s})

    candidates = c.mapInPandas(local_topk, schema=out_schema)
    return (
        candidates.withColumn("rank", F.row_number().over(_rank_window("_qid")))
        .filter(F.col("rank") <= kk)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            F.col("rank"),
            F.col("_sim").alias("similarity"),
        )
    )


# Above this many queries the broadcast path stops being the right shape:
# every scoring task materializes the whole nq×d query matrix (at d=384
# float64, 65,536 queries ≈ 200 MB per task plus the driver collect), and
# the per-partition survivor count nq·k stops being "tiny". The blocked
# path replicates corpus bytes ×QB instead — worth it exactly when the
# query set is corpus-sized. tools/blocked_topk_probe.py measures both
# curves; see BASELINE.md "blocked top-k crossover".
BROADCAST_MAX_QUERIES = 65536

# The BYTES budget behind that row ceiling (r10, VERDICT r9 #5): 65,536
# queries was derived AT d=384 float64 (~200 MB/task). A fixed row count
# is dim-blind — at d=768 the same nq doubles the per-task footprint
# (OOM risk), at d=64 it routes to blocked 6× too early. The auto
# routers therefore derive their ceiling as budget / (d × 8) from the
# query frame's actual dimensionality, preserving the d=384 behavior
# exactly (65536 × 384 × 8 = this value).
BROADCAST_QUERY_BYTES_BUDGET = BROADCAST_MAX_QUERIES * 384 * 8


def _broadcast_query_ceiling(
    queries: DataFrame, query_vec: str, dim: int | None = None
) -> int:
    """Dim-aware broadcast row ceiling: BROADCAST_QUERY_BYTES_BUDGET /
    (d × 8 bytes). ``dim`` skips the probe when the caller knows it;
    otherwise one LIMIT-1 job reads a single vector's length (array
    columns carry no length in the schema). An empty/all-null query
    frame falls back to the d=384 constant — the route choice is
    irrelevant at nq=0."""
    if dim is None:
        row = (
            queries.select(F.size(F.col(query_vec)).alias("_d"))
            .filter(F.col("_d").isNotNull())
            .first()
        )
        if row is None or not row["_d"] or row["_d"] <= 0:
            return BROADCAST_MAX_QUERIES
        dim = int(row["_d"])
    return max(1, BROADCAST_QUERY_BYTES_BUDGET // (int(dim) * 8))

# default rows per hash block in the blocked path (8192×d float64 ≈
# 4-50 MB per side at d 64-768 — two blocks per task, comfortably
# in-executor); shared with the auto router's grid sizing
DEFAULT_BLOCK_ROWS = 8192

# default per-task row bound for the IVF-family batch routes' hot-cluster
# salting (same matrix-size reasoning as DEFAULT_BLOCK_ROWS: the scoring
# task materializes a bound×d float64 corpus block). r8 measured the
# unsalted hot-cluster plan at 6.31× slower (BASELINE.md "hot-cluster
# salting measured") — salting is therefore ON by default as of r9, with
# the balanced-layout overhead reduced to one nlist-bounded count job by
# _maybe_salt_hot_groups' skip-if-balanced decision.
DEFAULT_MAX_CLUSTER_ROWS_PER_TASK = 8192



def _cid_sort_kind(cid_type, context: str):
    """Resolve the local-sort coercion for a string-transported corpus
    id: the block-task tie-break must reproduce the TYPED global window
    order. Raises for types whose ordering a string transport cannot
    reproduce (decimal, timestamp, binary) instead of silently
    mis-ranking ties at local k-boundaries."""
    cid_sql = cid_type.simpleString()
    if cid_sql in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if cid_sql in ("float", "double"):
        return "float"
    if cid_sql in ("string", "date"):
        return "str"
    raise ValueError(
        f"{context}: unsupported corpus id type {cid_sql} — cast the id "
        "to int/bigint/float/double/string/date first (the "
        "string-transported local tie-break cannot reproduce this "
        "type's ordering)"
    )


# the string-transport emit schema shared by every _grouped_pair_topk
# task (ids go back to their real types before the global window)
_PAIR_TOPK_SCHEMA = StructType(
    [
        StructField("_qid", StringType()),
        StructField("_cid", StringType()),
        StructField("_sim", DoubleType()),
    ]
)


def _maybe_salt_hot_groups(q, c, counts_src, bound, group_key="cluster_id",
                           counts=None):
    """Sub-block salting for hot groups — the IVF-skew guard shared by
    the IVF / IVF×PQ / IVF×SQ8 batch searchers, on by default (r9).
    Groups larger than ``bound`` rows split into ceil(n/bound) salts:
    corpus rows take ONE salt by id hash, probing queries replicate
    across the group's salts, so the per-task matrix stays bounded
    while local-global top-k stays exact (every (query, salt) emits its
    tie-aware local top-k; the global window merges). Returns the
    salted (q, c, group_cols).

    Salting runs ONLY when some group actually
    exceeds ``bound`` rows. A balanced nlist ≈ √N layout pays one count
    job whose output is nlist-bounded and ZERO extra joins; a skewed
    corpus gets the bounded plan WITHOUT caller opt-in — the unsalted
    hot-cluster plan measured 6.31× slower (BASELINE.md), and a 100 TB
    run that forgets the knob should not get the bad plan by default.

    The counts are COLLECTED (one row per group — nlist-bounded by the
    index contract, the same small-by-contract scale as the centroid
    table itself) so the decision and both salt-table broadcasts reuse
    one aggregate instead of recomputing it per join. ``bound=None``
    opts out entirely (the pre-r9 default plan, kept for the
    measurement tooling); any int forces that bound.

    ``counts`` (r10, VERDICT r9 #2): a precomputed ``{group: rows}``
    mapping — index/store METADATA (``IVFIndex.cluster_counts``), so
    repeated batch searches over an unchanged index skip the count job
    entirely; per-cluster sizes only change at commit time, not per
    call. Stale metadata can only mis-TUNE the plan (salt a cold group
    or serialize a hot one — the pre-r9 default), never change results:
    salting is exactness-preserving in both directions."""
    if bound is None:
        return q, c, ["_g"]
    bound = int(bound)
    if counts is None:
        counts = {
            r[group_key]: r["_n"]
            for r in counts_src.groupBy(group_key)
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        }
    if not any(n > bound for n in counts.values()):
        return q, c, ["_g"]
    spark = q.sparkSession
    # both call modes carry the group key as _g on the frames themselves
    g_type = c.schema["_g"].dataType
    salts = spark.createDataFrame(
        [(g, int(-(-n // bound))) for g, n in counts.items()],
        StructType(
            [
                StructField("_g", g_type),
                StructField("_ns", LongType()),
            ]
        ),
    )
    # LEFT join + coalesce(_ns, 1): the counts mapping is advisory
    # metadata, so a group present in the DATA but absent from the
    # counts (stale cluster_stats under a mutated-in-place external
    # path) must default to one salt — an inner join would silently
    # DROP its corpus rows and query replicas, turning a plan mis-tune
    # into a wrong answer (ADVICE r10).
    _ns1 = F.coalesce(F.col("_ns"), F.lit(1)).cast("long")
    c = (
        c.join(F.broadcast(salts), "_g", "left")
        .withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("_cid")), _ns1).cast("int")
        )
        .drop("_ns")
    )
    q = (
        q.join(F.broadcast(salts), "_g", "left")
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), (_ns1 - 1).cast("int"))))
        .drop("_ns")
    )
    return q, c, ["_g", "_salt"]


def _grouped_pair_topk(both, group_cols, kk, metric, cid_kind,
                       corpus_decode=None):
    """groupBy(group_cols).applyInPandas local top-k over a union frame
    carrying string-transported (_qid, _cid, _vec) — the scoring task
    shared by the hash-blocked exact path (group = (_qb, _cb)) and the
    IVF batch path (group = probed cluster): split sides, one matmul,
    tie-aware per-query top-k on the typed composite order.

    ``corpus_decode`` (r8, the SQ8 batch route): a nested function
    mapping the corpus-side pandas frame to its float64 matrix, for
    union frames that transport COMPRESSED codes instead of a ``_vec``
    column — the shuffle then carries 1 B/dim tinyint codes rather than
    8 B/dim decoded doubles, and decompression happens inside the
    scoring task. Must be a closure that imports its own deps (pickled
    by value, same contract as _exact_scoring_core)."""
    import numpy as np
    import pandas as pd

    _, _pair_scores, _tie_aware_order, _split_pair = _exact_scoring_core()

    def pair_topk(pdf):
        parts = _split_pair(pdf, cid_kind)
        if parts is None:
            return pd.DataFrame({"_qid": [], "_cid": [], "_sim": []})
        qp, cp, cid_arr, sort_ids = parts
        qmat = np.array(qp["_vec"].tolist(), dtype=np.float64)
        cmat = (
            corpus_decode(cp)
            if corpus_decode is not None
            else np.array(cp["_vec"].tolist(), dtype=np.float64)
        )
        sims = _pair_scores(qmat, cmat, metric)  # (nc_local, nq_local)
        take = min(kk, sims.shape[0])
        out_q, out_c, out_s = [], [], []
        for j, qid in enumerate(qp["_qid"]):
            order = _tie_aware_order(sims[:, j], sort_ids, take)
            out_q.extend([qid] * len(order))
            out_c.extend(cid_arr[order].tolist())
            out_s.extend(sims[order, j].tolist())
        return pd.DataFrame({"_qid": out_q, "_cid": out_c, "_sim": out_s})

    return both.groupBy(*group_cols).applyInPandas(
        pair_topk, schema=_PAIR_TOPK_SCHEMA
    )


def _grouped_pair_hits(both, group_cols, radius, lim, cid_kind):
    """groupBy(group_cols).applyInPandas RADIUS hits over a union frame
    carrying string-transported (_qid, _cid, _vec) — the range-search
    sibling of :func:`_grouped_pair_topk`, shared by the hash-blocked
    flat path (group = (_qb, _cb)) and the IVF batch range path
    (group = probed cluster): split sides, one matmul, emit every hit
    ≥ radius; with ``lim`` each query's per-group emit is pre-reduced
    to the tie-aware local top-lim (bounded by lim·nq·groups, not by
    selectivity) for the global window to finalize."""
    import numpy as np
    import pandas as pd

    _, _pair_scores, _tie_aware_order, _split_pair = _exact_scoring_core()
    rad = float(radius)

    def pair_hits(pdf):
        parts = _split_pair(pdf, cid_kind)
        if parts is None:
            return pd.DataFrame({"_qid": [], "_cid": [], "_sim": []})
        qp, cp, cid_arr, sort_ids = parts
        qmat = np.array(qp["_vec"].tolist(), dtype=np.float64)
        cmat = np.array(cp["_vec"].tolist(), dtype=np.float64)
        sims = _pair_scores(qmat, cmat, "cosine")  # (nc_local, nq_local)
        out_q, out_c, out_s = [], [], []
        for j, qid in enumerate(qp["_qid"]):
            hit = np.nonzero(sims[:, j] >= rad)[0]
            if hit.size == 0:
                continue
            if lim is not None and hit.size > lim:
                # tie-aware local cap: bounded emit per (query, group)
                hit = hit[_tie_aware_order(sims[hit, j], sort_ids[hit], lim)]
            out_q.extend([qid] * hit.size)
            out_c.extend(cid_arr[hit].tolist())
            out_s.extend(sims[hit, j].tolist())
        return pd.DataFrame({"_qid": out_q, "_cid": out_c, "_sim": out_s})

    return both.groupBy(*group_cols).applyInPandas(
        pair_hits, schema=_PAIR_TOPK_SCHEMA
    )


def _block_pair_frame(
    queries: DataFrame,
    query_id: str,
    query_payload: dict,
    corpus: DataFrame,
    corpus_id: str,
    corpus_payload: dict,
    query_block_rows: int,
    corpus_block_rows: int,
    num_query_blocks: int | None = None,
    num_corpus_blocks: int | None = None,
    drop_null_payload: bool = True,
) -> DataFrame:
    """The bipartite block-pair layout of every blocked operator
    (:func:`topk_similarity_join_blocked`, :func:`radius_search_blocked`,
    ``binary.hamming_topk_blocked``, ``PQCodec.search_batch``,
    ``SQCodec.search_batch``): one union frame that, grouped by
    ``(_qb, _cb)``, puts every query block next to every corpus block —
    each pair is one independent task over two bounded blocks, so
    nothing query-scale is collected or broadcast and peak task memory
    is two blocks, independent of nq AND N.

    - Sizing: queries hash into QB blocks, corpus into CB; one count
      aggregate per side (no rows to the driver) unless the caller
      passes ``num_query_blocks`` / ``num_corpus_blocks`` (the auto
      routers reuse their routing count this way).
    - Hashing and replication: ``_qb`` / ``_cb`` are the xxhash64 of
      the TYPED id; each query row is exploded across all CB corpus
      blocks and each corpus row across all QB query blocks — the
      shuffle is |queries|·CB + |corpus|·QB input rows.
    - Payload: ``{name: Column}`` per side over that side's frame; a
      column one side lacks is a typed null on it. With
      ``drop_null_payload`` rows with a null payload are excluded
      codegen-side before the shuffle, so they never reach the numpy
      task (each operator keeps its own null policy).
    - String id transport: ids travel the pandas stage as STRINGS in
      ``_qid`` / ``_cid``. The union necessarily has a null id column
      per side, and Arrow→pandas turns a nullable int64 into float64 —
      silently corrupting ids above 2^53 (snowflake-scale). A string
      round-trips losslessly for every id type :func:`_cid_sort_kind`
      admits, the in-task tie-break re-types it (``split_pair`` of
      :func:`_exact_scoring_core`), and :func:`_typed_ids` casts both
      ids back before the global window, so the tie-break and the
      output schema are bit-identical to the broadcast paths. The
      query rows of a group are those with a non-null ``_qid``."""
    QB = int(num_query_blocks or max(1, -(-queries.count() // int(query_block_rows))))
    CB = int(num_corpus_blocks or max(1, -(-corpus.count() // int(corpus_block_rows))))

    def side(df, id_col, payload, id_name, key, n_key, other, n_other):
        if drop_null_payload:
            for col in payload.values():
                df = df.filter(col.isNotNull())
        return df.select(
            F.col(id_col).cast("string").alias(id_name),
            *[col.alias(name) for name, col in payload.items()],
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_key)).cast("int").alias(key),
        ).withColumn(other, F.explode(F.sequence(F.lit(0), F.lit(n_other - 1))))

    q = side(queries, query_id, query_payload, "_qid", "_qb", QB, "_cb", CB)
    c = side(corpus, corpus_id, corpus_payload, "_cid", "_cb", CB, "_qb", QB)
    return q.unionByName(c, allowMissingColumns=True)


def _typed_ids(candidates, queries, query_id, corpus, corpus_id):
    """Cast a grouped task's string-transported ``_qid`` / ``_cid`` back
    to the caller's id types BEFORE the global window: exact type (and
    tie-break) parity with the broadcast paths (see
    :func:`_block_pair_frame`)."""
    return candidates.withColumn(
        "_qid", F.col("_qid").cast(queries.schema[query_id].dataType)
    ).withColumn("_cid", F.col("_cid").cast(corpus.schema[corpus_id].dataType))


def topk_similarity_join_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    metric: str = "cosine",
    query_block_rows: int = DEFAULT_BLOCK_ROWS,
    corpus_block_rows: int = DEFAULT_BLOCK_ROWS,
    num_query_blocks: int | None = None,
    num_corpus_blocks: int | None = None,
) -> DataFrame:
    """Exact top-k for CORPUS-SIZED query sets — the batch-serving /
    offline-scoring shape (10⁶⁺ queries) where
    :func:`topk_similarity_join`'s broadcast contract breaks: there is
    no driver or task that can hold the query matrix.

    Bipartite block-pair form (:func:`_block_pair_frame`; the same
    partitioning argument as ``knn.knn_graph``, which is this
    operator's self-join special case): every (qb, cb) pair becomes one
    task — one numpy matmul over two bounded blocks, pre-reduced to
    each present query's local top-k with the SAME composite order (sim
    desc, corpus id asc) as the global window, so pre-reduction can
    never drop a row the final window would keep. One global window
    over the nq·k·CB survivors finalizes.

    Output and semantics are identical to :func:`topk_similarity_join`
    (exact, deterministic ties) — property-tested for parity."""
    if metric not in ("cosine", "dot", "ip", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    cid_kind = _cid_sort_kind(corpus.schema[corpus_id].dataType, "blocked top-k")
    kk = int(k)
    # vectors unified to double for the matmul. NULL-vector rows are
    # excluded on BOTH sides: a null corpus vector can never rank (the
    # broadcast sibling's null cosine sorts last and surfaces only when
    # a query has fewer than k non-null candidates), and a null query
    # vector returns no rows — the same contract as radius_search's
    # null-sim drop
    both = _block_pair_frame(
        queries, query_id, {"_vec": F.col(query_vec).cast("array<double>")},
        corpus, corpus_id, {"_vec": F.col(corpus_vec).cast("array<double>")},
        query_block_rows, corpus_block_rows, num_query_blocks, num_corpus_blocks,
    )
    candidates = _typed_ids(
        _grouped_pair_topk(both, ["_qb", "_cb"], kk, metric, cid_kind),
        queries, query_id, corpus, corpus_id,
    )
    return (
        candidates.withColumn("rank", F.row_number().over(_rank_window("_qid")))
        .filter(F.col("rank") <= kk)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            F.col("rank"),
            F.col("_sim").alias("similarity"),
        )
    )


def topk_similarity_join_auto(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    metric: str = "cosine",
    broadcast_max_queries: int | None = None,
    nq: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Scale-safe exact top-k entry point (mirrors ``knn_graph_auto``):
    FAISS-contract query batches take the broadcast matmul path; above
    the ceiling the query set routes to the block-pair form that never
    collects or broadcasts it, so a 10⁶-query offline scoring job
    cannot OOM the driver by accident. Both paths are exact with
    identical deterministic tie-breaks.

    The default ceiling is DIM-AWARE (r10, VERDICT r9 #5): derived as
    BROADCAST_QUERY_BYTES_BUDGET / (d × 8) from the query vectors'
    actual length (``dim`` hint skips the LIMIT-1 probe), so a
    d=768 corpus halves the row ceiling instead of doubling the
    per-task footprint, and a d=64 one doesn't route to blocked 6×
    too early. An explicit ``broadcast_max_queries`` overrides.

    ``nq`` (r9, VERDICT r8 finding #3): caller-supplied query count.
    Without it the router runs one count aggregate over ``queries`` —
    a single extra pass that is pure waste when the query frame is an
    expensive uncached pipeline whose cardinality the caller already
    knows. The hint is trusted as a ROUTING input only, but NOT
    harmless in both directions (r9 ADVICE): both routes stay exact,
    and an OVERstated nq merely wastes block granularity — an
    UNDERstated nq on a truly corpus-sized query frame routes it to
    the broadcast path, which collects the query set driver-side and
    can OOM the driver. Pass a hint you know to be an upper bound, or
    none at all."""
    if broadcast_max_queries is None:
        broadcast_max_queries = _broadcast_query_ceiling(queries, query_vec, dim)
    if nq is None:
        nq = queries.count()  # single aggregate, no rows to the driver
    nq = int(nq)
    if nq <= int(broadcast_max_queries):
        return topk_similarity_join(
            corpus, queries, k, corpus_id, corpus_vec, query_id, query_vec, metric
        )
    return topk_similarity_join_blocked(
        corpus, queries, k, corpus_id, corpus_vec, query_id, query_vec, metric,
        # reuse the routing count — the blocked path then skips its own
        # query-side count pass (r8 review: a 10^6-row query frame built
        # by an expensive pipeline would re-run it per count)
        num_query_blocks=max(1, -(-nq // DEFAULT_BLOCK_ROWS)),
    )


def radius_search(
    corpus: DataFrame,
    queries: DataFrame,
    radius: float,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    limit_per_query: int | None = None,
) -> DataFrame:
    """Range search — all corpus vectors with cosine ≥ ``radius`` per
    query (the Milvus range-search query mode, the radius sibling of
    top-k; the reference's store family exposes it next to the
    ``limit=10`` search at ``Milvus/stream1.py:162``).

    Broadcast-queries scan + Catalyst cosine + radius filter: one pass
    over the corpus, no shuffle at all when ``limit_per_query`` is None
    (the filter output streams straight to the sink); with a limit, the
    standard tie-aware rank window caps each query's result (Milvus
    range search takes the same optional limit). Unlike top-k there is
    no per-partition pre-reduction to do — the radius predicate IS the
    reduction, and its selectivity, not k, bounds the output.

    Output: (query_id, vec_id, similarity[, rank])."""
    q = F.broadcast(
        queries.select(F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qvec"))
    )
    c = corpus.select(F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cvec"))
    hits = (
        c.crossJoin(q)
        .withColumn("_sim", cosine_similarity("_cvec", "_qvec"))
        .filter(F.col("_sim") >= radius)
    )
    if limit_per_query is None:
        return hits.select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            F.col("_sim").alias("similarity"),
        )
    return (
        hits.withColumn("rank", F.row_number().over(_rank_window("_qid")))
        .filter(F.col("rank") <= limit_per_query)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            F.col("rank"),
            F.col("_sim").alias("similarity"),
        )
    )


def radius_search_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    radius: float,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    limit_per_query: int | None = None,
    query_block_rows: int = DEFAULT_BLOCK_ROWS,
    corpus_block_rows: int = DEFAULT_BLOCK_ROWS,
    num_query_blocks: int | None = None,
    num_corpus_blocks: int | None = None,
) -> DataFrame:
    """Range search for CORPUS-SIZED query sets — :func:`radius_search`
    for query batches no broadcast can hold. Same block-pair layout as
    :func:`topk_similarity_join_blocked` (:func:`_block_pair_frame`,
    same typed tie-break contract), but the per-pair task emits the
    radius HITS: with ``limit_per_query`` it pre-reduces each query's
    hits to the tie-aware local top-limit (so the emit is bounded by
    limit·nq·CB, not by selectivity) and one global window finalizes;
    without a limit every hit streams out and no window runs at all —
    the radius predicate is the reduction, exactly as in the broadcast
    form. Cosine only, like radius_search."""
    lim = None if limit_per_query is None else int(limit_per_query)
    if lim is not None:
        cid_kind = _cid_sort_kind(
            corpus.schema[corpus_id].dataType, "blocked radius search with limit"
        )
    else:
        cid_kind = "str"  # no limit ⇒ no ranking ⇒ id order never applies
    # null-vector rows excluded before the shuffle — the broadcast
    # sibling drops them through its null-sim radius predicate
    both = _block_pair_frame(
        queries, query_id, {"_vec": F.col(query_vec).cast("array<double>")},
        corpus, corpus_id, {"_vec": F.col(corpus_vec).cast("array<double>")},
        query_block_rows, corpus_block_rows, num_query_blocks, num_corpus_blocks,
    )
    hits = _typed_ids(
        _grouped_pair_hits(both, ["_qb", "_cb"], float(radius), lim, cid_kind),
        queries, query_id, corpus, corpus_id,
    )
    if lim is None:
        return hits.select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            F.col("_sim").alias("similarity"),
        )
    return (
        hits.withColumn("rank", F.row_number().over(_rank_window("_qid")))
        .filter(F.col("rank") <= lim)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            F.col("rank"),
            F.col("_sim").alias("similarity"),
        )
    )


def radius_search_auto(
    corpus: DataFrame,
    queries: DataFrame,
    radius: float,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    limit_per_query: int | None = None,
    broadcast_max_queries: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Scale-safe range-search entry point, mirroring
    :func:`topk_similarity_join_auto`: FAISS/Milvus-contract query
    batches take the broadcast Catalyst scan; above the (dim-aware,
    r10 — see the top-k auto) ceiling the block-pair form runs
    instead."""
    if broadcast_max_queries is None:
        broadcast_max_queries = _broadcast_query_ceiling(queries, query_vec, dim)
    nq = queries.count()  # single aggregate, no rows to the driver
    if nq <= int(broadcast_max_queries):
        return radius_search(
            corpus, queries, radius, corpus_id, corpus_vec,
            query_id, query_vec, limit_per_query,
        )
    return radius_search_blocked(
        corpus, queries, radius, corpus_id, corpus_vec,
        query_id, query_vec, limit_per_query,
        num_query_blocks=max(1, -(-nq // DEFAULT_BLOCK_ROWS)),
    )


def grouped_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    group_col: str = "label",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Grouping search — top-k DISTINCT groups per query, each
    represented by its best-scoring member (the Milvus
    ``group_by_field`` search mode: de-duplicate results by a payload
    field so one dominant group cannot fill the whole result list).

    Two windows over one scored scan: best-per-(query, group) then
    top-k groups per query; both use the deterministic (sim desc, id)
    tie-break. Shuffle is one exchange on query_id (the group window
    partitions by a superset key, so the second window reuses the
    sort).

    Output: (query_id, vec_id, group_col, rank, similarity) — rank is
    the GROUP rank."""
    q = F.broadcast(
        queries.select(F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qvec"))
    )
    c = corpus.select(
        F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cvec"), group_col
    )
    scored = c.crossJoin(q).withColumn("_sim", cosine_similarity("_cvec", "_qvec"))
    wg = Window.partitionBy("_qid", group_col).orderBy(F.desc("_sim"), F.asc("_cid"))
    best = scored.withColumn("_gr", F.row_number().over(wg)).filter(F.col("_gr") == 1)
    return (
        best.withColumn("rank", F.row_number().over(_rank_window("_qid")))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            group_col,
            "rank",
            F.col("_sim").alias("similarity"),
        )
    )


def enrich_topk(results: DataFrame, corpus: DataFrame, corpus_id: str = "vec_id", payload_cols: list[str] | None = None) -> DataFrame:
    """J2 — map result ids back to corpus payloads
    (``FAISS/UI-Demo/pipeline+ui.py:594-600``). The result side is k·nq
    rows, so Spark broadcasts it; unlike the reference's parallel-list
    indexing this cannot drift from the corpus (SURVEY §3.3)."""
    cols = payload_cols or [c for c in corpus.columns if c != corpus_id]
    return F.broadcast(results).join(
        corpus.select(corpus_id, *cols), on=corpus_id, how="inner"
    )


_PAIR_SCHEMA = StructType(
    [
        StructField("a_id", LongType()),
        StructField("b_id", LongType()),
        StructField("cosine", DoubleType()),
    ]
)


def _lsh_band_plan(threshold: float, target_miss: float) -> tuple[int, int] | None:
    """Size hyperplane-LSH banding for a cosine threshold t.

    P[one sign bit agrees] for a pair at angle θ is 1 − θ/π (Charikar
    2002, SimHash — same bound simhash relies on). We pick bits-per-band
    r so a pair AT the threshold still collides in a band with prob
    ≈ 0.25, then enough bands that its miss probability (0.75^bands) is
    under ``target_miss``; pairs above threshold do strictly better.
    Returns None when the threshold is too low for sign-bit banding to
    filter anything (r would be so small that near-orthogonal pairs
    collide constantly) — callers fall back to the exact path.
    """
    import math

    p_bit = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    if p_bit >= 1.0:
        return 64, 1
    if p_bit <= 0.5:  # at/below orthogonal: banding filters nothing
        return None
    r = math.log(4.0) / -math.log(p_bit)
    if r < 8:  # threshold ≲ 0.87: banding can't separate from background
        return None
    band_bits = min(64, math.ceil(r))
    # bands from the ACTUAL per-band collision at the chosen integer
    # band_bits (ceil(r) pushes it below the 0.25 design point, so a
    # fixed log(0.75) base would overshoot target_miss)
    p_band = p_bit**band_bits
    bands = math.ceil(math.log(target_miss) / math.log(1.0 - p_band))
    return band_bits, bands


def _signbit_band_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    band_bits: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """(id, band, sig) rows: ``bands`` signatures per vector, each packing
    ``band_bits`` hyperplane sign bits into one int64. Hyperplanes are
    regenerated identically on every executor from ``seed`` (and the
    dimensionality seen in the first Arrow batch) — nothing is collected
    or broadcast. Arrow-batched numpy matmul; O(N·d·bands·band_bits)
    flops, linear in the corpus."""
    import numpy as np
    import pandas as pd

    sig_schema = StructType(
        [
            StructField("_sid", LongType()),
            StructField("band", LongType()),
            StructField("sig", LongType()),
        ]
    )
    nbits = band_bits * bands
    weights = (1 << np.arange(band_bits, dtype=np.uint64)).astype(np.uint64)

    def signatures(batches):
        planes = {}  # dim -> (d, nbits) hyperplane matrix
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d = mat.shape[1]
            if d not in planes:
                planes[d] = np.random.default_rng(seed).standard_normal((d, nbits))
            bits = (mat @ planes[d]) > 0  # (n, nbits) bool
            # pack each band's bits into one int64 bucket key
            packed = (
                bits.reshape(-1, bands, band_bits).astype(np.uint64) * weights
            ).sum(axis=2).astype(np.int64)  # (n, bands)
            n = packed.shape[0]
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    "_sid": np.repeat(ids, bands),
                    "band": np.tile(np.arange(bands, dtype=np.int64), n),
                    "sig": packed.reshape(-1),
                }
            )

    from deployment_spark.operators.dedup import spread_for_cpu

    # single-file corpora scan as 1-2 tasks, serializing the numpy
    # signature work; spread to full parallelism first (no-op at scale
    # where the scan already has thousands of splits)
    return spread_for_cpu(
        df.select(F.col(id_col).cast("long").alias(id_col), vec_col)
    ).mapInPandas(signatures, schema=sig_schema)


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    bands: int | None = None,
    band_bits: int | None = None,
    target_miss: float = 1e-6,
    seed: int = 2026,
    target_block_rows: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (SURVEY §7.1 M8): all (a, b)
    with a < b and cosine ≥ threshold. Fully distributed — NO driver-side
    collect or full-matrix broadcast anywhere (round-1 verdict item 1).

    Default path (high thresholds): bucket-first, the nprobe idea of
    ``FAISS/PlainDemo/pipeline.py:257`` — prune candidates before
    scoring. Sign-bit hyperplane LSH signatures (banding auto-sized from
    the threshold so a pair at the threshold is missed with prob
    < ``target_miss``; see :func:`_lsh_band_plan`) → equi-join on
    (band, sig) — the same band-join shape as
    ``dedup.minhash_lsh_candidates``, shuffling on content keys, never
    the N² pair space — → exact Catalyst cosine verify on candidates
    only. All three stages are linear-shuffle; the pair blowup is bounded
    by bucket sizes.

    Low thresholds (≲0.87), where sign-bit banding cannot separate true
    pairs from background: exact distributed block-pair scoring
    (:func:`cosine_neardup_pairs_exact`). O(N²·d) flops is inherent to
    exact low-threshold all-pairs; the block form spreads it over
    B(B+1)/2 independent tasks instead of collecting the corpus.
    """
    if method not in ("auto", "lsh", "exact"):
        raise ValueError(f"unknown method {method!r}")
    plan = None
    if method in ("auto", "lsh"):
        if bands is not None and band_bits is not None:
            plan = (band_bits, bands)
        else:
            plan = _lsh_band_plan(threshold, target_miss)
        if plan is None and method == "lsh":
            raise ValueError(
                f"threshold {threshold} too low for sign-bit LSH banding; "
                "use method='exact'"
            )
    if plan is None:
        return cosine_neardup_pairs_exact(
            df, threshold, id_col, vec_col, target_block_rows=target_block_rows
        )

    bb, nb = plan
    sigs = _signbit_band_signatures(df, id_col, vec_col, bb, nb, seed)
    # Candidates in ONE pass over the signatures: group each (band, sig)
    # bucket, emit its id pairs with a nested-transform expression. A
    # self-join would evaluate the signature UDF twice and shuffle both
    # sides; this shape shuffles the signature rows once and the pair
    # blowup stays bounded by bucket sizes (same bound as the join).
    ids = F.array_sort(F.collect_list("_sid"))
    pair_expr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("a_id"), y.alias("b_id")),
            ),
        )
    )
    cand = (
        sigs.groupBy("band", "sig")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.a_id").alias("a_id"), F.col("p.b_id").alias("b_id"))
        .distinct()
    )
    av = df.select(
        F.col(id_col).cast("long").alias("a_id"), F.col(vec_col).alias("_avec")
    )
    bv = df.select(
        F.col(id_col).cast("long").alias("b_id"), F.col(vec_col).alias("_bvec")
    )
    return (
        cand.join(av, "a_id")
        .join(bv, "b_id")
        .withColumn("cosine", cosine_similarity("_avec", "_bvec"))
        .filter(F.col("cosine") >= threshold)
        .select("a_id", "b_id", "cosine")
    )


def _self_block_pairs(df, id_col, vec_col, num_blocks, target_block_rows):
    """The self-join block-pair layout of :func:`cosine_neardup_pairs_exact`
    and ``knn.knn_graph``: (_id long, _vec, _blk, _pi, _pj) — rows hash
    into B blocks by id and replicate to the B block pairs (_pi ≤ _pj)
    they take part in, so grouping by (_pi, _pj) scores each of the
    B(B+1)/2 pairs once. One count aggregate sizes B unless
    ``num_blocks`` is given."""
    if num_blocks is None:
        num_blocks = max(1, -(-df.count() // target_block_rows))
    B = int(num_blocks)
    return (
        df.select(F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_vec"))
        .withColumn("_blk", F.pmod(F.xxhash64(F.col("_id")), F.lit(B)).cast("int"))
        .withColumn("_o", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .withColumn("_pi", F.least("_blk", "_o"))
        .withColumn("_pj", F.greatest("_blk", "_o"))
        .drop("_o")
    )


def cosine_neardup_pairs_exact(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
    target_block_rows: int = 4096,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold, distributed block-pair form.

    The corpus is hashed into B blocks; each of the B(B+1)/2 block pairs
    is scored independently with one numpy matmul inside
    ``applyInPandas``. Shuffle is O(N·B) vector rows (each row replicated
    to the B block pairs it participates in) and NOTHING touches the
    driver — no collect, no full-matrix broadcast (the round-1 verdict's
    scale-killer). Peak task memory is two blocks
    (~2·target_block_rows·d·8 bytes) regardless of N. Exact all-pairs is
    inherently O(N²·d) flops; beyond ~10⁷ rows use the LSH-bucketed path
    in :func:`cosine_neardup_pairs`."""
    import numpy as np
    import pandas as pd

    exploded = _self_block_pairs(df, id_col, vec_col, num_blocks, target_block_rows)
    thr = float(threshold)
    normalize_rows = _exact_scoring_core()[0]

    def score_block_pair(key, pdf):
        i, j = key
        mat = normalize_rows(np.array(pdf["_vec"].tolist(), dtype=np.float64))
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        blk = pdf["_blk"].to_numpy()
        if i == j:
            sims = mat @ mat.T
            ii, jj = np.nonzero(sims >= thr)
            keep = ids[ii] < ids[jj]
            a, b, s = ids[ii][keep], ids[jj][keep], sims[ii, jj][keep]
        else:
            li, rj = blk == i, blk == j
            sims = mat[li] @ mat[rj].T
            ii, jj = np.nonzero(sims >= thr)
            la, rb = ids[li][ii], ids[rj][jj]
            a = np.minimum(la, rb)
            b = np.maximum(la, rb)
            s = sims[ii, jj]
        return pd.DataFrame({"a_id": a, "b_id": b, "cosine": s})

    return exploded.groupBy("_pi", "_pj").applyInPandas(
        score_block_pair, schema=_PAIR_SCHEMA
    )


def cosine_neardup_pairs_expr(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pure-Catalyst all-pairs variant (no Python): self-join + HOF cosine.
    Cross-check twin of ``cosine_neardup_pairs``; fine for small candidate
    sets, slower on wide corpora (per-pair interpreted lambdas)."""
    a = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"))
    b = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", cosine_similarity("a_vec", "b_vec"))
        .filter(F.col("cosine") >= threshold)
        .select("a_id", "b_id", "cosine")
    )
