"""IVF×SQ8 — the composed index the reference's store ships as
``IVF_SQ8`` (Milvus standard index type; the reference drives Milvus at
``Milvus/stream1.py:117-130`` with HNSW, and IVF_SQ8 is the
sibling index type in the same family — this completes the engine's
Milvus index-type parity: FLAT ≡ exact, IVF_FLAT ≡ operators/ivf,
IVF_PQ ≡ operators/ivfpq, IVF_SQ8 ≡ here; HNSW is serving-side, out of
Spark scope per SURVEY §2.9).

Composition of two existing pieces, not a re-implementation:

- build: ``IVFIndex.build`` trains the coarse quantizer and writes the
  full-vector lists; ``SQCodec.train`` (distributed min/max) +
  ``encode`` writes a parallel ``sq_codes/`` table partitioned by the
  SAME cluster_id — 1 B/dim instead of 4, pruned identically.
- search: centroid routing (driver-side, FAISS contract) → ``isin``
  partition pruning on the codes table → per-query routing join →
  decode-on-the-fly ADC **entirely inside whole-stage codegen** (the
  SQ decode is a transform expression + dot product; contrast IVF×PQ,
  whose LUT gather needs an Arrow mapInPandas stage) → shortlist →
  optional exact cosine re-rank joining only the shortlist back to the
  (equally pruned) full-vector lists.

Why this exists next to IVF×PQ at the 100 TB design point: SQ8 is 4×
(vs PQ's 16-48×) but near-lossless, so the composed recall is bounded
by PRUNING alone — teams pick IVF_SQ8 exactly when memory allows 4× and
they want pruning speed without quantization recall loss; the measured
panel (`ann_recall`, ivfsq rows) shows adc ≈ rerank for this index
while ivfpq needs the re-rank to recover compression loss.

Recall: driver-visible in ``queries.q_ivfsq_recall`` (folded into the
``ann_recall`` panel) and floor-pinned in tests/test_recall_floors.py;
independently re-derived by tools/check_oracle.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deployment_spark.operators.ivf import IVFIndex, check_routing
from deployment_spark.operators.similarity import (
    DEFAULT_MAX_CLUSTER_ROWS_PER_TASK as DEFAULT_SALT_BOUND,
)
from deployment_spark.operators.sq import SQCodec


class IVFSQIndex:
    """root/ holds the IVFIndex layout plus ``sq_codes/cluster_id=*``
    and ``sq_ranges.json``."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self.ivf = IVFIndex(spark, root)

    @property
    def _codes_path(self) -> str:
        return os.path.join(self.root, "sq_codes")

    @property
    def _ranges_path(self) -> str:
        return os.path.join(self.root, "sq_ranges.json")

    def build(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        nlist: int | None = None,
        seed: int = 42,
    ) -> "IVFSQIndex":
        self.ivf.build(df, id_col=id_col, vec_col=vec_col, nlist=nlist, seed=seed)
        codec = SQCodec.train(df, vec_col)
        assigned = self.ivf.data().select(id_col, vec_col, "cluster_id")
        codes = codec.encode(assigned, vec_col)
        codes.write.mode("overwrite").partitionBy("cluster_id").parquet(
            self._codes_path
        )
        with open(self._ranges_path, "w") as f:
            f.write(codec.to_json())
        return self

    def codec(self) -> SQCodec:
        with open(self._ranges_path) as f:
            return SQCodec.from_json(f.read())

    def codes(self) -> DataFrame:
        return self.spark.read.parquet(self._codes_path)

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 10,
        shortlist: int | None = 50,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        routing: str = "driver",
    ) -> DataFrame:
        """nprobe-pruned pure-Catalyst ADC; with ``shortlist`` set, exact
        cosine re-rank against the equally pruned full-vector lists.
        Output (query_id, vec_id, rank, similarity) — similarity is
        exact cosine when re-ranking, else the ADC dot product (queries
        and the encoded corpus are expected normalized).

        Pruning is PER QUERY (the routing frame of ``IVFIndex.probe``):
        each query scores only codes in ITS nprobe lists, while the
        ``isin`` on the union still prunes partitions at the scan.

        ``routing='batch'`` dispatches to :meth:`search_batch` — the
        corpus-scale-QUERY-set path where nothing query-scale reaches
        the driver — as ``IVFIndex.search`` does."""
        from deployment_spark.functions.vector import cosine_similarity, dot_product

        check_routing(routing, ("driver", "distributed", "batch"))
        if routing == "batch":
            # explicit corpus-scale-queries dispatch (r8): no count job,
            # no query collect on this path — batch callers know they
            # are batch (same reasoning as IVFIndex.search)
            return self.search_batch(
                queries, k, nprobe, shortlist, query_id, query_vec,
                id_col, vec_col,
            )
        routing_df, probed = self.ivf.probe(
            queries, nprobe, routing, query_id, query_vec
        )
        if routing_df is None:
            return self.ivf.search_empty(query_id, id_col)
        codec = self.codec()
        take = k if shortlist is None else max(int(shortlist), k)

        pruned = (
            self.codes()
            .filter(F.col("cluster_id").isin(probed))  # partition pruning
            .join(F.broadcast(routing_df), "cluster_id")  # per-query routing
        )
        qv = F.broadcast(queries.select(query_id, F.col(query_vec).alias("_qv")))
        scored = (
            pruned.join(qv, query_id)
            .withColumn("_sim", dot_product(codec.decode_expr("codes"), "_qv"))
            .select(query_id, F.col(id_col).alias("_cid"), "_sim")
        )
        w = Window.partitionBy(query_id).orderBy(F.desc("_sim"), F.asc("_cid"))
        short = scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= take
        )
        if shortlist is None:
            return short.filter(F.col("rank") <= k).select(
                query_id,
                F.col("_cid").alias(id_col),
                "rank",
                F.col("_sim").alias("similarity"),
            )
        full = self.ivf.data().filter(F.col("cluster_id").isin(probed)).select(
            id_col, vec_col
        )
        rescored = (
            short.select(query_id, F.col("_cid").alias(id_col))
            .join(full, id_col)
            .join(qv, query_id)
            .withColumn("_sim", cosine_similarity(vec_col, "_qv"))
        )
        w2 = Window.partitionBy(query_id).orderBy(F.desc("_sim"), F.asc(id_col))
        return (
            rescored.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select(query_id, id_col, "rank", F.col("_sim").alias("similarity"))
        )

    def range_search(
        self,
        queries: DataFrame,
        radius: float,
        nprobe: int = 10,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        limit_per_query: int | None = None,
    ) -> DataFrame:
        """ERROR-BOUNDED range search over the COMPRESSED codes (r9) —
        the radius sibling of :meth:`search`, completing the composed
        index's {top-k, range} matrix. The hot scan reads 1 B/dim codes
        (4× less IO than the float lists), yet the hit set is EXACT
        within probed clusters, not approximately-ADC:

        1. candidate filter (pure codegen, pruned codes scan): ADC dot
           ≥ radius − margin(q) − ε, where margin(q) =
           Σ|q_i|·scale_i/2 is the quantizer's tight dot-product error
           bound (``SQCodec.margin_expr``) and ε=1e-9 absorbs float
           rounding. No true hit can fail this: exact ≥ radius ⇒
           ADC ≥ exact − margin ≥ radius − margin.
        2. exact refine: ONLY the candidates' full vectors are fetched
           (the search_rerank shape) and the final predicate is exact
           cosine ≥ radius — quantization affects candidate COUNT,
           never membership or reported similarity.

        Contract: the encoded corpus is expected L2-normalized (same
        as ``search``; the margin bounds DOT error, and dot ≡ cosine
        only for unit corpus rows — queries are normalized internally,
        cosine being scale-invariant in the query). At nprobe ≥ nlist
        the result equals flat ``radius_search`` on the same rows —
        the SQL-gateable operating point. ``limit_per_query`` caps
        each query's hits tie-aware, Milvus-style. Output:
        (query_id, vec_id, similarity[, rank])."""
        from deployment_spark.functions.vector import (
            cosine_similarity,
            dot_product,
            l2_normalize,
        )

        qrows_empty = queries.isEmpty()
        lim = None if limit_per_query is None else int(limit_per_query)
        if qrows_empty:
            return self.ivf._range_empty(query_id, id_col, lim)
        qn = queries.select(
            query_id, l2_normalize(query_vec).alias(query_vec)
        )
        qrows = qn.collect()  # nq-scale (interactive contract)
        routing_df, probed = self.ivf.probe(
            qn, nprobe, "driver", query_id, query_vec, qrows=qrows
        )
        codec = self.codec()

        qv = F.broadcast(
            self.spark.createDataFrame(qrows, [query_id, "_qv"]).select(
                query_id,
                F.col("_qv").cast("array<double>").alias("_qv"),
                codec.margin_expr("_qv").alias("_margin"),
            )
        )
        cand = (
            self.codes()
            .filter(F.col("cluster_id").isin(probed))  # partition pruning
            .join(F.broadcast(routing_df), "cluster_id")  # per-query routing
            .join(qv, query_id)
            .withColumn("_adc", dot_product(codec.decode_expr("codes"), "_qv"))
            .filter(
                F.col("_adc")
                >= F.lit(float(radius)) - F.col("_margin") - F.lit(1e-9)
            )
            .select(query_id, id_col, "_qv")
        )
        full = self.ivf.data().filter(F.col("cluster_id").isin(probed)).select(
            id_col, vec_col
        )
        hits = (
            cand.join(full, id_col)
            .withColumn("similarity", cosine_similarity(vec_col, "_qv"))
            .filter(F.col("similarity") >= F.lit(float(radius)))
        )
        if lim is None:
            return hits.select(query_id, id_col, "similarity")
        w = Window.partitionBy(query_id).orderBy(
            F.desc("similarity"), F.asc(id_col)
        )
        return (
            hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= lim)
            .select(query_id, id_col, "rank", "similarity")
        )

    def search_batch(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 10,
        shortlist: int | None = 50,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        num_query_blocks: int | None = None,
        max_cluster_rows_per_task: int | None = DEFAULT_SALT_BOUND,
    ) -> DataFrame:
        """IVF×SQ8 search for CORPUS-SIZED query sets — NOTHING
        query-scale on the driver (``search`` collects the query batch
        for routing and broadcasts it into the ADC join, the right
        interactive contract). Same three stages as
        ``IVFIndex.search_batch``:

        1. ROUTING + PRUNING: ``IVFIndex.probe_batch`` over the codes
           table — no query broadcast, no centroid collect;
        2. ADC: probed (query, cluster) pairs group WITH the cluster's
           1 B/dim code rows by cluster_id; each task decodes its code
           block with the numpy image of ``decode_expr`` (bit-identical
           float64 values) and runs one dot-product matmul — the
           shuffle carries codes, not floats (the 4× SQ compression is
           what the corpus-side replication pays);
        3. optional exact-cosine re-rank fetching ONLY the shortlist
           ids from the full-vector lists (shuffle join — no query
           broadcast).

        ``max_cluster_rows_per_task`` opts into the same hot-cluster
        sub-block salting as the other batch searchers. Output schema
        and tie-breaks identical to :meth:`search` (ADC scores differ
        from the expression path only in summation-order ulps)."""
        from deployment_spark.operators.similarity import (
            _cid_sort_kind,
            _grouped_pair_topk,
            _maybe_salt_hot_groups,
            _typed_ids,
        )

        if queries.isEmpty():
            return self.ivf.search_empty(query_id, id_col)
        codes = self.codes()
        codec = self.codec()
        cid_kind = _cid_sort_kind(codes.schema[id_col].dataType, "ivfsq batch search")
        take = int(k) if shortlist is None else max(int(shortlist), int(k))

        # null codes are excluded: a null codes array would crash the
        # np.array(...tolist()) decode inside the scoring task (r8 ADVICE)
        probes, codes, salt_counts = self.ivf.probe_batch(
            queries, nprobe, codes, num_query_blocks, query_id, query_vec
        )

        q = queries.join(probes, query_id).select(
            F.col(query_id).cast("string").alias("_qid"),
            F.lit(None).cast("string").alias("_cid"),
            F.col(query_vec).cast("array<double>").alias("_vec"),
            F.lit(None).cast("array<tinyint>").alias("_code"),
            F.col("cluster_id").alias("_g"),
        )
        c = codes.filter(F.col("codes").isNotNull()).select(
            F.lit(None).cast("string").alias("_qid"),
            F.col(id_col).cast("string").alias("_cid"),
            F.lit(None).cast("array<double>").alias("_vec"),
            F.col("codes").alias("_code"),
            F.col("cluster_id").alias("_g"),
        )
        q, c, group_cols = _maybe_salt_hot_groups(
            q, c, codes.select("cluster_id"), max_cluster_rows_per_task,
            counts=salt_counts,
        )

        lo, scale = codec.lo, codec.scale

        def decode_codes(cp):
            import numpy as np

            arr = np.array(cp["_code"].tolist(), dtype=np.float64)
            return lo + (arr + 128.0) * scale

        cand = _typed_ids(
            _grouped_pair_topk(
                q.unionByName(c.select(*q.columns)), group_cols, take,
                "dot", cid_kind, corpus_decode=decode_codes,
            ),
            queries, query_id, codes, id_col,
        )
        w = Window.partitionBy("_qid").orderBy(F.desc("_sim"), F.asc("_cid"))
        short = cand.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= take
        )
        if shortlist is None:
            return short.filter(F.col("rank") <= k).select(
                F.col("_qid").alias(query_id),
                F.col("_cid").alias(id_col),
                "rank",
                F.col("_sim").alias("similarity"),
            )
        from deployment_spark.functions.vector import cosine_similarity

        full = self.ivf.data().select(id_col, vec_col)
        qv = queries.select(query_id, F.col(query_vec).alias("_qv"))
        rescored = (
            short.select(F.col("_qid").alias(query_id), F.col("_cid").alias(id_col))
            .join(full, id_col)
            .join(qv, query_id)
            .withColumn("_sim", cosine_similarity(vec_col, "_qv"))
        )
        w2 = Window.partitionBy(query_id).orderBy(F.desc("_sim"), F.asc(id_col))
        return (
            rescored.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select(query_id, id_col, "rank", F.col("_sim").alias("similarity"))
        )
