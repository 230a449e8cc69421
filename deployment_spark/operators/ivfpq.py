"""IVF×PQ — the composed vector index (FAISS ``IndexIVFPQ`` analog):
coarse KMeans lists give PARTITION PRUNING (scan only nprobe of nlist
lists), PQ codes inside each list give MEMORY COMPRESSION (m bytes per
vector), and an optional exact re-rank refines the shortlist from the
full-precision rows — the three-stage shape every production vector
store converges on, here expressed as a parquet layout plus DataFrame
plans.

Composition of the two existing indexes, not a re-implementation:

- build: ``IVFIndex.build`` trains the coarse quantizer and writes the
  full-vector lists; then ``PQCodec.train`` + ``encode`` writes a
  parallel ``codes/`` table partitioned by the SAME cluster_id, so both
  representations prune identically;
- search: centroid routing (driver-side, like FAISS) → ``isin``
  partition pruning on the CODES table → ADC lookup-table scoring →
  per-query shortlist → optional exact cosine re-rank joining only the
  shortlist back to the full-vector lists (also pruned).

At 100 TB the codes table is what the hot path scans (16-48× smaller);
full vectors are touched O(nq·shortlist) rows per query batch.

Recall: driver-visible in tests (pruning recall ≈ `ivf_recall`'s,
compression recall recovered by re-rank as in `pq_recall`).
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deployment_spark.operators.ivf import IVFIndex, check_routing
from deployment_spark.operators.pq import PQCodec
from deployment_spark.operators.similarity import (
    DEFAULT_MAX_CLUSTER_ROWS_PER_TASK as DEFAULT_SALT_BOUND,
)


class IVFPQIndex:
    """root/ holds the IVFIndex layout plus ``codes/cluster_id=*`` and
    ``codebook.json``."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self.ivf = IVFIndex(spark, root)

    @property
    def _codes_path(self) -> str:
        return os.path.join(self.root, "codes")

    @property
    def _codebook_path(self) -> str:
        return os.path.join(self.root, "codebook.json")

    def build(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        nlist: int | None = None,
        m: int = 8,
        ksub: int = 64,
        seed: int = 42,
    ) -> "IVFPQIndex":
        self.ivf.build(df, id_col=id_col, vec_col=vec_col, nlist=nlist, seed=seed)
        codec = PQCodec.train(df, vec_col, m=m, ksub=ksub, seed=seed)
        # encode the ASSIGNED table so codes carry the same cluster_id;
        # the per-row reconstruction-error norm rides along (r10) — it
        # is what makes range_search's candidate filter error-bounded
        assigned = self.ivf.data().select(id_col, vec_col, "cluster_id")
        codes = codec.encode(assigned, id_col, vec_col, resid_col="resid").join(
            assigned.select(id_col, "cluster_id"), id_col
        )
        codes.write.mode("overwrite").partitionBy("cluster_id").parquet(
            self._codes_path
        )
        codec.save(self._codebook_path)
        return self

    def codec(self) -> PQCodec:
        return PQCodec.load(self._codebook_path)

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
        """nprobe-pruned ADC search; with ``shortlist`` set, exact cosine
        re-rank of the shortlist against the (equally pruned)
        full-vector lists. Output (query_id, vec_id, rank, similarity) —
        similarity is exact cosine when re-ranking, else the negated ADC
        distance (comparable ordering, documented approximation).

        Pruning is PER QUERY: the (query_id, cluster_id) routing frame
        of ``IVFIndex.probe`` joins the codes scan, so each query scores
        only codes in ITS nprobe lists — results never depend on which
        other queries share the batch — while the ``isin`` on the union
        still prunes partitions at the scan.

        ``routing='batch'`` dispatches to :meth:`search_batch` — the
        corpus-scale-QUERY-set path where nothing query-scale reaches
        the driver (the other routings collect the query batch, which
        is their LUT contract), as ``IVFIndex.search`` does."""
        import pandas as pd

        from pyspark.sql.types import DoubleType, StructField, StructType

        check_routing(routing, ("driver", "distributed", "batch"))
        if routing == "batch":
            # explicit corpus-scale-queries dispatch (r8): no count job,
            # no query collect on this path — batch callers know they
            # are batch (same reasoning as IVFIndex.search)
            return self.search_batch(
                queries, k, nprobe, shortlist, query_id, query_vec,
                id_col, vec_col,
            )
        qrows = queries.select(query_id, query_vec).collect()  # nq-scale
        routing_df, probed = self.ivf.probe(
            queries, nprobe, routing, query_id, query_vec, qrows=qrows
        )
        if routing_df is None:
            return self.ivf.search_empty(query_id, id_col)

        codec = self.codec()
        m, dsub = codec.m, codec.dsub
        books = codec.codebooks
        qids, luts = [], []
        for r in qrows:
            qv = np.asarray(r[query_vec], dtype=np.float64)
            qids.append(r[query_id])
            luts.append(
                np.stack(
                    [
                        ((books[j] - qv[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
                        for j in range(m)
                    ]
                )
            )
        qindex = {qid: i for i, qid in enumerate(qids)}
        bq = self.spark.sparkContext.broadcast((qindex, np.stack(luts)))
        take = k if shortlist is None else max(int(shortlist), k)

        # per-query pruned candidate rows: codes ⋈ routing (broadcast)
        pruned = (
            self.codes()
            .filter(F.col("cluster_id").isin(probed))  # partition pruning
            .join(F.broadcast(routing_df), "cluster_id")  # per-query routing
            .select(F.col(query_id).alias("_qid"), F.col(id_col).alias("_cid"), "code")
        )

        # id types follow the inputs (topk_similarity_join contract)
        out_schema = StructType(
            [
                StructField("_qid", queries.schema[query_id].dataType),
                StructField("_cid", self.codes().schema[id_col].dataType),
                StructField("_d", DoubleType()),
            ]
        )

        def adc_topk(batches):
            qidx_map, lut_all = bq.value
            for pdf in batches:
                if pdf.empty:
                    continue
                codes_arr = np.frombuffer(
                    b"".join(pdf["code"].tolist()), dtype=np.uint8
                ).reshape(-1, m)
                qi = pdf["_qid"].map(qidx_map).to_numpy()
                # dist[i] = Σ_j lut[q_i, j, code[i, j]] — one gather per batch
                d = lut_all[qi[:, None], np.arange(m)[None, :], codes_arr].sum(axis=1)
                cid = pdf["_cid"].to_numpy()
                out_q, out_c, out_d = [], [], []
                for q in np.unique(qi):
                    mask = qi == q
                    order = np.lexsort((cid[mask], d[mask]))[:take]
                    out_q.extend([qids[q]] * len(order))
                    out_c.extend(cid[mask][order].tolist())
                    out_d.extend(d[mask][order].tolist())
                yield pd.DataFrame({"_qid": out_q, "_cid": out_c, "_d": out_d})

        cand = pruned.mapInPandas(adc_topk, schema=out_schema)
        return self._finalize(cand, k, shortlist, probed, query_id, id_col,
                              vec_col, queries, query_vec, broadcast_queries=True)

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
        """ERROR-BOUNDED range search over the PQ codes (r10, VERDICT r9
        #6) — the radius sibling of :meth:`search`, completing the
        composed index's {top-k, range} matrix next to
        ``IVFSQIndex.range_search``. The hot scan reads m-byte codes
        (16-48× less IO than the float lists), yet the hit set is EXACT
        within probed clusters:

        1. candidate filter: ADC DOT (per-query LUT of q_j·c partial
           dot products, gathered per code row) ≥ radius − resid_i − ε,
           where resid_i = ‖v_i − v̂_i‖ is the row's reconstruction
           error STORED AT ENCODE TIME (``PQCodec.encode(resid_col)``).
           By Cauchy–Schwarz |q·v − q·v̂| ≤ ‖q‖·resid_i = resid_i for
           unit q, so no true hit can fail the filter. Unlike SQ8's
           trained-range margin (``SQCodec.margin_expr`` — per-DIM, and
           unbounded for rows encoded outside the trained ranges), this
           bound is per ROW and measured, so it survives codebook
           drift: a badly-fitting row gets a looser filter, never a
           missed hit. Cost: one extra float per row next to the code.
        2. exact refine: ONLY candidates' full vectors are fetched and
           the final predicate is exact cosine ≥ radius — quantization
           affects candidate COUNT, never membership or the reported
           similarity.

        Contract mirrors ``IVFSQIndex.range_search``: encoded corpus
        L2-normalized (queries normalized internally); at nprobe ≥
        nlist the result equals flat ``radius_search`` on the same rows
        (the SQL-gateable operating point — the ``ivfpq_range`` probe);
        pruning can only REMOVE hits. Output:
        (query_id, vec_id, similarity[, rank])."""
        import pandas as pd

        from pyspark.sql import Window
        from pyspark.sql.types import StructField, StructType

        from deployment_spark.functions.vector import (
            cosine_similarity,
            l2_normalize,
        )

        lim = None if limit_per_query is None else int(limit_per_query)
        if queries.isEmpty():
            return self.ivf._range_empty(query_id, id_col, lim)
        codes = self.codes()
        if "resid" not in codes.columns:
            raise ValueError(
                "error-bounded range search needs the per-row "
                "reconstruction-error column ('resid') next to the codes "
                "— rebuild the index with IVFPQIndex.build (r10+), which "
                "stores it via PQCodec.encode(resid_col='resid')"
            )
        qn = queries.select(query_id, l2_normalize(query_vec).alias(query_vec))
        qrows = qn.collect()  # nq-scale (interactive contract)
        routing_df, probed = self.ivf.probe(
            qn, nprobe, "driver", query_id, query_vec, qrows=qrows
        )
        codec = self.codec()
        m, dsub = codec.m, codec.dsub
        books = codec.codebooks
        qids, luts = [], []
        for r in qrows:
            qv = np.asarray(r[query_vec], dtype=np.float64)
            qids.append(r[query_id])
            # DOT LUT: lut[j, c] = q_j · books[j][c]; the per-row gather
            # sum is exactly q·v̂ — the quantity the resid bound is on
            luts.append(
                np.stack(
                    [books[j] @ qv[j * dsub : (j + 1) * dsub] for j in range(m)]
                )
            )
        qindex = {qid: i for i, qid in enumerate(qids)}
        bq = self.spark.sparkContext.broadcast((qindex, np.stack(luts)))
        rad = float(radius)

        pruned = (
            codes.filter(F.col("cluster_id").isin(probed))  # partition pruning
            # null-CODE rows are unscorable and excluded (the family's
            # r8 null-tolerance contract — they would crash the b''.join
            # gather); a null RESID is handled below as "bound unknown"
            .filter(F.col("code").isNotNull())
            .join(F.broadcast(routing_df), "cluster_id")  # per-query routing
            .select(
                F.col(query_id).alias("_qid"),
                F.col(id_col).alias("_cid"),
                "code",
                "resid",
            )
        )
        out_schema = StructType(
            [
                StructField("_qid", queries.schema[query_id].dataType),
                StructField("_cid", codes.schema[id_col].dataType),
            ]
        )

        def adc_candidates(batches):
            qidx_map, lut_all = bq.value
            gather = np.arange(m)[None, :]
            for pdf in batches:
                if pdf.empty:
                    continue
                codes_arr = np.frombuffer(
                    b"".join(pdf["code"].tolist()), dtype=np.uint8
                ).reshape(-1, m)
                qi = pdf["_qid"].map(qidx_map).to_numpy()
                adc = lut_all[qi[:, None], gather, codes_arr].sum(axis=1)
                # a null resid (externally-maintained codes row) means
                # "bound unknown": NaN would make the comparison False
                # and SILENTLY drop a possible true hit — map it to +inf
                # so the row always survives to the exact refine, which
                # decides membership
                resid = np.nan_to_num(
                    pdf["resid"].to_numpy(dtype=np.float64), nan=np.inf
                )
                # no true hit can fail: exact ≥ rad ⇒ adc ≥ exact − resid
                keep = adc >= rad - resid - 1e-9
                if not keep.any():
                    continue
                yield pd.DataFrame(
                    {
                        "_qid": pdf["_qid"].to_numpy()[keep],
                        "_cid": pdf["_cid"].to_numpy()[keep],
                    }
                )

        cand = pruned.mapInPandas(adc_candidates, schema=out_schema)
        qv_b = F.broadcast(
            self.spark.createDataFrame(qrows, [query_id, "_qv"]).select(
                query_id, F.col("_qv").cast("array<double>").alias("_qv")
            )
        )
        full = self.ivf.data().filter(F.col("cluster_id").isin(probed)).select(
            id_col, vec_col
        )
        hits = (
            cand.select(F.col("_qid").alias(query_id), F.col("_cid").alias(id_col))
            .join(full, id_col)
            .join(qv_b, query_id)
            .withColumn("similarity", cosine_similarity(vec_col, "_qv"))
            .filter(F.col("similarity") >= F.lit(rad))
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

    def _finalize(
        self, cand, k, shortlist, probed, query_id, id_col, vec_col,
        queries, query_vec, broadcast_queries,
    ):
        """Shared tail of the interactive and batch searches: shortlist
        window over ADC distances, then the optional exact-cosine
        re-rank against the full-vector lists. ``probed`` (interactive
        only) prunes the full-vector scan; the batch path passes None —
        its shortlist ids alone drive the semi-join-shaped fetch.
        ``broadcast_queries`` is the contract split: the interactive
        path's query batch is nq-scale driver state already, the batch
        path's query set must shuffle-join instead."""
        from pyspark.sql import Window

        take = k if shortlist is None else max(int(shortlist), k)
        w = Window.partitionBy("_qid").orderBy(F.asc("_d"), F.asc("_cid"))
        short = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= take)
        )
        if shortlist is None:
            return short.filter(F.col("rank") <= k).select(
                F.col("_qid").alias(query_id),
                F.col("_cid").alias(id_col),
                "rank",
                (-F.col("_d")).alias("similarity"),
            )
        from deployment_spark.functions.vector import cosine_similarity

        full = self.ivf.data()
        if probed is not None:
            full = full.filter(F.col("cluster_id").isin(probed))
        full = full.select(id_col, vec_col)
        q = queries.select(query_id, F.col(query_vec).alias("_qv"))
        if broadcast_queries:
            q = F.broadcast(q)
        scored = (
            short.select(F.col("_qid").alias(query_id), F.col("_cid").alias(id_col))
            .join(full, id_col)
            .join(q, query_id)
            .withColumn("_sim", cosine_similarity(vec_col, "_qv"))
        )
        w2 = Window.partitionBy(query_id).orderBy(F.desc("_sim"), F.asc(id_col))
        return (
            scored.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select(query_id, id_col, "rank", F.col("_sim").alias("similarity"))
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
        """IVF×PQ search for CORPUS-SIZED query sets — NOTHING
        query-scale on the driver (``search`` collects the query batch
        to build LUTs and routing, the right FAISS contract for
        interactive batches and impossible for a 10⁶-query job). Same
        three stages as ``IVFIndex.search_batch``, over the COMPRESSED
        codes:

        1. ROUTING + PRUNING: ``IVFIndex.probe_batch`` over the codes
           table — scale-safe in nq and nlist simultaneously;
        2. ADC: probed (query, cluster) pairs group WITH the cluster's
           m-byte code rows by cluster_id; each task rebuilds its
           queries' LUTs from the broadcast codebooks and gathers —
           the shuffle carries codes, not float vectors (the PQ
           compression is exactly what makes the corpus×query-batch
           shuffle affordable);
        3. optional exact-cosine re-rank fetching ONLY the shortlist
           ids from the full-vector lists (shuffle join — no query
           broadcast).

        A HOT cluster serializes its one ADC task;
        ``max_cluster_rows_per_task`` opts into the same sub-block
        salting as ``IVFIndex.search_batch`` (corpus rows hash-salted,
        probing queries replicated per salt; local-global top-k stays
        exact). Output schema identical to :meth:`search`."""
        from deployment_spark.operators.pq import _grouped_adc_topk
        from deployment_spark.operators.similarity import (
            _cid_sort_kind,
            _maybe_salt_hot_groups,
            _typed_ids,
        )

        if queries.isEmpty():
            return self.ivf.search_empty(query_id, id_col)
        codes = self.codes()
        codec = self.codec()
        cid_kind = _cid_sort_kind(codes.schema[id_col].dataType, "ivfpq batch search")
        take = int(k) if shortlist is None else max(int(shortlist), int(k))

        # null codes are excluded: one would crash the b''.join inside
        # _grouped_adc_topk (r8 ADVICE)
        probes, codes, salt_counts = self.ivf.probe_batch(
            queries, nprobe, codes, num_query_blocks, query_id, query_vec
        )

        q = queries.join(probes, query_id).select(
            F.col(query_id).cast("string").alias("_qid"),
            F.lit(None).cast("string").alias("_cid"),
            F.col(query_vec).cast("array<double>").alias("_vec"),
            F.lit(None).cast("binary").alias("_code"),
            F.col("cluster_id").alias("_g"),
        )
        c = codes.filter(F.col("code").isNotNull()).select(
            F.lit(None).cast("string").alias("_qid"),
            F.col(id_col).cast("string").alias("_cid"),
            F.lit(None).cast("array<double>").alias("_vec"),
            F.col("code").alias("_code"),
            F.col("cluster_id").alias("_g"),
        )
        q, c, group_cols = _maybe_salt_hot_groups(
            q, c, codes.select("cluster_id"), max_cluster_rows_per_task,
            counts=salt_counts,
        )

        books_bc = self.spark.sparkContext.broadcast(codec.codebooks)
        cand = _typed_ids(
            _grouped_adc_topk(
                q.unionByName(c.select(*q.columns)), group_cols, take,
                books_bc, codec.m, codec.dsub, cid_kind,
            ),
            queries, query_id, codes, id_col,
        )
        return self._finalize(cand, int(k), shortlist, None, query_id, id_col,
                              vec_col, queries, query_vec,
                              broadcast_queries=False)
