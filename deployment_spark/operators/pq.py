"""Product quantization (PQ) — the compressed-vector ANN path
(SURVEY §2.9 family; FAISS ``IndexPQ`` / ``IndexIVFPQ`` analog).

Why this exists at the 100 TB design point: a 768-dim float32 corpus is
3 KB/vector — 100 TB of raw vectors cannot be rescanned per query, and
even the IVF-pruned lists are float-sized. PQ stores each vector as m
one-byte codes (m=8-64): 32-384x smaller, so candidate lists fit in
memory/page-cache and distance evaluation becomes m table lookups
instead of d multiplies.

Spark-first layout, mirroring how FAISS splits the work:

- **train** (driver-side, like FAISS's ``index.train(sample)``): k-means
  per subspace on a bounded SAMPLE collected to the driver — the
  codebook is (m × ksub × dsub) floats, a few KB; training on a sample
  is the documented contract at any scale. Plain numpy Lloyd
  iterations, seeded, no sklearn.
- **encode** (distributed): Arrow-batched ``mapInPandas``; per batch one
  (n × ksub) distance matmul per subspace, argmin → uint8 codes packed
  into a BinaryType column of m bytes — the on-disk index format.
- **search ADC** (distributed): per query, an (m × ksub) lookup table of
  partial squared distances is built driver-side (tiny, like the query
  matrix) and broadcast; executors score a code row with m byte-indexed
  gathers (numpy fancy indexing over the whole batch at once), then the
  per-partition top-k pre-reduce + global window from
  ``topk_similarity_join`` keeps the shuffle at nq·k·P rows.

Asymmetric distance (query in full precision vs corpus codes) follows
FAISS's ADC; recall is bounded by quantization error, measured in
``queries.q_pq_recall`` (rows-only driver entry) and tests/test_pq.py.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)


# rows per CODE block in the batch ADC path: codes are m bytes/row
# (65,536 × m=16 ≈ 1 MB), so code blocks run 8× the float-vector
# default — the per-task LUT rebuild amortizes over a bigger gather
DEFAULT_CODE_BLOCK_ROWS = 65536


def _grouped_adc_topk(both, group_cols, take, books_bc, m, dsub, cid_kind):
    """groupBy(group_cols).applyInPandas ADC local top-k over a union
    frame of string-transported (_qid, _vec) query rows and (_cid,
    _code) code rows — the scoring task shared by the hash-blocked PQ
    batch path (group = (_qb, _cb)) and the IVF×PQ batch path (group =
    probed cluster). Per query the (m × ksub) LUT is rebuilt inside the
    task from the broadcast codebooks with the SAME expressions the
    interactive searchers use, so ADC distances are bit-identical
    across routes; the local tie-break applies the TYPED (distance asc,
    id asc) composite order of the global window, so pre-reduction can
    never drop a tied candidate the window would keep. The scorer is a
    nested closure (pickled by value — executors never import this
    package, the _exact_scoring_core contract)."""
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    from deployment_spark.operators.similarity import _exact_scoring_core

    _, _, _, split_pair = _exact_scoring_core()
    out_schema = StructType(
        [
            StructField("_qid", StringType()),
            StructField("_cid", StringType()),
            StructField("_d", DoubleType()),
        ]
    )

    def adc_pair_topk(pdf):
        import numpy as np
        import pandas as pd

        parts = split_pair(pdf, cid_kind)
        if parts is None:
            return pd.DataFrame({"_qid": [], "_cid": [], "_d": []})
        qp, cp, cid_arr, sort_ids = parts
        books = books_bc.value
        codes_arr = np.frombuffer(
            b"".join(cp["_code"].tolist()), dtype=np.uint8
        ).reshape(-1, m)
        tk = min(take, codes_arr.shape[0])
        gather = np.arange(m)[None, :]
        out_q, out_c, out_d = [], [], []
        for qid, vec in zip(qp["_qid"], qp["_vec"]):
            qv = np.asarray(vec, dtype=np.float64)
            lut = np.stack(
                [
                    ((books[j] - qv[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
                    for j in range(m)
                ]
            )
            d = lut[gather, codes_arr].sum(axis=1)
            order = np.lexsort((sort_ids, d))[:tk]
            out_q.extend([qid] * len(order))
            out_c.extend(cid_arr[order].tolist())
            out_d.extend(d[order].tolist())
        return pd.DataFrame({"_qid": out_q, "_cid": out_c, "_d": out_d})

    return both.groupBy(*group_cols).applyInPandas(adc_pair_topk, schema=out_schema)


def _kmeans_1sub(x: np.ndarray, k: int, iters: int, rng: np.random.Generator) -> np.ndarray:
    """Seeded Lloyd k-means for one subspace. Returns (k, dsub) centroids.
    k-means++-style init (distance-weighted) for stable codebooks."""
    n = x.shape[0]
    k = min(k, n)
    cents = np.empty((k, x.shape[1]))
    cents[0] = x[rng.integers(n)]
    d2 = np.full(n, np.inf)
    for i in range(1, k):
        d2 = np.minimum(d2, ((x - cents[i - 1]) ** 2).sum(axis=1))
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        cents[i] = x[rng.choice(n, p=probs)]
    for _ in range(iters):
        # assignment via ||x||² - 2x·c + ||c||² ; argmin over k
        d = ((x**2).sum(1, keepdims=True) - 2 * x @ cents.T + (cents**2).sum(1))
        assign = d.argmin(axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


class PQCodec:
    """Trained product quantizer: m subspaces × ksub centroids."""

    def __init__(self, codebooks: np.ndarray) -> None:
        self.codebooks = codebooks  # (m, ksub, dsub) float64
        self.m, self.ksub, self.dsub = codebooks.shape

    @property
    def dim(self) -> int:
        return self.m * self.dsub

    # -- persistence (the codebook IS the index metadata) -------------------

    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"m": self.m, "ksub": self.ksub, "dsub": self.dsub,
                 "codebooks": self.codebooks.tolist()},
                f,
            )

    @classmethod
    def load(cls, path: str) -> "PQCodec":
        with open(path) as f:
            d = json.load(f)
        return cls(np.array(d["codebooks"], dtype=np.float64))

    # -- train --------------------------------------------------------------

    @classmethod
    def train(
        cls,
        df: DataFrame,
        vec_col: str = "embedding",
        m: int = 8,
        ksub: int = 256,
        sample_rows: int = 10000,
        iters: int = 10,
        seed: int = 42,
    ) -> "PQCodec":
        """Driver-side training on a bounded sample (``limit``, not a full
        collect — the FAISS ``train(sample)`` contract). dim must divide
        evenly into m subspaces."""
        if ksub > 256:
            raise ValueError(
                f"ksub={ksub} > 256: codes are uint8; larger codebooks would "
                "silently wrap centroid indices"
            )
        sample = df.select(vec_col).limit(sample_rows).collect()
        x = np.array([r[vec_col] for r in sample], dtype=np.float64)
        d = x.shape[1]
        if d % m:
            raise ValueError(f"dim {d} not divisible into m={m} subspaces")
        dsub = d // m
        rng = np.random.default_rng(seed)
        books = np.stack(
            [
                _kmeans_1sub(x[:, j * dsub : (j + 1) * dsub], ksub, iters, rng)
                for j in range(m)
            ]
        )
        return cls(books)

    # -- encode (distributed) ------------------------------------------------

    def encode(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        resid_col: str | None = None,
    ) -> DataFrame:
        """(id, code BINARY(m)) — one argmin matmul per subspace per Arrow
        batch; codes are uint8 (ksub ≤ 256). The id column keeps its
        input type (long, string, …) — same contract as
        ``topk_similarity_join``.

        ``resid_col`` (r10, VERDICT r9 #6) additionally stores each
        row's RECONSTRUCTION-ERROR norm ‖v − v̂‖₂ (one float next to the
        m-byte code): by Cauchy–Schwarz, |q·v − q·v̂| ≤ ‖q‖·‖v − v̂‖, so
        for unit queries the stored norm is an EXACT per-row bound on
        the ADC dot-product error — the hook for error-bounded range
        search over PQ codes (``IVFPQIndex.range_search``). Unlike
        SQ8's trained-range margin, this bound is PER ROW and measured
        at encode time, so it stays sound for rows encoded after the
        codebook drifted (a badly-fitting row just gets a bigger
        residual and a looser candidate filter, never a missed hit)."""
        books = self.codebooks
        m, dsub = self.m, self.dsub
        fields = [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("code", BinaryType()),
        ]
        if resid_col is not None:
            fields.append(StructField(resid_col, DoubleType()))
        out_schema = StructType(fields)

        def enc(batches):
            c_norms = [(books[j] ** 2).sum(1) for j in range(m)]
            for pdf in batches:
                if pdf.empty:
                    continue
                x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                codes = np.empty((x.shape[0], m), dtype=np.uint8)
                err = np.zeros(x.shape[0]) if resid_col is not None else None
                for j in range(m):
                    xs = x[:, j * dsub : (j + 1) * dsub]
                    d = c_norms[j] - 2 * xs @ books[j].T  # ||c||²-2x·c (+||x||² const)
                    codes[:, j] = d.argmin(axis=1)
                    if err is not None:
                        err += ((xs - books[j][codes[:, j]]) ** 2).sum(axis=1)
                out = {
                    id_col: pdf[id_col].to_numpy(),
                    "code": [c.tobytes() for c in codes],
                }
                if err is not None:
                    # clip: accumulated float error can dip epsilon-negative
                    out[resid_col] = np.sqrt(np.maximum(err, 0.0))
                yield pd.DataFrame(out)

        from deployment_spark.operators.dedup import spread_for_cpu

        # argmin matmuls parallelize per-partition; spread single-file
        # scans to full parallelism (no-op at scale)
        return spread_for_cpu(df.select(id_col, vec_col)).mapInPandas(
            enc, schema=out_schema
        )

    # -- search (ADC) --------------------------------------------------------

    def search_batch(
        self,
        codes: DataFrame,
        queries: DataFrame,
        k: int = 5,
        id_col: str = "vec_id",
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        query_block_rows: int = 8192,
        code_block_rows: int = DEFAULT_CODE_BLOCK_ROWS,
        num_query_blocks: int | None = None,
        num_code_blocks: int | None = None,
    ) -> DataFrame:
        """ADC top-k for CORPUS-SIZED query sets — the offline-scoring
        sibling of :meth:`search`, which collects the query batch and
        broadcasts one LUT per query (the FAISS contract, impossible
        for a 10⁶-query job). Same block-pair layout as
        ``similarity.topk_similarity_join_blocked``
        (``similarity._block_pair_frame``), with CODES as the corpus
        side: each (qb, cb) pair is one independent task that rebuilds
        its queries' (m × ksub) LUTs in-task from the broadcast
        codebooks (identical expression to the interactive path, so
        distances are bit-identical) and gathers ADC distances over the
        code block. NOTHING query-scale touches the driver; the shuffle
        carries m-BYTE codes ×QB and queries ×CB plus nq·k·CB survivors
        — the compressed representation is what replicates, which is
        the point of PQ at 100 TB. Code blocks default 8× larger than
        query blocks (a 65,536-row block of m=16 codes is ~1 MB; the
        per-task LUT rebuild amortizes over it).

        Output and tie-breaks identical to :meth:`search`
        (query_id, vec_id, rank, adc_distance) — parity-tested
        bit-exact."""
        from deployment_spark.operators.similarity import (
            _block_pair_frame,
            _cid_sort_kind,
            _typed_ids,
        )

        cid_kind = _cid_sort_kind(codes.schema[id_col].dataType, "pq batch search")
        kk = int(k)
        # null-vec queries / null-code rows are excluded before the
        # shuffle: they cannot be scored (the interactive path fails on
        # them at its driver collect)
        both = _block_pair_frame(
            queries, query_id, {"_vec": F.col(query_vec).cast("array<double>")},
            codes, id_col, {"_code": F.col("code")},
            query_block_rows, code_block_rows, num_query_blocks, num_code_blocks,
        )
        books_bc = codes.sparkSession.sparkContext.broadcast(self.codebooks)
        candidates = _typed_ids(
            _grouped_adc_topk(
                both, ["_qb", "_cb"], kk, books_bc, self.m, self.dsub, cid_kind
            ),
            queries, query_id, codes, id_col,
        )
        w = Window.partitionBy("_qid").orderBy(F.asc("_d"), F.asc("_cid"))
        return (
            candidates.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= kk)
            .select(
                F.col("_qid").alias(query_id),
                F.col("_cid").alias(id_col),
                "rank",
                F.col("_d").alias("adc_distance"),
            )
        )

    def search(
        self,
        codes: DataFrame,
        queries: DataFrame,
        k: int = 5,
        id_col: str = "vec_id",
        query_id: str = "query_id",
        query_vec: str = "query_vec",
    ) -> DataFrame:
        """Top-k smallest asymmetric squared-L2 per query over the code
        table. Output (query_id, vec_id, rank, adc_distance); on
        L2-normalized corpora ascending L2 ≡ descending cosine, so ranks
        are comparable with the exact searchers'."""
        spark = codes.sparkSession
        # id types follow the inputs (topk_similarity_join contract) —
        # hard-coded longs would break or silently null string ids
        qid_type = queries.schema[query_id].dataType
        cid_type = codes.schema[id_col].dataType
        qrows = queries.select(query_id, query_vec).collect()  # nq-scale
        m, dsub, ksub = self.m, self.dsub, self.ksub
        books = self.codebooks
        if not qrows:
            return spark.createDataFrame(
                [],
                StructType(
                    [
                        StructField(query_id, qid_type),
                        StructField(id_col, cid_type),
                        StructField("rank", LongType()),
                        StructField("adc_distance", DoubleType()),
                    ]
                ),
            )
        qids = [r[query_id] for r in qrows]
        luts = []  # per query: (m, ksub) partial squared distances
        for r in qrows:
            q = np.asarray(r[query_vec], dtype=np.float64)
            lut = np.stack(
                [
                    ((books[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
                    for j in range(m)
                ]
            )
            luts.append(lut)
        bq = spark.sparkContext.broadcast((qids, np.stack(luts)))
        kk = int(k)

        out_schema = StructType(
            [
                StructField("_qid", qid_type),
                StructField("_cid", cid_type),
                StructField("_d", DoubleType()),
            ]
        )

        def local_topk(batches):
            ids, lut_all = bq.value  # lut_all: (nq, m, ksub)
            nq = len(ids)
            for pdf in batches:
                if pdf.empty:
                    continue
                codes_arr = np.frombuffer(
                    b"".join(pdf["code"].tolist()), dtype=np.uint8
                ).reshape(-1, m)
                n_local = codes_arr.shape[0]
                cid_arr = pdf["vec_id"].to_numpy()
                take = min(kk, n_local)
                out_q, out_c, out_d = [], [], []
                for qi in range(nq):
                    # gather: dist[i] = Σ_j lut[j, code[i, j]]
                    d = lut_all[qi][np.arange(m)[None, :], codes_arr].sum(axis=1)
                    order = np.lexsort((cid_arr, d))[:take]
                    out_q.extend([ids[qi]] * take)
                    out_c.extend(cid_arr[order].tolist())
                    out_d.extend(d[order].tolist())
                yield pd.DataFrame({"_qid": out_q, "_cid": out_c, "_d": out_d})

        from deployment_spark.operators.dedup import spread_for_cpu

        cand = spread_for_cpu(
            codes.select(F.col(id_col).alias("vec_id"), "code")
        ).mapInPandas(local_topk, schema=out_schema)
        w = Window.partitionBy("_qid").orderBy(F.asc("_d"), F.asc("_cid"))
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= kk)
            .select(
                F.col("_qid").alias(query_id),
                F.col("_cid").alias(id_col),
                "rank",
                F.col("_d").alias("adc_distance"),
            )
        )


    def search_rerank(
        self,
        codes: DataFrame,
        queries: DataFrame,
        corpus: DataFrame,
        k: int = 5,
        shortlist: int = 100,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        query_id: str = "query_id",
        query_vec: str = "query_vec",
    ) -> DataFrame:
        """The production PQ shape (FAISS ``IndexIVFPQ`` + refine): ADC
        over the compressed codes selects a ``shortlist`` per query, then
        ONLY those rows' full-precision vectors are fetched (join against
        the corpus — at scale a semi-join touching shortlist·nq rows, not
        the corpus) and re-scored with exact cosine for the final top-k.
        Compressed scan does the heavy lifting; exact math touches
        O(nq·shortlist) vectors."""
        from deployment_spark.functions.vector import cosine_similarity

        short = self.search(
            codes, queries, k=shortlist, id_col=id_col,
            query_id=query_id, query_vec=query_vec,
        ).select(query_id, id_col)
        q = queries.select(query_id, F.col(query_vec).alias("_qv"))
        scored = (
            short.join(corpus.select(id_col, vec_col), id_col)
            .join(F.broadcast(q), query_id)
            .withColumn("_sim", cosine_similarity(vec_col, "_qv"))
        )
        w = Window.partitionBy(query_id).orderBy(F.desc("_sim"), F.asc(id_col))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, id_col, "rank", F.col("_sim").alias("similarity"))
        )


def build_pq_index(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 256,
    seed: int = 42,
) -> PQCodec:
    """Train + encode + persist: codes parquet under ``root/codes``,
    codebook JSON under ``root/codebook.json``."""
    codec = PQCodec.train(df, vec_col, m=m, ksub=ksub, seed=seed)
    codec.encode(df, id_col, vec_col).write.mode("overwrite").parquet(
        os.path.join(root, "codes")
    )
    codec.save(os.path.join(root, "codebook.json"))
    return codec
