"""Scalar quantization (SQ8) — the 4x-compression, high-recall ANN path
(SURVEY §2.9 family; FAISS ``IndexScalarQuantizer(QT_8bit)`` analog,
completing the index-type family next to IVF / PQ / IVFPQ / LSH).

Why this exists at the 100 TB design point: PQ's 16 B/code is the
memory-extreme end but costs recall (ADC ~0.84 at m=16); SQ8 stores one
byte PER DIMENSION (4x smaller than float32, 32-dim vectors go
128 B -> 32 B) and keeps per-dimension resolution, so recall stays near
exact. It is the format FAISS itself recommends when the corpus fits
at 4x compression and recall matters more than the last 8x of memory.

Spark-first shape — and the one property that makes SQ different from
every other index here: **the whole path is pure Catalyst**. No Python
in train-apply, encode, decode, or ADC scoring:

- **train** (distributed): per-dimension min/max over the corpus via
  ``posexplode`` -> ``groupBy(dim)`` — partial aggregation reduces each
  task to `dim` rows before the exchange, so the shuffle is
  O(dim x partitions) regardless of corpus size. The trained state is
  two `dim`-float arrays (a few hundred bytes), collected to the driver
  exactly like FAISS's ``index.train`` produces its scalar ranges.
- **encode** (distributed, codegen): ``transform(vec, (x, i) ->
  tinyint(clip(round((x - lo_i) / scale_i))))`` with the ranges inlined
  as literal arrays — whole-stage-codegen'd, 1 B/dim on disk
  (UnsafeArrayData stores tinyint elements byte-packed).
- **ADC search** (distributed, codegen): decode-on-the-fly
  ``transform(codes, (c, i) -> lo_i + (c + 128) * scale_i)`` then the
  exact top-k machinery over the decoded array (broadcast queries,
  dot-product score, tie-aware window). Asymmetric: queries stay full
  precision (FAISS ADC). The scan reads 1 B/dim codes — 4x less IO
  than rescanning floats — and decoding happens inside the same codegen
  stage as the dot product, never materializing a float corpus.
- **re-rank** (production shape): ADC shortlist -> join back to the
  float vectors by id -> exact cosine -> final top-k. Only
  `shortlist x nq` float rows are ever touched.

Recall is measured in ``queries.q_sq_recall`` (rows-only driver entry,
independently verified by ``tools/check_oracle.py`` against a
numpy exact top-k) and floor-pinned in tests/test_recall_floors.py.

Reference provenance: the reference's FAISS usage is flat/IVF
(``FAISS/PlainDemo/pipeline.py:316-321``); SQ8 is the beyond-reference
compression rung between those flat floats and PQ, kept API-parallel to
``operators/pq.PQCodec`` (train / encode / search / search_rerank).
"""

from __future__ import annotations

import json

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _lit_array(values: np.ndarray):
    return F.array(*[F.lit(float(v)) for v in values])


class SQCodec:
    """Trained 8-bit scalar quantizer: per-dimension [lo, hi] ranges.

    Codes are stored as ``array<tinyint>`` shifted by -128 (Spark has no
    unsigned byte); decode maps code ``c`` to ``lo + (c + 128) * scale``
    with ``scale = (hi - lo) / 255``. Dimensions with zero range encode
    to code 0 and decode exactly to ``lo``.
    """

    def __init__(self, lo: np.ndarray, hi: np.ndarray) -> None:
        self.lo = np.asarray(lo, dtype=np.float64)
        self.hi = np.asarray(hi, dtype=np.float64)
        if self.lo.shape != self.hi.shape or self.lo.ndim != 1:
            raise ValueError("lo/hi must be 1-d arrays of equal length")
        rng = self.hi - self.lo
        # zero-range dims: scale 1 keeps decode exact (code is always 0)
        self.scale = np.where(rng > 0, rng / 255.0, 1.0)
        self.dim = int(self.lo.shape[0])

    # ---------------------------------------------------------------- train
    @classmethod
    def train(cls, df: DataFrame, vec_col: str = "embedding") -> "SQCodec":
        """Exact per-dimension min/max, fully distributed.

        ``posexplode`` fans each vector into (dim, value) rows, but the
        partial HashAggregate collapses every task to `dim` rows before
        the exchange — the shuffle is O(dim x partitions), corpus-size
        independent, so this trains on 100 TB without a sample (unlike
        PQ's k-means, which trains on a bounded sample by contract).
        """
        stats = (
            df.select(F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("dim")
            .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
            .collect()  # dim-scale: tiny by construction
        )
        if not stats:
            raise ValueError("cannot train SQCodec on an empty corpus")
        dim = max(r["dim"] for r in stats) + 1
        lo = np.zeros(dim)
        hi = np.zeros(dim)
        for r in stats:
            lo[r["dim"]] = r["lo"]
            hi[r["dim"]] = r["hi"]
        return cls(lo, hi)

    # ---------------------------------------------------------- persistence
    def to_json(self) -> str:
        return json.dumps({"lo": self.lo.tolist(), "hi": self.hi.tolist()})

    @classmethod
    def from_json(cls, payload: str) -> "SQCodec":
        d = json.loads(payload)
        return cls(np.asarray(d["lo"]), np.asarray(d["hi"]))

    # --------------------------------------------------------------- encode
    def clipped_dims_expr(self, vec_col):
        """Column: number of components of ``vec_col`` OUTSIDE the
        trained [lo, hi] ranges (r10, r9 ADVICE). Encode CLIPS such
        components, so their reconstruction error is unbounded and
        ``margin_expr``'s exactness claim silently degrades for the
        row — this expression is the cheap (pure-codegen) detector:
        sum it over a drifted ingest batch before encoding, or use
        ``encode(assert_in_range=True)`` to fail loudly instead."""
        lo, hi = _lit_array(self.lo), _lit_array(self.hi)
        c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
        return F.aggregate(
            F.transform(
                c,
                lambda x, i: F.when(
                    (x < F.element_at(lo, i + F.lit(1)))
                    | (x > F.element_at(hi, i + F.lit(1))),
                    F.lit(1),
                ).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )

    def encode(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        codes_col: str = "codes",
        assert_in_range: bool = False,
    ) -> DataFrame:
        """Append ``codes_col`` (array<tinyint>, 1 B/dim) and drop the
        float column — the on-disk index format. Pure codegen.

        ``assert_in_range`` (r10, r9 ADVICE): components outside the
        trained ranges CLIP — with unbounded reconstruction error, which
        silently voids ``margin_expr``'s exact-range-search bound for
        that row. With this flag the encode plan raises at the first
        out-of-range row (codegen ``raise_error``, no extra scan) so a
        drifted corpus fails loudly at ingest instead of missing range
        hits at query time; the fix is retraining the codec
        (``ingest_to_store`` drift_retrain is the streaming hook)."""
        lo, sc = _lit_array(self.lo), _lit_array(self.scale)
        code = F.transform(
            F.col(vec_col),
            lambda x, i: (
                F.least(
                    F.lit(255.0),
                    F.greatest(
                        F.lit(0.0),
                        F.round((x - F.element_at(lo, i + F.lit(1))) / F.element_at(sc, i + F.lit(1))),
                    ),
                )
                - F.lit(128.0)
            ).cast("tinyint"),
        )
        if assert_in_range:
            # the guard wraps the CODE expression itself (a detached
            # guard column would be pruned away as dead code and never
            # evaluated)
            code = F.when(
                self.clipped_dims_expr(vec_col) > 0,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "SQCodec.encode: vector outside trained "
                            "ranges (margin bound would be void) — "
                            "retrain the codec; offending row has "
                        ),
                        self.clipped_dims_expr(vec_col).cast("string"),
                        F.lit(" clipped dim(s)"),
                    )
                ),
            ).otherwise(code)
        return df.withColumn(codes_col, code).drop(vec_col)

    def margin_expr(self, vec_col):
        """Column: Σ_i |v_i| · scale_i / 2 — the TIGHT dot-product error
        bound of this quantizer against ``vec_col`` (r9): encode rounds
        each in-range component to the nearest of 256 levels, so the
        per-dimension reconstruction error is at most scale_i/2 and the
        dot-product against any vector v deviates by at most
        Σ|v_i|·scale_i/2. This is what makes EXACT range search over
        the compressed codes possible: filter ADC ≥ radius − margin(q),
        then refine the survivors against full vectors — no true hit
        can be excluded (``IVFSQIndex.range_search``). The bound holds
        for corpus rows whose components were inside the trained
        ranges at encode time (the build corpus by construction;
        drift-inserted out-of-range rows clip with unbounded error —
        retrain the codec, see ``ingest_to_store`` drift_retrain)."""
        sc = _lit_array(self.scale)
        c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
        return F.aggregate(
            F.transform(
                c,
                lambda x, i: F.abs(x) * F.element_at(sc, i + F.lit(1)) * F.lit(0.5),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def decode_expr(self, codes_col: str = "codes"):
        """Column expression reconstructing array<double> from codes —
        used inline in the ADC scan so the float corpus is never
        materialized."""
        lo, sc = _lit_array(self.lo), _lit_array(self.scale)
        return F.transform(
            F.col(codes_col),
            lambda c, i: F.element_at(lo, i + F.lit(1))
            + (c.cast("double") + F.lit(128.0)) * F.element_at(sc, i + F.lit(1)),
        )

    # --------------------------------------------------------------- search
    def search(
        self,
        codes_df: DataFrame,
        queries: DataFrame,
        k: int = 10,
        id_col: str = "vec_id",
        codes_col: str = "codes",
        query_id: str = "query_id",
        query_vec: str = "query_vec",
    ) -> DataFrame:
        """ADC top-k: decode-on-the-fly + dot product against full-
        precision queries, entirely inside whole-stage codegen (the
        plan contains no Python eval node — asserted in test_sq.py).

        Output: (query_id, vec_id, rank, similarity). The score is the
        approximate cosine (queries and the encoded corpus are expected
        normalized, matching every other index's contract)."""
        from deployment_spark.operators.similarity import topk_similarity_join_expr

        decoded = codes_df.select(
            F.col(id_col), self.decode_expr(codes_col).alias("_dvec")
        )
        return topk_similarity_join_expr(
            decoded,
            queries,
            k=k,
            corpus_id=id_col,
            corpus_vec="_dvec",
            query_id=query_id,
            query_vec=query_vec,
            metric="dot",
        )

    def search_batch(
        self,
        codes_df: DataFrame,
        queries: DataFrame,
        k: int = 10,
        id_col: str = "vec_id",
        codes_col: str = "codes",
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        query_block_rows: int = 8192,
        code_block_rows: int = 65536,
        num_query_blocks: int | None = None,
        num_code_blocks: int | None = None,
    ) -> DataFrame:
        """ADC top-k for CORPUS-SIZED query sets — the offline-scoring
        sibling of :meth:`search`, whose expression plan scores through
        a broadcast of the query batch (the right interactive contract,
        impossible for a 10⁶-query job). Block-pair layout of
        ``similarity.topk_similarity_join_blocked``
        (``similarity._block_pair_frame``), with one twist: the union
        frame transports the 1 B/dim TINYINT codes, not decoded doubles
        — the ×QB corpus replication that blocked search pays is paid
        on the compressed representation (8× less shuffle), and each
        scoring task decodes its code block with the numpy image of
        ``decode_expr``'s arithmetic (same float64 ops, bit-identical
        values) before the dot-product matmul. NOTHING query-scale
        touches the driver.

        Output (query_id, vec_id, rank, similarity) and the (score
        desc, id asc) tie-break match :meth:`search`; scores differ
        from the expression path only in summation-order ulps (matmul
        vs sequential fold), like every blocked-vs-expr pair in this
        engine."""
        from deployment_spark.operators.similarity import (
            _block_pair_frame,
            _cid_sort_kind,
            _grouped_pair_topk,
            _rank_window,
            _typed_ids,
        )

        cid_kind = _cid_sort_kind(codes_df.schema[id_col].dataType, "sq batch search")
        kk = int(k)
        # null-vec queries / null-code rows are excluded before the
        # shuffle: they cannot be scored (the interactive path's ADC
        # expression nulls them out)
        both = _block_pair_frame(
            queries, query_id, {"_vec": F.col(query_vec).cast("array<double>")},
            codes_df, id_col, {"_code": F.col(codes_col)},
            query_block_rows, code_block_rows, num_query_blocks, num_code_blocks,
        )
        lo, scale = self.lo, self.scale

        def decode_codes(cp):
            import numpy as np

            codes = np.array(cp["_code"].tolist(), dtype=np.float64)
            # numpy image of decode_expr: lo + (code + 128) * scale in
            # float64, elementwise — bit-identical to the Catalyst path
            return lo + (codes + 128.0) * scale

        candidates = _typed_ids(
            _grouped_pair_topk(
                both, ["_qb", "_cb"], kk, "dot", cid_kind,
                corpus_decode=decode_codes,
            ),
            queries, query_id, codes_df, id_col,
        )
        return (
            candidates.withColumn("rank", F.row_number().over(_rank_window("_qid")))
            .filter(F.col("rank") <= kk)
            .select(
                F.col("_qid").alias(query_id),
                F.col("_cid").alias(id_col),
                F.col("rank"),
                F.col("_sim").alias("similarity"),
            )
        )

    def search_rerank(
        self,
        codes_df: DataFrame,
        queries: DataFrame,
        corpus: DataFrame,
        k: int = 10,
        shortlist: int = 50,
        id_col: str = "vec_id",
        codes_col: str = "codes",
        vec_col: str = "embedding",
        query_id: str = "query_id",
        query_vec: str = "query_vec",
    ) -> DataFrame:
        """Production shape: ADC shortlist -> exact re-rank.

        Only shortlist x nq float vectors are fetched (a semi-join
        against the shortlist ids), so the float table is touched
        id-selectively — at 100 TB the codes table is the scan and the
        float fetch is a point-lookup-shaped join."""
        from deployment_spark.functions.vector import dot_product
        from deployment_spark.operators.similarity import _rank_window

        short = self.search(
            codes_df, queries, k=shortlist, id_col=id_col, codes_col=codes_col,
            query_id=query_id, query_vec=query_vec,
        ).select(query_id, id_col)
        qv = F.broadcast(queries.select(query_id, query_vec))
        cand = (
            short.join(corpus.select(id_col, vec_col), id_col)
            .join(qv, query_id)
            .withColumn("_sim", dot_product(vec_col, query_vec))
            .select(F.col(query_id).alias("_qid"), F.col(id_col).alias("_cid"), "_sim")
        )
        return (
            cand.withColumn("rank", F.row_number().over(_rank_window("_qid")))
            .filter(F.col("rank") <= k)
            .select(
                F.col("_qid").alias(query_id),
                F.col("_cid").alias(id_col),
                "rank",
                F.col("_sim").alias("similarity"),
            )
        )
