"""Binary-vector search — the Milvus BINARY_VECTOR type with the
HAMMING metric (``BIN_FLAT``/``BIN_IVF_FLAT`` index family;
``Milvus/stream1.py`` drives the dense sibling of the same store).
Completes the engine's vector-type parity: dense float (exact / IVF /
PQ / SQ8 / LSH), sparse postings (operators/sparse), and now packed
binary.

A binary vector is a packed bit string; similarity is Hamming distance
(popcount of XOR). The Spark-first layout packs bits into 32-bit words
stored as an ``array<long>`` column — XOR + ``bit_count`` are JVM
intrinsics, so the whole distance evaluation runs inside whole-stage
codegen (no UDF, no Python), and a d-bit vector costs d/4 bytes on the
wire at this 32-bits-per-long layout: the cheapest vector
representation the engine ships (16x under float32, 4x under SQ8).

``binarize_signbits`` bridges dense corpora deterministically (bit i =
1 iff dimension i > 0 — the sign-bit sketch whose Hamming distance
estimates angular distance; the same signal family as the LSH bucketing
in operators/similarity, materialized as a first-class searchable
vector). Real binary corpora (image hashes, minhash bit sketches) land
directly in packed form.

Scale shape: ``hamming_topk`` is a broadcast-queries scan (corpus ×
nq-bounded query set — the brute-force BIN_FLAT shape) with the
engine's standard tie-aware top-k window; at index scale the same
scoring expression drops onto any pruned layout (the IVF partition
pruning composes exactly as for dense vectors).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

WORD_BITS = 32  # 32 bits per packed long: xor stays positive, no sign traps


def binarize_signbits(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    bits_col: str = "bits",
) -> DataFrame:
    """Dense → packed binary: bit i of the output is 1 iff vec[i] > 0,
    packed little-endian into ceil(dim/32) longs (array<long>).

    ``dim`` defaults to the first row's vector length (driver peek,
    like the other codecs' geometry discovery). Deterministic, so an
    engine-independent oracle can replay it. A NULL vector packs to
    NULL bits (not a phantom all-zero pattern); ``hamming_topk`` ranks
    NULL distances last, so such rows can never displace real
    matches."""
    if dim is None:
        first = df.select(vec_col).first()
        if first is None:
            raise ValueError("cannot infer dim from an empty corpus")
        dim = len(first[0])
    n_words = (dim + WORD_BITS - 1) // WORD_BITS
    words = []
    for w in range(n_words):
        bits = [
            F.when(
                F.element_at(F.col(vec_col), i + 1) > 0, F.lit(1 << (i - w * WORD_BITS))
            ).otherwise(F.lit(0))
            for i in range(w * WORD_BITS, min((w + 1) * WORD_BITS, dim))
        ]
        acc = bits[0]
        for b in bits[1:]:
            acc = acc + b
        words.append(acc.cast("long"))
    packed = F.when(F.col(vec_col).isNotNull(), F.array(*words))
    return df.select(id_col, packed.alias(bits_col))


def hamming_distance_packed(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two equal-length array<long> packed
    vectors: Σ over words of bit_count(xor) — pure JVM intrinsics."""
    return F.aggregate(
        F.zip_with(
            F.col(a) if isinstance(a, str) else a,
            F.col(b) if isinstance(b, str) else b,
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    bits_col: str = "bits",
    query_id: str = "query_id",
    query_bits: str = "query_bits",
) -> DataFrame:
    """Top-k by SMALLEST Hamming distance (the BIN_FLAT search);
    deterministic (distance asc, id asc) tie-break — ties are common in
    Hamming space, so the pinned order matters more than for floats.

    Output: (query_id, vec_id, rank, hamming)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("_qid"), F.col(query_bits).alias("_qbits")
        )
    )
    c = corpus.select(F.col(corpus_id).alias("_cid"), F.col(bits_col).alias("_cbits"))
    scored = c.crossJoin(q).withColumn(
        "_d", hamming_distance_packed("_cbits", "_qbits")
    )
    # nulls LAST: a null-bits row (null source vector) must never
    # outrank a genuine match — asc alone is nulls-first in Spark
    w = Window.partitionBy("_qid").orderBy(F.asc_nulls_last("_d"), F.asc("_cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            "rank",
            F.col("_d").alias("hamming"),
        )
    )


def hamming_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    bits_col: str = "bits",
    query_id: str = "query_id",
    query_bits: str = "query_bits",
    query_block_rows: int = 65536,
    corpus_block_rows: int = 65536,
    num_query_blocks: int | None = None,
    num_corpus_blocks: int | None = None,
) -> DataFrame:
    """Hamming top-k for CORPUS-SIZED query sets — ``hamming_topk``'s
    broadcast of the query set is the right interactive contract and
    impossible for a 10⁶-query batch job. Same block-pair layout as
    ``similarity.topk_similarity_join_blocked``
    (``similarity._block_pair_frame``): each (qb, cb) pair is one
    task XOR-ing two bounded bit matrices (popcount via a 256-entry
    byte table — numpy-version independent), pre-reduced per query to
    the SAME composite order the global window uses: (distance asc
    NULLS LAST, id asc) — null-bits rows travel as null-distance
    candidates so they can fill trailing ranks but never displace a
    real match, and a null-bits QUERY ranks purely by id, both exactly
    matching the broadcast path. NOTHING query-scale touches the
    driver; blocks default 8× the float-vector size (packed bits are
    d/4 bytes — a 65,536-row block of 256-bit vectors is 2 MB).

    Output and semantics identical to :func:`hamming_topk` —
    parity-tested, ulp-free (Hamming is integer arithmetic)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from deployment_spark.operators.similarity import (
        _block_pair_frame,
        _cid_sort_kind,
        _exact_scoring_core,
        _typed_ids,
    )

    cid_kind = _cid_sort_kind(
        corpus.schema[corpus_id].dataType, "blocked hamming top-k"
    )
    kk = int(k)
    both = _block_pair_frame(
        queries, query_id, {"_bits": F.col(query_bits).cast("array<long>")},
        corpus, corpus_id, {"_bits": F.col(bits_col).cast("array<long>")},
        query_block_rows, corpus_block_rows, num_query_blocks, num_corpus_blocks,
        drop_null_payload=False,
    )
    out_schema = StructType(
        [
            StructField("_qid", StringType()),
            StructField("_cid", StringType()),
            StructField("_d", LongType()),
        ]
    )
    _, _, _, split_pair = _exact_scoring_core()

    def pair_hamming_topk(pdf):
        import numpy as np
        import pandas as pd

        parts = split_pair(pdf, cid_kind)
        if parts is None:
            return pd.DataFrame({"_qid": [], "_cid": [], "_d": []})
        qp, cp, cid_arr, sort_all = parts
        vals = cp["_bits"].tolist()
        nn = np.array([i for i, v in enumerate(vals) if v is not None], dtype=np.int64)
        nulls = np.array([i for i, v in enumerate(vals) if v is None], dtype=np.int64)
        cmat = (
            np.array([vals[i] for i in nn], dtype=np.int64)
            if nn.size
            else np.empty((0, 1), dtype=np.int64)
        )
        sort_nn = sort_all[nn] if nn.size else sort_all[:0]
        # trailing null-bits candidates, globally ordered by id — a
        # block emits at most k of them; the window keeps them only
        # when fewer than k real matches exist corpus-wide
        null_order = nulls[np.argsort(sort_all[nulls], kind="stable")][:kk]
        POP = np.array([bin(x).count("1") for x in range(256)], dtype=np.uint16)
        out_q, out_c, out_d = [], [], []
        for qid, qbits in zip(qp["_qid"], qp["_bits"]):
            if qbits is None:
                # null query bits: every distance is null — rank purely
                # by id over ALL corpus rows (broadcast-path parity)
                order = np.argsort(sort_all, kind="stable")[:kk]
                out_q.extend([qid] * len(order))
                out_c.extend(cid_arr[order].tolist())
                out_d.extend([None] * len(order))
                continue
            if nn.size:
                qarr = np.asarray(qbits, dtype=np.int64)
                x = np.ascontiguousarray(cmat ^ qarr)
                d = POP[x.view(np.uint8)].sum(axis=1).astype(np.int64)
                take = min(kk, d.shape[0])
                order = np.lexsort((sort_nn, d))[:take]
                out_q.extend([qid] * len(order))
                out_c.extend(cid_arr[nn[order]].tolist())
                out_d.extend(int(v) for v in d[order])
            out_q.extend([qid] * len(null_order))
            out_c.extend(cid_arr[null_order].tolist())
            out_d.extend([None] * len(null_order))
        return pd.DataFrame({"_qid": out_q, "_cid": out_c, "_d": out_d})

    candidates = _typed_ids(
        both.groupBy("_qb", "_cb").applyInPandas(pair_hamming_topk, schema=out_schema),
        queries, query_id, corpus, corpus_id,
    )
    w = Window.partitionBy("_qid").orderBy(F.asc_nulls_last("_d"), F.asc("_cid"))
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            "rank",
            F.col("_d").cast("int").alias("hamming"),
        )
    )


def hamming_topk_auto(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    bits_col: str = "bits",
    query_id: str = "query_id",
    query_bits: str = "query_bits",
    broadcast_max_queries: int | None = None,
) -> DataFrame:
    """Scale-safe Hamming entry point (mirrors
    ``topk_similarity_join_auto``): interactive-sized query sets take
    the codegen broadcast scan, corpus-sized sets route to the
    block-pair form that never collects or broadcasts them. One count
    aggregate decides; both paths are exact with identical
    deterministic tie-breaks."""
    from deployment_spark.operators.similarity import BROADCAST_MAX_QUERIES

    cap = int(
        BROADCAST_MAX_QUERIES if broadcast_max_queries is None
        else broadcast_max_queries
    )
    nq = queries.count()  # single aggregate, no rows to the driver
    if nq <= cap:
        return hamming_topk(
            corpus, queries, k, corpus_id, bits_col, query_id, query_bits
        )
    return hamming_topk_blocked(
        corpus, queries, k, corpus_id, bits_col, query_id, query_bits,
        num_query_blocks=max(1, -(-nq // 65536)),
    )
