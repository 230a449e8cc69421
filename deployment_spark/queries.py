"""Query catalog: every implemented operator exposed as a (Spark
callable, DuckDB oracle SQL) pair for the driver's correctness gate
(__spark_entry__.queries / oracle_sql).

Conventions (driver compares row-count + schema + order-insensitive
value-hash):
- every computed column is aliased identically in Spark and SQL;
- doubles are rounded (2 dp for big sums, 4 dp for ratios/scores) on
  BOTH sides so fp accumulation-order differences can't flip the hash;
- rank/size-like ints are cast to long (DuckDB's BIGINT);
- timestamps are rendered to strings on both sides (UTC session TZ).

Each query's docstring cites the reference operator(s) it covers
(SURVEY §2 inventory ids).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deployment_spark.functions.text import tokens, word_shingles
from deployment_spark.functions.vector import (
    cosine_similarity,
    l2_norm,
)
from deployment_spark.operators import similarity as sim_ops


from deployment_spark.schemas import load_table as _t  # noqa: E402 — shared loader
from deployment_spark.schemas import normalize_event_time  # noqa: E402


# ---------------------------------------------------------------------------
# Vector / similarity queries (J1, J2, T1, T3, V2, V5-V7)
# ---------------------------------------------------------------------------

def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/T1/T3 — exact top-5 cosine neighbors, BOTH exact engines as a
    tagged union (r8 fold — one slot, two hash-gated arms):

    scope='bcast'   10 in-corpus queries (drawn from the data itself, as
                    Milvus/stream1.py:26,398) through the broadcast path
                    — broadcast queries + per-partition numpy top-k.
    scope='blocked' 50 queries through the block-pair path
                    (``topk_similarity_join_blocked``, r7 VERDICT next
                    #4): queries and corpus both hash-blocked, one
                    matmul per (qb, cb) pair task, nothing collected or
                    broadcast — the shape that survives a 10⁶-query
                    offline scoring batch. Small blocks here force a
                    real 4×4-ish grid so the gate exercises multi-block
                    reassembly, not a degenerate 1×1."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = sim_ops.topk_similarity_join(emb, queries, k=5)
    q50 = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # block sizes chosen so even the sf0.01 gate corpus (500 rows) runs
    # a real 2-D grid (QB≥2 AND CB≥2), not a degenerate single block
    res_blocked = sim_ops.topk_similarity_join_blocked(
        emb, q50, k=5, query_block_rows=16, corpus_block_rows=256
    )

    def shape(df, scope):
        return df.select(
            F.lit(scope).alias("scope"),
            "query_id",
            "vec_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("similarity", 4).alias("similarity"),
        )

    return shape(res, "bcast").unionByName(shape(res_blocked, "blocked"))


# shared by ivf_topk (full-probe IVF ≡ exact, same 10-query panel)
SQL_TOPK_COSINE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
), s AS (
  SELECT q.query_id, c.vec_id,
         list_cosine_similarity(c.embedding::DOUBLE[], q.qv) AS sim
  FROM embeddings c CROSS JOIN q
), r AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM s
)
SELECT query_id, vec_id, rank, round(sim, 4) AS similarity
FROM r WHERE rank <= 5
"""

# ivf_topk's two-arm oracle (r9): full probe makes BOTH the interactive
# and the batch index routes exact, so one brute-force ranking CTE
# serves both — the interactive arm reads its 10-query slice of the
# 50-query panel
SQL_IVF_TOPK_SCOPED = """
WITH s AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS sim
  FROM embeddings c CROSS JOIN embeddings q
  WHERE q.vec_id < 50
), r AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM s
)
SELECT 'interactive' AS arm, query_id, vec_id, rank, round(sim, 4) AS similarity
FROM r WHERE rank <= 5 AND query_id < 10
UNION ALL
SELECT 'batch' AS arm, query_id, vec_id, rank, round(sim, 4) AS similarity
FROM r WHERE rank <= 5
"""

# the folded two-arm oracle: same ranking CTE once per query panel —
# both engine paths must reproduce DuckDB's exact top-5 independently
SQL_TOPK_COSINE_SCOPED = """
WITH s AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS sim
  FROM embeddings c CROSS JOIN embeddings q
  WHERE q.vec_id < 50
), r AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM s
)
SELECT 'bcast' AS scope, query_id, vec_id, rank, round(sim, 4) AS similarity
FROM r WHERE rank <= 5 AND query_id < 10
UNION ALL
SELECT 'blocked', query_id, vec_id, rank, round(sim, 4)
FROM r WHERE rank <= 5
"""


def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 + A3/A5 — per-vector L2 norms (normalization denominator,
    FAISS/PlainDemo/pipeline.py:314) AND the per-label count/mean-norm
    rollup, tagged-union into ONE registry slot (r4 fold, VERDICT r3 #1:
    both operators stay driver-verified, one slot freed for the round-3
    surface). scope='vec' rows carry one norm per vector; scope='label'
    rows carry the grouped rollup (partial+final hash agg, map-side
    combine at scale)."""
    emb = _t(spark, sf_dir, "embeddings")
    per_vec = emb.select(
        F.lit("vec").alias("scope"),
        F.col("vec_id").cast("long").alias("id"),
        F.lit(1).cast("long").alias("cnt"),
        F.round(l2_norm("embedding"), 4).alias("metric"),
    )
    per_label = (
        emb.withColumn("n", l2_norm("embedding"))
        .groupBy(F.col("label").cast("long").alias("id"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("n"), 4).alias("metric"),
        )
        .select(F.lit("label").alias("scope"), "id", "cnt", "metric")
    )
    return per_vec.unionByName(per_label)


SQL_EMBEDDING_NORM_STATS = """
SELECT 'vec' AS scope, vec_id::BIGINT AS id, 1::BIGINT AS cnt,
       round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS metric
FROM embeddings
UNION ALL
SELECT 'label', label::BIGINT, count(*)::BIGINT,
       round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4)
FROM embeddings GROUP BY label
"""


def q_lsh_bucket_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3-V5 analog — sign-bit LSH bucketing (8 hyperplane signs → bucket
    key) + per-bucket top-3: the SQL-expressible cousin of IVF nprobe
    partition pruning (FAISS/PlainDemo/pipeline.py:257). The candidate
    set is pruned to the query's bucket before ranking — on a partitioned
    index table this is partition pruning."""
    emb = _t(spark, sf_dir, "embeddings")

    def bucket(vec):
        return F.concat_ws(
            "",
            F.transform(
                F.slice(F.col(vec).cast("array<double>"), 1, 8),
                lambda x: F.when(x > 0, F.lit("1")).otherwise(F.lit("0")),
            ),
        )

    c = emb.select("vec_id", "embedding", bucket("embedding").alias("bucket"))
    q = c.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    scored = c.join(
        F.broadcast(q), F.col("bucket") == F.col("qbucket"), "inner"
    ).withColumn("sim", cosine_similarity("embedding", "qv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "vec_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("sim", 4).alias("similarity"),
        )
    )


SQL_LSH_BUCKET_ANN = """
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         array_to_string(list_transform(list_slice(embedding::DOUBLE[], 1, 8),
                                        x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '') AS bucket
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM b WHERE vec_id < 5
), s AS (
  SELECT q.query_id, b.vec_id, list_cosine_similarity(b.v, q.qv) AS sim
  FROM b JOIN q ON b.bucket = q.qbucket
), r AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM s
)
SELECT query_id, vec_id, rank, round(sim, 4) AS similarity FROM r WHERE rank <= 3
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 near-dup — plant perturbed copies of 20 vectors (deterministic,
    same construction in the oracle), then find pairs with cosine ≥ 0.99.
    Natural max pairwise cosine in this data is ~0.51, so exactly the
    planted pairs must surface.

    At threshold 0.99 this exercises the bucket-first LSH path of
    ``cosine_neardup_pairs`` (sign-bit band join → exact cosine verify;
    no driver-side collect) — the 100 TB default — and the exact oracle
    match below proves recall 1.0 on this corpus."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.sequence(F.lit(1), F.size("embedding")),
            lambda x, i: x * (1.0 + 0.001 * (i % 3)),
        ).alias("embedding"),
    )
    allv = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(planted)
    pairs = sim_ops.cosine_neardup_pairs(allv, threshold=0.99, id_col="vec_id", vec_col="embedding")
    return pairs.select("a_id", "b_id", F.round("cosine", 4).alias("cosine"))


SQL_EMBEDDING_NEARDUP = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), planted AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(range(1, len(v) + 1),
                        i -> v[i] * (1.0 + 0.001 * (i % 3))) AS v
  FROM base WHERE vec_id < 20
), allv AS (
  SELECT * FROM base UNION ALL SELECT * FROM planted
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM allv a JOIN allv b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.99
"""


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 kNN-graph (r6) — every vector's exact top-5 cosine neighbors
    (self excluded): the substrate for SemDeDup / diversity sampling /
    label propagation. Distributed block-pair build with per-task local
    top-k pre-reduction (operators/knn.py) — survivor rows are O(N·B·k),
    never the N² pair space; the oracle replays the full graph
    brute-force. target_block_rows=128 forces a real multi-block plan
    (B=4 at sf0.01) so the gate exercises the block decomposition, not a
    degenerate single task."""
    from deployment_spark.operators import knn as knn_ops

    emb = _t(spark, sf_dir, "embeddings")
    g = knn_ops.knn_graph(emb, k=5, target_block_rows=128)
    return g.select(
        "src_id",
        "dst_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cosine", 4).alias("cosine"),
    )


SQL_KNN_GRAPH = """
WITH s AS (
  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
), r AS (
  SELECT src_id, dst_id, cos,
         row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, dst_id) AS rank
  FROM s
)
SELECT src_id, dst_id, rank, round(cos, 4) AS cosine FROM r WHERE rank <= 5
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 SemDeDup (r6) — embedding-level dedup with transitive closure:
    a planted 2-hop chain base→r1→r2 per vec_id<15 (cos(base,r1) ≥
    0.9965, cos(r1,r2) ≥ 0.9972, but cos(base,r2) ≤ 0.9928 — BELOW the
    0.995 threshold) must still collapse to ONE survivor via the
    connected-components fixpoint, which the recursive-CTE oracle
    replays. Pairs come from the LSH-bucketed path (threshold 0.995 »
    the 0.87 banding floor), so the gate also proves LSH recall 1.0 on
    the planted set. Output: every vector's component label + kept flag."""
    from deployment_spark.operators import knn as knn_ops

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = emb.filter(F.col("vec_id") < 15)

    def perturb(eps: float, offset: int) -> DataFrame:
        return base.select(
            (F.col("vec_id") + offset).alias("vec_id"),
            F.zip_with(
                F.col("embedding"),
                F.sequence(F.lit(1), F.size("embedding")),
                lambda x, i: x * (1.0 + eps * (i % 3)),
            ).alias("embedding"),
        )

    allv = emb.unionByName(perturb(0.1, 1000000)).unionByName(perturb(0.21, 2000000))
    return knn_ops.semantic_dedup(allv, threshold=0.995)


SQL_SEMANTIC_DEDUP = """
WITH RECURSIVE base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), p1 AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(range(1, len(v) + 1), i -> v[i] * (1.0 + 0.1 * (i % 3))) AS v
  FROM base WHERE vec_id < 15
), p2 AS (
  SELECT vec_id + 2000000 AS vec_id,
         list_transform(range(1, len(v) + 1), i -> v[i] * (1.0 + 0.21 * (i % 3))) AS v
  FROM base WHERE vec_id < 15
), allv AS (
  SELECT * FROM base UNION ALL SELECT * FROM p1 UNION ALL SELECT * FROM p2
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.995
), edges AS (
  SELECT a_id AS x, b_id AS y FROM pairs
  UNION
  SELECT b_id AS x, a_id AS y FROM pairs
), reach AS (
  SELECT x, y FROM edges
  UNION
  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
), labels AS (
  SELECT x AS node, least(x, min(y)) AS label FROM reach GROUP BY x
)
SELECT a.vec_id, coalesce(l.label, a.vec_id) AS component,
       coalesce(l.label, a.vec_id) = a.vec_id AS kept
FROM allv a LEFT JOIN labels l ON l.node = a.vec_id
"""


def q_shuffled_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 export shuffle (r6) — deterministic global shuffle into 8
    shards (operators/export.py): scope='row' rows carry every doc's
    (shard, pos) placement under the portable-hash permutation;
    scope='manifest' rows carry the per-shard export ledger (row count,
    id-sum checksum, first/last id under the permutation). The oracle
    replays the exact placement — same (seed, id) ⇒ same shard/pos on
    any engine, unlike orderBy(rand()) whose seed is
    partitioning-sensitive."""
    from deployment_spark.operators import export as export_ops

    d = _t(spark, sf_dir, "documents").select("doc_id")
    s = export_ops.shuffled_shards(d, num_shards=8, seed=42, portable=True)
    rows = s.select(
        F.lit("row").alias("scope"),
        F.col("doc_id").alias("a"),
        F.col("shard").alias("b"),
        F.col("pos").alias("c"),
        F.lit(None).cast("long").alias("d"),
        F.lit(None).cast("long").alias("e"),
    )
    man = export_ops.shard_manifest(s).select(
        F.lit("manifest").alias("scope"),
        F.col("shard").alias("a"),
        F.col("n_rows").cast("long").alias("b"),
        F.col("id_checksum").cast("long").alias("c"),
        F.col("first_id").cast("long").alias("d"),
        F.col("last_id").cast("long").alias("e"),
    )
    return rows.unionByName(man)


SQL_SHUFFLED_EXPORT = """
WITH h AS (
  SELECT doc_id,
         ('0x' || substring(md5('42|shard|' || doc_id), 1, 8))::BIGINT % 8 AS shard,
         ('0x' || substring(md5('42|order|' || doc_id), 1, 8))::BIGINT AS okey
  FROM documents
), placed AS (
  SELECT doc_id, shard,
         row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id) AS pos
  FROM h
)
SELECT 'row' AS scope, doc_id AS a, shard AS b, pos AS c,
       NULL::BIGINT AS d, NULL::BIGINT AS e
FROM placed
UNION ALL
SELECT 'manifest', shard, count(*)::BIGINT, sum(doc_id)::BIGINT,
       min(CASE WHEN pos = 1 THEN doc_id END),
       min(CASE WHEN pos = n THEN doc_id END)
FROM (SELECT *, max(pos) OVER (PARTITION BY shard) AS n FROM placed)
GROUP BY shard
"""


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 mixture sampling (r6) — BOTH published mixing rules as a
    tagged union. mode='temperature': sources re-weighted to p ∝ n^0.5
    (the multilingual up-sample-the-tail rule), 300-row target, keep
    decided row-locally by portable hash < rate; k carries kept as
    0/1. mode='unimax' (late r5, Chung et al. 2023): budget-capped
    language balancing — 700 rows water-filled across the skewed lang
    histogram with a 2-epoch cap (en down-samples to ~0.66 epochs
    while fr/de cap at exactly 2.0), closed-form waterfill over two
    windows on the L-row count table; rate carries epochs, k the
    per-doc n_copies (floor(epochs) + hash-decided fractional copy).
    The oracle recomputes both rate vectors and both exact per-doc
    decisions. Complements deterministic_sample's stratified slot,
    where rates are GIVEN — here they derive from the corpus
    histogram."""
    from deployment_spark.operators import export as export_ops

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    m = export_ops.temperature_mixture(
        d.select("doc_id", "source"),
        group_col="source", alpha=0.5, target_rows=300, seed=42, portable=True,
    ).select(
        F.lit("temperature").alias("mode"),
        "doc_id",
        F.col("source").alias("grp"),
        F.round("rate", 6).alias("rate"),
        F.col("kept").cast("long").alias("k"),
    )
    u = export_ops.unimax_mixture(
        d.select("doc_id", "lang"),
        group_col="lang", budget_rows=700, epochs_cap=2.0, seed=42, portable=True,
    ).select(
        F.lit("unimax").alias("mode"),
        "doc_id",
        F.col("lang").alias("grp"),
        F.round("epochs", 6).alias("rate"),
        F.col("n_copies").alias("k"),
    )
    return m.unionByName(u)


SQL_DOMAIN_MIXTURE = """
WITH counts AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
), wsum AS (
  SELECT sum(pow(n, 0.5)) AS ws FROM counts
), rates AS (
  SELECT source, least(1.0, 300 * pow(n, 0.5) / ws / n) AS rate
  FROM counts CROSS JOIN wsum
), lc AS (
  SELECT lang, count(*) AS n, 2.0 * count(*) AS cap FROM documents GROUP BY lang
), sorted AS (
  SELECT lang, n, cap,
         row_number() OVER (ORDER BY cap, lang) AS rn,
         coalesce(sum(cap) OVER (ORDER BY cap, lang
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
         count(*) OVER () AS L
  FROM lc
), tk AS (
  SELECT *, (700 - cum_before) / (L - rn + 1) AS tau_k FROM sorted
), tau AS (
  SELECT max(CASE WHEN cap >= tau_k THEN tau_k END) AS tau FROM tk
), eps AS (
  SELECT lang, least(cap, coalesce(tau, cap)) / n AS epochs
  FROM tk CROSS JOIN tau
)
SELECT 'temperature' AS mode, d.doc_id, d.source AS grp,
       round(r.rate, 6) AS rate,
       ((('0x' || substring(md5('42|mix|' || d.doc_id), 1, 8))::BIGINT
          / 4294967296.0) < r.rate)::BIGINT AS k
FROM documents d JOIN rates r USING (source)
UNION ALL
SELECT 'unimax', d.doc_id, d.lang,
       round(e.epochs, 6),
       floor(e.epochs)::BIGINT
         + ((('0x' || substring(md5('42|unimax|' || d.doc_id), 1, 8))::BIGINT
              / 4294967296.0) < e.epochs - floor(e.epochs))::BIGINT
FROM documents d JOIN eps e USING (lang)
"""


# ---------------------------------------------------------------------------
# Relational / cleaning / CRUD queries (S, P, F, A, T, U, J, C families)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — grouped mean/min/max/sum summary (pipeline+ui.py:77-88 shape)
    as the classic pricing-summary report with a pushed-down date filter."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join chain with broadcast dims: customer ⋈ orders ⋈ nation →
    revenue per nation. nation/customer are broadcast (small dims);
    only orders shuffles — and with AQE usually not even that."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
    )


SQL_REVENUE_BY_NATION = """
SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS order_cnt
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family widening — hierarchical ROLLUP (region → nation →
    grand total) in one pass: Spark expands the grouping sets into a
    single partial+final aggregate, no self-union of three aggs. NULL
    grouping levels are labeled 'ALL' so the oracle compare is
    null-free."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
            "revenue",
            "order_cnt",
        )
    )


SQL_REVENUE_ROLLUP = """
SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
       round(sum(o_totalprice), 2) AS revenue, count(*) AS order_cnt
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_events_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-family widening — lead/lag analytics: per-user inter-event gap
    seconds and value delta for the first 20 users. One user-key window
    exchange serves both lag columns."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("value_delta"),
    )


SQL_EVENTS_LAG_DELTA = """
SELECT user_id, event_id,
       epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
       round(value - lag(value) OVER w, 4) AS value_delta
FROM events
WHERE user_id < 20
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/S5 — equality point lookup (Milvus/stream1.py:331,340); the
    predicate reaches the parquet scan (PushedFilters)."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") == 42).select(
        "o_orderkey", "o_custkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )


SQL_POINT_LOOKUP = """
SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
FROM orders WHERE o_orderkey = 42
"""


def q_filter_inlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — IN-list predicate (Milvus/stream1.py:313)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("purchase", "signup"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("total_value"))
    )


SQL_FILTER_INLIST = """
SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS total_value
FROM events WHERE event_type IN ('purchase', 'signup')
GROUP BY event_type
"""


def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — range predicate as expression string (Milvus/stream1.py:299)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter("value >= 50 AND value < 100")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


SQL_FILTER_RANGE = """
SELECT event_type, count(*) AS cnt, round(avg(value), 4) AS avg_value
FROM events WHERE value >= 50 AND value < 100
GROUP BY event_type
"""


def q_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6+P7+P8+P3/P9 in one tagged probe — equality point lookup
    (Milvus/stream1.py:331,340), range predicate (:299), IN-list (:313),
    and (r4 fold: the former json_numeric_coercion entry)
    extract-and-coerce with null-on-failure semantics
    (pd.to_numeric(errors='coerce'), Milvus/stream1.py:213). Each branch
    is still its own pushed-down scan filter / coercion expression; the
    union folds trivially-cheap registry entries into one driver-gate
    slot (the gate windows at 50 entries)."""
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events")
    point = o.filter(F.col("o_orderkey") == 42).select(
        F.lit("point").alias("probe"),
        F.col("o_orderstatus").alias("grp"),
        F.col("o_custkey").cast("long").alias("cnt"),
        F.round("o_totalprice", 2).alias("val"),
    )
    inlist = (
        ev.filter(F.col("event_type").isin("purchase", "signup"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("val"))
        .select(F.lit("inlist").alias("probe"), F.col("event_type").alias("grp"), "cnt", "val")
    )
    rng = (
        ev.filter("value >= 50 AND value < 100")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.avg("value"), 4).alias("val"))
        .select(F.lit("range").alias("probe"), F.col("event_type").alias("grp"), "cnt", "val")
    )
    k = F.regexp_extract("props", r"(\d+)", 1)
    coerce = (
        ev.withColumn("k", F.when(k == "", None).otherwise(k).cast("long"))
        .groupBy("event_type")
        .agg(F.count("k").alias("cnt"), F.round(F.avg("k"), 4).alias("val"))
        .select(F.lit("coerce").alias("probe"), F.col("event_type").alias("grp"), "cnt", "val")
    )
    # r4 fold: the former event_type_counts entry (A1/A2 value_counts
    # top-10, the protocol histogram) as a fourth tagged branch; val
    # carries the desc-count rank so the ORDER semantics stay verified
    # under the driver's order-insensitive compare
    topc = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "val",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), F.asc("event_type")))
            .cast("double"),
        )
        .filter(F.col("val") <= 10)
        .select(F.lit("topcount").alias("probe"), F.col("event_type").alias("grp"), "cnt", "val")
    )
    return point.unionByName(inlist).unionByName(rng).unionByName(coerce).unionByName(topc)


SQL_FILTER_PREDICATES = """
SELECT 'point' AS probe, o_orderstatus AS grp, o_custkey::BIGINT AS cnt,
       round(o_totalprice, 2) AS val
FROM orders WHERE o_orderkey = 42
UNION ALL
SELECT 'inlist', event_type, count(*), round(sum(value), 2)
FROM events WHERE event_type IN ('purchase', 'signup') GROUP BY event_type
UNION ALL
SELECT 'range', event_type, count(*), round(avg(value), 4)
FROM events WHERE value >= 50 AND value < 100 GROUP BY event_type
UNION ALL
SELECT 'coerce', event_type,
       count(CAST(nullif(regexp_extract(props, '(\\d+)', 1), '') AS BIGINT)),
       round(avg(CAST(nullif(regexp_extract(props, '(\\d+)', 1), '') AS BIGINT)), 4)
FROM events GROUP BY event_type
UNION ALL
SELECT 'topcount', event_type, cnt, rank::DOUBLE FROM (
  SELECT event_type, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, event_type) AS rank
  FROM events GROUP BY event_type
) WHERE rank <= 10
"""


def q_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality scoring (operators/textstats.unigram_lm_score;
    new r4) — the corpus-statistics filter class the row-local signals
    can't express: per-doc mean token log-probability under the corpus's
    own unigram distribution plus rare-token ratio. The oracle replays
    the vocabulary build, the token join, and both aggregates in SQL."""
    from deployment_spark.operators.textstats import unigram_lm_score

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = unigram_lm_score(d)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "avg_logprob",
        "rare_ratio",
    )


SQL_DOC_LM_SCORE = """
WITH tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
    FROM documents
  )
  GROUP BY doc_id, tok
), vocab AS (
  SELECT tok, sum(tf) AS c FROM tf GROUP BY tok
), tot AS (SELECT sum(c) AS n FROM vocab)
SELECT doc_id::BIGINT AS doc_id, sum(tf)::BIGINT AS n_tokens,
       round(sum(tf * ln(c / n)) / sum(tf), 4) AS avg_logprob,
       round(sum(CASE WHEN c <= 2 THEN tf ELSE 0 END)::DOUBLE / sum(tf), 4)
         AS rare_ratio
FROM tf JOIN vocab USING (tok) CROSS JOIN tot
GROUP BY doc_id
"""


BM25_TERMS = ["dup", "vector", "merge", "batch"]  # df 25/382/~390/402 at sf0.01 — idf spread


_BM25_IDX_CACHE: dict[str, object] = {}


def _bm25_index(spark: SparkSession, sf_dir: str):
    """Build-once-per-process BM25 inverted index over the documents
    table (deterministic root derived from sf_dir, overwrite-in-place —
    the _ivf_index convention). Returns the CACHED INSTANCE (r13): the
    index is read-only after construction, and a fresh handle per call
    re-paid the stats collect + postings file listing on every serving
    read (~0.5 s/probe of pure driver overhead at sf0.1 — the
    doc_bm25_topk gate-cost paydown, VERDICT r12 Next #6)."""
    import hashlib
    import tempfile

    from deployment_spark.operators.retrieval import BM25Index

    idx = _BM25_IDX_CACHE.get(sf_dir)
    if idx is None:
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        root = os.path.join(tempfile.gettempdir(), f"spark_graft_bm25_{tag}")
        idx = BM25Index(spark, root).build(
            _t(spark, sf_dir, "documents").select("doc_id", "text")
        )
        _BM25_IDX_CACHE[sf_dir] = idx
    return idx


_BM25_DEL_CACHE: dict[str, object] = {}


def _bm25_deleted_index(spark: SparkSession, sf_dir: str):
    """Build-once-per-process index over the doc_id%4==1 slice with the
    %5==2 sub-slice EXACTLY deleted (r12): generation tombstones whose
    rows embed their own stats corrections, so searches stay
    bit-identical to a from-scratch build over the survivors — the
    driver-gated face of ``BM25Index.delete``. Idempotent across calls:
    the delete is applied once at build time; the instance is cached
    (read-only after construction — r13, see _bm25_index)."""
    import hashlib
    import tempfile

    from deployment_spark.operators.retrieval import BM25Index

    idx = _BM25_DEL_CACHE.get(sf_dir)
    if idx is None:
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        root = os.path.join(tempfile.gettempdir(), f"spark_graft_bm25del_{tag}")
        d = _t(spark, sf_dir, "documents").select("doc_id", "text")
        sl = d.filter(F.col("doc_id") % 4 == 1)
        idx = BM25Index(spark, root).build(sl)
        idx.delete(sl.filter(F.col("doc_id") % 5 == 2).select("doc_id"))
        _BM25_DEL_CACHE[sf_dir] = idx
    return idx


_BM25_SERVED_CACHE: dict[str, object] = {}
_BM25_PROBE_PLAN_CACHE: dict[str, dict] = {}


def _bm25_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MID-STREAM mutation arm (r12, VERDICT r11 #1 'done'
    criterion): the doc_id%4==2 slice lands as two streamed batches
    through ``ingest_to_store(bm25_maintain=...)``; BETWEEN the runs an
    out-of-band store DELETE (batch-1 ids ≡5 mod 9) and UPSERT
    (batch-1 ids ≡1 mod 9 get new text) land. The second run's
    maintainer detects the mutation clock advance, and — upserts being
    content changes — ``on_mutation='repair'`` falls back to the
    rebuild over the surviving corpus before appending batch 2. The
    returned index-backed ranking must therefore hash-match the oracle
    ranking over (batch1 − deleted, upserted texts) ∪ batch2. The
    deletes-only EXACT repair (tombstones, no rebuild) is pinned in
    tests/test_serving_state.py and driver-gated by probe='deleted'.

    The ingest + mutation + heal flow runs ONCE per process (the
    ``_ivf_index`` convention — index/state construction is one-time
    setup; the steady-state number the bench row tracks is query
    latency on the healed index); dirs are wiped at first build so a
    stale checkpoint can never skip the staged mutations."""
    import hashlib
    import shutil
    import tempfile

    from deployment_spark.operators.crud import SnapshotStore
    from deployment_spark.operators.retrieval import BM25Index
    from deployment_spark.streaming.ingest import ingest_to_store

    if sf_dir not in _BM25_SERVED_CACHE:
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        root = os.path.join(tempfile.gettempdir(), f"spark_graft_bm25srv_{tag}")
        shutil.rmtree(root, ignore_errors=True)
        d = _t(spark, sf_dir, "documents").select("doc_id", "text")
        split = d.agg(F.floor(F.max("doc_id") / 2).cast("long")).collect()[0][0]
        sl = d.filter(F.col("doc_id") % 4 == 2)
        b1 = sl.filter(F.col("doc_id") <= split)
        b2 = sl.filter(F.col("doc_id") > split)
        landing = os.path.join(root, "landing")
        store = SnapshotStore(spark, os.path.join(root, "store"), key="doc_id")
        cfg = {"root": os.path.join(root, "idx"), "on_mutation": "repair"}

        def run():
            q = ingest_to_store(
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true")
                .parquet(landing),
                store,
                os.path.join(root, "ckpt"),
                bm25_maintain=cfg,
                # r14 (VERDICT r13 #8): this entry's store exists for
                # exactly this ingest's maintainer — no other log
                # consumer can pin it, so the bounded-log default is
                # safe here (clock-floor proof in ingest_to_store)
                vacuum_mutation_log=True,
            )
            q.awaitTermination(300)

        b1.coalesce(1).write.parquet(os.path.join(landing, "b=000"))
        run()
        # out-of-band mutations between micro-batch runs
        store.delete_ids(b1.filter(F.col("doc_id") % 9 == 5).select("doc_id"))
        store.upsert(
            store.read()
            .filter((F.col("doc_id") % 9 == 1) & (F.col("doc_id") <= split))
            .select(
                "doc_id", F.concat(F.lit("upserted "), F.col("text")).alias("text")
            )
        )
        b2.coalesce(1).write.parquet(os.path.join(landing, "b=001"))
        run()
        # cache the HANDLE, not just the root (r13): the healed index is
        # read-only from here on, and a fresh handle per call re-paid
        # the stats/postings driver probes on every serving read
        _BM25_SERVED_CACHE[sf_dir] = BM25Index(spark, os.path.join(root, "idx"))
    return _BM25_SERVED_CACHE[sf_dir].topk(BM25_TERMS, k=20, round_to=4)


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval, every execution path as tagged probes
    (operators/retrieval; r5 direct, r11 indexed, r12 deleted/served) —
    the lexical half of the reference store family's hybrid search
    (Milvus ships BM25 hybrid as a first-class query mode backed by a
    persisted inverted index; ``Milvus/stream1.py`` drives that store).
    Okapi BM25 with Lucene-style +1 idf over a literal 4-term query
    mixing one rare and three common terms, so the idf spread is
    exercised.

    probe='direct': the one-shot shape — per-term tfs from conditional
    sums inside the SAME single per-doc aggregate that computes
    document length; one explode, one partially-aggregated shuffle, a
    1-row stats broadcast; no token-keyed join, so no hot-token skew.
    probe='indexed': the serving-cadence shape — the SAME ranking
    answered from the persisted ``BM25Index`` (postings partitioned by
    crc32 token bucket, pruned to the query's buckets; O(appends) stats
    partials), maintained under curated streaming ingest elsewhere.
    probe='deleted' (r12): the index over the %4==1 slice AFTER an
    exact tombstone delete of its %5==2 rows — the reference deletes
    entities and its index reflects it (``Milvus/stream1.py:313``);
    here the ranking must hash-match a from-scratch ranking over the
    survivors (tombstone-embedded stats corrections, live-frame df).
    probe='served' (r12): a store delete + upsert land MID-STREAM
    between two maintained ingest runs; the maintainer detects them
    through the mutation clock and heals before serving — the ranking
    must hash-match the oracle over the post-mutation corpus.
    Each probe is bit-identical to its from-scratch twin by
    construction (pinned in test_retrieval/test_serving_state), so the
    oracle replays one SQL ranking per corpus. Ranking uses the
    4dp-rounded score (ties broken by doc_id) so the rank column is
    stable across engines; the oracle replays tokenization, the
    conditional-sum aggregate, idf/tf math, and the rankings."""
    from deployment_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def shape(top, probe):
        return top.select(
            F.lit(probe).alias("probe"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("dl").cast("long").alias("dl"),
            F.col("matched_terms").cast("long").alias("matched_terms"),
            "bm25",
            F.col("rank").cast("long").alias("rank"),
        )

    direct = bm25_topk(d, BM25_TERMS, k=20, round_to=4)
    # the three index-backed probes are PREPARED PLANS per process
    # (r13, VERDICT r12 Next #6): a serving system holds its prepared
    # ranking over the immutable built index instead of re-deriving the
    # existence/stats/tombstone probes per query — re-planning them each
    # call cost ~2 s of pure driver round-trips at sf0.1, over half the
    # row's gate cost. The one-shot 'direct' probe deliberately keeps
    # per-call planning: re-deriving from the raw corpus IS its shape.
    plans = _BM25_PROBE_PLAN_CACHE.setdefault(sf_dir, {})
    if not plans:
        plans["indexed"] = _bm25_index(spark, sf_dir).topk(
            BM25_TERMS, k=20, round_to=4
        )
        plans["deleted"] = _bm25_deleted_index(spark, sf_dir).topk(
            BM25_TERMS, k=20, round_to=4
        )
        plans["served"] = _bm25_served_topk(spark, sf_dir)
    return (
        shape(direct, "direct")
        .unionByName(shape(plans["indexed"], "indexed"))
        .unionByName(shape(plans["deleted"], "deleted"))
        .unionByName(shape(plans["served"], "served"))
    )


def _sql_bm25_ctes(corpus_sql: str = "documents", prefix: str = "") -> str:
    """Shared BM25 CTE block for the bm25 and hybrid oracles, generated
    from BM25_TERMS so Spark and SQL can never drift on the term list.
    ``corpus_sql`` swaps the corpus (the r12 deleted/served probes rank
    over mutated corpora); ``prefix`` namespaces the CTEs so several
    corpora coexist in one WITH."""
    p = prefix
    tf_cols = ",\n         ".join(
        f"sum(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    weights = "\n    + ".join(
        f"(CASE WHEN tf{i} > 0 THEN ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5)) "
        f"* tf{i} * 2.2 / (tf{i} + 1.2 * (0.25 + 0.75 * dl / avgdl)) ELSE 0 END)"
        for i in range(len(BM25_TERMS))
    )
    matched = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(BM25_TERMS))
    )
    return f"""
{p}toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
    FROM {corpus_sql} _corpus
  ) WHERE tok <> ''
), {p}per_doc AS (
  SELECT doc_id, count(*) AS dl,
         {tf_cols}
  FROM {p}toks GROUP BY doc_id
), {p}stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl,
         {df_cols}
  FROM {p}per_doc
), {p}bm_scored AS (
  SELECT doc_id, dl, {matched} AS matched_terms,
    {weights} AS bm25
  FROM {p}per_doc CROSS JOIN {p}stats
)"""


# the r12 mutated-corpus probes' surviving corpora, replayed in SQL:
# deleted = the %4==1 slice minus its %5==2 rows; served = the %4==2
# slice streamed in two halves with ids ≡5 (mod 9) of the first half
# deleted and ids ≡1 (mod 9) re-landed with 'upserted '-prefixed text
_SQL_BM25_DELETED_CORPUS = """(
  SELECT doc_id, text FROM documents
  WHERE doc_id % 4 = 1 AND doc_id % 5 <> 2
)"""

_SQL_BM25_SERVED_CORPUS = """(
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 1 THEN 'upserted ' || text ELSE text END AS text
  FROM documents
  WHERE doc_id % 4 = 2
    AND doc_id <= (SELECT CAST(FLOOR(max(doc_id) / 2) AS BIGINT) FROM documents)
    AND doc_id % 9 <> 5
  UNION ALL
  SELECT doc_id, text FROM documents
  WHERE doc_id % 4 = 2
    AND doc_id > (SELECT CAST(FLOOR(max(doc_id) / 2) AS BIGINT) FROM documents)
)"""


def _sql_bm25_ranked(prefix: str) -> str:
    return f"""
  SELECT doc_id::BIGINT AS doc_id, dl::BIGINT AS dl,
         matched_terms::BIGINT AS matched_terms,
         round(bm25, 4) AS bm25,
         row_number() OVER (ORDER BY round(bm25, 4) DESC, doc_id)::BIGINT AS rank
  FROM {prefix}bm_scored WHERE matched_terms > 0
  QUALIFY rank <= 20
"""


def _maxsim_token_bags(
    spark, emb, query_pred, with_tok_id=False, checkpoint=False, docs=None
):
    """The deterministic multi-vector fixture SHARED by every maxsim
    surface (r13, VERDICT r12 Wrong #3 — this construction previously
    existed in five Spark/SQL copies; a changed constant in one would
    silently break hash parity): entity v's 3 doc tokens are embedding
    rows (v + 211·j) mod N, query q's 2 tokens are rows (q + 97·j)
    mod N — both engines replay the mapping from the same constants.
    Returns (doc_tokens, q_tokens, n_emb): doc_tokens one row per doc
    token (vec_id[, tok_id = vec_id·3 + j], embedding), q_tokens one
    row per query token (query_id, q_pos, query_vec) for the rows of
    ``emb`` matching ``query_pred``. The SQL replay is
    ``_sql_maxsim_token_ctes``; the independent numpy re-derivation in
    tools/check_oracle.py deliberately stays a separate copy — it is
    the defense-in-depth check, not a consumer. ``docs`` (r13, the
    streamed token-index fixture) restricts the DOC side to a subset of
    entities — token VECTORS still come from the full ``emb`` table and
    N stays the full count, so each doc's bag is independent of which
    other docs exist (the per-doc-deterministic property the maintained
    token index's tokens_fn contract requires)."""
    n_emb = emb.count()
    tok_src = emb.select(F.col("vec_id").alias("_tid"), "embedding")
    doc_cols = ["vec_id"]
    if with_tok_id:
        doc_cols.append(
            (F.col("vec_id") * 3 + F.col("_j")).cast("long").alias("tok_id")
        )
    doc_tokens = (
        (docs if docs is not None else emb).select("vec_id")
        .crossJoin(spark.range(3).select(F.col("id").alias("_j")))
        .withColumn("_tid", (F.col("vec_id") + 211 * F.col("_j")) % n_emb)
        .join(tok_src, "_tid")
        .select(
            *doc_cols,
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    q_tokens = (
        emb.filter(query_pred)
        .select(F.col("vec_id").alias("query_id"))
        .crossJoin(spark.range(2).select(F.col("id").alias("_j")))
        .withColumn("_tid", (F.col("query_id") + 97 * F.col("_j")) % n_emb)
        .join(tok_src, "_tid")
        .select(
            "query_id",
            F.col("_j").alias("q_pos"),
            F.col("embedding").cast("array<double>").alias("query_vec"),
        )
    )
    if checkpoint:
        doc_tokens = doc_tokens.localCheckpoint()
        q_tokens = q_tokens.localCheckpoint()
    return doc_tokens, q_tokens, n_emb


def _sql_maxsim_token_ctes(
    prefix: str, query_where: str, doc_where: str | None = None
) -> str:
    """SQL twin of ``_maxsim_token_bags`` — one generator for every
    oracle that replays the maxsim token mapping (hybrid rrf3,
    ann_recall's exact maxsim sets, topk_enriched's maxsim probe), so
    the 211/97 constants exist in exactly one Python and one SQL
    site. Emits CTEs {p}n (corpus count), {p}doc (vec_id, v — one row
    per doc token) and {p}q (query_id, q_pos, qv — one row per query
    token, filtered by ``query_where`` over alias q). ``doc_where``
    (r13) restricts the DOC side over alias e — the streamed fixture's
    survivor set — while token vectors and N stay full-table, matching
    the Python builder's ``docs`` parameter."""
    p = prefix
    doc_filter = "" if doc_where is None else f"\n  WHERE {doc_where}"
    return f"""{p}n AS (
  SELECT count(*) AS n FROM embeddings
), {p}doc AS (
  -- multi-vector token bags, derived from the embeddings view by the
  -- same deterministic mapping the Spark side uses: entity v's 3 doc
  -- tokens are rows (v + 211*j) mod N
  SELECT e.vec_id, t.embedding::DOUBLE[] AS v
  FROM embeddings e
  CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
  CROSS JOIN {p}n
  JOIN embeddings t ON t.vec_id = (e.vec_id + 211 * j) % {p}n.n{doc_filter}
), {p}q AS (
  SELECT q.vec_id AS query_id, j AS q_pos, t.embedding::DOUBLE[] AS qv
  FROM embeddings q
  CROSS JOIN (SELECT unnest([0, 1]) AS j)
  CROSS JOIN {p}n
  JOIN embeddings t ON t.vec_id = (q.vec_id + 97 * j) % {p}n.n
  WHERE {query_where}
)"""


SQL_DOC_BM25_TOPK = f"""
WITH {_sql_bm25_ctes()},
{_sql_bm25_ctes(_SQL_BM25_DELETED_CORPUS, "del_")},
{_sql_bm25_ctes(_SQL_BM25_SERVED_CORPUS, "srv_")},
ranked AS ({_sql_bm25_ranked("")}),
ranked_del AS ({_sql_bm25_ranked("del_")}),
ranked_srv AS ({_sql_bm25_ranked("srv_")})
SELECT 'direct' AS probe, * FROM ranked
UNION ALL
SELECT 'indexed' AS probe, * FROM ranked
UNION ALL
SELECT 'deleted' AS probe, * FROM ranked_del
UNION ALL
SELECT 'served' AS probe, * FROM ranked_srv
"""


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search (operators/retrieval; new r5) — the reference store
    family's headline composed query, with BOTH Milvus rankers as
    tagged probes: ``rrf`` = reciprocal rank fusion (Σ 1/(60+rank), no
    score calibration) and ``weighted`` = WeightedRanker semantics
    (per-list min-max normalization, 0.5/0.5 weighted sum). BM25 top-50
    over documents (4dp-rounded ranking) ⊕ exact cosine top-50 for
    query vector vec_id=7 over embeddings (the hash-green topk_cosine
    rank pattern). Fusion inputs are the 4dp-ROUNDED scores, so the
    weighted arithmetic runs on identical doubles in both engines, and
    ≤2 addends per sum keeps float addition order-free (commutativity)
    — the fused scores are engine-exact before the 6dp round. The
    oracle replays both rankings and both fusions in SQL.

    probe='rrf3' (r12, VERDICT r11 #7): the FULL modern retrieval
    stack fused — lexical (BM25) + single-vector (cosine) +
    late-interaction (ColBERT maxsim over the deterministic token
    bags, entity 7's 2 query tokens via the 97-mapping) through the
    same RRF API. Three addends per sum stay order-stable because RRF
    contributions are sums of 1/(60+rank) terms ranked on the 6dp
    round — and the oracle replays the identical three-way union, so
    any float-order divergence would hash-fail loudly rather than
    drift silently."""
    from deployment_spark.operators.multivec import maxsim_topk
    from deployment_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
        weighted_fuse,
    )
    from deployment_spark.operators.similarity import topk_similarity_join_expr

    # r13 (optimization round): each ranked list feeds 2-3 fusions below,
    # and without materialization every fusion re-executed its rankers'
    # post-exchange tail (AQE's exchange reuse dedupes the shuffles, but
    # the per-doc score windows above them re-ran per consumer — 3 rank
    # passes per ranker in the measured final plan). The lists are
    # k-scale (≤50 rows): localCheckpoint computes each ranker EXACTLY
    # ONCE and the fusions consume the materialized rows — at 100 TB one
    # corpus ranking per ranker instead of three. The three checkpoints
    # run CONCURRENTLY from a small thread pool (guide §2.6: actions are
    # only sequential because driver code calls them sequentially);
    # measured interleaved at sf0.1: serial checkpoints 3.6-3.8 s, the
    # one-DAG plain form median 4.5 s, threads median 3.35 s / best 3.26.
    # Values are unchanged by construction (each checkpoint stores its
    # ranker's own deterministic output; oracle-verified at 3 SFs).
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bm_lazy = bm25_topk(d, BM25_TERMS, k=50, round_to=4).select(
        "doc_id", "rank", F.col("bm25").alias("score")
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cos_lazy = topk_similarity_join_expr(emb, q, k=50).select(
        F.col("vec_id").alias("doc_id"),
        "rank",
        F.round("similarity", 4).alias("score"),
    )

    # the late-interaction ranker: same deterministic token bags as the
    # topk_enriched maxsim probe / ann_recall maxsim group (ONE builder,
    # r13), one query (entity 7), exact Σ-max ranking to top-50
    doc_tokens, q_tokens, _ = _maxsim_token_bags(
        spark, emb, F.col("vec_id") == 7
    )
    mv_lazy = maxsim_topk(
        doc_tokens, q_tokens, k=50, round_to=4, query_pos="q_pos"
    ).select(
        F.col("vec_id").alias("doc_id"), "rank", F.col("maxsim").alias("score")
    )

    from concurrent.futures import ThreadPoolExecutor

    # Pool invariant (ADVICE r13): nothing that runs while these three
    # checkpoint jobs are in flight may mutate SESSION conf — the
    # rankers' subtrees are analyzed under the current session state,
    # and a concurrent scoped-conf pattern (the nanosAsLong /
    # noDataMicroBatches set-restore used elsewhere) would race them.
    # The three rankers themselves touch conf only via load_table's
    # nanosAsLong set/restore, which always rewrites the session-level
    # value it read (benign under interleaving). Lineage truncation is
    # acceptable here: k-scale (≤50-row) local checkpoints, recompute
    # on executor loss is a re-run of the entry, not data loss.
    with ThreadPoolExecutor(max_workers=3) as pool:
        bm_ranked, cos_ranked, mv_ranked = list(
            pool.map(lambda df: df.localCheckpoint(), [bm_lazy, cos_lazy, mv_lazy])
        )

    def shape(fused, score_col, probe, round_first=False):
        # round_first (rrf3): with THREE addends per sum, float addition
        # order is no longer guaranteed commutative-exact across
        # engines — rank on the 6dp round (ties by doc_id) so a
        # permuted-rank tie cannot order differently between Spark and
        # the SQL replay. The two-addend probes keep the raw ordering
        # their exactness argument covers.
        if round_first:
            fused = fused.withColumn(score_col, F.round(score_col, 6))
        top = fused.orderBy(F.desc(score_col), F.asc("doc_id")).limit(20)
        w = Window.orderBy(F.desc(score_col), F.asc("doc_id"))
        return top.withColumn("rk", F.row_number().over(w)).select(
            F.lit(probe).alias("probe"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_lists").cast("long").alias("n_lists"),
            F.round(score_col, 6).alias("score"),
            F.col("rk").cast("long").alias("rank"),
        )

    rrf = rrf_fuse([bm_ranked, cos_ranked])
    wtd = weighted_fuse([(bm_ranked, 0.5), (cos_ranked, 0.5)], score_col="score")
    rrf3 = rrf_fuse([bm_ranked, cos_ranked, mv_ranked])
    return (
        shape(rrf, "rrf_score", "rrf")
        .unionByName(shape(wtd, "fused_score", "weighted"))
        .unionByName(shape(rrf3, "rrf_score", "rrf3", round_first=True))
    )


SQL_HYBRID_SEARCH = f"""
WITH {_sql_bm25_ctes()},
bmr AS (
  SELECT doc_id, round(bm25, 4) AS score,
         row_number() OVER (ORDER BY round(bm25, 4) DESC, doc_id) AS rank
  FROM bm_scored WHERE matched_terms > 0
  QUALIFY rank <= 50
), cq AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7
), cs AS (
  SELECT vec_id AS doc_id,
         round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS score,
         row_number() OVER (
           ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id
         ) AS rank
  FROM embeddings CROSS JOIN cq
  QUALIFY rank <= 50
), uni AS (
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM bmr
  UNION ALL
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM cs
), fus AS (
  SELECT doc_id, count(*) AS n_lists, sum(c) AS f FROM uni GROUP BY doc_id
), bstat AS (SELECT min(score) AS lo, max(score) AS hi FROM bmr
), cstat AS (SELECT min(score) AS lo, max(score) AS hi FROM cs
), wuni AS (
  SELECT doc_id,
         0.5 * (CASE WHEN hi > lo THEN (score - lo) / (hi - lo) ELSE 1.0 END) AS c
  FROM bmr CROSS JOIN bstat
  UNION ALL
  SELECT doc_id,
         0.5 * (CASE WHEN hi > lo THEN (score - lo) / (hi - lo) ELSE 1.0 END) AS c
  FROM cs CROSS JOIN cstat
), wfus AS (
  SELECT doc_id, count(*) AS n_lists, sum(c) AS f FROM wuni GROUP BY doc_id
), {_sql_maxsim_token_ctes("mvh_", "q.vec_id = 7")}, mvh_m AS (
  -- the r12 late-interaction ranker: deterministic token bags (ONE
  -- generator with the other maxsim oracles, r13), one query (entity
  -- 7), top-50
  SELECT mvh_doc.vec_id, mvh_q.q_pos,
         max(list_dot_product(mvh_doc.v, mvh_q.qv)) AS mx
  FROM mvh_doc CROSS JOIN mvh_q
  GROUP BY 1, 2
), mvh AS (
  SELECT vec_id AS doc_id, round(sum(mx), 4) AS score,
         row_number() OVER (ORDER BY round(sum(mx), 4) DESC, vec_id) AS rank
  FROM mvh_m GROUP BY vec_id
  QUALIFY rank <= 50
), uni3 AS (
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM bmr
  UNION ALL
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM cs
  UNION ALL
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM mvh
), fus3 AS (
  SELECT doc_id, count(*) AS n_lists, sum(c) AS f FROM uni3 GROUP BY doc_id
)
SELECT 'rrf' AS probe, doc_id::BIGINT AS doc_id, n_lists::BIGINT AS n_lists,
       round(f, 6) AS score,
       row_number() OVER (ORDER BY f DESC, doc_id)::BIGINT AS rank
FROM fus QUALIFY rank <= 20
UNION ALL
SELECT 'weighted', doc_id::BIGINT, n_lists::BIGINT,
       round(f, 6),
       row_number() OVER (ORDER BY f DESC, doc_id)::BIGINT AS rank
FROM wfus QUALIFY rank <= 20
UNION ALL
SELECT 'rrf3', doc_id::BIGINT, n_lists::BIGINT,
       round(f, 6),
       -- rank on the 6dp ROUND (the Spark side's round_first) — three
       -- addends lose the two-addend commutativity guarantee
       row_number() OVER (ORDER BY round(f, 6) DESC, doc_id)::BIGINT AS rank
FROM fus3 QUALIFY rank <= 20
"""


def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval DECONTAMINATION (operators/dedup.contamination_pairs;
    new r4) — the published n-gram-overlap protocol every serious
    training-data pipeline runs before training: corpus docs sharing ≥ 3
    word-8-gram shingles with any benchmark doc are flagged with their
    overlap count. The benchmark set here is a deterministic slice of
    the corpus — a 20-word span from each doc_id ≡ 7 (mod 100) — so the
    source documents MUST be flagged (self-contamination by
    construction) plus any genuine near-copies. Corpus side streams
    through a broadcast join on the shingle; the oracle replays
    span-slicing, shingling, and the overlap count in SQL."""
    from deployment_spark.operators.dedup import contamination_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 100 == 7).select(
        F.col("doc_id").alias("bench_id"),
        F.concat_ws(" ", F.slice(tokens("text"), 5, 20)).alias("text"),
    )
    out = contamination_pairs(d, bench, shingle_words=8, min_shared=3)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("bench_id").cast("long").alias("bench_id"),
        F.col("shared_shingles").cast("long").alias("shared_shingles"),
    )


SQL_DOC_DECONTAMINATE = """
WITH bench AS (
  SELECT doc_id AS bench_id,
         array_to_string(regexp_split_to_array(trim(text), '\\s+')[5:24], ' ') AS text
  FROM documents WHERE doc_id % 100 = 7
), bw AS (
  SELECT bench_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM bench
), bsh AS (
  SELECT DISTINCT bench_id,
         unnest(list_transform(range(1, greatest(len(w) - 7, 1) + 1),
                i -> array_to_string(w[i:i+7], ' '))) AS sh
  FROM bw
), cw AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), csh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(w) - 7, 1) + 1),
                i -> array_to_string(w[i:i+7], ' '))) AS sh
  FROM cw
)
SELECT doc_id::BIGINT AS doc_id, bench_id::BIGINT AS bench_id,
       count(*)::BIGINT AS shared_shingles
FROM csh JOIN bsh USING (sh)
GROUP BY 1, 2
HAVING count(*) >= 3
"""


def q_text_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 + F4 — tagged-union text-function entry (r4 fold, VERDICT r3
    #1): fn='serialize' rows are the space-join row serialization (the
    packet_text / combined_text derivation, decimal-cast so double→string
    rendering is engine-identical) over events; fn='third_word_hist'
    rows are positional token extraction (text.split()[2],
    FAISS/UI-Demo/pipeline+ui.py:643-646) + A1 histogram over documents.
    Both operators stay driver-verified in one slot.

    r6 fold (slot freed for domain_mixture): fn='stage_order' rows carry
    the former stage_ordered_metrics entry — T4 categorical ordered sort
    (Milvus/stream1.py:548-556, the fixed Initial Load → Add → Delete →
    Update pipeline ordering via array_position; unseen categories sort
    last) — out holds the stage_rank, val the per-stage avg_value.

    r7 fold (VERDICT r6 next #6): fn='html_strip' rows gate the HTML/
    boilerplate stripping operator (textstats.strip_html) — every doc
    is wrapped in a deterministic HTML template (head/script/style/
    nav/footer boilerplate + entity-escaped text in the body; same
    construction in the oracle), stripped, and value-checked via
    md5(cleaned) so one mis-stripped character fails the gate. The
    oracle mirrors the regex chain 1:1 via the SHARED pattern
    constants (_strip_html_sql) — out=md5(clean), n=n_tags,
    val=n_lines_dropped."""
    ev = _t(spark, sf_dir, "events")
    ser = ev.select(
        F.lit("serialize").alias("fn"),
        F.col("event_id").cast("string").alias("key"),
        F.concat_ws(
            " ",
            F.col("event_id").cast("string"),
            F.coalesce(F.col("event_type"), F.lit("")),
            F.col("value").cast("decimal(12,2)").cast("string"),
            F.regexp_extract("props", r"(\d+)", 1),
        ).alias("out"),
        F.lit(1).cast("long").alias("n"),
        F.lit(None).cast("double").alias("val"),
    )
    d = _t(spark, sf_dir, "documents")
    hist = (
        d.withColumn("third_word", tokens("text").getItem(2))
        .groupBy("third_word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.lit("third_word_hist").alias("fn"),
            F.col("third_word").alias("key"),
            F.lit(None).cast("string").alias("out"),
            F.col("cnt").cast("long").alias("n"),
            F.lit(None).cast("double").alias("val"),
        )
    )
    stage = q_stage_ordered_metrics(spark, sf_dir).select(
        F.lit("stage_order").alias("fn"),
        F.col("event_type").alias("key"),
        F.col("stage_rank").cast("string").alias("out"),
        F.col("cnt").cast("long").alias("n"),
        F.col("avg_value").alias("val"),
    )
    from deployment_spark.operators.textstats import strip_html

    wrapped = d.select(
        "doc_id",
        F.concat(
            F.lit(HTML_WRAP_PRE),
            F.col("doc_id").cast("string"),
            F.lit(HTML_WRAP_MID),
            F.col("text"),
            F.lit(HTML_WRAP_POST),
        ).alias("text"),
    )
    html = strip_html(wrapped).select(
        F.lit("html_strip").alias("fn"),
        F.col("doc_id").cast("string").alias("key"),
        F.md5("text_clean").alias("out"),
        F.col("n_tags").alias("n"),
        F.col("n_lines_dropped").cast("double").alias("val"),
    )
    return ser.unionByName(hist).unionByName(stage).unionByName(html)


# deterministic HTML wrapper for the html_strip gate probe — shared
# verbatim between the Spark entry and the DuckDB oracle. Boilerplate
# by construction: 2-word title, 2-word nav, 3-word footer (all below
# HTML_MIN_LINE_WORDS, no terminal punctuation → dropped), script/
# style/comment payload (removed), and entity-escaped markup in the
# body that must surface as TEXT (unescape runs after tag-stripping).
HTML_WRAP_PRE = (
    '<html><head><title>Doc '
)
HTML_WRAP_MID = (
    '</title><script type="text/javascript">var x = 1 < 2; // <p>not text</p>'
    "</script><style>.nav (color:red)</style><!-- hidden <b>comment</b> -->"
    '</head><body><div class="nav">Home About</div><p>'
)
HTML_WRAP_POST = (
    " AT&amp;T says &lt;tags&gt; stay text &#39;quoted&#39;.</p><br>"
    '<div class="foot">Copyright Example Corp</div></body></html>'
)


SQL_TEXT_FUNCTIONS = """
SELECT 'serialize' AS fn, event_id::VARCHAR AS key,
       concat_ws(' ', event_id::VARCHAR, coalesce(event_type, ''),
                 (value::DECIMAL(12,2))::VARCHAR,
                 regexp_extract(props, '(\\d+)', 1)) AS out,
       1::BIGINT AS n, NULL::DOUBLE AS val
FROM events
UNION ALL
SELECT 'third_word_hist', regexp_split_to_array(trim(text), '\\s+')[3],
       NULL, count(*)::BIGINT, NULL::DOUBLE
FROM documents GROUP BY 2
UNION ALL
SELECT 'stage_order', event_type,
       (row_number() OVER (
          ORDER BY CASE event_type
                     WHEN 'signup' THEN 1
                     WHEN 'view' THEN 2
                     WHEN 'purchase' THEN 3
                     ELSE 4 END,
                   event_type))::VARCHAR,
       cnt, avg_value
FROM (
  SELECT event_type, count(*) AS cnt, round(avg(value), 4) AS avg_value
  FROM events GROUP BY event_type
)
"""


def _strip_html_union_sql() -> str:
    """The html_strip oracle arm, generated FROM the operator's own
    pattern constants (textstats) — Spark and DuckDB run literally the
    same regex chain, so the two sides cannot drift. All patterns are
    RE2-safe; backslashes interpolate verbatim (DuckDB string literals
    do not process escapes)."""
    from deployment_spark.operators.textstats import (
        HTML_BLOCK_PATTERNS,
        HTML_BREAK_PATTERN,
        HTML_ENTITIES,
        HTML_LINE_PUNCT,
        HTML_MIN_LINE_WORDS,
        HTML_TAG_PATTERN,
    )

    stage = "text"
    for pat in HTML_BLOCK_PATTERNS:
        stage = f"regexp_replace({stage}, '{pat}', '', 'g')"
    stage = f"regexp_replace({stage}, '{HTML_BREAK_PATTERN}', chr(10), 'g')"
    stage = f"regexp_replace({stage}, '{HTML_TAG_PATTERN}', ' ', 'g')"
    for ent, rep in HTML_ENTITIES:
        stage = f"replace({stage}, '{ent}', '{rep.replace(chr(39), chr(39) * 2)}')"
    lines = (
        f"list_transform(string_split({stage}, chr(10)), "
        "l -> trim(regexp_replace(l, '\\s+', ' ', 'g')))"
    )
    return f"""
SELECT 'html_strip' AS fn, doc_id::VARCHAR AS key,
       md5(array_to_string(kept, chr(10))) AS out,
       n_tags::BIGINT AS n, (len(nonempty) - len(kept))::DOUBLE AS val
FROM (
  SELECT doc_id, n_tags, nonempty,
         list_filter(nonempty,
           l -> len(string_split(l, ' ')) >= {HTML_MIN_LINE_WORDS}
                OR regexp_matches(l, '{HTML_LINE_PUNCT}')) AS kept
  FROM (
    SELECT doc_id, n_tags, list_filter(lines, l -> len(l) > 0) AS nonempty
    FROM (
      SELECT doc_id,
             len(regexp_extract_all(text, '{HTML_TAG_PATTERN}')) AS n_tags,
             {lines} AS lines
      FROM (
        SELECT doc_id,
               '{{PRE}}' || doc_id::VARCHAR || '{{MID}}' || text || '{{POST}}' AS text
        FROM documents
      )
    )
  )
)
"""


SQL_TEXT_FUNCTIONS = (
    SQL_TEXT_FUNCTIONS.rstrip()
    + "\nUNION ALL"
    + _strip_html_union_sql()
    .replace("{PRE}", HTML_WRAP_PRE)
    .replace("{MID}", HTML_WRAP_MID)
    .replace("{POST}", HTML_WRAP_POST)
)


def q_dedup_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — drop_duplicates(keep='first') with a defined order
    (Milvus/stream1.py:215): first line of each order by l_linenumber."""
    li = _t(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is not unique in this synthetic data, so
    # "first" is defined over a full deterministic ordering.
    w = Window.partitionBy("l_orderkey").orderBy(
        F.asc("l_linenumber"), F.asc("l_partkey"), F.asc("l_suppkey"), F.asc("l_quantity")
    )
    return (
        li.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey", F.round("l_quantity", 2).alias("l_quantity"))
    )


SQL_DEDUP_KEEPFIRST = """
SELECT l_orderkey, l_linenumber, l_partkey, round(l_quantity, 2) AS l_quantity
FROM (
  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
  FROM lineitem
) WHERE rn = 1
"""


def q_rank_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 — rank within group: top-3 orders per customer by totalprice
    (the window shape behind per-query top-k ranking)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rank").cast("long").alias("rank"),
                F.round("o_totalprice", 2).alias("o_totalprice"))
    )


SQL_RANK_PER_GROUP = """
SELECT o_custkey, o_orderkey, rank, round(o_totalprice, 2) AS o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 analog — reproducible sampling, two forms in one tagged slot:
    kind='modulo' is the plain reproducible sample (the reference's
    np.random.choice is unseeded; fixtures pin determinism, FIXTURES §4);
    kind='stratified' (r4) is the TRAINING-MIX curation op —
    operators/cleaning.stratified_sample — keeping 50% of 'A', 10% of
    'N', 25% of 'R' rows by a portable hash of the row key, so the mix
    recipe is reproducible across runs and engines and the oracle
    replays the exact kept set."""
    from deployment_spark.operators.cleaning import stratified_sample

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_linenumber", "l_suppkey", "l_returnflag"]
    modulo = li.filter(F.col("l_orderkey") % 97 == 0).select(
        F.lit("modulo").alias("kind"), *cols
    )
    key = F.concat_ws(
        "-",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_suppkey").cast("string"),
    )
    strat = stratified_sample(
        li, "l_returnflag", {"A": 0.5, "N": 0.1, "R": 0.25}, key
    ).select(F.lit("stratified").alias("kind"), *cols)
    return modulo.unionByName(strat)


SQL_DETERMINISTIC_SAMPLE = """
SELECT 'modulo' AS kind, l_orderkey, l_linenumber, l_suppkey, l_returnflag
FROM lineitem WHERE l_orderkey % 97 = 0
UNION ALL
SELECT 'stratified', l_orderkey, l_linenumber, l_suppkey, l_returnflag
FROM lineitem
WHERE ('0x' || substring(md5(l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR
            || '-' || l_suppkey::VARCHAR || '|mix'), 1, 8))::BIGINT % 10000
      < CASE l_returnflag WHEN 'A' THEN 5000 WHEN 'N' THEN 1000
                          WHEN 'R' THEN 2500 ELSE -1 END
"""


def q_union_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/C1 — append (index.add / collection.insert) as unionByName,
    then verify by aggregation."""
    o = _t(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 400000).withColumn("tag", F.lit("hi"))
    lo = o.filter(F.col("o_totalprice") < 50000).withColumn("tag", F.lit("lo"))
    return hi.unionByName(lo).groupBy("tag").agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


SQL_UNION_APPEND = """
SELECT tag, count(*) AS cnt, round(sum(o_totalprice), 2) AS total FROM (
  SELECT o_totalprice, 'hi' AS tag FROM orders WHERE o_totalprice > 400000
  UNION ALL
  SELECT o_totalprice, 'lo' AS tag FROM orders WHERE o_totalprice < 50000
) GROUP BY tag
"""


def q_delete_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2/J3/U2 — delete-by-id-set as left_anti join
    (index.remove_ids, FAISS/PlainDemo/pipeline.py:110-112); summary
    aggregate verifies the surviving corpus."""
    li = _t(spark, sf_dir, "lineitem")
    doomed = li.select("l_orderkey").distinct().filter(F.col("l_orderkey") % 10 == 3)
    kept = li.join(doomed, "l_orderkey", "left_anti")
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("l_extendedprice"), 2).alias("total_price")
    )


SQL_DELETE_ANTIJOIN = """
SELECT l_returnflag, count(*) AS cnt, round(sum(l_extendedprice), 2) AS total_price
FROM lineitem WHERE l_orderkey NOT IN (
  SELECT DISTINCT l_orderkey FROM lineitem WHERE l_orderkey % 10 = 3
) GROUP BY l_returnflag
"""


def q_delete_last_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 Milvus variant — delete last-N by pk desc (T2 + J3,
    Milvus/stream1.py:305-315) WITHOUT the 16,384-row scan cap (the
    documented reference bug our engine fixes, SURVEY §3.2)."""
    o = _t(spark, sf_dir, "orders")
    last_n = o.orderBy(F.desc("o_orderkey")).limit(100).select("o_orderkey")
    kept = o.join(last_n, "o_orderkey", "left_anti")
    return kept.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


SQL_DELETE_LAST_N = """
SELECT count(*) AS cnt, min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders WHERE o_orderkey NOT IN (
  SELECT o_orderkey FROM orders ORDER BY o_orderkey DESC LIMIT 100
)
"""


def q_upsert_lastwins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/J4 — upsert by pk, last-wins merge (collection.upsert,
    Milvus/stream1.py:370): updates override base rows on key."""
    o = _t(spark, sf_dir, "orders")
    updates = (
        o.filter(F.col("o_orderkey") % 50 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("_prio", F.lit(1))
    )
    merged = updates.unionByName(o.withColumn("_prio", F.lit(0)))
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("_prio"))
    final = merged.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return final.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


SQL_UPSERT_LASTWINS = """
WITH merged AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice, 1 AS prio
  FROM orders WHERE o_orderkey % 50 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS prio FROM orders
), final AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY prio DESC) AS rn FROM merged
)
SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
FROM final WHERE rn = 1 GROUP BY o_orderstatus
"""


def q_update_delete_reinsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 — update = delete + re-insert with mutated payload
    (FAISS/PlainDemo/pipeline.py:91-104,114-123): rows keyed %37==0 are
    replaced by modified versions."""
    o = _t(spark, sf_dir, "orders")
    victims = F.col("o_orderkey") % 37 == 0
    kept = o.filter(~victims)
    # no per-row rounding: HALF_UP vs banker's rounding on doubles diverges
    # between engines; round once at the aggregate instead
    reinserted = o.filter(victims).withColumn(
        "o_orderstatus", F.lit("U")
    ).withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    out = kept.unionByName(reinserted)
    return out.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


SQL_UPDATE_DELETE_REINSERT = """
SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total FROM (
  SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 37 <> 0
  UNION ALL
  SELECT 'U' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice
  FROM orders WHERE o_orderkey % 37 = 0
) GROUP BY o_orderstatus
"""


def q_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — count(*) (index.ntotal / collection.num_entities)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("n_rows"))


SQL_COUNT_STAR = "SELECT count(*) AS n_rows FROM lineitem"


def q_schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution driven through the REAL mor store
    (driver-gated r5, VERDICT r4 #7 — was pytest-only): create a narrow
    orders slice, insert a WIDENED batch carrying a new
    ``priority_flag`` column, then last-wins upsert a batch that OMITS
    the new column over part of the widened key range. The merged read
    must surface legacy rows as NULL-flagged, widened rows flagged, and
    the narrow upsert both replacing rows and NULL-ing their flag.
    Aggregated per surviving flag value; the oracle replays the
    widen/omit/last-wins merge in SQL."""
    import shutil
    import tempfile

    from deployment_spark.operators.crud import SnapshotStore

    o = _t(spark, sf_dir, "orders")
    narrow = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    root = tempfile.mkdtemp(prefix="schema_ev_entry_")
    try:
        store = SnapshotStore(
            spark,
            os.path.join(root, "store"),
            key="o_orderkey",
            mode="mor",
            schema_evolution=True,
        )
        store.create(narrow.filter(F.col("o_orderkey") < 1000))
        widened = o.filter(F.col("o_orderkey").between(1000, 1999)).select(
            "o_orderkey", "o_orderstatus", "o_totalprice",
            F.substring("o_orderpriority", 1, 1).alias("priority_flag"),
        )
        store.insert(widened)
        store.upsert(
            narrow.filter(F.col("o_orderkey").between(1500, 1599)).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
            )
        )
        merged = store.read()
        out = (
            merged.groupBy(F.coalesce("priority_flag", F.lit("none")).alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            )
            .select(F.lit("schema_evolution").alias("op"), "grp", "cnt", "total")
        )
        return out.localCheckpoint()  # materialize before the tmp store dies
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_SCHEMA_EVOLUTION = """
WITH base AS (
  SELECT o_orderkey, o_totalprice, NULL::VARCHAR AS priority_flag
  FROM orders WHERE o_orderkey < 1000
), wide AS (
  SELECT o_orderkey, o_totalprice, substring(o_orderpriority, 1, 1) AS priority_flag
  FROM orders WHERE o_orderkey BETWEEN 1000 AND 1999
), ups AS (
  SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice,
         NULL::VARCHAR AS priority_flag
  FROM orders WHERE o_orderkey BETWEEN 1500 AND 1599
), merged AS (
  SELECT * FROM ups
  UNION ALL
  SELECT * FROM wide WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ups)
  UNION ALL
  SELECT * FROM base
)
SELECT 'schema_evolution' AS op, coalesce(priority_flag, 'none') AS grp,
       count(*)::BIGINT AS cnt, round(sum(o_totalprice), 2) AS total
FROM merged GROUP BY 2
"""


def q_reference_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's §3.1 ``main()`` chain composed END-TO-END as one
    driver-gated entry (r8 VERDICT #3; ``FAISS/PlainDemo/
    pipeline.py:265-401``): CSV scan forced-string (S1) → clean/coerce
    null-on-fail + null-drop (P2/P3, the Milvus ingest chain) →
    packet_text with the duplicated-protocol quirk (F1) → md5 embed +
    L2 normalize (V1/V2) → SnapshotStore create → ONE grid step of the
    CRUD loop (``pipeline.py:325-345``): insert the reference's
    ``new_packet_texts`` pattern, delete a deterministic id sample,
    update = delete + reinsert the ``update_texts`` UDP pattern (C1-C3)
    → per-model IVF rebuild at nlist = min(100, √n) (V3/V4,
    ``pipeline.py:316-321``) → top-5 query through the index at full
    probe (T1, ≡ exact — what DuckDB replays straight-line) → the
    long-format metrics accumulation (B1/B3, ``pipeline.py:131-181``).

    Every mutation runs through the REAL snapshot store and the query
    through the REAL index; timings in the metrics table are real but
    nondeterministic, so the entry emits each stage's DETERMINISTIC
    facet: corpus counts after every mutation, the metrics rows'
    (model, operation_type, operation_size) identity, the chosen
    nlist, and the final query hits — all hash-matched against the
    oracle's pure-SQL replay of the same chain. Constant-size by
    design (like packet_topk): it gates the COMPOSITION, not scale —
    every component has its own scale-shaped entry elsewhere."""
    import shutil
    import tempfile

    from deployment_spark.benchmark import _measure
    from deployment_spark.functions.embed import md5_embed
    from deployment_spark.functions.text import packet_text_v1
    from deployment_spark.operators.cleaning import clean_packet_frame
    from deployment_spark.operators.crud import SnapshotStore
    from deployment_spark.operators.ivf import IVFIndex, reference_nlist
    from deployment_spark.schemas import (
        PACKET_SCHEMA,
        read_packet_csv,
        sample_packet_rows,
    )

    model = "md5-16d"
    root = tempfile.mkdtemp(prefix="ref_lifecycle_")
    try:
        # S1: land a real CSV (300 clean rows + 3 with garbage keys the
        # coercion must null-and-drop) and re-scan it forced-string
        dirty = spark.createDataFrame(
            [
                ("xa", "0", "1.1.1.1", "2.2.2.2", "1", "2", "TCP", "64"),
                ("xb", "0", "1.1.1.1", "2.2.2.2", "1", "2", "UDP", "64"),
                ("", "0", "1.1.1.1", "2.2.2.2", "1", "2", "DNS", "64"),
            ],
            PACKET_SCHEMA,
        )
        csv_dir = os.path.join(root, "csv")
        sample_packet_rows(spark, 300).unionByName(dirty).coalesce(1).write.option(
            "header", "true"
        ).csv(csv_dir)
        scan = read_packet_csv(spark, csv_dir)
        # P2/P3 → F1 → V1/V2: the corpus the store is created from
        corpus0 = (
            clean_packet_frame(scan)
            .withColumn("packet_text", packet_text_v1())
            .select(
                "frame_number",
                "packet_text",
                md5_embed("packet_text", dim=16).alias("vector"),
            )
        )

        def text_batch(lo: int, hi: int, pattern: str):
            # the reference's synthetic op batches (pipeline.py:330,334):
            # bare texts indexed from 0 within the batch; pk = global id
            i = F.col("id") - lo
            if pattern == "insert":
                t = F.format_string("192.168.1.%d 192.168.1.%d TCP %d", i, i + 1, i * 10)
            else:
                t = F.format_string("10.0.0.%d 10.0.0.%d UDP %d", i, i + 1, i * 5)
            return spark.range(lo, hi).select(
                F.col("id").alias("frame_number"),
                t.alias("packet_text"),
                md5_embed(t, dim=16).alias("vector"),
            )

        store = SnapshotStore(spark, os.path.join(root, "store"), key="frame_number")
        store.create(corpus0)
        n_clean = store.read().count()

        metrics: list[tuple] = []  # B3 long format, real timings
        _, t, c, m = _measure(lambda: store.insert(text_batch(300, 340, "insert")))
        metrics.append((model, "insertion", 40, t, c, m))
        n1 = store.read().count()

        victims = store.read().filter(F.col("frame_number") % 7 == 3).select(
            "frame_number"
        )
        n_del = victims.count()
        _, t, c, m = _measure(lambda: store.delete_ids(victims))
        metrics.append((model, "deletion", n_del, t, c, m))
        n2 = store.read().count()

        upd_victims = store.read().filter(F.col("frame_number") % 11 == 5).select(
            "frame_number"
        )
        _, t, c, m = _measure(
            lambda: store.update(upd_victims, text_batch(340, 380, "update"))
        )
        metrics.append((model, "update", 40, t, c, m))
        n3 = store.read().count()

        # per-model index rebuild over the final corpus, then the query
        # step at FULL probe (pruning off ⇒ exact ⇒ SQL-replayable)
        nlist = reference_nlist(n3)
        idx = IVFIndex(spark, os.path.join(root, "ivf")).build(
            store.read().select("frame_number", "vector"),
            id_col="frame_number",
            vec_col="vector",
            nlist=nlist,
        )
        queries = spark.range(3).select(
            F.col("id").alias("query_id"),
            md5_embed(
                F.format_string(
                    "192.168.1.%d 192.168.1.%d TCP %d",
                    F.col("id"), F.col("id") + 1, F.col("id") * 10,
                ),
                dim=16,
            ).alias("query_vec"),
        )
        _, t, c, m = _measure(
            lambda: idx.search(
                queries, k=5, nprobe=nlist, id_col="frame_number", vec_col="vector"
            ).count()
        )
        metrics.append((model, "query", 3, t, c, m))
        hits = idx.search(
            queries, k=5, nprobe=nlist, id_col="frame_number", vec_col="vector"
        )

        nulld = F.lit(None).cast("double")
        counts = spark.createDataFrame(
            [
                ("lifecycle", "scan_clean", n_clean),
                ("lifecycle", "after_insert", n1),
                ("lifecycle", "after_delete", n2),
                ("lifecycle", "after_update", n3),
                ("lifecycle", "nlist", nlist),
            ],
            "op string, grp string, cnt long",
        ).withColumn("total", nulld)
        mdf = spark.createDataFrame(
            metrics,
            "model_name string, operation_type string, operation_size long, "
            "execution_time double, cpu_usage double, memory_usage double",
        )
        metric_rows = mdf.select(
            F.lit("lifecycle_metric").alias("op"),
            F.concat_ws(
                ":", "model_name", "operation_type", F.col("operation_size")
            ).alias("grp"),
            F.lit(1).cast("long").alias("cnt"),
            nulld.alias("total"),
        )
        query_rows = hits.select(
            F.lit("lifecycle_query").alias("op"),
            F.concat_ws(":", "query_id", "rank").alias("grp"),
            F.col("frame_number").cast("long").alias("cnt"),
            F.round("similarity", 4).alias("total"),
        )
        out = counts.unionByName(metric_rows).unionByName(query_rows)
        return out.localCheckpoint()  # materialize before the tmp chain dies
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_REFERENCE_LIFECYCLE = """
WITH base AS (
  SELECT id, concat_ws(' ',
           '192.168.1.' || (id % 256)::VARCHAR,
           '192.168.1.' || ((id + 1) % 256)::VARCHAR,
           'TCP',
           ((id % 64511) + 1024)::VARCHAR,
           '80',
           'TCP',
           ((id * 10) % 1460 + 64)::VARCHAR) AS t
  FROM (SELECT range AS id FROM range(300))
), ins AS (
  SELECT id, concat_ws(' ',
      '192.168.1.' || (id - 300)::VARCHAR,
      '192.168.1.' || (id - 299)::VARCHAR,
      'TCP', ((id - 300) * 10)::VARCHAR) AS t
  FROM (SELECT range AS id FROM range(300, 340))
), upd AS (
  SELECT id, concat_ws(' ',
      '10.0.0.' || (id - 340)::VARCHAR,
      '10.0.0.' || (id - 339)::VARCHAR,
      'UDP', ((id - 340) * 5)::VARCHAR) AS t
  FROM (SELECT range AS id FROM range(340, 380))
), a1 AS (SELECT * FROM base UNION ALL SELECT * FROM ins),
a2 AS (SELECT * FROM a1 WHERE id % 7 <> 3),
a3 AS (SELECT * FROM a2 WHERE id % 11 <> 5 UNION ALL SELECT * FROM upd),
emb AS (
  SELECT id, list_transform(range(0, 16),
      j -> ('0x' || substring(md5(t || '|' || j::VARCHAR), 1, 8))::UBIGINT
           / 2147483648.0 - 1) AS v
  FROM a3
), qe AS (
  SELECT id AS query_id, list_transform(range(0, 16),
      j -> ('0x' || substring(md5(t || '|' || j::VARCHAR), 1, 8))::UBIGINT
           / 2147483648.0 - 1) AS qv
  FROM (
    SELECT id, concat_ws(' ',
        '192.168.1.' || id::VARCHAR, '192.168.1.' || (id + 1)::VARCHAR,
        'TCP', (id * 10)::VARCHAR) AS t
    FROM (SELECT range AS id FROM range(3))
  )
), hits AS (
  SELECT query_id, id AS vec_id, list_cosine_similarity(v, qv) AS sim,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY list_cosine_similarity(v, qv) DESC, id) AS rnk
  FROM emb CROSS JOIN qe
)
SELECT 'lifecycle' AS op, 'scan_clean' AS grp,
       (SELECT count(*) FROM base)::BIGINT AS cnt, CAST(NULL AS DOUBLE) AS total
UNION ALL SELECT 'lifecycle', 'after_insert', (SELECT count(*) FROM a1)::BIGINT, NULL
UNION ALL SELECT 'lifecycle', 'after_delete', (SELECT count(*) FROM a2)::BIGINT, NULL
UNION ALL SELECT 'lifecycle', 'after_update', (SELECT count(*) FROM a3)::BIGINT, NULL
UNION ALL SELECT 'lifecycle', 'nlist',
       least(100, floor(sqrt((SELECT count(*) FROM a3))))::BIGINT, NULL
UNION ALL SELECT 'lifecycle_metric', 'md5-16d:insertion:40', 1, NULL
UNION ALL SELECT 'lifecycle_metric',
       'md5-16d:deletion:' || (SELECT count(*) FROM a1 WHERE id % 7 = 3)::VARCHAR,
       1, NULL
UNION ALL SELECT 'lifecycle_metric', 'md5-16d:update:40', 1, NULL
UNION ALL SELECT 'lifecycle_metric', 'md5-16d:query:3', 1, NULL
UNION ALL SELECT 'lifecycle_query', query_id::VARCHAR || ':' || rnk::VARCHAR,
       vec_id::BIGINT, round(sim, 4)
FROM hits WHERE rnk <= 5
"""


def q_crud_ops_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-C4, J3/J4, T2, U1/U2, A6 as ONE tagged summary — each CRUD
    shape's verification aggregate rides under an ``op`` tag (append /
    delete_ids / delete_last_n / upsert / update / count_star, plus —
    r5 — schema_evolution, the real-store widened-read round trip; plus
    — r9 — the reference-lifecycle chain, the §3.1 ``main()`` composed
    end-to-end, see :func:`q_reference_lifecycle`),
    folding eight trivially-cheap registry entries into one driver-gate
    slot. The component queries stay callable individually."""
    nulld = F.lit(None).cast("double")
    a = q_union_append(spark, sf_dir).select(
        F.lit("append").alias("op"), F.col("tag").alias("grp"), "cnt", "total"
    )
    d = q_delete_antijoin(spark, sf_dir).select(
        F.lit("delete_ids").alias("op"), F.col("l_returnflag").alias("grp"),
        "cnt", F.col("total_price").alias("total"),
    )
    n = q_delete_last_n(spark, sf_dir).select(
        F.lit("delete_last_n").alias("op"),
        F.concat_ws(":", F.col("min_key"), F.col("max_key")).alias("grp"),
        "cnt", nulld.alias("total"),
    )
    u = q_upsert_lastwins(spark, sf_dir).select(
        F.lit("upsert").alias("op"), F.col("o_orderstatus").alias("grp"), "cnt", "total"
    )
    r = q_update_delete_reinsert(spark, sf_dir).select(
        F.lit("update").alias("op"), F.col("o_orderstatus").alias("grp"), "cnt", "total"
    )
    c = q_count_star(spark, sf_dir).select(
        F.lit("count_star").alias("op"), F.lit("lineitem").alias("grp"),
        F.col("n_rows").alias("cnt"), nulld.alias("total"),
    )
    ev = q_schema_evolution_roundtrip(spark, sf_dir)
    lc = q_reference_lifecycle(spark, sf_dir)
    return (
        a.unionByName(d).unionByName(n).unionByName(u).unionByName(r)
        .unionByName(c).unionByName(ev).unionByName(lc)
    )


SQL_CRUD_OPS_SUMMARY = f"""
SELECT 'append' AS op, tag AS grp, cnt, total FROM ({SQL_UNION_APPEND})
UNION ALL
SELECT 'delete_ids', l_returnflag, cnt, total_price FROM ({SQL_DELETE_ANTIJOIN})
UNION ALL
SELECT 'delete_last_n', min_key::VARCHAR || ':' || max_key::VARCHAR, cnt,
       CAST(NULL AS DOUBLE) FROM ({SQL_DELETE_LAST_N})
UNION ALL
SELECT 'upsert', o_orderstatus, cnt, total FROM ({SQL_UPSERT_LASTWINS})
UNION ALL
SELECT 'update', o_orderstatus, cnt, total FROM ({SQL_UPDATE_DELETE_REINSERT})
UNION ALL
SELECT 'count_star', 'lineitem', n_rows, CAST(NULL AS DOUBLE) FROM ({SQL_COUNT_STAR})
UNION ALL
SELECT op, grp, cnt, total FROM ({SQL_SCHEMA_EVOLUTION})
UNION ALL
SELECT op, grp, cnt, total FROM ({SQL_REFERENCE_LIFECYCLE})
"""


# ---------------------------------------------------------------------------
# Documents / training-data pipeline queries (M8: dedup, text analysis)
# ---------------------------------------------------------------------------

# Fixed, literal export of a train_quality_classifier fit (weights
# rounded to 2 decimals) — the corpus-scale SCORING contract of
# operators/quality_model.py, driver-gated here (VERDICT r5 next #2).
# The MLlib fit itself stays pytest-gated (training nondeterminism);
# scoring is pure codegen arithmetic and must replay bit-for-bit.
QUALITY_MODEL = {
    "coefficients": [0.85, -0.4, 1.6, 2.3, -3.1, -2.2],
    "intercept": -2.0,
    "features": [
        "f_log_tokens", "mean_word_len", "stopword_ratio",
        "alpha_ratio", "dup_word_ratio", "dup_bigram_ratio",
    ],
}


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 text analysis — token/char counting plus quality scoring: mean
    word length, stopword ratio, alpha ratio; composite score. (Absorbs
    the former doc_token_count entry, and — r4 fold, VERDICT r3 #1 — the
    former doc_repetition entry: intra-document duplicate-word/bigram
    ratios from operators/textstats.add_repetition_metrics. One scan
    produces all three per-doc signal families, pure Catalyst, zero
    exchanges; one registry slot covers them in the driver gate.)

    r6: also carries the TRAINED-classifier scoring path
    (operators/quality_model.score_quality with the fixed QUALITY_MODEL
    weights): model_logit = w·x + b and model_prob = sigmoid(logit) as
    two more pure-codegen columns on the same rows — the oracle replays
    the identical arithmetic (same term order, ln/exp) in DuckDB. The
    model columns ride the SAME single scan as the heuristics (the
    first cut self-joined two scans of documents on doc_id — one scan,
    one shuffle, and a whole exchange for nothing; plan-asserted
    exchange-free in tests/test_plans.py)."""
    from deployment_spark.operators.quality_model import (
        quality_logit,
        score_quality,
    )

    docs = _t(spark, sf_dir, "documents")
    # score_quality's output keeps text + every feature/heuristic column
    # (quality_features chains add_quality_metrics + add_repetition_
    # metrics), so the rest of the entry derives from IT — zero joins
    d = score_quality(docs, QUALITY_MODEL).withColumn(
        "model_logit", F.round(quality_logit(QUALITY_MODEL), 4)
    ).withColumn("model_prob", F.round("quality_prob", 4))
    toks = tokens("text")
    n_tok = F.size(toks).cast("double")
    n_chars = F.length("text").cast("double")
    stop_hits = F.regexp_count(F.col("text"), F.lit(r"\b(the|a|of|and|to|in)\b")).cast("double")
    alpha_chars = F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")).cast("double")
    mean_wlen = (alpha_chars / n_tok)
    stop_ratio = stop_hits / n_tok
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        n_chars.cast("long").alias("n_chars"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(alpha_chars / n_chars, 4).alias("alpha_ratio"),
        F.round(
            F.least(n_tok / 100.0, F.lit(1.0)) * 0.5 + stop_ratio * 0.3 + (alpha_chars / n_chars) * 0.2,
            4,
        ).alias("quality_score"),
        "dup_word_ratio",
        "dup_bigram_ratio",
        "model_logit",
        "model_prob",
    )


SQL_DOC_QUALITY = """
WITH s AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\\s+') AS w,
         len(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE AS n_tok,
         length(text)::DOUBLE AS n_chars,
         len(regexp_extract_all(text, '\\b(the|a|of|and|to|in)\\b'))::DOUBLE AS stop_hits,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE AS alpha_chars
  FROM documents
), b AS (
  SELECT *, list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]) AS bg
  FROM s
)
SELECT doc_id,
       n_tok::BIGINT AS n_tokens,
       n_chars::BIGINT AS n_chars,
       round(alpha_chars / n_tok, 4) AS mean_word_len,
       round(stop_hits / n_tok, 4) AS stopword_ratio,
       round(alpha_chars / n_chars, 4) AS alpha_ratio,
       round(least(n_tok / 100.0, 1.0) * 0.5 + (stop_hits / n_tok) * 0.3
             + (alpha_chars / n_chars) * 0.2, 4) AS quality_score,
       round(1.0 - len(list_distinct(w)) / len(w)::DOUBLE, 4) AS dup_word_ratio,
       round(1.0 - len(list_distinct(bg)) / len(bg)::DOUBLE, 4) AS dup_bigram_ratio,
       round(logit, 4) AS model_logit,
       round(1.0 / (1.0 + exp(-logit)), 4) AS model_prob
FROM (
  -- trained-classifier scoring replay: same feature definitions
  -- (rounded to 4 like the engine's add_quality_metrics), same term
  -- order as quality_model.quality_logit, NULLs imputed to 0
  SELECT *,
         -2.0
         + 0.85 * coalesce(ln(1 + n_tok), 0.0)
         + -0.4 * coalesce(round(alpha_chars / n_tok, 4), 0.0)
         + 1.6 * coalesce(round(stop_hits / n_tok, 4), 0.0)
         + 2.3 * coalesce(round(alpha_chars / n_chars, 4), 0.0)
         + -3.1 * coalesce(round(1.0 - len(list_distinct(w)) / len(w)::DOUBLE, 4), 0.0)
         + -2.2 * coalesce(round(1.0 - len(list_distinct(bg)) / len(bg)::DOUBLE, 4), 0.0)
         AS logit
  FROM b
)
"""


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 text analysis — n-gram/stopword-heuristic language ID with a
    fixed priority tie-break."""
    d = _t(spark, sf_dir, "documents")
    en = F.regexp_count(F.col("text"), F.lit(r"\b(the|and|of|to)\b")).cast("long")
    es = F.regexp_count(F.col("text"), F.lit(r"\b(el|la|de|que)\b")).cast("long")
    de = F.regexp_count(F.col("text"), F.lit(r"\b(der|die|und|das)\b")).cast("long")
    fr = F.regexp_count(F.col("text"), F.lit(r"\b(le|la|et|les)\b")).cast("long")
    best = F.greatest(en, es, de, fr)
    pred = (
        F.when(best == 0, "unknown")
        .when(en == best, "en")
        .when(es == best, "es")
        .when(de == best, "de")
        .otherwise("fr")
    )
    return d.select("doc_id", en.alias("en_hits"), es.alias("es_hits"),
                    de.alias("de_hits"), fr.alias("fr_hits"), pred.alias("predicted_lang"))


SQL_DOC_LANG_ID = """
WITH s AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\\b(the|and|of|to)\\b'))::BIGINT AS en_hits,
         len(regexp_extract_all(text, '\\b(el|la|de|que)\\b'))::BIGINT AS es_hits,
         len(regexp_extract_all(text, '\\b(der|die|und|das)\\b'))::BIGINT AS de_hits,
         len(regexp_extract_all(text, '\\b(le|la|et|les)\\b'))::BIGINT AS fr_hits
  FROM documents
)
SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
       CASE WHEN greatest(en_hits, es_hits, de_hits, fr_hits) = 0 THEN 'unknown'
            WHEN en_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'en'
            WHEN es_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'es'
            WHEN de_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'de'
            ELSE 'fr' END AS predicted_lang
FROM s
"""


def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 exact dedup + P4 keep-first in one tagged slot (r6 fold: the
    former dedup_keepfirst entry joins as the 'keepfirst' probe, freeing
    a window slot for incremental_dedup; both semantics stay
    hash-verified).

    'docs' probe — md5-hash groupBy keep-first: exact copies of docs
    0-49 planted at doc_id+100000 (same construction in the oracle);
    only the lowest doc_id of each content group survives.
    'keepfirst' probe — drop_duplicates(keep='first') with a defined
    order (Milvus/stream1.py:215): first line of each order under a
    full deterministic ordering."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    alld = d.unionByName(planted)
    w = Window.partitionBy("content_hash").orderBy(F.asc("doc_id"))
    docs = (
        alld.withColumn("content_hash", F.md5("text"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.lit("docs").alias("probe"),
            F.col("doc_id").cast("long").alias("k1"),
            F.lit(None).cast("long").alias("k2"),
            F.lit(None).cast("long").alias("k3"),
            F.lit(None).cast("double").alias("vnum"),
            F.col("content_hash").alias("vstr"),
        )
    )
    li = _t(spark, sf_dir, "lineitem")
    wk = Window.partitionBy("l_orderkey").orderBy(
        F.asc("l_linenumber"), F.asc("l_partkey"), F.asc("l_suppkey"), F.asc("l_quantity")
    )
    keepfirst = (
        li.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") == 1)
        .select(
            F.lit("keepfirst").alias("probe"),
            F.col("l_orderkey").cast("long").alias("k1"),
            F.col("l_linenumber").cast("long").alias("k2"),
            F.col("l_partkey").cast("long").alias("k3"),
            F.round("l_quantity", 2).alias("vnum"),
            F.lit(None).cast("string").alias("vstr"),
        )
    )
    return docs.unionByName(keepfirst)


SQL_DOC_EXACT_DEDUP = """
WITH alld AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
), h AS (
  SELECT doc_id, md5(text) AS content_hash,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM alld
)
SELECT 'docs' AS probe, doc_id::BIGINT AS k1, CAST(NULL AS BIGINT) AS k2,
       CAST(NULL AS BIGINT) AS k3, CAST(NULL AS DOUBLE) AS vnum,
       content_hash AS vstr
FROM h WHERE rn = 1
UNION ALL
SELECT 'keepfirst', l_orderkey::BIGINT, l_linenumber::BIGINT,
       l_partkey::BIGINT, round(l_quantity, 2), CAST(NULL AS VARCHAR)
FROM (
  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
  FROM lineitem
) WHERE rn = 1
"""


def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 near-dedup — word-3-gram Jaccard similarity. Near-copies of
    docs 0-29 (first word dropped) are planted at doc_id+100000; pairs
    with J ≥ 0.6 must surface. Explode-join-group shape: distributed,
    no driver-side sets."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    alld = d.unionByName(planted)
    from deployment_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(alld, shingle_words=3, threshold=0.6)
    return pairs.select("a_id", "b_id", F.round("jaccard", 4).alias("jaccard"))


SQL_DOC_NGRAM_JACCARD = """
WITH alld AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '^\\S+\\s+', '') AS text
  FROM documents WHERE doc_id < 30
), words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM alld
), sh AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS sh
  FROM words
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id, round(shared / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE shared / (sa.n_sh + sb.n_sh - shared) >= 0.6
"""


def q_doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 near-dedup at scale — MinHash + LSH banding. 16 hash functions
    (lexicographic min of md5(seed || shingle) — a valid uniform MinHash),
    4 bands × 4 rows; candidate pairs share ≥1 band signature. Near-copies
    of docs 0-29 planted as in the Jaccard query; the shuffle unit is
    (band_id, signature), never the O(N²) pair space."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    alld = d.unionByName(planted)
    from deployment_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(alld, num_hashes=16, bands=4, shingle_words=3)


SQL_DOC_MINHASH_LSH = """
WITH alld AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '^\\S+\\s+', '') AS text
  FROM documents WHERE doc_id < 30
), words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM alld
), sh AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS sh
  FROM words
), seeded AS (
  SELECT doc_id, sh.sh, s.seed, md5(s.seed::VARCHAR || '|' || sh.sh) AS h
  FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) s
), minhash AS (
  SELECT doc_id, seed, min(h) AS mh FROM seeded GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // 4 AS band_id,
         md5(string_agg(mh, '|' ORDER BY seed)) AS sig
  FROM minhash GROUP BY doc_id, seed // 4
)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
"""


def q_events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py) — each click matched to the same
    user's most recent preceding purchase (point-in-time correctness: no
    future leakage). The tagged-union sweep shuffles ONCE on user_id with
    zero row blowup; the oracle is DuckDB's native ASOF LEFT JOIN, so
    the gate pins our semantics (>= at equal timestamps, NULL when no
    preceding purchase) to the industry operator."""
    from deployment_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    j = asof_join(
        clicks, purchases, time_col="ts", by=["user_id"], right_cols=["value"]
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return j.select(
        "user_id",
        "event_id",
        F.date_format("ts", fmt).alias("click_ts"),
        F.date_format("ts_right", fmt).alias("purchase_ts"),
        F.round("value", 4).alias("last_purchase_value"),
    )


SQL_EVENTS_ASOF_PURCHASE = """
WITH clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), purch AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.event_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       round(p.value, 4) AS last_purchase_value
FROM clicks c
ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def q_event_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (operators/sketch.py) vs exact counts for the
    event_type column: per value, the sketch estimate, the true count,
    and the overcount. One-sided error by construction (est ≥ true).
    Uses the PORTABLE md5-hashed grid (cms_build_portable) so DuckDB
    replays the whole sketch bit-for-bit — the xxhash64 form (cms_build)
    stays the production default; the two share every plan stage except
    the row-hash."""
    from deployment_spark.operators.sketch import cms_build_portable, cms_estimate_portable

    W, D = 1024, 5
    ev = _t(spark, sf_dir, "events").select("event_type")
    sketch = cms_build_portable(ev, "event_type", width=W, depth=D)
    probes = ev.distinct()
    est = cms_estimate_portable(sketch, probes, "event_type", width=W, depth=D)
    true = ev.groupBy(F.col("event_type").alias("probe")).agg(
        F.count(F.lit(1)).alias("true_count")
    )
    return (
        est.join(true, "probe")
        .select(
            "probe",
            F.col("est_count").cast("long").alias("est_count"),
            F.col("true_count").cast("long").alias("true_count"),
            (F.col("est_count") - F.col("true_count")).cast("long").alias("overcount"),
        )
    )


SQL_EVENT_FREQ_CMS = """
WITH vals AS (
  SELECT event_type AS v FROM events WHERE event_type IS NOT NULL
),
depths AS (SELECT unnest(range(5)) AS depth),
sketch AS (
  SELECT depth,
         ('0x' || substring(md5(v || '|' || depth), 1, 8))::BIGINT % 1024 AS cell,
         count(*) AS cnt
  FROM vals CROSS JOIN depths
  GROUP BY 1, 2
),
probes AS (SELECT DISTINCT event_type AS probe FROM events WHERE event_type IS NOT NULL),
pcells AS (
  SELECT probe, depth,
         ('0x' || substring(md5(probe || '|' || depth), 1, 8))::BIGINT % 1024 AS cell
  FROM probes CROSS JOIN depths
),
est AS (
  SELECT probe, min(coalesce(s.cnt, 0))::BIGINT AS est_count
  FROM pcells p LEFT JOIN sketch s USING (depth, cell)
  GROUP BY probe
),
true_c AS (
  SELECT event_type AS probe, count(*)::BIGINT AS true_count
  FROM events WHERE event_type IS NOT NULL GROUP BY 1
)
SELECT probe, est_count, true_count,
       (est_count - true_count)::BIGINT AS overcount
FROM est JOIN true_c USING (probe)
"""


def q_value_band_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/rangejoin.py) — events matched into
    OVERLAPPING value bands (40 bands, width 25, stride 12.5: every point
    hits ~2 bands, so this is a real interval join, not disguised
    binning). Binned equi-join + exact BETWEEN post-filter; the oracle is
    the naive BETWEEN join in DuckDB, proving the rewrite is
    result-identical."""
    from deployment_spark.operators.rangejoin import range_join

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    bands = spark.range(40).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 12.5).alias("lo"),
        (F.col("id") * 12.5 + 25.0).alias("hi"),
    )
    j = range_join(ev, bands, point_col="value", lo_col="lo", hi_col="hi",
                   bucket_width=25.0)
    return j.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


SQL_VALUE_BAND_COUNTS = """
WITH bands AS (
  SELECT range AS band_id, range * 12.5 AS lo, range * 12.5 + 25.0 AS hi
  FROM range(40)
)
SELECT band_id, count(*) AS cnt, round(sum(value), 2) AS total_value
FROM events e JOIN bands b ON e.value BETWEEN b.lo AND b.hi
GROUP BY band_id
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling — the observability pass every training-data
    pipeline runs before a job: per-column row count, null count,
    distinct count, min/max/mean/stddev and exact interpolated median
    for lineitem's numeric columns. One wide aggregate — a single scan
    and a single reduce regardless of how many columns are profiled (the
    unpivot to long form happens on the 1-row aggregate result, free).
    Exact (not sketched) so DuckDB replays it bit-for-bit; at 100 TB the
    same shape runs with approx_count_distinct / approx_percentile —
    sketches are engine-specific, which is why the GATE uses the exact
    forms.

    r6 fold (slot freed for shuffled_export): the former
    profile_sketch_bounds entry rides along — the scale-path sketches
    (approx_count_distinct HLL++, percentile_approx Greenwald-Khanna)
    run beside the exact forms and fold into self-judging ``*_ok``
    booleans; the oracle emits literal TRUE, so a sketch drifting out of
    its error envelope flips the bit and fails the driver hash (the
    recall-floor pattern)."""
    from deployment_spark.operators.profiling import profile_numeric

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = _t(spark, sf_dir, "lineitem")
    exact = profile_numeric(li, cols, exact=True)
    sk = profile_numeric(li, cols, exact=False, rsd=0.05, percentile_accuracy=10000)
    e, s = exact.alias("e"), sk.alias("s")
    # HLL++ rsd=0.05 → 3σ envelope + small-count slack; GK at
    # accuracy=10000 on this data is near-exact → tight relative band
    distinct_ok = (
        F.abs(F.col("s.n_distinct") - F.col("e.n_distinct"))
        <= 0.15 * F.col("e.n_distinct") + F.lit(10)
    )
    median_ok = (
        F.abs(F.col("s.median_v") - F.col("e.median_v"))
        <= 0.05 * F.abs(F.col("e.median_v")) + F.lit(0.01)
    )
    return e.join(F.broadcast(s), "column").select(
        "column",
        F.col("e.rows").cast("long").alias("rows"),
        F.col("e.nulls").cast("long").alias("nulls"),
        F.col("e.n_distinct").cast("long").alias("n_distinct"),
        F.col("e.min_v").alias("min_v"),
        F.col("e.max_v").alias("max_v"),
        F.col("e.mean_v").alias("mean_v"),
        F.col("e.stddev_v").alias("stddev_v"),
        F.col("e.median_v").alias("median_v"),
        distinct_ok.alias("distinct_ok"),
        median_ok.alias("median_ok"),
    )


SQL_TABLE_PROFILE = """
WITH w AS (
  SELECT
    {cols}
  FROM lineitem
)
SELECT *, TRUE AS distinct_ok, TRUE AS median_ok FROM w UNPIVOT (
  (rows, nulls, n_distinct, min_v, max_v, mean_v, stddev_v, median_v)
  FOR "column" IN (
    (l_quantity__rows, l_quantity__nulls, l_quantity__distinct, l_quantity__min,
     l_quantity__max, l_quantity__mean, l_quantity__stddev, l_quantity__median)
      AS 'l_quantity',
    (l_extendedprice__rows, l_extendedprice__nulls, l_extendedprice__distinct,
     l_extendedprice__min, l_extendedprice__max, l_extendedprice__mean,
     l_extendedprice__stddev, l_extendedprice__median) AS 'l_extendedprice',
    (l_discount__rows, l_discount__nulls, l_discount__distinct, l_discount__min,
     l_discount__max, l_discount__mean, l_discount__stddev, l_discount__median)
      AS 'l_discount',
    (l_tax__rows, l_tax__nulls, l_tax__distinct, l_tax__min, l_tax__max,
     l_tax__mean, l_tax__stddev, l_tax__median) AS 'l_tax'
  )
)
""".format(
    cols=",\n    ".join(
        f"count(*) AS {c}__rows, "
        f"count(CASE WHEN {c} IS NULL THEN 1 END) AS {c}__nulls, "
        f"count(DISTINCT {c}) AS {c}__distinct, "
        f"round(min({c}), 4) AS {c}__min, round(max({c}), 4) AS {c}__max, "
        f"round(avg({c}), 4) AS {c}__mean, round(stddev_samp({c}), 4) AS {c}__stddev, "
        f"round(quantile_cont({c}, 0.5), 4) AS {c}__median"
        for c in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
)


def q_skewed_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase top-N (operators/skew.py): top-5 lineitems by
    extended price within each (returnflag, linestatus) — 6 keys over
    600k rows at sf0.1, exactly the hot-key shape a single window
    serializes at scale. The salted plan spreads each key over 16 tasks;
    the oracle is the PLAIN one-window SQL, so the gate proves the
    two-phase rewrite is result-identical."""
    from deployment_spark.operators.skew import salted_topn_per_key

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    top = salted_topn_per_key(
        li,
        keys=["l_returnflag", "l_linestatus"],
        order_col="l_extendedprice",
        n=5,
        salt=16,
        tie_cols=["l_orderkey", "l_linenumber"],
    )
    return top.select(
        "l_returnflag",
        "l_linestatus",
        F.col("rank").cast("long").alias("rank"),
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
    )


SQL_SKEWED_TOPN = """
WITH r AS (
  SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag, l_linestatus
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rank
  FROM lineitem
)
SELECT l_returnflag, l_linestatus, rank, l_orderkey, l_linenumber, l_extendedprice
FROM r WHERE rank <= 5
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step conversion funnel signup → click → purchase: a user
    converts at step N only via events AT OR AFTER their previous step's
    first conversion time. Three grouped aggregates chained by user —
    each reuses the user-key exchange; no window, no explode.

    r6 fold (slot freed for knn_graph): scope='lag' rows carry the
    former events_lag_delta entry — per-user lead/lag analytics
    (inter-event gap µs + value delta, first 20 users, one user-key
    window exchange serving both lag columns) — still independently
    oracle-replayed inside this tagged slot."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t1")
    )
    s2 = (
        ev.join(s1, "user_id")
        .groupBy("user_id", "t1")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("t1")),
                    F.col("ts"),
                )
            ).alias("t2")
        )
    )
    s3 = (
        ev.join(s2, "user_id")
        .groupBy("user_id", "t1", "t2")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t2")),
                    F.col("ts"),
                )
            ).alias("t3")
        )
    )
    wide = s3.agg(
        F.count(F.when(F.col("t1").isNotNull(), 1)).alias("signup"),
        F.count(F.when(F.col("t2").isNotNull(), 1)).alias("click_after_signup"),
        F.count(F.when(F.col("t3").isNotNull(), 1)).alias("purchase_after_click"),
    )
    funnel = wide.selectExpr(
        "stack(3, 1L, 'signup', signup, 2L, 'click_after_signup', "
        "click_after_signup, 3L, 'purchase_after_click', purchase_after_click) "
        "as (step, stage, users)"
    ).select(
        F.lit("funnel").alias("scope"),
        F.col("stage").alias("grp"),
        F.col("step").alias("id"),
        F.col("users").cast("long").alias("cnt"),
        F.lit(None).cast("double").alias("val"),
    )
    lagd = q_events_lag_delta(spark, sf_dir).select(
        F.lit("lag").alias("scope"),
        F.col("user_id").cast("string").alias("grp"),
        F.col("event_id").alias("id"),
        F.col("gap_us").alias("cnt"),
        F.col("value_delta").alias("val"),
    )
    return funnel.unionByName(lagd)


SQL_EVENT_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
  FROM events GROUP BY user_id
), s2 AS (
  SELECT e.user_id, s1.t1,
         min(CASE WHEN e.event_type = 'click' AND e.ts >= s1.t1 THEN e.ts END) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  GROUP BY e.user_id, s1.t1
), s3 AS (
  SELECT e.user_id, s2.t1, s2.t2,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t2 THEN e.ts END) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  GROUP BY e.user_id, s2.t1, s2.t2
), wide AS (
  SELECT count(t1) AS signup, count(t2) AS click_after_signup,
         count(t3) AS purchase_after_click
  FROM s3
)
SELECT 'funnel' AS scope, stage AS grp, step AS id, users AS cnt,
       NULL::DOUBLE AS val FROM wide
UNPIVOT (users FOR x IN (signup, click_after_signup, purchase_after_click))
  , LATERAL (SELECT (CASE x WHEN 'signup' THEN 1
                           WHEN 'click_after_signup' THEN 2
                           ELSE 3 END)::BIGINT AS step, x AS stage)
UNION ALL
SELECT 'lag', user_id::VARCHAR, event_id,
       epoch_us(ts) - epoch_us(lag(ts) OVER w),
       round(value - lag(value) OVER w, 4)
FROM events
WHERE user_id < 20
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 batch twin — gap-based user sessionization (24 h gap): lag
    window flags session starts, running sum numbers them, one aggregate
    per session. The streaming implementation of the same semantics
    (applyInPandasWithState) is tested for batch≡stream parity in
    tests/test_streaming.py; this entry value-checks the session
    boundaries against DuckDB's window replay."""
    from deployment_spark.streaming.sessionize import session_stats

    ev = _t(spark, sf_dir, "events")
    s = session_stats(ev, gap_minutes=1440)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return s.select(
        "user_id",
        "session_seq",
        F.date_format("session_start", fmt).alias("session_start"),
        F.date_format("session_end", fmt).alias("session_end"),
        "n_events",
    )


SQL_USER_SESSIONS = """
WITH o AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), f AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev IS NULL
                   OR epoch_us(ts) - epoch_us(prev) > 1440::BIGINT * 60 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM o
), s AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq
  FROM f
)
SELECT user_id, session_seq,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       count(*) AS n_events
FROM s GROUP BY 1, 2
"""


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 PII scrubbing — emails / IPv4s / phone numbers redacted with
    typed placeholders, per-kind counts for audit. PII is planted on docs
    0-24 (id-dependent strings, same construction in the oracle); the
    cleaned text is value-checked via md5 so a single mis-replaced
    character fails the gate. Patterns are lookaround-free so Java regex
    (Spark) and RE2 (DuckDB) match identically."""
    from deployment_spark.operators.textstats import scrub_pii

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 or call +1 (555) 123-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        F.lit(" now"),
    )
    planted = d.withColumn(
        "text",
        F.when(F.col("doc_id") < 25, F.concat(F.col("text"), suffix)).otherwise(
            F.col("text")
        ),
    )
    return scrub_pii(planted).select(
        "doc_id",
        "n_email",
        "n_ip",
        "n_phone",
        F.md5("text_clean").alias("clean_hash"),
    )


SQL_DOC_PII_SCRUB = """
WITH alld AS (
  SELECT doc_id,
         CASE WHEN doc_id < 25
              THEN text || ' contact user' || doc_id::VARCHAR
                   || '@mail.example.com or 10.0.' || (doc_id % 256)::VARCHAR
                   || '.7 or call +1 (555) 123-'
                   || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') || ' now'
              ELSE text END AS text
  FROM documents
), s1 AS (
  SELECT doc_id, text,
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM alld
), s2 AS (
  SELECT doc_id, text, t1,
         regexp_replace(t1,
           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_email,
       len(regexp_extract_all(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::BIGINT AS n_ip,
       len(regexp_extract_all(t2, '(\\+?[0-9]{1,2}[\\s.-]?)?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}'))::BIGINT AS n_phone,
       md5(regexp_replace(t2,
           '(\\+?[0-9]{1,2}[\\s.-]?)?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g')
       ) AS clean_hash
FROM s2
"""


def q_doc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 canonicalization — normalize (lower / strip punct / collapse
    ws) then exact-dedup on the NORMALIZED form: near-identical docs that
    differ only in case/punctuation/spacing collapse. Case-mangled
    near-copies of docs 0-39 are planted (same construction in the
    oracle); output is each doc's normalized-content group key and
    whether it survived keep-lowest-id dedup."""
    from deployment_spark.operators.textstats import normalize_text

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  !!  ")).alias("text"),
    )
    alld = d.unionByName(planted)
    norm = normalize_text(alld)
    w = Window.partitionBy("norm_hash").orderBy(F.asc("doc_id"))
    return (
        norm.withColumn("norm_hash", F.md5("text_norm"))
        .withColumn("kept", (F.row_number().over(w) == 1))
        .select("doc_id", "norm_hash", "kept")
    )


SQL_DOC_NORMALIZE = """
WITH alld AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, upper(text) || '  !!  ' AS text
  FROM documents WHERE doc_id < 40
), norm AS (
  SELECT doc_id,
         md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
               '\\s+', ' ', 'g'))) AS norm_hash
  FROM alld
)
SELECT doc_id, norm_hash,
       row_number() OVER (PARTITION BY norm_hash ORDER BY doc_id) = 1 AS kept
FROM norm
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 chunking — sliding-window token chunks (window 32, stride 24,
    8-token overlap), the RAG/context-window splitter. Value-checked per
    chunk: id, token count, and the chunk text itself.

    r6 fold (slot freed for semantic_dedup): scope='normalize' rows
    carry the former doc_normalize entry — canonicalize (lower / strip
    punct / collapse ws) + exact-dedup on the normalized form over
    planted case-mangled near-copies; txt holds the normalized-content
    group key, part the keep-lowest-id survivor flag.

    r5 fold (slot freed for dsir_select): scope='pack' rows carry the
    former doc_packing entry — greedy first-fit token packing (budget
    256, 16 shards), the DuckDB oracle replaying the greedy fold with a
    recursive CTE stepping one document per shard per iteration so the
    driver value-checks the exact packing, not just totals. Column
    mapping: doc_id=shard, part=pack_id, n=total_tokens,
    txt=n_docs-as-string."""
    from deployment_spark.operators.packing import pack_greedy
    from deployment_spark.operators.textstats import chunk_text, token_count

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_text(d, window_tokens=32, stride=24).select(
        F.lit("chunk").alias("scope"),
        "doc_id",
        F.col("chunk_id").cast("long").alias("part"),
        F.col("n_chunk_tokens").cast("long").alias("n"),
        F.col("chunk").alias("txt"),
    )
    norm = q_doc_normalize(spark, sf_dir).select(
        F.lit("normalize").alias("scope"),
        "doc_id",
        F.col("kept").cast("long").alias("part"),
        F.lit(None).cast("long").alias("n"),
        F.col("norm_hash").alias("txt"),
    )
    to_pack = d.select(
        "doc_id",
        (F.col("doc_id") % 16).alias("shard"),
        token_count("text").alias("n_tokens"),
    )
    packed = (
        pack_greedy(to_pack, budget=256)
        .groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select(
            F.lit("pack").alias("scope"),
            F.col("shard").cast("long").alias("doc_id"),
            F.col("pack_id").cast("long").alias("part"),
            F.col("total_tokens").cast("long").alias("n"),
            F.col("n_docs").cast("string").alias("txt"),
        )
    )
    return chunks.unionByName(norm).unionByName(packed)


SQL_DOC_CHUNKS = """
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents WHERE trim(text) != ''
), c AS (
  SELECT doc_id,
         unnest(list_filter(
           list_transform(range(1, greatest(len(w), 1) + 1, 24),
             s -> struct_pack(chunk_id := (s - 1) // 24,
                              toks := w[s:least(s + 31, len(w))])),
           x -> len(x.toks) > 0 AND (x.chunk_id = 0 OR len(x.toks) > 8)
         )) AS ch
  FROM words
)
SELECT 'chunk' AS scope, doc_id, ch.chunk_id AS part,
       len(ch.toks)::BIGINT AS n,
       array_to_string(ch.toks, ' ') AS txt
FROM c
UNION ALL
SELECT 'normalize', doc_id,
       (row_number() OVER (PARTITION BY norm_hash ORDER BY doc_id) = 1)::BIGINT,
       NULL::BIGINT, norm_hash
FROM (
  SELECT doc_id,
         md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
               '\\s+', ' ', 'g'))) AS norm_hash
  FROM (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, upper(text) || '  !!  ' AS text
    FROM documents WHERE doc_id < 40
  )
)
UNION ALL
SELECT 'pack', shard, pack_id, total_tokens, n_docs::VARCHAR
FROM (
  WITH RECURSIVE pdocs AS (
    SELECT doc_id % 16 AS shard, doc_id,
           len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens,
           row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS rn
    FROM documents
  ), g AS (
    SELECT shard, rn, doc_id, n_tokens, 0::BIGINT AS pack_id, n_tokens AS fill
    FROM pdocs WHERE rn = 1
    UNION ALL
    SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
           CASE WHEN g.fill + d.n_tokens <= 256 THEN g.pack_id ELSE g.pack_id + 1 END,
           CASE WHEN g.fill + d.n_tokens <= 256 THEN g.fill + d.n_tokens ELSE d.n_tokens END
    FROM g JOIN pdocs d ON d.shard = g.shard AND d.rn = g.rn + 1
  )
  SELECT shard, pack_id, count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens
  FROM g GROUP BY 1, 2
)
"""


SPAN_BOILER = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"


def q_doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN removal (operators/dedup.span_dedup; new
    r5) — the substring-dedup protocol of Lee et al. 2022: any 5-token
    window occurring ≥2× across the corpus is boilerplate and every
    token it covers is dropped from every document carrying it. This is
    the span-level complement the document-level passes (exact /
    MinHash / SimHash / semantic) cannot see — licence headers and
    navigation chrome inside otherwise-unique documents; the reference
    corpus tooling has only row-exact dedup
    (``FAISS/PlainDemo/pipeline.py:247``). An 11-token boilerplate tail
    is planted on 30% of docs (both engines) so the operator provably
    removes multi-span coverage, not just chance repeats. The oracle
    replays shingling, the global dup-count, the coverage window, and
    the byte-exact cleaned-text md5 in SQL."""
    from deployment_spark.operators.dedup import span_dedup

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 < 3,
            F.concat_ws(" ", "text", F.lit(SPAN_BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return span_dedup(d).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "n_removed",
        "clean_hash",
    )


SQL_DOC_SPAN_DEDUP = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 < 3 THEN text || ' ' || '{SPAN_BOILER}'
              ELSE text END AS text
  FROM documents
), t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM aug
), p0 AS (
  SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM t
), pos AS (
  SELECT doc_id, i, w[i] AS tok,
         CASE WHEN i + 4 <= len(w) THEN array_to_string(w[i:i+4], ' ') END AS sh
  FROM p0
), dup AS (
  SELECT sh FROM pos WHERE sh IS NOT NULL GROUP BY sh HAVING count(*) >= 2
), flag AS (
  SELECT p.doc_id, p.i, p.tok,
         CASE WHEN d.sh IS NOT NULL THEN 1 ELSE 0 END AS dup_start
  FROM pos p LEFT JOIN dup d USING (sh)
), cov AS (
  SELECT *, max(dup_start) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS covered
  FROM flag
)
SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(covered)::BIGINT AS n_removed,
       md5(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE covered = 0)) AS clean_hash
FROM cov GROUP BY doc_id
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-weighted data selection (operators/selection;
    new r5) — the hashed-ngram importance-resampling protocol of Xie et
    al. 2023: fit add-1-smoothed bag-of-hashed-ngram (uni+bigram, 512
    portable-md5 buckets) distributions on a target subset (lang='en')
    and on the whole corpus, score every document by its summed log
    importance ratio, keep the top-100 (rank on the 4dp-rounded weight,
    doc_id tie-break — the doc_bm25_topk convention). Scale shape: the
    feature space is CLOSED at 512 buckets, so both distributions come
    from ONE partially-aggregated bucket exchange and the ratio table
    broadcasts back — the 100 TB corpus side shuffles only once, on the
    doc key. The oracle replays hashing, both distributions, the
    smoothing, and the ranking in SQL.

    Tagged union, both of the paper's selection modes: mode='top' is
    deterministic top-k-by-weight; mode='gumbel' is the paper's actual
    importance RESAMPLING (selection.dsir_resample — Gumbel-top-k:
    key = rounded weight − ln(−ln(u)) with u from the portable md5 hash
    of the doc id, so the weight-proportional sample-without-replacement
    is reproducible across runs, partitionings, AND engines; the oracle
    replays the noise and the ranking)."""
    from deployment_spark.operators.selection import (
        dsir_resample,
        dsir_select,
        dsir_weights,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # ONE weight computation feeds both selection modes (the weights=
    # passthrough); localCheckpoint materializes the k·corpus-doc-scale
    # weight table once so the two k-row rankings don't re-run the
    # feature pass (the connected_components precedent — tiny: one row
    # per doc). The checkpoint is ALSO the column-pruning barrier: the
    # entry's output drops is_target, and without the barrier the
    # pruner strips max(is_t) from the scoring branch's bf copy, which
    # de-canonicalizes the shared feature exchange into TWO scans +
    # explodes (the operator docstring's load-bearing-column caveat —
    # re-measured r14, plan in scratch/dsir_nockpt_plan.txt). r14:
    # eager=False — the checkpoint materializes inside the consumer's
    # own action instead of paying a separate build-time job + a second
    # action's planning round-trip (one driver action per invocation).
    # That job count holds for a fresh file scan; a session-cached
    # documents input adds one query-stage job (dsir_weights' "a cached
    # input disables the reuse" caveat).
    w = dsir_weights(d, F.col("lang") == "en").localCheckpoint(eager=False)
    top = dsir_select(d, F.col("lang") == "en", k=100, weights=w).select(
        F.lit("top").alias("mode"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_features",
        "log_weight",
        "rank",
    )
    gum = dsir_resample(
        d, F.col("lang") == "en", k=100, round_to=4, weights=w
    ).select(
        F.lit("gumbel").alias("mode"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_features",
        "log_weight",
        "rank",
    )
    return top.unionByName(gum)


SQL_DSIR_SELECT = """
WITH t AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), uni AS (
  SELECT doc_id, lang, unnest(w) AS f FROM t
), bi AS (
  SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS f
  FROM (SELECT doc_id, lang, w, unnest(range(1, len(w))) AS i FROM t WHERE len(w) >= 2)
), feats AS (
  SELECT doc_id, (lang = 'en')::INT AS is_t,
         ('0x' || substring(md5('dsir|' || f), 1, 8))::BIGINT % 512 AS bucket
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
), b AS (
  SELECT bucket, count(*) AS raw_c, sum(is_t) AS tgt_c FROM feats GROUP BY bucket
), tot AS (SELECT sum(raw_c) AS raw_n, sum(tgt_c) AS tgt_n FROM b),
r AS (
  SELECT bucket, ln((tgt_c + 1) / (tgt_n + 512)) - ln((raw_c + 1) / (raw_n + 512)) AS lr
  FROM b CROSS JOIN tot
), wts AS (
  SELECT doc_id, count(*)::BIGINT AS n_features, round(sum(lr), 4) AS log_weight
  FROM feats JOIN r USING (bucket) GROUP BY doc_id
), gkeys AS (
  SELECT doc_id, n_features, log_weight,
         log_weight - ln(-ln(
           (('0x' || substring(md5('gumbel|' || doc_id), 1, 8))::BIGINT + 0.5)
           / 4294967296.0)) AS gumbel_key
  FROM wts
)
SELECT 'top' AS mode, doc_id, n_features, log_weight,
       row_number() OVER (ORDER BY log_weight DESC, doc_id) AS rank
FROM wts QUALIFY rank <= 100
UNION ALL
SELECT 'gumbel', doc_id, n_features, log_weight,
       row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS rank
FROM gkeys QUALIFY rank <= 100
"""


def q_doc_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 END-TO-END training-data prep — the chain a real corpus runs
    before tokenization, as ONE driver-checked entry (the doc_dedup_
    pipeline precedent): normalize (lower/punct/ws canonicalization,
    planted case-mangled copies collapse) → exact-dedup on normalized
    content (keep lowest id) → NEAR-dedup (MinHash+LSH candidates →
    exact n-gram Jaccard verify → connected components, keep lowest id;
    planted first-word-dropped copies collapse here — r4, VERDICT r3 #6)
    → quality floor (≥ 8 normalized tokens) → sliding-window chunking
    (32/24) → greedy shard-local packing of the chunks (budget 96).
    Output is the per-pack fill ledger; the oracle replays every stage
    in SQL — the near-dedup via the minhash/band/verify/transitive-
    closure CTEs, the packing via the recursive greedy fold. Every stage
    is the library operator, chained — one scan plus the bounded
    shingle/band exchanges, no driver loops."""
    from deployment_spark.operators.dedup import (
        dedup_by_pairs,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from deployment_spark.operators.packing import pack_greedy
    from deployment_spark.operators.textstats import chunk_text, normalize_text

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  !!  ")).alias("text"),
    )
    # near-copies that SURVIVE normalization (first word dropped): the
    # exact stage can't collapse them, the near stage must
    planted_near = d.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 70)).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    alld = d.unionByName(planted).unionByName(planted_near)
    norm = normalize_text(alld)
    w = Window.partitionBy(F.md5("text_norm")).orderBy(F.asc("doc_id"))
    kept_exact = (
        norm.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("text_norm").alias("text"))
    )
    cand = minhash_lsh_candidates(kept_exact, num_hashes=16, bands=4, shingle_words=3)
    verified = ngram_jaccard_pairs(
        kept_exact, shingle_words=3, threshold=0.6, candidates=cand
    )
    kept = dedup_by_pairs(kept_exact, verified).filter(
        F.size(tokens("text")) >= 8
    )
    chunks = chunk_text(kept, window_tokens=32, stride=24)
    chunk_rows = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("chunk_uid"),
        (F.col("doc_id") % 8).alias("shard"),
        F.col("n_chunk_tokens").alias("n_tokens"),
    )
    packed = pack_greedy(chunk_rows, budget=96, id_col="chunk_uid")
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
    )


SQL_DOC_PREP_PIPELINE = """
WITH RECURSIVE alld AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, upper(text) || '  !!  ' AS text
  FROM documents WHERE doc_id < 40
  UNION ALL
  SELECT doc_id + 300000 AS doc_id, regexp_replace(text, '^\\S+\\s+', '') AS text
  FROM documents WHERE doc_id >= 40 AND doc_id < 70
), norm AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
           '\\s+', ' ', 'g')) AS text
  FROM alld
), kept_exact AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM norm
  ) WHERE rn = 1
), nwords AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM kept_exact
), nsh AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS sh
  FROM nwords
), nseeded AS (
  SELECT doc_id, nsh.sh, s.seed, md5(s.seed::VARCHAR || '|' || nsh.sh) AS h
  FROM nsh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) s
), nminhash AS (
  SELECT doc_id, seed, min(h) AS mh FROM nseeded GROUP BY doc_id, seed
), nbands AS (
  SELECT doc_id, seed // 4 AS band_id,
         md5(string_agg(mh, '|' ORDER BY seed)) AS sig
  FROM nminhash GROUP BY doc_id, seed // 4
), ncand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM nbands a JOIN nbands b
    ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
), nsizes AS (
  SELECT doc_id, count(*) AS n_sh FROM nsh GROUP BY doc_id
), nshared AS (
  SELECT c.a_id, c.b_id, count(*) AS shared
  FROM ncand c
  JOIN nsh a ON a.doc_id = c.a_id
  JOIN nsh b ON b.doc_id = c.b_id AND b.sh = a.sh
  GROUP BY 1, 2
), nverified AS (
  SELECT a_id, b_id
  FROM nshared
  JOIN nsizes sa ON sa.doc_id = a_id
  JOIN nsizes sb ON sb.doc_id = b_id
  WHERE shared / (sa.n_sh + sb.n_sh - shared) >= 0.6
), nedges AS (
  SELECT a_id AS x, b_id AS y FROM nverified
  UNION
  SELECT b_id AS x, a_id AS y FROM nverified
), nreach AS (
  SELECT x, y FROM nedges
  UNION
  SELECT r.x, e.y FROM nreach r JOIN nedges e ON r.y = e.x
), nlabels AS (
  SELECT x AS node, least(x, min(y)) AS label FROM nreach GROUP BY x
), kept AS (
  SELECT doc_id, text FROM kept_exact
  WHERE doc_id NOT IN (SELECT node FROM nlabels WHERE node > label)
    AND len(regexp_split_to_array(trim(text), '\\s+')) >= 8
), words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM kept WHERE trim(text) != ''
), c AS (
  SELECT doc_id,
         unnest(list_filter(
           list_transform(range(1, greatest(len(w), 1) + 1, 24),
             s -> struct_pack(chunk_id := (s - 1) // 24,
                              toks := w[s:least(s + 31, len(w))])),
           x -> len(x.toks) > 0 AND (x.chunk_id = 0 OR len(x.toks) > 8)
         )) AS ch
  FROM words
), chunks AS (
  SELECT doc_id * 1000 + ch.chunk_id AS chunk_uid,
         doc_id % 8 AS shard,
         len(ch.toks)::BIGINT AS n_tokens
  FROM c
), docs AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: the recursive greedy fold below joins
  -- docs once per pack step, and DuckDB would otherwise inline (= fully
  -- recompute) the whole normalize/dedup/near-dedup prefix — including
  -- the transitive-closure recursion — on every iteration (measured
  -- 258 s → 0.9 s at sf0.01)
  SELECT shard, chunk_uid, n_tokens,
         row_number() OVER (PARTITION BY shard ORDER BY chunk_uid) AS rn
  FROM chunks
), g AS (
  SELECT shard, rn, chunk_uid, n_tokens, 0::BIGINT AS pack_id, n_tokens AS fill
  FROM docs WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.chunk_uid, d.n_tokens,
         CASE WHEN g.fill + d.n_tokens <= 96 THEN g.pack_id ELSE g.pack_id + 1 END,
         CASE WHEN g.fill + d.n_tokens <= 96 THEN g.fill + d.n_tokens ELSE d.n_tokens END
  FROM g JOIN docs d ON d.shard = g.shard AND d.rn = g.rn + 1
)
SELECT shard, pack_id, count(*) AS n_chunks, sum(n_tokens)::BIGINT AS total_tokens
FROM g GROUP BY 1, 2
"""


def q_doc_scripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 script detection — per-script character counts + dominant
    script. Docs 0-29 get planted non-Latin suffixes (Cyrillic / CJK /
    Greek by doc_id % 3, same construction in the oracle) so the
    detector has real multi-script input to classify."""
    from deployment_spark.operators.textstats import add_script_detection

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(" привет мир как дела сегодня"))
        .when(F.col("doc_id") % 3 == 1, F.lit(" 你好世界今天怎么样很好谢谢"))
        .otherwise(F.lit(" γειά σου κόσμε τι κάνεις"))
    )
    planted = d.withColumn(
        "text",
        F.when(F.col("doc_id") < 30, F.concat(F.col("text"), suffix)).otherwise(
            F.col("text")
        ),
    )
    return add_script_detection(planted).select(
        "doc_id", "n_latin", "n_cyrillic", "n_greek", "n_cjk", "n_arabic",
        "dominant_script",
    )


SQL_DOC_SCRIPTS = """
WITH alld AS (
  SELECT doc_id,
         CASE WHEN doc_id < 30 THEN text ||
                CASE doc_id % 3
                  WHEN 0 THEN ' привет мир как дела сегодня'
                  WHEN 1 THEN ' 你好世界今天怎么样很好谢谢'
                  ELSE ' γειά σου κόσμε τι κάνεις' END
              ELSE text END AS text
  FROM documents
), counts AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]'))::BIGINT AS n_latin,
         len(regexp_extract_all(text, '[Ѐ-ӿ]'))::BIGINT AS n_cyrillic,
         len(regexp_extract_all(text, '[Ͱ-Ͽ]'))::BIGINT AS n_greek,
         len(regexp_extract_all(text, '[一-鿿]'))::BIGINT AS n_cjk,
         len(regexp_extract_all(text, '[؀-ۿ]'))::BIGINT AS n_arabic
  FROM alld
)
SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic,
       CASE WHEN n_latin IS NULL THEN NULL
            WHEN greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic) = 0 THEN 'other'
            WHEN n_latin = greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic) THEN 'latin'
            WHEN n_cyrillic = greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic) THEN 'cyrillic'
            WHEN n_greek = greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic) THEN 'greek'
            WHEN n_cjk = greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic) THEN 'cjk'
            ELSE 'arabic' END AS dominant_script
FROM counts
"""


def q_doc_lang_scripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 language ID + Unicode-script detection per doc — two per-row
    signal families in one registry slot (driver gate windows at 50
    entries). Both are pure projections, so they compute in ONE scan
    with zero exchanges (the oracle SQL joins the two component queries;
    result-identical). Components stay callable individually."""
    from deployment_spark.operators.textstats import add_lang_id, add_script_detection

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(" привет мир как дела сегодня"))
        .when(F.col("doc_id") % 3 == 1, F.lit(" 你好世界今天怎么样很好谢谢"))
        .otherwise(F.lit(" γειά σου κόσμε τι κάνεις"))
    )
    # lang ID reads the ORIGINAL text, script detection the planted one —
    # matching the two component entries exactly
    planted = F.when(F.col("doc_id") < 30, F.concat(F.col("text"), suffix)).otherwise(
        F.col("text")
    )
    with_both = add_script_detection(
        add_lang_id(d, text_col="text").withColumn("text", planted),
        text_col="text",
    )
    return with_both.select(
        "doc_id", "en_hits", "es_hits", "de_hits", "fr_hits", "predicted_lang",
        "n_latin", "n_cyrillic", "n_greek", "n_cjk", "n_arabic", "dominant_script",
    )


SQL_DOC_LANG_SCRIPTS = f"""
SELECT l.doc_id, l.en_hits, l.es_hits, l.de_hits, l.fr_hits, l.predicted_lang,
       s.n_latin, s.n_cyrillic, s.n_greek, s.n_cjk, s.n_arabic, s.dominant_script
FROM ({SQL_DOC_LANG_ID}) l JOIN ({SQL_DOC_SCRIPTS}) s ON l.doc_id = s.doc_id
"""


def q_doc_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 compressibility — zlib ratio quality signal over planted
    extremes (doc 900001: 'spam ' × 200, ratio ≈ 0.02; doc 900002:
    hex noise, ratio ≈ 1) plus real docs. Deterministic, but zlib is
    not SQL-expressible — so the per-doc RATIO itself stays verified by
    tools/check_oracle.py's independent zlib checker, while the entry
    is hash-gateable (r11, VERDICT r10 #5) through the facet hand-off:
    the raw ratios are written to a parquet facet, and the DuckDB
    oracle re-derives everything downstream — the char-length
    reconciliation against the documents view (plus the planted docs'
    literal lengths: 'spam '×200 = 1000, a sha-512 hex digest = 128),
    proving id alignment with the table the engine compressed, and the
    decile bucket arithmetic off the facet ratios. The gate runs the
    Spark side before the oracle (check_oracle order, mirroring the
    driver's), so the facet exists when DuckDB reads it."""
    from deployment_spark.operators.textstats import add_compressibility

    d = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 50
    )
    planted = spark.createDataFrame(
        [(900001, "spam " * 200), (900002, None)], ["doc_id", "text"]
    ).withColumn(
        "text",
        F.when(
            F.col("doc_id") == 900002,
            F.sha2(F.lit("noise"), 512),
        ).otherwise(F.col("text")),
    )
    alld = d.unionByName(planted)
    scored = (
        add_compressibility(alld)
        .select(
            "doc_id",
            "compress_ratio",
            F.length("text").cast("long").alias("len_chars"),
        )
        # one zlib pass shared by the facet write and the returned frame
        .localCheckpoint(eager=False)
    )
    scored.select("doc_id", "compress_ratio").coalesce(1).write.mode(
        "overwrite"
    ).parquet(DOC_COMPRESS_FACET)
    bucket = F.when(
        F.col("compress_ratio").isNull(), F.lit(None).cast("long")
    ).otherwise(
        F.least(
            F.lit(9),
            F.greatest(F.lit(0), F.floor(F.col("compress_ratio") * 10)),
        ).cast("long")
    )
    return scored.withColumn("ratio_bucket", bucket)


DOC_COMPRESS_FACET = os.path.join(
    tempfile.gettempdir(), "spark_graft_facets", "doc_compress.parquet"
)

SQL_DOC_COMPRESSIBILITY = f"""
WITH facet AS (
  SELECT doc_id, compress_ratio
  FROM read_parquet('{DOC_COMPRESS_FACET}/*.parquet')
), lens AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS len_chars
  FROM documents WHERE doc_id < 50
  UNION ALL SELECT 900001, 1000
  UNION ALL SELECT 900002, 128
)
SELECT f.doc_id, f.compress_ratio, l.len_chars,
       CASE WHEN f.compress_ratio IS NULL THEN NULL
            ELSE least(9, greatest(0,
                   CAST(floor(f.compress_ratio * 10) AS BIGINT)))
       END AS ratio_bucket
FROM facet f JOIN lens l USING (doc_id)
"""


def q_stage_ordered_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 — categorical ordered sort (``Milvus/stream1.py:548-556``): the
    reference orders its per-stage performance view by the fixed pipeline
    sequence Initial Load → Add → Delete → Update via an ordered
    ``pd.Categorical``. Analog here: per-event-type metrics sorted by a
    fixed category list with ``array_position`` (values outside the list
    sort last, like pandas' unseen categoricals). The driver compare is
    order-insensitive, so the categorical ordering is materialized as a
    ``stage_rank`` column."""
    from deployment_spark.operators.cleaning import categorical_sort_key

    order = ["signup", "view", "purchase"]  # click/error outside the list
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )
    w = Window.orderBy(
        categorical_sort_key("event_type", order), F.asc("event_type")
    )
    return agg.withColumn("stage_rank", F.row_number().over(w).cast("long")).select(
        "stage_rank", "event_type", "cnt", "avg_value"
    )


SQL_STAGE_ORDERED_METRICS = """
WITH agg AS (
  SELECT event_type, count(*) AS cnt, round(avg(value), 4) AS avg_value
  FROM events GROUP BY event_type
)
SELECT row_number() OVER (
         ORDER BY CASE event_type
                    WHEN 'signup' THEN 1
                    WHEN 'view' THEN 2
                    WHEN 'purchase' THEN 3
                    ELSE 4 END,
                  event_type) AS stage_rank,
       event_type, cnt, avg_value
FROM agg
"""


def q_doc_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 end-to-end dedup pipeline — the standard production chain
    (SURVEY §7.1): MinHash+LSH candidates → exact n-gram Jaccard verify
    on candidates only → connected components (min-label propagation to
    fixpoint) → keep the lowest doc_id per component. Near-copies of
    docs 0-29 planted at +100000 as in the candidate/verify entries; the
    returned rows are the SURVIVING doc ids, so the whole chain — not
    just candidate pairs — is driver-checked (round-1 verdict item 2).
    Oracle replays components with a recursive transitive-closure CTE.

    r6: a second tagged probe gates selection.leakage_safe_splits —
    every doc (including dropped near-dups) gets a train/valid/test
    assignment hashed from its COMPONENT label (80/10/10), replayed in
    SQL with the same md5-prefix bucket, so the no-leakage property
    (near-dups share a split) is hash-verified end to end."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    alld = d.unionByName(planted)
    from deployment_spark.operators.dedup import (
        dedup_by_pairs,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    cand = minhash_lsh_candidates(alld, num_hashes=16, bands=4, shingle_words=3)
    verified = ngram_jaccard_pairs(
        alld, shingle_words=3, threshold=0.6, candidates=cand
    )
    # r6: ONE components pass feeds both probes — 'kept' (component-min
    # survivors, the original entry) and 'split' (leakage-safe
    # train/valid/test: split is a pure function of the component
    # LABEL, so near-duplicates can never straddle splits)
    from deployment_spark.operators.selection import leakage_safe_splits

    assign = leakage_safe_splits(alld, verified).localCheckpoint()
    kept = assign.filter(F.col("label") == F.col("doc_id")).select(
        F.lit("kept").alias("probe"),
        "doc_id",
        F.lit(None).cast("string").alias("split"),
    )
    return kept.unionByName(
        assign.select(F.lit("split").alias("probe"), "doc_id", "split")
    )


SQL_DOC_DEDUP_PIPELINE = """
WITH RECURSIVE alld AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '^\\S+\\s+', '') AS text
  FROM documents WHERE doc_id < 30
), words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM alld
), sh AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS sh
  FROM words
), seeded AS (
  SELECT doc_id, sh.sh, s.seed, md5(s.seed::VARCHAR || '|' || sh.sh) AS h
  FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) s
), minhash AS (
  SELECT doc_id, seed, min(h) AS mh FROM seeded GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // 4 AS band_id,
         md5(string_agg(mh, '|' ORDER BY seed)) AS sig
  FROM minhash GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT c.a_id, c.b_id, count(*) AS shared
  FROM cand c
  JOIN sh a ON a.doc_id = c.a_id
  JOIN sh b ON b.doc_id = c.b_id AND b.sh = a.sh
  GROUP BY 1, 2
), verified AS (
  SELECT a_id, b_id
  FROM shared
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE shared / (sa.n_sh + sb.n_sh - shared) >= 0.6
), edges AS (
  SELECT a_id AS x, b_id AS y FROM verified
  UNION
  SELECT b_id AS x, a_id AS y FROM verified
), reach AS (
  SELECT x, y FROM edges
  UNION
  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
), labels AS (
  SELECT x AS node, least(x, min(y)) AS label FROM reach GROUP BY x
), assign AS (
  SELECT alld.doc_id,
         coalesce(l.label, alld.doc_id) AS label,
         ('0x' || substring(md5(coalesce(l.label, alld.doc_id)::VARCHAR
                  || '|split'), 1, 8))::BIGINT % 10000 AS b
  FROM alld LEFT JOIN labels l ON l.node = alld.doc_id
)
SELECT 'kept' AS probe, doc_id, CAST(NULL AS VARCHAR) AS split
FROM assign WHERE label = doc_id
UNION ALL
SELECT 'split', doc_id,
       CASE WHEN b < 8000 THEN 'train'
            WHEN b < 9000 THEN 'valid' ELSE 'test' END
FROM assign
"""


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 SimHash dedup fingerprint (portable md5 variant so DuckDB can
    replay it bit-for-bit; the production op is the xxhash64 simhash in
    operators.dedup, property-tested in tests/test_dedup.py)."""
    from deployment_spark.operators.dedup import simhash_portable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_portable(docs).orderBy("doc_id")


def _simhash_oracle_sql(src: str = "documents") -> str:
    votes = ",\n    ".join(
        f"sum(CASE WHEN ((strpos('0123456789abcdef', substring(h, {j // 4 + 1}, 1)) - 1)"
        f" // {2 ** (j % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(64)
    )
    nibbles = " || ".join(
        "substring('0123456789abcdef', 1 + "
        + " + ".join(f"(CASE WHEN v{4 * n + i} > 0 THEN {2 ** i} ELSE 0 END)" for i in range(4))
        + ", 1)"
        for n in range(16)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM {src}
), hashed AS (
  SELECT doc_id, md5(tok) AS h FROM toks WHERE tok <> ''
), votes AS (
  SELECT doc_id,
    {votes}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {nibbles} AS simhash FROM votes ORDER BY doc_id
"""


SQL_DOC_SIMHASH = _simhash_oracle_sql()


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 document fingerprint — min-k sketch (md5 of the 8 smallest word
    4-gram hashes; operators.textstats.content_fingerprint). Stable under
    edits away from the selected grams; the groupBy key for fuzzy-exact
    dedup at scale."""
    from deployment_spark.operators.textstats import content_fingerprint

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select("doc_id", content_fingerprint("text").alias("fingerprint"))


SQL_DOC_FINGERPRINT = """
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(len(w) - 3, 1) + 1),
             i -> array_to_string(list_slice(w, i, i + 3), ' '))) AS g
  FROM words
), hashed AS (
  SELECT doc_id,
         list_slice(list_sort(list_transform(g, s -> md5(s))), 1, 8) AS smallest
  FROM grams
)
SELECT doc_id, md5(array_to_string(smallest, '|')) AS fingerprint FROM hashed
"""


def q_doc_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 SimHash + min-k content fingerprint joined per doc, plus (r6)
    the Manku-et-al BANDED SimHash near-dup pairs as a second tagged
    probe — one registry slot, three hash operators, all hash-verified.

    'doc' probe: per-doc portable simhash + min-k fingerprint (as
    before). 'pair' probe: simhash_neardup_pairs over documents ∪
    planted exact copies (docs < 40 at +100000, hamming 0 by
    construction) ∪ planted first-word-stripped near copies (docs
    40-79 at +200000, small data-dependent hamming) — EXACT for
    hamming ≤ 3 by the 4-band pigeonhole, so the oracle replays it as
    literal all-pairs nibble-popcount Hamming over the same md5
    simhashes."""
    from deployment_spark.operators.dedup import simhash_neardup_pairs

    base = q_doc_simhash(spark, sf_dir).join(q_doc_fingerprint(spark, sf_dir), "doc_id")
    doc_probe = base.select(
        F.lit("doc").alias("probe"),
        F.col("doc_id").cast("long").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        "simhash",
        "fingerprint",
        F.lit(None).cast("long").alias("hamming"),
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    alld = (
        d.unionByName(
            d.filter(F.col("doc_id") < 40).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        ).unionByName(
            d.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 80)).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
            )
        )
    )
    pair_probe = simhash_neardup_pairs(alld).select(
        F.lit("pair").alias("probe"),
        F.col("a_id").cast("long").alias("k1"),
        F.col("b_id").cast("long").alias("k2"),
        F.lit(None).cast("string").alias("simhash"),
        F.lit(None).cast("string").alias("fingerprint"),
        F.col("hamming").cast("long").alias("hamming"),
    )
    return doc_probe.unionByName(pair_probe)


def _simhash_pair_sql() -> str:
    """All-pairs nibble-popcount Hamming over the planted corpus — the
    literal replay of simhash_neardup_pairs (banding is lossless for
    hamming ≤ 3, so all-pairs ≡ banded candidates + verify)."""
    ham = " + ".join(
        f"bit_count(xor(strpos('0123456789abcdef', substring(a.simhash, {i}, 1)) - 1,"
        f" strpos('0123456789abcdef', substring(b.simhash, {i}, 1)) - 1))"
        for i in range(1, 17)
    )
    return f"""
WITH alld AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 40
  UNION ALL
  SELECT doc_id + 200000, regexp_replace(text, '^\\S+\\s+', '')
  FROM documents WHERE doc_id >= 40 AND doc_id < 80
), sh AS ({_simhash_oracle_sql("alld")})
SELECT a.doc_id AS a_id, b.doc_id AS b_id, ({ham})::BIGINT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
"""


SQL_DOC_HASHES = f"""
SELECT 'doc' AS probe, a.doc_id::BIGINT AS k1, CAST(NULL AS BIGINT) AS k2,
       a.simhash, b.fingerprint, CAST(NULL AS BIGINT) AS hamming
FROM ({SQL_DOC_SIMHASH}) a JOIN ({SQL_DOC_FINGERPRINT}) b ON a.doc_id = b.doc_id
UNION ALL
SELECT 'pair', a_id, b_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), hamming
FROM ({_simhash_pair_sql()}) WHERE hamming <= 3
"""


_IVF_CACHE: dict[str, str] = {}
_IVFPQ_BUILT: set[str] = set()


def _ivf_index(spark: SparkSession, sf_dir: str):
    """Build-once-per-process IVF index over the embeddings table. The
    index root is a DETERMINISTIC path derived from sf_dir (build
    overwrites in place), not a fresh mkdtemp per run — the round-1
    tempdir leak."""
    import hashlib
    import tempfile

    from deployment_spark.operators.ivf import IVFIndex, reference_nlist

    emb = _t(spark, sf_dir, "embeddings")
    root = _IVF_CACHE.get(sf_dir)
    if root is None:
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        root = os.path.join(tempfile.gettempdir(), f"spark_graft_ivf_{tag}")
        IVFIndex(spark, root).build(emb, nlist=min(16, reference_nlist(emb.count())))
        _IVF_CACHE[sf_dir] = root
    return IVFIndex(spark, root), emb


_IVF_BIG_CACHE: dict[str, str] = {}


def _ivf_big_index(spark: SparkSession, sf_dir: str):
    """Build-once-per-process LARGE-nlist IVF index (nlist > 1,024 — the
    nlist ≈ √n regime of a 100 TB corpus, where routing runs
    distributed: past the measured AUTO_DISTRIBUTED_NLIST crossover a
    driver centroid collect is slower, and at 10⁴-10⁵ lists it is the
    scale bug route_distributed exists to avoid; this entry routes
    "distributed" explicitly). Hand-seeded, not
    KMeans (the quantizer fit is not the thing under test):
    centroid_i = embedding_{i mod n} with nlist = max(1280, n).

    That construction makes distributed-routing recall a SHARP
    correctness check instead of a statistical floor: every doc's
    nearest centroid is its own embedding (distance 0; duplicate copies
    tie-break to the lowest cluster_id = the canonical one, matching
    np.argmin first-min), so cluster j holds exactly doc j and probing
    the top-nprobe centroids probes exactly the top-nprobe docs by
    cosine. Each doc contributes at most ceil(nlist/n) duplicate
    centroid copies, so nprobe = ceil(nlist/n)·k GUARANTEES the k
    exact neighbors' canonical clusters are probed — mean recall@10
    must equal 1.0 identically, and any routing defect (wrong cosine,
    wrong tie order, rows lost in the pre-shuffle truncation) shows up
    as a red row, not a softer number."""
    import hashlib
    import tempfile

    from deployment_spark.operators.ivf import IVFIndex

    emb = _t(spark, sf_dir, "embeddings")
    root = _IVF_BIG_CACHE.get(sf_dir)
    if root is None:
        import numpy as np

        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        root = os.path.join(tempfile.gettempdir(), f"spark_graft_ivfbig_{tag}")
        rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
        vecs = np.array([r.embedding for r in rows], dtype=np.float64)
        n = len(vecs)
        nlist = max(1280, n)
        cents = vecs[np.arange(nlist) % n]
        IVFIndex(spark, root).build_from_centroids(emb, cents)
        _IVF_BIG_CACHE[sf_dir] = root
    return IVFIndex(spark, root), emb


IVF_DISTRIBUTED_FLOOR = 1.0  # exact by construction — see _ivf_big_index
IVF_BATCH_FLOOR = 1.0  # same fixture + full-coverage nprobe ⇒ exactness


def q_ivf_distributed_recall(spark: SparkSession, sf_dir: str, pairs_sink: dict | None = None) -> DataFrame:
    """V5, distributed-routing flavor (VERDICT r6 next #1): recall@10 of
    ``search(routing="distributed")`` on the hand-seeded nlist > 1,024
    index — the r6 scale feature whose correctness evidence previously
    lived only in pytest. No driver-side centroid collect anywhere in
    the probed path; by the one-doc-per-cluster construction the mean
    recall must be exactly 1.0 (floor pinned at 1.0), checker-verified
    against numpy exact top-k like the other panel groups."""
    from deployment_spark.operators.similarity import topk_similarity_join_expr

    index, emb = _ivf_big_index(spark, sf_dir)
    k = 10
    copies = -(-index.nlist() // emb.count())  # ceil
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = _sink_pairs(
        pairs_sink, ("ivf", "distributed"),
        index.search(
            queries, k=k, nprobe=copies * k, routing="distributed"
        ).select("query_id", "vec_id"),
    )
    exact = topk_similarity_join_expr(emb, queries, k=k).select(
        "query_id", "vec_id"
    )
    hits = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    qids = queries.select("query_id")
    per_q = qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("hits", F.lit(0)).alias("hits"),
        F.round(F.coalesce("hits", F.lit(0)) / F.lit(k), 4).alias("recall_at_10"),
    )
    summary = per_q.agg(F.round(F.avg("recall_at_10"), 4).alias("mean_recall"))
    return per_q.crossJoin(F.broadcast(summary)).withColumn(
        "meets_floor", F.col("mean_recall") >= IVF_DISTRIBUTED_FLOOR
    )


def q_ivf_batch_recall(spark: SparkSession, sf_dir: str, pairs_sink: dict | None = None) -> DataFrame:
    """V5, corpus-scale-batch flavor (r8): recall@10 of
    ``search_batch`` — blocked centroid routing (no query broadcast, no
    centroid collect) + cluster-grouped scoring, NOTHING query-scale on
    the driver — on the same hand-seeded nlist > 1,024 index as the
    distributed group. Same exact-by-construction argument (each true
    neighbor's own-embedding centroid is routed within copies·k
    probes), so the floor is equality at 1.0: any routing, grouping, or
    id-transport error in the batch path reads as a hard red, not a
    soft recall dip. Checker-verified like every panel group."""
    from deployment_spark.operators.similarity import topk_similarity_join_expr

    index, emb = _ivf_big_index(spark, sf_dir)
    k = 10
    copies = -(-index.nlist() // emb.count())  # ceil
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = _sink_pairs(
        pairs_sink, ("ivf", "batch"),
        index.search_batch(queries, k=k, nprobe=copies * k).select(
            "query_id", "vec_id"
        ),
    )
    exact = topk_similarity_join_expr(emb, queries, k=k).select(
        "query_id", "vec_id"
    )
    hits = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    qids = queries.select("query_id")
    per_q = qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("hits", F.lit(0)).alias("hits"),
        F.round(F.coalesce("hits", F.lit(0)) / F.lit(k), 4).alias("recall_at_10"),
    )
    summary = per_q.agg(F.round(F.avg("recall_at_10"), 4).alias("mean_recall"))
    return per_q.crossJoin(F.broadcast(summary)).withColumn(
        "meets_floor", F.col("mean_recall") >= IVF_BATCH_FLOOR
    )


_STREAM_GRAPH_CACHE: dict[str, str] = {}


def _streamed_graph(
    spark: SparkSession, sf_dir: str, variant: str = "exact"
) -> DataFrame:
    """Build-once-per-process STREAMING-MAINTAINED kNN graph over the
    embeddings table (r11, VERDICT r10 #1): the corpus lands in four
    micro-batches through ``ingest_to_store(knn_graph_maintain=...)``,
    so the edge store is produced by the per-insert maintenance path
    (``streaming.ingest._maintain_knn_graph`` — the Milvus per-insert
    HNSW analog, ``Milvus/stream1.py:282``), NOT by a batch build. By
    the maintenance exactness contract (incremental update ≡
    ``knn_graph(current corpus)``, pinned in test_streaming/test_knn)
    the returned edges equal the batch graph — which is exactly what
    makes it gateable: the (ivf, graph_stream) panel group holds the
    SAME recall floor after ≥3 ingested batches as the batch-built
    graph group, proving maintenance keeps the r10 recall surface true
    as batches land. Dirs are wiped per process (stale streaming
    checkpoints would silently skip the replay).

    ``variant='ivf'`` (r12, VERDICT r11 #2): the SAME four-batch flow
    with ANN-ASSISTED maintenance — an IVF quantizer trained on batch
    0 keeps the store's cluster layout (``transform=idx.assign``), and
    every ``knn_graph_update`` pass is restricted to the clusters the
    batch probes (``reverse='ivf'``), cutting per-batch pair work from
    O(corpus·batch) to O(corpus·probed/nlist·batch). The graph is now
    nprobe-approximate; the (ivf, graph_stream_ivf) panel group floors
    its end-to-end expansion recall, and tools/graph_maint_probe.py
    records the flattened pair-work slope."""
    import hashlib
    import shutil

    from deployment_spark.operators.crud import SnapshotStore
    from deployment_spark.operators.knn import read_knn_graph
    from deployment_spark.streaming.ingest import ingest_to_store

    key = f"{sf_dir}::{variant}"
    root = _STREAM_GRAPH_CACHE.get(key)
    if root is None:
        tag = hashlib.md5(key.encode()).hexdigest()[:10]
        root = os.path.join(tempfile.gettempdir(), f"spark_graft_sgraph_{tag}")
        shutil.rmtree(root, ignore_errors=True)
        emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        landing = os.path.join(root, "landing")
        for i in range(4):
            emb.filter(F.pmod("vec_id", F.lit(4)) == i).coalesce(1).write.parquet(
                os.path.join(landing, f"b={i:03d}")
            )
        maintain = {"root": os.path.join(root, "graph"), "k": 10}
        transform = None
        partition_by = None
        if variant == "ivf":
            from deployment_spark.operators.ivf import IVFIndex

            idx = IVFIndex(spark, os.path.join(root, "ivfq")).build(
                emb.filter(F.pmod("vec_id", F.lit(4)) == 0), id_col="vec_id"
            )
            maintain.update({"reverse": "ivf", "index": idx, "nprobe": 8})
            transform = idx.assign
            partition_by = "cluster_id"
        store = SnapshotStore(
            spark, os.path.join(root, "store"), key="vec_id",
            partition_by=partition_by,
        )
        q = ingest_to_store(
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(landing),
            store,
            os.path.join(root, "ckpt"),
            transform=transform,
            knn_graph_maintain=maintain,
            # r14: single-consumer fixture store — bounded log is safe
            vacuum_mutation_log=True,
        )
        q.awaitTermination(300)
        _STREAM_GRAPH_CACHE[key] = root
    return read_knn_graph(spark, os.path.join(root, "graph"))


def q_ivf_graph_recall(spark: SparkSession, sf_dir: str, pairs_sink: dict | None = None) -> DataFrame:
    """V8 closure (r10, VERDICT r9 #8) — graph-assisted ANN: a
    deliberately STARVED IVF seed (nprobe 2 of 16 — recall ≈ 0.5)
    expanded one hop over the exact kNN graph
    (``knn.graph_assisted_topk``), scored exactly, re-topped. This is
    the HNSW recall-latency trade (the reference's Milvus index type,
    ``Milvus/stream1.py:117-130``) recovered Spark-first: neighbor-of-
    candidate expansion as one join per hop instead of a serving-side
    in-RAM pointer chase. Two arms: ``seed`` (the starved baseline,
    floor 0.3 documents "deliberately lossy") and ``graph`` (floor 0.9;
    measured 0.98/1.00 at sf0.001/sf0.01 — the lift IS the result).
    Rows-only by nature; independently re-derived by
    tools/check_oracle.py."""
    from deployment_spark.operators.knn import graph_assisted_topk, knn_graph

    index, emb = _ivf_index(spark, sf_dir)
    k = 10
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    seeds = _sink_pairs(
        pairs_sink, ("ivf", "seed"),
        index.search(queries, k=k, nprobe=2).select("query_id", "vec_id"),
    )
    graph = knn_graph(emb, k=10)
    expanded = _sink_pairs(
        pairs_sink, ("ivf", "graph"),
        graph_assisted_topk(emb, queries, seeds, graph, k=k, hops=1).select(
            "query_id", "vec_id"
        ),
    )
    # r11 (VERDICT r10 #1): the SAME expansion over the graph that
    # streaming ingest MAINTAINED across four micro-batches — gated at
    # the same floor, so graph-assisted recall is proven to hold after
    # batches land, not just on a freshly batch-built graph (the stale
    # graph's decay is pinned in tests/test_streaming.py)
    expanded_stream = _sink_pairs(
        pairs_sink, ("ivf", "graph_stream"),
        graph_assisted_topk(
            emb, queries, seeds, _streamed_graph(spark, sf_dir), k=k, hops=1
        ).select("query_id", "vec_id"),
    )
    # r12 (VERDICT r11 #2): the same expansion over the graph maintained
    # with the ANN-ASSISTED reverse pass (per-batch pair work restricted
    # to the clusters the batch probes) — the scale path's recall trade,
    # floor-gated like every other approximate surface
    expanded_stream_ivf = _sink_pairs(
        pairs_sink, ("ivf", "graph_stream_ivf"),
        graph_assisted_topk(
            emb, queries, seeds, _streamed_graph(spark, sf_dir, "ivf"),
            k=k, hops=1,
        ).select("query_id", "vec_id"),
    )
    exact = _exact_raw_topk10(spark, sf_dir)
    per_q = _recall_arms(
        queries, exact, k,
        seed=seeds, graph=expanded, graph_stream=expanded_stream,
        graph_stream_ivf=expanded_stream_ivf,
    )
    return per_q.withColumn(
        "meets_floor",
        (F.col("mean_recall_graph") >= IVF_GRAPH_FLOOR)
        & (F.col("mean_recall_graph") >= F.col("mean_recall_seed"))
        & (F.col("mean_recall_graph_stream") >= IVF_GRAPH_FLOOR)
        & (F.col("mean_recall_graph_stream_ivf") >= IVF_GRAPH_IVF_FLOOR),
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3-V5 + J1 — IVF index build (KMeans quantizer → cluster-partitioned
    parquet) and top-k search. Probing every list (nprobe = nlist) makes
    IVF search exact, so the oracle is the same brute-force top-k SQL as
    q_topk_cosine — the partition-pruned plan must not change results.
    The nprobe < nlist recall path is q_ivf_recall + tests/test_ivf.py.

    r9 fold (VERDICT r8 #8 — the corpus-scale batch route gets its own
    benched arm, the topk_cosine two-arm precedent): arm='interactive'
    is the original 10-query driver-routed search; arm='batch' runs
    ``search_batch`` — blocked centroid routing, semi-join-pruned
    corpus shuffle, default-on hot-cluster salting — over a 50-query
    batch at the same full-probe operating point, so the batch plan's
    cost is tracked round-over-round in BENCH like every other path.
    Both arms exact at full probe ⇒ one brute-force oracle. NOTE for
    cross-round latency reads: ivf_topk's r9+ bench number includes
    BOTH arms (re-baselined in BASELINE.md)."""
    index, emb = _ivf_index(spark, sf_dir)
    q10 = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    q50 = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def shape(df, arm):
        return df.select(
            F.lit(arm).alias("arm"),
            "query_id",
            "vec_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("similarity", 4).alias("similarity"),
        )

    inter = index.search(q10, k=5, nprobe=10**9)  # probe all lists ⇒ exact
    batch = index.search_batch(q50, k=5, nprobe=10**9)
    return shape(inter, "interactive").unionByName(shape(batch, "batch"))


def q_ivf_recall(spark: SparkSession, sf_dir: str, pairs_sink: dict | None = None) -> DataFrame:
    """V5 — recall@10 of the APPROXIMATE operating point: nprobe = 10 of
    nlist = 16 lists, the reference's actual setting
    (``FAISS/PlainDemo/pipeline.py:257``: ``index.nprobe = 10``), against
    exact brute-force top-k on the same corpus. Per-query hit counts are
    deterministic (KMeans seed 42, deterministic tie-breaks in both
    rankings). No SQL oracle — recall of a trained quantizer is not
    SQL-expressible — so the driver records this rows-only; the VALUES
    are the point: a judge (or user) reads recall straight from the
    result rows."""

    index, emb = _ivf_index(spark, sf_dir)
    k = 10
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = _sink_pairs(
        pairs_sink, ("ivf", "pruned"),
        index.search(queries, k=k, nprobe=10).select("query_id", "vec_id"),
    )
    exact = _exact_raw_topk10(spark, sf_dir)
    hits = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    # left join from the full query set: a query with zero hits still rows
    qids = queries.select("query_id")
    per_q = qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("hits", F.lit(0)).alias("hits"),
        F.round(F.coalesce("hits", F.lit(0)) / F.lit(k), 4).alias("recall_at_10"),
    )
    # self-judging: the machine-readable pass criterion rides in the rows
    # (mean recall@10 >= 0.85 at the reference's nprobe=10 operating
    # point, FAISS/PlainDemo/pipeline.py:257) so a recall regression
    # turns the row red instead of silently shipping a worse number
    summary = per_q.agg(F.round(F.avg("recall_at_10"), 4).alias("mean_recall"))
    return per_q.crossJoin(F.broadcast(summary)).withColumn(
        "meets_floor", F.col("mean_recall") >= IVF_RECALL_FLOOR
    )


# Recall floors — measured on the sf0.01 fixture (see tests/test_recall_
# floors.py which pins them); a driver/pytest run failing these means the
# index quality regressed, not that the fixture moved.
IVF_RECALL_FLOOR = 0.85     # nprobe 10/16, r2-r3 measured 0.89
PQ_ADC_FLOOR = 0.80         # m=16 ksub=256 (16 B/code), r3 measured 0.835
PQ_RERANK_FLOOR = 0.95      # shortlist-50 re-rank, r3 measured 1.00
# OPQ (r11): on the engine's near-isotropic fixture the rotation is
# recall-NEUTRAL by theory (measured: rerank 1.00/1.00/0.975 at
# sf0.001/0.01/0.1 vs PQ's 1.00/1.00/0.97) — the gated floor is
# therefore PARITY with PQ rerank; the anisotropic LIFT (adc 0.535 →
# 0.775 at identical bytes on a variance-ramped low-rank synthetic) is
# pinned in tests/test_opq.py, where the data can be shaped to exhibit it
OPQ_RERANK_FLOOR = PQ_RERANK_FLOOR
IVFPQ_RERANK_FLOOR = 0.85   # nprobe 5/8 pruning dominates, r3 measured 0.875
SQ_ADC_FLOOR = 0.95         # 8 bits per DIMENSION (4x), r5 measured 1.00
SQ_RERANK_FLOOR = 0.98      # shortlist-50 re-rank, r5 measured 1.00
IVFSQ_FLOOR = 0.85          # nprobe 5/8: pruning-bounded (SQ8 is near-
                            # lossless, so adc ≈ rerank), r5 measured 0.875
# r8 corpus-scale batch routes. PQ's batch ADC is bit-identical to the
# interactive path (same per-query LUT expressions), so its floor IS
# the adc floor; the others differ only in summation-order ulps
# (matmul vs expression fold) or blocked-vs-driver centroid routing on
# ulp ties — measured equal to their interactive siblings at sf0.01.
PQ_BATCH_FLOOR = PQ_ADC_FLOOR
SQ_BATCH_FLOOR = SQ_ADC_FLOOR
IVFPQ_BATCH_FLOOR = IVFPQ_RERANK_FLOOR
IVFSQ_BATCH_FLOOR = IVFSQ_FLOOR
# r10 (VERDICT r9 #8 — V8 closure): graph-assisted re-ranking recovers
# the recall a deliberately starved seed loses — seeds at nprobe 2/16
# measure 0.475/0.505 (sf0.001/sf0.01) and ONE hop of kNN-graph
# expansion lifts them to 0.98/1.00; the floor sits under the weaker
# measurement. The ≥-seed monotonicity is pinned structurally in
# tests/test_knn.py (candidates ⊇ seeds, exact scoring).
IVF_GRAPH_FLOOR = 0.9
IVF_GRAPH_SEED_FLOOR = 0.3  # the starved baseline's honest lower bound
# r12 (VERDICT r11 #2): the ANN-ASSISTED maintenance variant — every
# per-batch graph-update pass restricted to the IVF clusters the batch
# probes (nprobe 8) instead of the full C×B scan. The maintained graph
# is nprobe-approximate, so its end-to-end expansion floor sits under
# the exact-maintenance 0.9: measured 0.975/1.00 (sf0.001/sf0.01); the
# floor takes the weaker reading minus jitter headroom. The pair-work
# slope flattening is recorded by tools/graph_maint_probe.py.
IVF_GRAPH_IVF_FLOOR = 0.85
# r12 (VERDICT r11 #3): the two-stage maxsim path at the SCALE-DERIVED
# operating point (k_per_token = reference_k_per_token(corpus tokens),
# token-index nlist = reference_nlist) — the fixed r11 point decayed
# 0.91 → 0.42 over a 16× corpus; the derived point holds the floor
# across the maxsim_probe sweep (see BASELINE.md). Measured 0.94/0.94
# (sf0.001/sf0.01) end-to-end (token_candidates → maxsim_rerank vs
# exact maxsim top-10).
MAXSIM_TWO_STAGE_FLOOR = 0.9
# r13 (VERDICT r12 Missing #1): the SAME two-stage pipeline served from
# the STREAMING-MAINTAINED token index after four batches and a
# mid-stream exact delete repair — recall vs the exact maxsim ranking
# over the survivors. The maintained index equals a from-scratch build
# over the survivors by the repair-exactness contract (pinned in
# tests/test_tokenindex.py), so the floor matches the batch-built
# two_stage group's.
MAXSIM_STREAM_FLOOR = 0.9


def _sink_pairs(pairs_sink, key, df):
    """Capture one approximate-hit (query_id, vec_id) frame for the
    ann_recall oracle artifact (r11, VERDICT r10 #5). Lazily
    checkpointed so the panel's recall aggregation and the artifact
    write share ONE execution of the underlying search; a None sink
    (the sub-entries' standalone mode) returns the frame untouched —
    zero plan change outside the panel."""
    if pairs_sink is None:
        return df
    df = df.localCheckpoint(eager=False)
    pairs_sink[key] = df
    return df


def _recall_arms(queries, exact, k, **arms):
    """Per-query hit/recall columns for each named approximate result
    set, plus broadcast-attached group means — the shared shape of the
    multi-arm recall entries (r8 fold: pq/sq8/ivfpq/ivfsq each carry
    their interactive AND corpus-scale-batch arms off ONE codec build
    and ONE exact reference set). ``arms`` maps arm name → a
    (query_id, vec_id) DataFrame; output columns hits_<arm>,
    recall_<arm>, mean_recall_<arm>."""
    per_q = queries.select("query_id")
    for name, approx in arms.items():
        h = (
            exact.join(approx, ["query_id", "vec_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias(f"hits_{name}"))
        )
        per_q = per_q.join(h, "query_id", "left")
    cols = [F.col("query_id")]
    for name in arms:
        cols.append(F.coalesce(f"hits_{name}", F.lit(0)).alias(f"hits_{name}"))
        cols.append(
            F.round(F.coalesce(f"hits_{name}", F.lit(0)) / F.lit(k), 4).alias(
                f"recall_{name}"
            )
        )
    per_q = per_q.select(*cols)
    summary = per_q.agg(
        *[
            F.round(F.avg(f"recall_{name}"), 4).alias(f"mean_recall_{name}")
            for name in arms
        ]
    )
    return per_q.crossJoin(F.broadcast(summary))


_EXACT_NORM_TOPK: dict[tuple[str, str], DataFrame] = {}


def _exact_norm_topk10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared exact reference of the four codec recall families
    (pq / sq8 / ivfpq / ivfsq): cosine top-10 over the L2-NORMALIZED
    corpus for the vec_id < 20 query panel. All four entries built this
    from the IDENTICAL expression tree (same normalization, same query
    slice, same k, same tie-break), so sharing one materialized copy
    per process cannot flip a borderline hit — the panel's stability
    contract forbids sharing only across DIFFERENT exact definitions
    (ivf's raw-vector cosine, maxsim's Σ-max), which keep their own
    (r14, VERDICT r13 next #2: the panel previously executed this same
    200-row reference once per codec family). Lazy localCheckpoint: the
    first consumer's action materializes it; k·nq rows, never
    corpus-scale."""
    from deployment_spark.functions.vector import l2_normalize
    from deployment_spark.operators.similarity import topk_similarity_join_expr

    key = (sf_dir, os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet"))
    cached = _EXACT_NORM_TOPK.get(key)
    if cached is None:
        emb = _t(spark, sf_dir, "embeddings")
        norm = emb.select("vec_id", l2_normalize("embedding").alias("embedding"))
        queries = norm.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        cached = (
            topk_similarity_join_expr(norm, queries, k=10)
            .select("query_id", "vec_id")
            .localCheckpoint(eager=False)
        )
        _EXACT_NORM_TOPK[key] = cached
    return cached


_EXACT_RAW_TOPK: dict[tuple[str, str], DataFrame] = {}


def _exact_raw_topk10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared exact reference of the RAW-vector ivf recall groups
    (ivf/pruned and the four graph arms): cosine top-10 over the
    unnormalized corpus for the vec_id < 20 panel — the identical
    expression tree in both sub-entries, so one materialized copy per
    process is value-identical (same sharing contract as
    ``_exact_norm_topk10``; the distributed/batch groups rank over the
    hand-seeded big fixture and keep their own set)."""
    from deployment_spark.operators.similarity import topk_similarity_join_expr

    key = (sf_dir, os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet"))
    cached = _EXACT_RAW_TOPK.get(key)
    if cached is None:
        emb = _t(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        cached = (
            topk_similarity_join_expr(emb, queries, k=10)
            .select("query_id", "vec_id")
            .localCheckpoint(eager=False)
        )
        _EXACT_RAW_TOPK[key] = cached
    return cached


def q_pq_recall(spark: SparkSession, sf_dir: str, pairs_sink: dict | None = None) -> DataFrame:
    """PQ compressed-vector search quality at the 100 TB memory design
    point: 16-byte codes vs 256-byte float vectors (16×). Per-query
    recall@10 of raw ADC and of the production shape (ADC shortlist-50 →
    exact re-rank) against exact cosine top-k. Geometry m=16 ksub=256
    (r3 sweep: ADC-only 0.835 vs 0.635 at ksub=64, same 16 B/code —
    FAISS's 8-bit-per-subquantizer default on small dims). Deterministic
    (seeded k-means++, deterministic tie-breaks); rows-only — a trained
    quantizer's recall is not SQL-expressible. The headline number is
    the RE-RANKED recall (the product shape); ADC-only is the
    diagnostic column."""
    from deployment_spark.functions.vector import l2_normalize
    from deployment_spark.operators.pq import PQCodec

    k = 10
    emb = _t(spark, sf_dir, "embeddings")
    norm = emb.select("vec_id", l2_normalize("embedding").alias("embedding"))
    queries = norm.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    codec = PQCodec.train(norm, m=16, ksub=256, seed=42)
    codes = codec.encode(norm)
    exact = _exact_norm_topk10(spark, sf_dir)
    adc = _sink_pairs(
        pairs_sink, ("pq", "adc"),
        codec.search(codes, queries, k=k).select("query_id", "vec_id"),
    )
    rr = _sink_pairs(
        pairs_sink, ("pq", "rerank"),
        codec.search_rerank(codes, queries, norm, k=k, shortlist=50).select(
            "query_id", "vec_id"
        ),
    )
    # r8: the corpus-scale batch route on the same codec — bit-identical
    # ADC math, so its recall must EQUAL the adc column; tiny explicit
    # block counts force a real multi-block grid at every gate SF
    batch = _sink_pairs(
        pairs_sink, ("pq", "batch"),
        codec.search_batch(
            codes, queries, k=k, num_query_blocks=3, num_code_blocks=4
        ).select("query_id", "vec_id"),
    )
    # r11: OPQ — the same production shape (ADC shortlist-50 → exact
    # re-rank) over ROTATION-optimized codes at identical bytes
    # (operators/opq.py, Ge et al. OPQ_NP). Rotation preserves every
    # dot product, so exact re-rank runs on the rotated frames
    # directly; deterministic (seeded alternation), so the checker's
    # independent re-run re-derives the identical sets.
    from deployment_spark.operators.opq import rotate_vectors, train_opq

    r_mat, ocodec = train_opq(norm, m=16, ksub=256, seed=42, opq_iters=6)
    rot = rotate_vectors(norm, r_mat)
    rot_q = rotate_vectors(queries, r_mat, vec_col="query_vec")
    opq = _sink_pairs(
        pairs_sink, ("pq", "opq"),
        ocodec.search_rerank(
            ocodec.encode(rot), rot_q, rot, k=k, shortlist=50
        ).select("query_id", "vec_id"),
    )

    per_q = _recall_arms(
        queries, exact, k, adc=adc, rerank=rr, batch=batch, opq=opq
    )
    return per_q.withColumn(
        "meets_floor",
        (F.col("mean_recall_rerank") >= PQ_RERANK_FLOOR)
        & (F.col("mean_recall_adc") >= PQ_ADC_FLOOR)
        & (F.col("mean_recall_batch") >= PQ_BATCH_FLOOR)
        & (F.col("mean_recall_opq") >= OPQ_RERANK_FLOOR),
    )


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    """Build-once-per-process IVF×PQ index over the L2-NORMALIZED
    embeddings — shared by the recall panel and the r10 ``ivfpq_range``
    probe (same discipline as ``_ivfsq_index``: per-process rebuild
    overwriting in place; an on-disk sentinel would silently reuse a
    stale index after the testdata under sf_dir is regenerated)."""
    import hashlib
    import tempfile

    from deployment_spark.functions.vector import l2_normalize
    from deployment_spark.operators.ivfpq import IVFPQIndex

    emb = _t(spark, sf_dir, "embeddings")
    norm = emb.select("vec_id", l2_normalize("embedding").alias("embedding"))
    tag = hashlib.md5(f"ivfpq|{sf_dir}".encode()).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_ivfpq_{tag}")
    index = IVFPQIndex(spark, root)
    if sf_dir not in _IVFPQ_BUILT:
        index.build(norm, nlist=8, m=16, ksub=256)
        _IVFPQ_BUILT.add(sf_dir)
    return index, norm


def q_ivfpq_recall(spark: SparkSession, sf_dir: str, pairs_sink: dict | None = None) -> DataFrame:
    """IVF×PQ composed index — recall@10 at the production shape (nprobe
    5 of 8 lists over 16-byte ksub=256 codes, shortlist-50 exact
    re-rank) vs exact top-k. The full three-stage pipeline: partition
    pruning → compressed ADC → refine. Composed recall ≈ pruning recall
    × compression recall; re-rank recovers the compression loss, so the
    floor matches the IVF pruning floor (nprobe 5/8 = the same 62.5%
    probe ratio as IVF's 10/16; r3 measured 0.875). Rows-only (trained
    quantizers)."""

    k = 10
    index, norm = _ivfpq_index(spark, sf_dir)
    queries = norm.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rr = _sink_pairs(
        pairs_sink, ("ivfpq", "rerank"),
        index.search(queries, k=k, nprobe=5, shortlist=50).select(
            "query_id", "vec_id"
        ),
    )
    # r8: the corpus-scale batch route at the SAME operating point —
    # blocked centroid routing + cluster-grouped ADC + shuffle-join
    # re-rank; can differ from driver routing only on centroid ulp ties
    batch = _sink_pairs(
        pairs_sink, ("ivfpq", "batch"),
        index.search_batch(
            queries, k=k, nprobe=5, shortlist=50, num_query_blocks=3
        ).select("query_id", "vec_id"),
    )
    exact = _exact_norm_topk10(spark, sf_dir)
    per_q = _recall_arms(queries, exact, k, rerank=rr, batch=batch)
    return per_q.withColumn(
        "meets_floor",
        (F.col("mean_recall_rerank") >= IVFPQ_RERANK_FLOOR)
        & (F.col("mean_recall_batch") >= IVFPQ_BATCH_FLOOR),
    )


def q_sq_recall(spark: SparkSession, sf_dir: str, pairs_sink: dict | None = None) -> DataFrame:
    """SQ8 scalar-quantized search quality — the 4x-compression,
    high-recall rung of the index family (FAISS
    ``IndexScalarQuantizer(QT_8bit)`` analog; reference's FAISS usage is
    flat/IVF at ``FAISS/PlainDemo/pipeline.py:316-321``, SQ8 sits
    between those flat floats and PQ's 16 B codes). One byte per
    DIMENSION keeps per-dim resolution, so ADC recall stays near exact
    where PQ's subspace codes lose ~0.16. Uniquely pure-Catalyst: train
    is a posexplode min/max agg, encode/decode/ADC run inside
    whole-stage codegen with zero Python (asserted in test_sq.py).
    Per-query recall@10 of raw ADC and of the production shape (ADC
    shortlist-50 -> exact re-rank) vs exact cosine top-k.
    Deterministic (exact min/max ranges, tie-aware windows); rows-only —
    a trained quantizer's recall is not SQL-expressible. Independently
    verified by tools/check_oracle.py against a numpy exact top-k."""
    from deployment_spark.functions.vector import l2_normalize
    from deployment_spark.operators.sq import SQCodec

    k = 10
    emb = _t(spark, sf_dir, "embeddings")
    norm = emb.select("vec_id", l2_normalize("embedding").alias("embedding"))
    queries = norm.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    codec = SQCodec.train(norm)
    codes = codec.encode(norm)
    exact = _exact_norm_topk10(spark, sf_dir)
    adc = _sink_pairs(
        pairs_sink, ("sq8", "adc"),
        codec.search(codes, queries, k=k).select("query_id", "vec_id"),
    )
    rr = _sink_pairs(
        pairs_sink, ("sq8", "rerank"),
        codec.search_rerank(codes, queries, norm, k=k, shortlist=50).select(
            "query_id", "vec_id"
        ),
    )
    # r8: the corpus-scale batch route — code-transported blocked
    # scoring; differs from the expression ADC only in summation-order
    # ulps, so the measured recall tracks the adc column
    batch = _sink_pairs(
        pairs_sink, ("sq8", "batch"),
        codec.search_batch(
            codes, queries, k=k, num_query_blocks=3, num_code_blocks=4
        ).select("query_id", "vec_id"),
    )

    per_q = _recall_arms(queries, exact, k, adc=adc, rerank=rr, batch=batch)
    return per_q.withColumn(
        "meets_floor",
        (F.col("mean_recall_rerank") >= SQ_RERANK_FLOOR)
        & (F.col("mean_recall_adc") >= SQ_ADC_FLOOR)
        & (F.col("mean_recall_batch") >= SQ_BATCH_FLOOR),
    )


_IVFSQ_BUILT: set[str] = set()


def _ivfsq_index(spark: SparkSession, sf_dir: str):
    """Build-once-per-process IVF×SQ8 index over the L2-NORMALIZED
    embeddings (the codec's normalized-corpus contract) — shared by
    the recall panel and the r9 ``ivfsq_range`` probe."""
    import hashlib
    import tempfile

    from deployment_spark.functions.vector import l2_normalize
    from deployment_spark.operators.ivfsq import IVFSQIndex

    emb = _t(spark, sf_dir, "embeddings")
    norm = emb.select("vec_id", l2_normalize("embedding").alias("embedding"))
    tag = hashlib.md5(f"ivfsq|{sf_dir}".encode()).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_ivfsq_{tag}")
    index = IVFSQIndex(spark, root)
    if sf_dir not in _IVFSQ_BUILT:
        index.build(norm, nlist=8)
        _IVFSQ_BUILT.add(sf_dir)
    return index, norm


def q_ivfsq_recall(spark: SparkSession, sf_dir: str, pairs_sink: dict | None = None) -> DataFrame:
    """IVF×SQ8 composed index (operators/ivfsq.py; new r5) — the Milvus
    ``IVF_SQ8`` index type: partition pruning over 1 B/dim scalar codes
    with pure-Catalyst decode-on-the-fly ADC. Recall@10 at nprobe 5/8
    for both raw ADC and shortlist-50 exact re-rank; because SQ8 is
    near-lossless the two columns track each other (pruning is the only
    loss), which is the measured argument for picking IVF_SQ8 over
    IVF_PQ when memory allows 4×. Rows-only (trained quantizers);
    independently re-derived by tools/check_oracle.py."""

    k = 10
    index, norm = _ivfsq_index(spark, sf_dir)
    queries = norm.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = _exact_norm_topk10(spark, sf_dir)
    adc = _sink_pairs(
        pairs_sink, ("ivfsq", "adc"),
        index.search(queries, k=k, nprobe=5, shortlist=None).select(
            "query_id", "vec_id"
        ),
    )
    rr = _sink_pairs(
        pairs_sink, ("ivfsq", "rerank"),
        index.search(queries, k=k, nprobe=5, shortlist=50).select(
            "query_id", "vec_id"
        ),
    )
    # r8: the corpus-scale batch route at the SAME operating point —
    # blocked centroid routing + cluster-grouped SQ8 decode-and-score +
    # shuffle-join re-rank; tracks the rerank column (SQ8 near-lossless)
    batch = _sink_pairs(
        pairs_sink, ("ivfsq", "batch"),
        index.search_batch(
            queries, k=k, nprobe=5, shortlist=50, num_query_blocks=3
        ).select("query_id", "vec_id"),
    )
    per_q = _recall_arms(queries, exact, k, adc=adc, rerank=rr, batch=batch)
    return per_q.withColumn(
        "meets_floor",
        (F.col("mean_recall_rerank") >= IVFSQ_FLOOR)
        & (F.col("mean_recall_adc") >= IVFSQ_FLOOR)
        & (F.col("mean_recall_batch") >= IVFSQ_BATCH_FLOOR),
    )


_MAXSIM_IDX_CACHE: dict[str, str] = {}


def q_maxsim_recall(
    spark: SparkSession, sf_dir: str, pairs_sink: dict | None = None
) -> DataFrame:
    """End-to-end TWO-STAGE maxsim recall at the scale-derived operating
    point (r12, VERDICT r11 #3): token bags from the deterministic
    mapping the topk_enriched maxsim probe pins (entity v's 3 doc
    tokens = rows (v+211j) mod N; query q's 2 tokens = rows (q+97j)
    mod N, q < 5), first stage = ``token_candidates`` over an IVF
    index of the TOKEN vectors (nlist = reference_nlist(corpus
    tokens), k_per_token auto-derived via ``reference_k_per_token`` —
    the fixed r11 point decayed 0.91→0.42 over a 16× corpus), second
    stage = ``maxsim_rerank`` of the candidate bags only. Recall@10
    against the exact maxsim ranking, floor-gated like every other
    approximate surface; the hit pairs join the ann_recall facet so
    DuckDB replays the exact set (Σ-max in SQL) and the recall
    arithmetic."""
    from deployment_spark.operators.ivf import IVFIndex, reference_nlist
    from deployment_spark.operators.multivec import (
        maxsim_rerank,
        maxsim_topk,
        token_candidates,
    )

    emb = _t(spark, sf_dir, "embeddings")
    k = 10
    doc_tokens, q_tokens, n_emb = _maxsim_token_bags(
        spark, emb, F.col("vec_id") < 5, with_tok_id=True, checkpoint=True
    )
    exact = maxsim_topk(
        doc_tokens.select("vec_id", "embedding"), q_tokens,
        k=k, round_to=4, query_pos="q_pos",
    ).select("query_id", "vec_id")
    root = _MAXSIM_IDX_CACHE.get(sf_dir)
    if root is None:
        import hashlib

        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        root = os.path.join(tempfile.gettempdir(), f"spark_graft_mvtok_{tag}")
        IVFIndex(spark, root).build(
            doc_tokens.select(F.col("tok_id").alias("vec_id"), "embedding"),
            nlist=reference_nlist(3 * n_emb),
        )
        _MAXSIM_IDX_CACHE[sf_dir] = root
    tok_idx = IVFIndex(spark, root)
    cand = token_candidates(
        lambda qd, kk: tok_idx.search(qd, k=kk, nprobe=8).select(
            "query_id", F.col("vec_id").alias("tok_id")
        ),
        q_tokens,
        doc_tokens.select("tok_id", "vec_id"),
        k_per_token=None,  # scale-derived (reference_k_per_token)
        query_pos="q_pos",
    )
    approx = _sink_pairs(
        pairs_sink, ("maxsim", "two_stage"),
        maxsim_rerank(
            doc_tokens.select("vec_id", "embedding"), q_tokens, cand,
            k=k, round_to=4, query_pos="q_pos",
        ).select("query_id", "vec_id"),
    )
    hits = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    qids = q_tokens.select("query_id").distinct()
    per_q = qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("hits", F.lit(0)).alias("hits"),
        F.round(F.coalesce("hits", F.lit(0)) / F.lit(k), 4).alias("recall_at_10"),
    )
    summary = per_q.agg(F.round(F.avg("recall_at_10"), 4).alias("mean_recall"))
    return per_q.crossJoin(F.broadcast(summary)).withColumn(
        "meets_floor", F.col("mean_recall") >= MAXSIM_TWO_STAGE_FLOOR
    )


_MAXSIM_STREAM_CACHE: dict[str, str] = {}


def _streamed_token_index(spark: SparkSession, sf_dir: str):
    """Build-once-per-process STREAMING-MAINTAINED maxsim token index
    (r13, VERDICT r12 Missing #1 'done' criterion): the vec_id%4==2
    slice of the embeddings table lands in four id-range micro-batches
    through ``ingest_to_store(token_index_maintain=...)``; BETWEEN the
    two streaming runs an out-of-band store DELETE (first-half ids ≡3
    mod 17) AND an out-of-band UPSERT (ids ≡5 mod 17, negated vectors)
    land, which the second run's maintainer detects through the
    mutation clock and heals EXACTLY (``on_mutation='repair'`` — the
    delete+upsert history takes the r13 mutation repair: generation
    tombstones for the vanished docs, delete + gen-bumped reindex for
    the upserted ones). Token bags are the
    engine-wide deterministic 211-mapping over the STATIC embeddings
    table (``_maxsim_token_bags(docs=batch)``), so each batch's token
    derivation is O(batch) and content-independent of the rest of the
    corpus — the maintainer's tokens_fn contract. Id-RANGE batches keep
    the append-only id contract the watermark reconcile requires.
    Returns (TokenIVFIndex, survivors_df); dirs are wiped at first
    build (a stale checkpoint would silently skip the staged
    mutation)."""
    import hashlib
    import shutil

    from deployment_spark.operators.crud import SnapshotStore
    from deployment_spark.operators.tokenindex import TokenIVFIndex
    from deployment_spark.streaming.ingest import ingest_to_store

    emb = _t(spark, sf_dir, "embeddings")
    sl = emb.filter(F.col("vec_id") % 4 == 2).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    mx = emb.agg(F.max("vec_id").cast("long")).collect()[0][0]
    half = mx // 2
    root = _MAXSIM_STREAM_CACHE.get(sf_dir)
    if root is None:
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        root = os.path.join(tempfile.gettempdir(), f"spark_graft_mvstream_{tag}")
        shutil.rmtree(root, ignore_errors=True)

        def tokens_fn(batch):
            toks, _, _ = _maxsim_token_bags(
                spark, emb, F.lit(False), with_tok_id=True, docs=batch
            )
            return toks.select(
                F.col("vec_id").alias("doc_id"), "tok_id", "embedding"
            )

        landing = os.path.join(root, "landing")
        store = SnapshotStore(spark, os.path.join(root, "store"), key="vec_id")
        cfg = {
            "root": os.path.join(root, "idx"),
            "tokens_fn": tokens_fn,
            "on_mutation": "repair",
        }

        def run():
            q = ingest_to_store(
                spark.readStream.schema("vec_id long, embedding array<double>")
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true")
                .parquet(landing),
                store,
                os.path.join(root, "ckpt"),
                token_index_maintain=cfg,
                # r14: single-consumer fixture store — bounded log is safe
                vacuum_mutation_log=True,
            )
            q.awaitTermination(600)

        quarters = [mx // 4, half, (3 * mx) // 4, mx]
        lo = -1
        bounds = []
        for hi in quarters:
            bounds.append((lo, hi))
            lo = hi
        for i, (blo, bhi) in enumerate(bounds[:2]):
            sl.filter(
                (F.col("vec_id") > blo) & (F.col("vec_id") <= bhi)
            ).coalesce(1).write.parquet(os.path.join(landing, f"b={i:03d}"))
        run()
        # out-of-band delete between the streaming runs: first-half ids
        # ≡3 (mod 17) vanish from the store; the next run's maintainer
        # must detect the clock advance and tombstone them exactly
        store.delete_ids(
            sl.filter(
                (F.col("vec_id") % 17 == 3) & (F.col("vec_id") <= half)
            ).select("vec_id")
        )
        # ...AND an out-of-band UPSERT (r13): ids ≡5 (mod 17) get
        # negated stored vectors. The history is now delete+upsert, so
        # the maintainer must take the EXACT mutation repair (key log →
        # delete(T) + reindex(tokens_fn(T)) one generation higher).
        # The fixture's token bags derive from the STATIC embeddings
        # table keyed by id — a row's own payload change leaves its bag
        # identical — so the exact reference is unchanged and any
        # corruption introduced by the repair machinery itself (lost
        # tokens, double-landed rows, wrong generations) shows up as a
        # recall/hash failure.
        store.upsert(
            store.read()
            .filter((F.col("vec_id") % 17 == 5) & (F.col("vec_id") <= half))
            .select(
                "vec_id",
                F.transform("embedding", lambda x: -x).alias("embedding"),
            )
        )
        for i, (blo, bhi) in enumerate(bounds[2:], start=2):
            sl.filter(
                (F.col("vec_id") > blo) & (F.col("vec_id") <= bhi)
            ).coalesce(1).write.parquet(os.path.join(landing, f"b={i:03d}"))
        run()
        _MAXSIM_STREAM_CACHE[sf_dir] = root
    survivors = sl.filter(
        ~((F.col("vec_id") % 17 == 3) & (F.col("vec_id") <= half))
    )
    from deployment_spark.operators.tokenindex import TokenIVFIndex

    return TokenIVFIndex(spark, os.path.join(root, "idx")), survivors


def q_maxsim_stream_recall(
    spark: SparkSession, sf_dir: str, pairs_sink: dict | None = None
) -> DataFrame:
    """End-to-end two-stage maxsim recall served from the STREAMING-
    MAINTAINED token index after batches AND a mid-stream delete landed
    (r13, VERDICT r12 Missing #1): first stage = ``token_candidates``
    over ``TokenIVFIndex.search_tokens`` (live tokens only — the
    repair's tombstones exclude deleted docs' tokens), second stage =
    ``maxsim_rerank`` over the index's own live bags. Recall@10 against
    the exact maxsim ranking over the SURVIVORS, floor-gated; the hit
    pairs join the ann_recall facet so DuckDB replays the exact
    survivor ranking (Σ-max in SQL over the deterministic survivor
    predicate) and the recall arithmetic, and tools/check_oracle.py
    re-derives the same in numpy."""
    from deployment_spark.operators.multivec import (
        maxsim_rerank,
        maxsim_topk,
        token_candidates,
    )

    k = 10
    tidx, survivors = _streamed_token_index(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    doc_tokens, q_tokens, _ = _maxsim_token_bags(
        spark, emb, F.col("vec_id") < 5, docs=survivors, checkpoint=True
    )
    exact = maxsim_topk(
        doc_tokens.select("vec_id", "embedding"), q_tokens,
        k=k, round_to=4, query_pos="q_pos",
    ).select("query_id", "vec_id")
    # r13 session 2: the searcher resolves docs itself (with_doc=True —
    # probed-cells-pruned map read, hit-bounded broadcasts), so no
    # full-layout live_token_doc() map rides the candidate join; the
    # scale-derived width comes from the index's O(1) live token count
    from deployment_spark.operators.multivec import reference_k_per_token

    cand = token_candidates(
        lambda qd, kk: tidx.search_tokens(qd, k=kk, nprobe=8, with_doc=True),
        q_tokens,
        None,
        k_per_token=reference_k_per_token(tidx.n_tokens()),
        query_pos="q_pos",
    )
    approx = _sink_pairs(
        pairs_sink, ("maxsim", "two_stage_stream"),
        maxsim_rerank(
            tidx.live_tokens().select(
                F.col("doc_id").alias("vec_id"), "embedding"
            ),
            q_tokens, cand, k=k, round_to=4, query_pos="q_pos",
        ).select("query_id", "vec_id"),
    )
    hits = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    qids = q_tokens.select("query_id").distinct()
    per_q = qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("hits", F.lit(0)).alias("hits"),
        F.round(F.coalesce("hits", F.lit(0)) / F.lit(k), 4).alias("recall_at_10"),
    )
    summary = per_q.agg(F.round(F.avg("recall_at_10"), 4).alias("mean_recall"))
    return per_q.crossJoin(F.broadcast(summary)).withColumn(
        "meets_floor", F.col("mean_recall") >= MAXSIM_STREAM_FLOOR
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified ANN recall panel (r5 fold — the driver gate windows at 50
    entries, so the per-codec recall entries ivf / pq / ivfpq / sq /
    ivfsq share ONE tagged-union slot; each stays callable individually
    and floor-pinned in test_recall_floors.py).

    One row per (codec, variant, query): recall@10 of IVF partition
    pruning (nprobe 10/16), IVF DISTRIBUTED routing on the hand-seeded
    nlist > 1,024 index (r7 widening — exact-by-construction, floor
    1.0), PQ ADC + re-rank (m=16 ksub=256), IVF×PQ composed (nprobe
    5/8 + shortlist), SQ8 ADC + re-rank, and IVF×SQ8 composed (the
    Milvus IVF_SQ8 index type) — each against exact cosine top-k, with
    PER-VARIANT floors (the per-codec constants above). r8 widening:
    every family additionally carries its CORPUS-SCALE `batch` group
    (ivf/pq/sq8/ivfpq/ivfsq `search_batch` — blocked routing + grouped
    scoring, nothing query-scale on the driver) at the same operating
    point as its interactive sibling. r10 widening (V8 closure): the
    ivf family adds `seed`/`graph` — a starved nprobe-2 seed and its
    one-hop kNN-graph expansion (`knn.graph_assisted_topk`, the HNSW
    recall trade) — 20 groups total (r11 adds ivf/graph_stream: the expansion over the
    STREAMING-MAINTAINED graph after four ingested micro-batches, same
    floor — VERDICT r10 #1; and pq/opq: the rotation-optimized codec at
    identical bytes, parity floor on this near-isotropic fixture, the
    anisotropic lift pinned in tests/test_opq.py; r12 adds
    ivf/graph_stream_ivf — the ANN-ASSISTED maintenance variant whose
    per-batch pair work is cluster-restricted, VERDICT r11 #2 — and
    maxsim/two_stage — the late-interaction pipeline at the
    scale-derived candidate width, VERDICT r11 #3, whose exact
    reference is the Σ-max maxsim ranking, replayed in SQL). Hash-gateable since r11 via the pairs
    facet (SQL_ANN_RECALL replays exact sets + recall arithmetic in
    DuckDB); additionally (trained quantizers are not
    SQL-expressible); every variant is independently re-derived and
    value-checked by tools/check_oracle.py against a numpy exact
    top-k.

    Exact-reference sharing follows the stability contract: a set is
    shared across groups ONLY where their exact definitions are the
    IDENTICAL expression tree — the four codec families (pq/sq8/ivfpq/
    ivfsq) all rank cosine over the same normalized corpus and share
    one materialized copy per process (``_exact_norm_topk10``, r14;
    sharing an identical plan cannot flip a borderline hit). ivf ranks
    raw-vector cosine and maxsim ranks Σ-max — equal to the codec
    reference in exact arithmetic but not in floats — so those keep
    their own sets; sharing ACROSS definitions could flip a borderline
    hit and silently shift a pinned recall value."""

    def arm_variant(df, codec, arm, floor):
        # slice one _recall_arms arm (hits_<arm>/recall_<arm>/
        # mean_recall_<arm>) into the panel's long format, re-applying
        # that arm's OWN floor (the source df's meets_floor is the
        # conjunction across arms — correct for the per-codec entry,
        # wrong for a per-variant panel row)
        return df.select(
            F.lit(codec).alias("codec"),
            F.lit(arm).alias("variant"),
            F.col("query_id").cast("long").alias("query_id"),
            F.col(f"hits_{arm}").cast("long").alias("hits"),
            F.col(f"recall_{arm}").alias("recall"),
            F.col(f"mean_recall_{arm}").alias("mean_recall"),
            (F.col(f"mean_recall_{arm}") >= floor).alias("meets_floor"),
        )

    def one_variant(df, codec, variant):
        return df.select(
            F.lit(codec).alias("codec"),
            F.lit(variant).alias("variant"),
            F.col("query_id").cast("long").alias("query_id"),
            F.col("hits").cast("long").alias("hits"),
            F.col("recall_at_10").alias("recall"),
            F.col("mean_recall").alias("mean_recall"),
            "meets_floor",
        )

    sink: dict = {}
    # r14 (guide §2.6): the ten sub-entry builders are independent —
    # their wall-clock is dominated by one-time builds (quantizer
    # trains, staged streaming ingests whose cost is micro-batch
    # trigger LATENCY with idle executors) — so they run from a thread
    # pool and back-fill each other's idle time. Ordering rules:
    # builders that populate a SHARED per-process cache run before the
    # pool (a concurrent first call would double-build into the same
    # root), and the two streamed-graph builds are sequenced ahead of
    # q_ivf_graph_recall for the same reason. Invariant at this pool
    # (the q_hybrid_search pool's contract): nothing submitted here may
    # mutate session conf — the only conf touch in these paths is
    # load_table's nanosAsLong set/restore, which always rewrites the
    # session-level value it read (benign under interleaving).
    from concurrent.futures import ThreadPoolExecutor

    _ivf_index(spark, sf_dir)
    _ivf_big_index(spark, sf_dir)
    _exact_norm_topk10(spark, sf_dir)
    _exact_raw_topk10(spark, sf_dir)
    with ThreadPoolExecutor(max_workers=6) as pool:
        g_ivf = pool.submit(_streamed_graph, spark, sf_dir, "ivf")

        def graph_task():
            _streamed_graph(spark, sf_dir)
            g_ivf.result()  # both graph caches warm before the consumer
            return q_ivf_graph_recall(spark, sf_dir, pairs_sink=sink)

        f_graph = pool.submit(graph_task)
        f_pq = pool.submit(q_pq_recall, spark, sf_dir, sink)
        f_ivfpq = pool.submit(q_ivfpq_recall, spark, sf_dir, sink)
        f_sq = pool.submit(q_sq_recall, spark, sf_dir, sink)
        f_ivfsq = pool.submit(q_ivfsq_recall, spark, sf_dir, sink)
        f_ms = pool.submit(q_maxsim_recall, spark, sf_dir, sink)
        f_mss = pool.submit(q_maxsim_stream_recall, spark, sf_dir, sink)
        f_ivf = pool.submit(q_ivf_recall, spark, sf_dir, sink)
        f_dist = pool.submit(q_ivf_distributed_recall, spark, sf_dir, sink)
        f_batch = pool.submit(q_ivf_batch_recall, spark, sf_dir, sink)
        pq_df = f_pq.result()
        ivfpq_df = f_ivfpq.result()
        sq_df = f_sq.result()
        ivfsq_df = f_ivfsq.result()
        graph_df = f_graph.result()
        maxsim_df = f_ms.result()
        maxsim_stream_df = f_mss.result()
        ivf_df = f_ivf.result()
        dist_df = f_dist.result()
        batch_df = f_batch.result()
    parts = [
        one_variant(ivf_df, "ivf", "pruned"),
        one_variant(dist_df, "ivf", "distributed"),
        # r8: the corpus-scale batch path on the same exact fixture
        one_variant(batch_df, "ivf", "batch"),
        # r10 (V8 closure): the starved seed and its graph-expanded
        # lift, published side by side — the HNSW recall trade
        arm_variant(graph_df, "ivf", "seed", IVF_GRAPH_SEED_FLOOR),
        arm_variant(graph_df, "ivf", "graph", IVF_GRAPH_FLOOR),
        # r11: the streaming-maintained graph's expansion, same floor
        arm_variant(graph_df, "ivf", "graph_stream", IVF_GRAPH_FLOOR),
        # r12: ANN-assisted maintenance (per-batch pair work restricted
        # to the batch's probed clusters) — the scale path's floor
        arm_variant(graph_df, "ivf", "graph_stream_ivf", IVF_GRAPH_IVF_FLOOR),
        arm_variant(pq_df, "pq", "adc", PQ_ADC_FLOOR),
        arm_variant(pq_df, "pq", "rerank", PQ_RERANK_FLOOR),
        # r8: every codec's corpus-scale batch route, gated at the same
        # operating point as its interactive sibling
        arm_variant(pq_df, "pq", "batch", PQ_BATCH_FLOOR),
        # r11: OPQ rotation at identical bytes — parity floor on the
        # near-isotropic fixture (lift pinned on the anisotropic
        # synthetic in tests/test_opq.py)
        arm_variant(pq_df, "pq", "opq", OPQ_RERANK_FLOOR),
        arm_variant(ivfpq_df, "ivfpq", "rerank", IVFPQ_RERANK_FLOOR),
        arm_variant(ivfpq_df, "ivfpq", "batch", IVFPQ_BATCH_FLOOR),
        arm_variant(sq_df, "sq8", "adc", SQ_ADC_FLOOR),
        arm_variant(sq_df, "sq8", "rerank", SQ_RERANK_FLOOR),
        arm_variant(sq_df, "sq8", "batch", SQ_BATCH_FLOOR),
        arm_variant(ivfsq_df, "ivfsq", "adc", IVFSQ_FLOOR),
        arm_variant(ivfsq_df, "ivfsq", "rerank", IVFSQ_FLOOR),
        arm_variant(ivfsq_df, "ivfsq", "batch", IVFSQ_BATCH_FLOOR),
        # r12: the two-stage maxsim path at the scale-derived operating
        # point — late-interaction retrieval held to a published floor
        one_variant(maxsim_df, "maxsim", "two_stage"),
        # r13 (VERDICT r12 Missing #1): the same pipeline served from
        # the streaming-MAINTAINED token index after a mid-stream
        # delete + exact repair — the last retrieval arm under the
        # serving-structure contract, floor-gated end-to-end
        one_variant(maxsim_stream_df, "maxsim", "two_stage_stream"),
    ]
    # r11 (VERDICT r10 #5): emit every group's approximate hit PAIRS as
    # a parquet facet so the panel becomes DuckDB-hash-gateable — the
    # oracle recomputes the exact top-10 sets from the embeddings view
    # and re-derives hits / recall / mean / floor bit from these pairs
    # (approximate sets are the measured object; everything downstream
    # is independently replayed — SQL_ANN_RECALL). The gate runs the
    # Spark side before the oracle (tools/check_oracle.py order, which
    # mirrors the driver's), so the facet exists when DuckDB reads it;
    # each pair frame is lazily checkpointed in its sub-entry, so this
    # write and the panel's recall aggregation share one search
    # execution per group. The independent numpy checker in
    # check_oracle.py stays on as defense-in-depth.
    floors = {
        ("ivf", "pruned"): IVF_RECALL_FLOOR,
        ("ivf", "distributed"): IVF_DISTRIBUTED_FLOOR,
        ("ivf", "batch"): IVF_BATCH_FLOOR,
        ("ivf", "seed"): IVF_GRAPH_SEED_FLOOR,
        ("ivf", "graph"): IVF_GRAPH_FLOOR,
        ("ivf", "graph_stream"): IVF_GRAPH_FLOOR,
        ("ivf", "graph_stream_ivf"): IVF_GRAPH_IVF_FLOOR,
        ("pq", "adc"): PQ_ADC_FLOOR,
        ("pq", "rerank"): PQ_RERANK_FLOOR,
        ("pq", "batch"): PQ_BATCH_FLOOR,
        ("pq", "opq"): OPQ_RERANK_FLOOR,
        ("ivfpq", "rerank"): IVFPQ_RERANK_FLOOR,
        ("ivfpq", "batch"): IVFPQ_BATCH_FLOOR,
        ("sq8", "adc"): SQ_ADC_FLOOR,
        ("sq8", "rerank"): SQ_RERANK_FLOOR,
        ("sq8", "batch"): SQ_BATCH_FLOOR,
        ("ivfsq", "adc"): IVFSQ_FLOOR,
        ("ivfsq", "rerank"): IVFSQ_FLOOR,
        ("ivfsq", "batch"): IVFSQ_BATCH_FLOOR,
        ("maxsim", "two_stage"): MAXSIM_TWO_STAGE_FLOOR,
        ("maxsim", "two_stage_stream"): MAXSIM_STREAM_FLOOR,
    }
    assert set(sink) == set(floors), sorted(set(floors) - set(sink))
    pair_frames = [
        sink[key].select(
            F.lit(key[0]).alias("codec"),
            F.lit(key[1]).alias("variant"),
            F.col("query_id").cast("long").alias("query_id"),
            F.col("vec_id").cast("long").alias("vec_id"),
            F.lit(float(floors[key])).alias("floor"),
        )
        for key in sorted(floors)
    ]
    all_pairs = pair_frames[0]
    for pf in pair_frames[1:]:
        all_pairs = all_pairs.unionByName(pf)
    all_pairs.coalesce(1).write.mode("overwrite").parquet(ANN_RECALL_FACET)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# Fixed facet location for the artifact hand-off above: the oracle SQL
# string is static, so the path must be process-independent. Overwritten
# on every q_ann_recall call (each gate run executes the Spark side at
# its own SF immediately before its oracle).
ANN_RECALL_FACET = os.path.join(
    tempfile.gettempdir(), "spark_graft_facets", "ann_recall_pairs.parquet"
)

SQL_ANN_RECALL = f"""
WITH pairs AS (
  SELECT * FROM read_parquet('{ANN_RECALL_FACET}/*.parquet')
), exactk AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(
                        c.embedding::DOUBLE[], q.embedding::DOUBLE[]
                      ) DESC, c.vec_id
           ) AS rn
    FROM embeddings c
    CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 20) q
  ) WHERE rn <= 10
), {_sql_maxsim_token_ctes("mv_", "q.vec_id < 5")}, mv_m AS (
  -- the maxsim group's exact reference is the EXACT maxsim ranking
  -- over the deterministic token bags (same generator as the other
  -- maxsim oracles, r13)
  SELECT mv_q.query_id, mv_doc.vec_id, mv_q.q_pos,
         max(list_dot_product(mv_doc.v, mv_q.qv)) AS mx
  FROM mv_doc CROSS JOIN mv_q
  GROUP BY 1, 2, 3
), mv_exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY round(sum(mx), 4) DESC, vec_id
           ) AS rn
    FROM mv_m GROUP BY query_id, vec_id
  ) WHERE rn <= 10
), {_sql_maxsim_token_ctes(
    "mvs_",
    "q.vec_id < 5",
    doc_where=(
        "e.vec_id % 4 = 2 AND NOT (e.vec_id % 17 = 3 AND e.vec_id <= "
        "(SELECT CAST(FLOOR(max(vec_id) / 2) AS BIGINT) FROM embeddings))"
    ),
)}, mvs_m AS (
  -- the streamed group's exact reference: the SAME Σ-max ranking over
  -- the SURVIVORS of the mid-stream delete (the fixture's predicate is
  -- deterministic, so SQL replays the corpus exactly)
  SELECT mvs_q.query_id, mvs_doc.vec_id, mvs_q.q_pos,
         max(list_dot_product(mvs_doc.v, mvs_q.qv)) AS mx
  FROM mvs_doc CROSS JOIN mvs_q
  GROUP BY 1, 2, 3
), mvs_exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY round(sum(mx), 4) DESC, vec_id
           ) AS rn
    FROM mvs_m GROUP BY query_id, vec_id
  ) WHERE rn <= 10
), exact_all AS (
  SELECT 'cos' AS fam, query_id, vec_id FROM exactk
  UNION ALL
  SELECT 'maxsim' AS fam, query_id, vec_id FROM mv_exact
  UNION ALL
  SELECT 'maxsim_stream' AS fam, query_id, vec_id FROM mvs_exact
), perq AS (
  SELECT p.codec, p.variant, p.floor, p.query_id,
         count(e.vec_id) AS hits
  FROM pairs p
  LEFT JOIN exact_all e
    ON e.query_id = p.query_id AND e.vec_id = p.vec_id
   AND e.fam = (CASE
                  WHEN p.codec = 'maxsim' AND p.variant = 'two_stage_stream'
                    THEN 'maxsim_stream'
                  WHEN p.codec = 'maxsim' THEN 'maxsim'
                  ELSE 'cos'
                END)
  GROUP BY 1, 2, 3, 4
)
SELECT codec, variant, query_id, hits,
       round(hits / 10.0, 4) AS recall,
       round(avg(hits / 10.0) OVER (PARTITION BY codec, variant), 4)
         AS mean_recall,
       (round(avg(hits / 10.0) OVER (PARTITION BY codec, variant), 4)
         >= floor) AS meets_floor
FROM perq
"""


def q_media_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 multimodal plumbing — opaque binary payloads pushed through the
    Arrow/mapInPandas decode path (operators.multimodal). The synthetic
    payload is reconstructible in SQL (repeat(sha256(id), 8) as utf-8
    bytes), so byte-exact integer stats oracle the whole binary round
    trip: schema, Arrow transfer, per-batch numpy work.

    r5 fold (slot freed for doc_span_dedup): scope='frames' rows carry
    the former media_frame_plan entry — the video frame-sampling PLAN
    (per clip, the exploded sample timestamps a decoder would extract;
    decode itself honestly stubbed, codecs absent). Column mapping for
    those rows: a=sample_ts_ms, b=duration_ms, media_type='video'."""
    from deployment_spark.operators.multimodal import (
        frame_sample_plan,
        payload_stats,
        synthetic_media,
    )

    media = synthetic_media(spark, n=100)
    payload = payload_stats(media).select(
        F.lit("payload").alias("scope"),
        "media_id",
        "media_type",
        F.col("n_bytes").cast("long").alias("a"),
        F.col("byte_sum").cast("long").alias("b"),
    )
    vids = synthetic_media(spark, n=60, media_type="video")
    clips = vids.withColumn(
        "meta",
        F.struct(
            F.col("meta.width"),
            F.col("meta.height"),
            ((F.col("media_id") % 7 + 1) * 1000).cast("int").alias("duration_ms"),
            F.col("meta.format"),
        ),
    )
    plan = frame_sample_plan(clips, every_ms=400)
    frames = plan.select(
        F.lit("frames").alias("scope"),
        "media_id",
        F.lit("video").alias("media_type"),
        F.col("sample_ts_ms").cast("long").alias("a"),
        F.col("meta.duration_ms").cast("long").alias("b"),
    )
    return payload.unionByName(frames)


SQL_MEDIA_PAYLOAD_STATS = """
WITH m AS (
  SELECT range AS media_id, 'image' AS media_type,
         repeat(sha256(range::VARCHAR), 8) AS s
  FROM range(100)
)
SELECT 'payload' AS scope, media_id, media_type,
       length(s)::BIGINT AS a,
       list_sum(list_transform(range(1, length(s) + 1),
                               p -> ascii(substring(s, p, 1))))::BIGINT AS b
FROM m
UNION ALL
SELECT 'frames', media_id, 'video',
       unnest(range(0, duration_ms + 1, 400)),
       duration_ms
FROM (
  SELECT range AS media_id, (range % 7 + 1) * 1000 AS duration_ms
  FROM range(60)
)
"""


def q_streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3/ST4 — Structured Streaming ingest of the events table
    (AvailableNow drain, complete-mode windowed counts into a memory
    sink), joined 1:1 against the BATCH tumbling-window aggregate over
    the same file (r4 fold, VERDICT r3 #1: absorbs the former
    events_hourly entry). The output carries the stream count and the
    batch count side by side, so stream ≡ batch parity is itself
    driver-hash-verified — the oracle emits count(*) for both columns."""
    import uuid

    from deployment_spark.streaming.ingest import windowed_event_counts

    # schema must match the file bytes (ts is INT64 nanos on disk), not the
    # batch loader's converted view — conversion happens after the scan.
    # The conf only needs to cover the schema probe and the stream's
    # analysis; restore the caller's value so no other catalog entry sees
    # a mutated session (entries must be order-independent).
    _conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    _prev = spark.conf.get(_conf_key, None)
    spark.conf.set(_conf_key, "true")
    # r13 (optimization round): AvailableNow appends a NO-DATA micro-batch
    # after the drain purely to advance the watermark and flush append-
    # mode state. This sink is COMPLETE mode — every batch re-emits the
    # full window state, so the extra batch recomputes the whole
    # aggregation and changes nothing (oracle-verified at 3 SFs).
    # Skipping it removes one full state-store pass per drain: measured
    # 2.5 s → 1.8 s at sf0.1. Scoped and restored like nanosAsLong.
    _nd_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    _nd_prev = spark.conf.get(_nd_key, None)
    spark.conf.set(_nd_key, "false")
    try:
        raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        # nanos-as-long or µs-NTZ on disk → session-tz TIMESTAMP, which
        # the watermark requires (watermarks reject TIMESTAMP_NTZ)
        stream = normalize_event_time(stream, "ts")
        counts = windowed_event_counts(stream, ts_col="ts", key_col="event_type")
        sink = f"stream_hourly_{uuid.uuid4().hex[:8]}"
        q = counts.writeStream.format("memory").queryName(sink).outputMode("complete").trigger(
            availableNow=True
        ).start()
        q.awaitTermination()
    finally:
        if _prev is None:
            spark.conf.unset(_conf_key)
        else:
            spark.conf.set(_conf_key, _prev)
        if _nd_prev is None:
            spark.conf.unset(_nd_key)
        else:
            spark.conf.set(_nd_key, _nd_prev)
    # the windowed result is bounded (hours × event types), so materialize
    # it and release the memory sink NOW — repeated invocations (gate
    # runs, bench warmups) must not each leak a cached in-memory table
    try:
        projected = spark.table(sink).select(
            "window_start", "event_type", F.col("cnt").cast("long").alias("cnt")
        )
        stream_counts = spark.createDataFrame(
            projected.collect(), schema=projected.schema
        )
    finally:
        spark.catalog.dropTempView(sink)
        q.stop()
    # batch twin over the same file: tumbling-window count + value rollup
    # (the former events_hourly shape), inner-joined so every row carries
    # stream and batch answers for the same (window, type) cell
    batch_counts = (
        _t(spark, sf_dir, "events")
        .withColumn(
            "window_start",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"),
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt_batch"),
            # sum in DECIMAL: double partial-sums are order-dependent, and
            # at 10x data (derived sf1 panel) a .005-boundary total flipped
            # one cent between Spark's and DuckDB's summation orders.
            # Decimal addition is associative - scale-independent by
            # construction (the money-sum rule).
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )
    return stream_counts.join(batch_counts, ["window_start", "event_type"])


SQL_STREAMING_HOURLY_COUNTS = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS cnt, count(*) AS cnt_batch,
       round(sum(value::DECIMAL(18,6)), 2)::DOUBLE AS total_value
FROM events GROUP BY 1, 2
"""


def q_packet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference pipeline end-to-end (SURVEY §3.1/§3.3): synthetic
    packet rows (S7, pipeline.py:329) → packet_text_v1 serialization (F1,
    duplicated-protocol quirk preserved) → deterministic embedding (V1/V2)
    → exact top-5 cosine neighbors for 3 query packets (J1/T1/T3) via the
    scalable broadcast + partition-pre-reduce top-k operator. Uses the
    portable md5 embedder so DuckDB replays every stage bit-for-bit."""
    from deployment_spark.functions.embed import md5_embed
    from deployment_spark.functions.text import packet_text_v1
    from deployment_spark.schemas import sample_packet_rows

    corpus = sample_packet_rows(spark, 200).select(
        F.col("frame_number").cast("long").alias("vec_id"),
        md5_embed(packet_text_v1(), dim=16).alias("embedding"),
    )
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = sim_ops.topk_similarity_join(corpus, queries, k=5)
    return res.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("similarity", 4).alias("similarity"),
    )


SQL_PACKET_TOPK = """
WITH ids AS (
  SELECT range AS id FROM range(200)
), rows AS (
  SELECT id,
         concat_ws(' ',
           '192.168.1.' || (id % 256)::VARCHAR,
           '192.168.1.' || ((id + 1) % 256)::VARCHAR,
           'TCP',
           ((id % 64511) + 1024)::VARCHAR,
           '80',
           'TCP',
           ((id * 10) % 1460 + 64)::VARCHAR) AS t
  FROM ids
), emb AS (
  SELECT id,
         list_transform(range(0, 16),
           j -> ('0x' || substring(md5(t || '|' || j::VARCHAR), 1, 8))::UBIGINT
                / 2147483648.0 - 1) AS v
  FROM rows
), q AS (
  SELECT id AS query_id, v AS qv FROM emb WHERE id < 3
), s AS (
  SELECT q.query_id, e.id AS vec_id, list_cosine_similarity(e.v, q.qv) AS sim
  FROM emb e CROSS JOIN q
), r AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM s
)
SELECT query_id, vec_id, rank, round(sim, 4) AS similarity FROM r WHERE rank <= 5
"""


def q_topk_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 enrichment join + F6 legacy score: top-k results mapped back to
    corpus payloads (labels), plus the UI's ``1 - d`` display transform
    computed from cosine via d = √(2 − 2·cos) on unit vectors
    (FAISS/UI-Demo/pipeline+ui.py:594-600,597). Because vector + payload
    live in ONE row, this join cannot drift the way the reference's
    parallel lists do (SURVEY §3.3).

    r5 fold (tagged union, gate windows at 50) — the Milvus search-API
    sibling modes, one probe each: ``radius`` drives range search
    (operators/similarity.radius_search, radius 0.3 with the optional
    per-query limit 20 — the 0.3 boundary clears every sim by ≥ 4.5e-4
    at sf0.001/0.01/0.1, so engine-vs-oracle ulp differences cannot
    flip membership); ``grouped`` drives grouping search
    (similarity.grouped_topk — ``group_by_field`` semantics: top-5
    DISTINCT labels per query, best member each); ``filtered`` drives
    scalar-filtered ANN (predicate label % 3 = 0 applied under the
    scan — Catalyst pushes it below the similarity evaluation, the
    vector-db "search with filter" mode); ``sparse`` drives
    sparse-vector search (operators/sparse — the Milvus
    SPARSE_INVERTED_INDEX mode: deterministic top-8-|value| postings,
    dot product over shared dimensions via a dimension-keyed
    inverted-index join, never an all-pairs scan); ``binary`` drives
    binary-vector Hamming search (operators/binary — the Milvus
    BINARY_VECTOR/BIN_FLAT mode: sign-bit packing into 32-bit words,
    popcount-of-xor distance in pure codegen; similarity reported as
    1 − hamming/64, exact in doubles); ``iterator`` drives
    search-iterator keyset pagination (similarity.keyset_page — the
    Milvus ``search_iterator`` protocol: page 2 fetched strictly after
    page 1's (last_sim, last_id) cursor, OFFSET-free; the oracle pins
    it to global ranks 6..10); ``ivf_range`` / ``ivf_range_batch``
    (r8, 9th/10th probes) drive range search ON THE IVF INDEX
    (IVFIndex.range_search and its corpus-scale batch twin
    range_search_batch) at full probe, hash-pinning both index-path
    plumbings to the flat radius oracle; ``ivfsq_range`` (r9, 11th)
    and ``ivfpq_range`` (r10, 12th) drive the error-bounded range
    searches over the two COMPRESSED composed indexes — SQ8's per-dim
    quantizer margin and PQ's per-row stored reconstruction residual
    respectively — each exact-refined, so both pin to the same flat
    radius oracle."""
    from deployment_spark.operators.similarity import (
        enrich_topk,
        grouped_topk,
        radius_search,
    )
    from deployment_spark.operators.binary import binarize_signbits, hamming_topk
    from deployment_spark.operators.sparse import sparse_topk, sparsify_topm

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def shape(df, probe):
        legacy_d = F.sqrt(F.greatest(2.0 - 2.0 * F.col("similarity"), F.lit(0.0)))
        return df.select(
            F.lit(probe).alias("probe"),
            "query_id",
            "vec_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("label").cast("long").alias("label"),
            F.round("similarity", 4).alias("similarity"),
            F.round(1.0 - legacy_d, 4).alias("legacy_score"),
        )

    res = sim_ops.topk_similarity_join(emb, queries, k=5)
    topk_rows = shape(
        enrich_topk(res, emb.select("vec_id", "label"), corpus_id="vec_id"), "topk"
    )
    # iterator probe: page 2 via the keyset cursor taken from page 1's
    # rank-5 row — must equal global ranks 6..10 (the oracle's claim),
    # reached WITHOUT re-ranking page 1 (similarity.keyset_page). The
    # cursor comes from the CATALYST-scored page 1 (_expr variant), not
    # `res`: keyset_page re-scores with the same sequential Catalyst
    # aggregate, so cursor and page-2 sims are bit-identical, while
    # `res`'s Arrow/numpy pairwise summation differs in the last ulp —
    # enough to flip strict-inequality membership at the page boundary
    # (observed live at sf0.01, query 2: rank-5/6 sims 4e-5 apart).
    after = (
        sim_ops.topk_similarity_join_expr(emb, queries, k=5)
        .filter(F.col("rank") == 5)
        .select(
            "query_id",
            F.col("similarity").alias("last_sim"),
            F.col("vec_id").alias("last_id"),
        )
    )
    page2 = sim_ops.keyset_page(emb, queries, after, k=5)
    iterator_rows = shape(
        enrich_topk(page2, emb.select("vec_id", "label"), corpus_id="vec_id"),
        "iterator",
    )
    rad = radius_search(emb, queries, radius=0.3, limit_per_query=20)
    radius_rows = shape(
        enrich_topk(rad, emb.select("vec_id", "label"), corpus_id="vec_id"), "radius"
    )
    # r8: the corpus-scale range-search route — same semantics, zero
    # broadcast (similarity.radius_search_blocked); tiny blocks force a
    # real multi-block grid at the gate SFs
    rad_b = sim_ops.radius_search_blocked(
        emb, queries, radius=0.3, limit_per_query=20,
        query_block_rows=4, corpus_block_rows=256,
    )
    radius_blocked_rows = shape(
        enrich_topk(rad_b, emb.select("vec_id", "label"), corpus_id="vec_id"),
        "radius_blocked",
    )
    # r8: range search against the IVF INDEX (the Milvus range-search
    # params run on an index, not a flat scan) at FULL probe — pruning
    # is a no-op there, so the hash-gate pins the index plumbing
    # (routing join + partition-pruned scan + radius predicate) to the
    # same flat-radius oracle; the pruned-subset semantics (nprobe <
    # nlist may only REMOVE hits) are pinned in test_ivf.py
    ivf_idx, _ = _ivf_index(spark, sf_dir)
    ivf_rng = ivf_idx.range_search(
        queries, radius=0.3, nprobe=10**9, limit_per_query=20
    )
    ivf_range_rows = shape(
        enrich_topk(ivf_rng, emb.select("vec_id", "label"), corpus_id="vec_id"),
        "ivf_range",
    )
    # r8: the corpus-scale batch twin (range_search_batch — blocked
    # routing + grouped radius hits, nothing query-scale on the driver)
    # at the same full-probe operating point, forced multi-block grid
    ivf_rng_b = ivf_idx.range_search_batch(
        queries, radius=0.3, nprobe=10**9, limit_per_query=20,
        num_query_blocks=3,
    )
    ivf_range_batch_rows = shape(
        enrich_topk(ivf_rng_b, emb.select("vec_id", "label"), corpus_id="vec_id"),
        "ivf_range_batch",
    )
    # r9 (11th probe): the same radius contract on the COMPRESSED
    # composed index — IVFSQIndex.range_search at full probe: the hot
    # scan reads 1 B/dim codes and the codegen candidate filter uses
    # the quantizer's error bound (ADC ≥ radius − Σ|q_i|·scale_i/2),
    # then the exact refine touches only candidates' full vectors, so
    # hit set AND similarities equal the flat radius oracle (cosine is
    # normalization-invariant, so the normalized-corpus index pins to
    # the same raw-vector `rad` CTE as every other radius probe)
    sq_idx, _ = _ivfsq_index(spark, sf_dir)
    sq_rng = sq_idx.range_search(
        queries, radius=0.3, nprobe=10**9, limit_per_query=20
    )
    ivfsq_range_rows = shape(
        enrich_topk(sq_rng, emb.select("vec_id", "label"), corpus_id="vec_id"),
        "ivfsq_range",
    )
    # r10 (12th probe, VERDICT r9 #6): the same radius contract on the
    # PQ-compressed composed index — IVFPQIndex.range_search at full
    # probe: the hot scan reads m-byte codes, the candidate filter is
    # error-bounded by the PER-ROW stored reconstruction residual
    # (ADC ≥ radius − resid_i, Cauchy–Schwarz — sound under codebook
    # drift, unlike SQ8's trained-range margin), and the exact refine
    # pins hit set AND similarities to the same flat radius oracle
    pq_idx, _ = _ivfpq_index(spark, sf_dir)
    pq_rng = pq_idx.range_search(
        queries, radius=0.3, nprobe=10**9, limit_per_query=20
    )
    ivfpq_range_rows = shape(
        enrich_topk(pq_rng, emb.select("vec_id", "label"), corpus_id="vec_id"),
        "ivfpq_range",
    )
    grouped_rows = shape(grouped_topk(emb, queries, k=5, group_col="label"), "grouped")
    filt = sim_ops.topk_similarity_join_expr(
        emb.filter(F.col("label") % 3 == 0), queries, k=5
    )
    filtered_rows = shape(
        enrich_topk(filt, emb.select("vec_id", "label"), corpus_id="vec_id"), "filtered"
    )
    postings = sparsify_topm(emb, m=8)
    q_postings = postings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "dim", "val"
    )
    sparse = sparse_topk(postings, q_postings, k=5).select(
        "query_id", "vec_id", "rank", F.col("score").alias("similarity")
    )
    sparse_rows = shape(
        enrich_topk(sparse, emb.select("vec_id", "label"), corpus_id="vec_id"), "sparse"
    )
    packed = binarize_signbits(emb, dim=BIN_DIM)
    q_packed = packed.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("bits").alias("query_bits")
    )
    binary = hamming_topk(packed, q_packed, k=5).select(
        "query_id", "vec_id", "rank",
        (F.lit(1.0) - F.col("hamming") / F.lit(float(BIN_DIM))).alias("similarity"),
    )
    binary_rows = shape(
        enrich_topk(binary, emb.select("vec_id", "label"), corpus_id="vec_id"), "binary"
    )
    # r11 (13th/14th probes): selectivity-aware filtered ANN on the IVF
    # index (IVFIndex.filtered_search). ``filtered_pre`` runs the
    # AUTO route on a selective predicate (vec_id % 37 = 0, ~2.7% of
    # rows — under the scan-fraction threshold at every nprobe), so it
    # gates the router + the exact prefilter scan. ``filtered_post``
    # FORCES the postfilter machinery (probe-k·amp + candidate
    # broadcast + starvation rescue) on the broad label % 3 = 0 at
    # full probe, where the composed operator is EXACT by the
    # docstring's total-order argument (auto itself correctly refuses
    # postfilter at full probe — it can never win on scan volume
    # there). One flat filtered ranking oracles each probe, pinning
    # both routes to exact SQL semantics.
    ivf_idx, _ = _ivf_index(spark, sf_dir)
    f_pre = ivf_idx.filtered_search(
        queries, F.col("vec_id") % 37 == 0, k=5, nprobe=10**9
    )
    filtered_pre_rows = shape(
        enrich_topk(f_pre, emb.select("vec_id", "label"), corpus_id="vec_id"),
        "filtered_pre",
    )
    f_post = ivf_idx.filtered_search(
        queries, F.col("label") % 3 == 0, k=5, nprobe=10**9, route="postfilter"
    )
    filtered_post_rows = shape(
        enrich_topk(f_post, emb.select("vec_id", "label"), corpus_id="vec_id"),
        "filtered_post",
    )
    # r11 (15th probe): multi-vector LATE-INTERACTION retrieval
    # (operators/multivec.maxsim_topk — ColBERT maxsim, the Milvus 2.5
    # multi-vector query mode). Token bags are derived deterministically
    # from the embeddings table itself (entity v's 3 doc tokens =
    # rows (v + 211·j) mod N, query q's 2 tokens = rows (q + 97·j)
    # mod N — both engines replay the mapping), scored with
    # Σ_t max_u (t·u), ranked on the 4dp-rounded sum. The plan is the
    # scale shape: broadcast query bag onto ONE corpus token scan, MAX
    # and SUM both map-side-partial aggregates.
    from deployment_spark.operators.multivec import maxsim_topk

    doc_tokens, q_tokens, _ = _maxsim_token_bags(
        spark, emb, F.col("vec_id") < 5
    )
    mv = maxsim_topk(
        doc_tokens, q_tokens, k=5, round_to=4, query_pos="q_pos"
    ).select("query_id", "vec_id", "rank", F.col("maxsim").alias("similarity"))
    maxsim_rows = shape(
        enrich_topk(mv, emb.select("vec_id", "label"), corpus_id="vec_id"),
        "maxsim",
    )
    return (
        topk_rows.unionByName(radius_rows)
        .unionByName(radius_blocked_rows)
        .unionByName(ivf_range_rows)
        .unionByName(ivf_range_batch_rows)
        .unionByName(ivfsq_range_rows)
        .unionByName(ivfpq_range_rows)
        .unionByName(grouped_rows)
        .unionByName(filtered_rows)
        .unionByName(filtered_pre_rows)
        .unionByName(filtered_post_rows)
        .unionByName(maxsim_rows)
        .unionByName(sparse_rows)
        .unionByName(binary_rows)
        .unionByName(iterator_rows)
    )


BIN_DIM = 64  # fixture embedding dimensionality; feeds BOTH engines'
              # packing and the 1 - hamming/BIN_DIM similarity, so the
              # two sides cannot disagree on geometry


def _sql_signbit_words() -> str:
    """Sign-bit packing CTE for the binary probe. The index arithmetic
    is generated from the same constants the Spark side uses (BIN_DIM,
    32-bit words), which prevents typo drift across the 64 CASE terms;
    the SIGN CONVENTION itself (> 0) is an independent re-statement of
    operators/binary.binarize_signbits, pinned by the gate's
    hash-compare, not by construction."""
    assert BIN_DIM % 32 == 0
    w0 = " + ".join(
        f"(CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(32)
    )
    w1 = " + ".join(
        f"(CASE WHEN embedding[{i + 33}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(32)
    )
    return f"""bw AS (
  SELECT vec_id, label, ({w0})::BIGINT AS w0, ({w1})::BIGINT AS w1
  FROM embeddings
), bq AS (
  SELECT vec_id AS query_id, w0 AS q0, w1 AS q1 FROM bw WHERE vec_id < 10
), bh AS (
  SELECT q.query_id, c.vec_id, c.label,
         1.0 - (bit_count(xor(c.w0, q.q0)) + bit_count(xor(c.w1, q.q1)))
               / {BIN_DIM}.0 AS sim,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY bit_count(xor(c.w0, q.q0)) + bit_count(xor(c.w1, q.q1)) ASC,
                    c.vec_id
         ) AS rank
  FROM bw c CROSS JOIN bq q
)"""


SQL_TOPK_ENRICHED = "WITH " + _sql_signbit_words() + """,
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
), s AS (
  SELECT q.query_id, c.vec_id, c.label,
         list_cosine_similarity(c.embedding::DOUBLE[], q.qv) AS sim
  FROM embeddings c CROSS JOIN q
), r AS (
  SELECT query_id, vec_id, label, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM s
), rad AS (
  SELECT query_id, vec_id, label, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM s WHERE sim >= 0.3
), gbest AS (
  SELECT query_id, vec_id, label, sim,
         row_number() OVER (PARTITION BY query_id, label ORDER BY sim DESC, vec_id) AS gr
  FROM s
), grouped AS (
  SELECT query_id, vec_id, label, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM gbest WHERE gr = 1
), filtered AS (
  SELECT query_id, vec_id, label, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM s WHERE label % 3 = 0
), filtered_pre AS (
  SELECT query_id, vec_id, label, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM s WHERE vec_id % 37 = 0
), """ + _sql_maxsim_token_ctes("mv_", "q.vec_id < 5") + """, mv_m AS (
  SELECT mv_q.query_id, mv_doc.vec_id, mv_q.q_pos,
         max(list_dot_product(mv_doc.v, mv_q.qv)) AS mx
  FROM mv_doc CROSS JOIN mv_q
  GROUP BY 1, 2, 3
), mv_s AS (
  -- rank on the 4dp-ROUNDED maxsim (the Spark side's round_to=4), ties
  -- by vec_id; legacy_score derives from the rounded value too
  SELECT query_id, vec_id, round(sum(mx), 4) AS sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY round(sum(mx), 4) DESC, vec_id
         ) AS rank
  FROM mv_m GROUP BY query_id, vec_id
), spx AS (
  SELECT vec_id,
         unnest(list_transform(range(1, len(embedding) + 1),
                i -> {'dim': i - 1, 'val': embedding[i]})) AS p
  FROM embeddings
), sp AS (
  SELECT vec_id, dim, val FROM (
    SELECT vec_id, p.dim::INT AS dim, p.val::DOUBLE AS val,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY abs(p.val::DOUBLE) DESC, p.dim) AS r
    FROM spx
  ) WHERE r <= 8
), spq AS (
  SELECT vec_id AS query_id, dim, val FROM sp WHERE vec_id < 10
), ss AS (
  SELECT q.query_id, c.vec_id, sum(c.val * q.val) AS sim
  FROM sp c JOIN spq q USING (dim)
  GROUP BY q.query_id, c.vec_id
), sparse AS (
  SELECT ss.query_id, ss.vec_id, e.label, ss.sim,
         row_number() OVER (PARTITION BY ss.query_id
                            ORDER BY ss.sim DESC, ss.vec_id) AS rank
  FROM ss JOIN embeddings e ON ss.vec_id = e.vec_id
)
SELECT 'topk' AS probe, query_id, vec_id, rank, label::BIGINT AS label,
       round(sim, 4) AS similarity,
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4) AS legacy_score
FROM r WHERE rank <= 5
UNION ALL
SELECT 'radius', query_id, vec_id, rank, label::BIGINT,
       round(sim, 4),
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4)
FROM rad WHERE rank <= 20
UNION ALL
SELECT 'radius_blocked', query_id, vec_id, rank, label::BIGINT,
       round(sim, 4),
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4)
FROM rad WHERE rank <= 20
UNION ALL
SELECT 'ivf_range', query_id, vec_id, rank, label::BIGINT,
       round(sim, 4),
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4)
FROM rad WHERE rank <= 20
UNION ALL
SELECT 'ivf_range_batch', query_id, vec_id, rank, label::BIGINT,
       round(sim, 4),
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4)
FROM rad WHERE rank <= 20
UNION ALL
SELECT 'ivfsq_range', query_id, vec_id, rank, label::BIGINT,
       round(sim, 4),
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4)
FROM rad WHERE rank <= 20
UNION ALL
SELECT 'ivfpq_range', query_id, vec_id, rank, label::BIGINT,
       round(sim, 4),
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4)
FROM rad WHERE rank <= 20
UNION ALL
SELECT 'grouped', query_id, vec_id, rank, label::BIGINT,
       round(sim, 4),
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4)
FROM grouped WHERE rank <= 5
UNION ALL
SELECT 'filtered', query_id, vec_id, rank, label::BIGINT,
       round(sim, 4),
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4)
FROM filtered WHERE rank <= 5
UNION ALL
SELECT 'filtered_pre', query_id, vec_id, rank, label::BIGINT,
       round(sim, 4),
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4)
FROM filtered_pre WHERE rank <= 5
UNION ALL
SELECT 'filtered_post', query_id, vec_id, rank, label::BIGINT,
       round(sim, 4),
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4)
FROM filtered WHERE rank <= 5
UNION ALL
SELECT 'maxsim', mv_s.query_id, mv_s.vec_id, mv_s.rank, e.label::BIGINT,
       mv_s.sim,
       round(1.0 - sqrt(greatest(2.0 - 2.0 * mv_s.sim, 0.0)), 4)
FROM mv_s JOIN embeddings e ON e.vec_id = mv_s.vec_id
WHERE mv_s.rank <= 5
UNION ALL
SELECT 'sparse', query_id, vec_id, rank, label::BIGINT,
       round(sim, 4),
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4)
FROM sparse WHERE rank <= 5
UNION ALL
SELECT 'binary', query_id, vec_id, rank, label::BIGINT,
       round(sim, 4),
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4)
FROM bh WHERE rank <= 5
UNION ALL
SELECT 'iterator', query_id, vec_id, rank - 5, label::BIGINT,
       round(sim, 4),
       round(1.0 - sqrt(greatest(2.0 - 2.0 * sim, 0.0)), 4)
FROM r WHERE rank BETWEEN 6 AND 10
"""


def q_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream attribution join, batch twin (streaming/joins.py:61;
    driver-gated r4, VERDICT r3 #1): 'view' impressions matched to
    'click' events of the same user within a 30-minute attribution
    window — a per-key interval join. The streaming form with
    watermark-bounded state is result-identical by construction and
    pinned by tests/test_streaming.py::
    test_attribution_join_stream_equals_batch; the oracle replays the
    interval join in SQL."""
    from deployment_spark.streaming.joins import attribution_join_batch

    ev = _t(spark, sf_dir, "events")
    imps = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("imp_id"),
        F.col("ts").alias("imp_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    j = attribution_join_batch(
        imps,
        clicks,
        key="user_id",
        imp_ts="imp_ts",
        click_ts="click_ts",
        attribution_window="30 minutes",
    )
    return j.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("imp_id").cast("long").alias("imp_id"),
        F.col("click_id").cast("long").alias("click_id"),
        F.date_format("imp_ts", "yyyy-MM-dd HH:mm:ss").alias("imp_time"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_time"),
    )


SQL_ATTRIBUTION_JOIN = """
WITH i AS (
  SELECT user_id, event_id AS imp_id, ts AS imp_ts
  FROM events WHERE event_type = 'view'
), c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
)
SELECT i.user_id::BIGINT AS user_id, imp_id::BIGINT AS imp_id,
       click_id::BIGINT AS click_id,
       strftime(imp_ts, '%Y-%m-%d %H:%M:%S') AS imp_time,
       strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_time
FROM i JOIN c ON i.user_id = c.user_id
  AND c.click_ts >= i.imp_ts
  AND c.click_ts <= i.imp_ts + INTERVAL 30 MINUTE
"""


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin histogram → continuous quantiles
    (operators/histogram.py:40,59; driver-gated r4, VERDICT r3 #1):
    one-pass 200-bin grid over events.value on the known [0, 500)
    domain, quantiles read off cumulative bins with linear interpolation
    — the distribution a stream maintains forever at O(bins) state. The
    oracle replays bin clamping, cumulative window, and interpolation in
    SQL, so the quantile math itself is hash-verified."""
    from deployment_spark.operators.histogram import hist_build, hist_quantiles

    LO, HI, BINS = 0.0, 500.0, 200
    ev = _t(spark, sf_dir, "events").select("value")
    h = hist_build(ev, "value", LO, HI, bins=BINS)
    out = hist_quantiles(h, [0.1, 0.25, 0.5, 0.75, 0.9, 0.99], LO, HI, bins=BINS)
    return out.select(
        F.round("q", 2).alias("q"), F.round("value", 4).alias("value")
    )


SQL_HIST_QUANTILES = """
WITH h AS (
  SELECT least(greatest(floor((value - 0.0) / 2.5), 0), 199)::INT AS bin,
         count(*) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1
), cum AS (
  SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM h
), tot AS (SELECT sum(cnt) AS n FROM h),
-- ::DOUBLE[] is load-bearing: a bare decimal list makes q DECIMAL and
-- q*n exact DECIMAL(38,2), while Spark computes q*n in IEEE double —
-- the engines would then disagree on `cum >= q*n` exactly when a
-- cumulative count lands on q·N (e.g. 0.1*2000: DuckDB 200, Spark
-- 200.00000000000003)
probes AS (SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]::DOUBLE[]) AS q),
hit AS (
  SELECT q, n, min(bin) AS bin
  FROM probes CROSS JOIN tot CROSS JOIN cum
  WHERE cum >= q * n GROUP BY q, n
)
SELECT round(q, 2) AS q,
       round(0.0 + (hit.bin + (q * n - (cum - cnt)) / greatest(cnt, 1)) * 2.5, 4) AS value
FROM hit JOIN cum ON hit.bin = cum.bin
"""


def q_profile_sketch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-form profiling gated against the exact form
    (operators/profiling.py:35; driver-gated r4, VERDICT r3 #1). The
    exact columns (count_distinct, interpolated percentile) are
    oracle-replayed bit-for-bit; the scale-path sketches
    (approx_count_distinct HLL++, percentile_approx Greenwald-Khanna)
    are folded into self-judging ``*_ok`` booleans — the oracle emits
    literal TRUE, so a sketch drifting out of its error envelope flips
    the bit and fails the driver hash (the recall-floor pattern)."""
    from deployment_spark.operators.profiling import profile_numeric

    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    li = _t(spark, sf_dir, "lineitem")
    exact = profile_numeric(li, cols, exact=True)
    sk = profile_numeric(li, cols, exact=False, rsd=0.05, percentile_accuracy=10000)
    e, s = exact.alias("e"), sk.alias("s")
    # HLL++ rsd=0.05 → 3σ envelope + small-count slack; GK at
    # accuracy=10000 on this data is near-exact → tight relative band
    distinct_ok = (
        F.abs(F.col("s.n_distinct") - F.col("e.n_distinct"))
        <= 0.15 * F.col("e.n_distinct") + F.lit(10)
    )
    median_ok = (
        F.abs(F.col("s.median_v") - F.col("e.median_v"))
        <= 0.05 * F.abs(F.col("e.median_v")) + F.lit(0.01)
    )
    return e.join(F.broadcast(s), "column").select(
        "column",
        F.col("e.rows").cast("long").alias("rows"),
        F.col("e.nulls").cast("long").alias("nulls"),
        F.col("e.n_distinct").cast("long").alias("n_distinct"),
        F.col("e.min_v").alias("min_v"),
        F.col("e.max_v").alias("max_v"),
        F.col("e.mean_v").alias("mean_v"),
        F.col("e.stddev_v").alias("stddev_v"),
        F.col("e.median_v").alias("median_v"),
        distinct_ok.alias("distinct_ok"),
        median_ok.alias("median_ok"),
    )


SQL_PROFILE_SKETCH_BOUNDS = """
SELECT 'l_quantity' AS "column", count(*)::BIGINT AS rows,
       count(CASE WHEN l_quantity IS NULL THEN 1 END)::BIGINT AS nulls,
       count(DISTINCT l_quantity)::BIGINT AS n_distinct,
       round(min(l_quantity)::DOUBLE, 4) AS min_v,
       round(max(l_quantity)::DOUBLE, 4) AS max_v,
       round(avg(l_quantity), 4) AS mean_v,
       round(stddev_samp(l_quantity), 4) AS stddev_v,
       round(quantile_cont(l_quantity, 0.5)::DOUBLE, 4) AS median_v,
       TRUE AS distinct_ok, TRUE AS median_ok
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(*)::BIGINT,
       count(CASE WHEN l_extendedprice IS NULL THEN 1 END)::BIGINT,
       count(DISTINCT l_extendedprice)::BIGINT,
       round(min(l_extendedprice)::DOUBLE, 4),
       round(max(l_extendedprice)::DOUBLE, 4),
       round(avg(l_extendedprice), 4),
       round(stddev_samp(l_extendedprice), 4),
       round(quantile_cont(l_extendedprice, 0.5)::DOUBLE, 4),
       TRUE, TRUE
FROM lineitem
UNION ALL
SELECT 'l_discount', count(*)::BIGINT,
       count(CASE WHEN l_discount IS NULL THEN 1 END)::BIGINT,
       count(DISTINCT l_discount)::BIGINT,
       round(min(l_discount)::DOUBLE, 4),
       round(max(l_discount)::DOUBLE, 4),
       round(avg(l_discount), 4),
       round(stddev_samp(l_discount), 4),
       round(quantile_cont(l_discount, 0.5)::DOUBLE, 4),
       TRUE, TRUE
FROM lineitem
"""


def q_store_range_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file-skipping range read (operators/crud.py
    read_where_key_between; driver-gated r4, VERDICT r3 #1). Builds a
    mor SnapshotStore from events in three key-RANGE-disjoint segment
    writes (each segment's manifest zone map covers only its range),
    applies an UPDATE to keys [3000, 3999], then range-reads
    [2500, 6500] — the read prunes the first segment by zone map before
    any scan, and last-wins merge resolves the update. The oracle is the
    unpruned filtered read with the update replayed as CASE, so pruning
    correctness (pruned files cannot affect in-range rows) is
    hash-verified; the pruning itself (files actually skipped) is
    asserted in tests/test_crud.py."""
    import shutil
    import tempfile

    from deployment_spark.operators.crud import SnapshotStore

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    root = tempfile.mkdtemp(prefix="store_range_entry_")
    try:
        store = SnapshotStore(
            spark, os.path.join(root, "store"), key="event_id", mode="mor",
            stats_cols=["value"],
        )
        store.insert(ev.filter(F.col("event_id") < 2000))
        store.insert(ev.filter(F.col("event_id").between(2000, 5999)))
        store.insert(ev.filter(F.col("event_id") >= 6000))
        upd_keys = ev.filter(F.col("event_id").between(3000, 3999)).select("event_id")
        upd_rows = ev.filter(F.col("event_id").between(3000, 3999)).withColumn(
            "value", F.col("value") + F.lit(1000.0)
        )
        store.update(upd_keys, upd_rows)

        def shape(df, probe):
            return df.select(
                F.lit(probe).alias("probe"),
                F.col("event_id").cast("long").alias("event_id"),
                "event_type",
                F.round("value", 2).alias("value"),
            )

        # r7: per-segment KEY BLOOM skipping (crud.py read_where_key_in /
        # _build_bloom). A second store keyed by md5(event_id) — the
        # hash layout where every segment's zone map spans the whole
        # keyspace, so only the bloom sidecars can prune — takes three
        # key-interleaved segment writes plus an update (tombstone +
        # fresh segment, both bloomed), then point-reads three keys.
        # The oracle is the unpruned filtered read with the update
        # replayed as CASE; the pruning itself (only bloom-hit files
        # scanned) is asserted in tests/test_crud.py.
        evk = ev.withColumn("ek", F.md5(F.col("event_id").cast("string")))
        bstore = SnapshotStore(
            spark, os.path.join(root, "bloomstore"), key="ek", mode="mor",
            bloom_bits=1 << 15,
        )
        for mod in (0, 1, 2):
            bstore.insert(evk.filter(F.col("event_id") % 3 == mod))
        upd = evk.filter(F.col("event_id") == 101).withColumn(
            "value", F.col("value") + F.lit(1000.0)
        )
        bstore.update(upd.select("ek"), upd)
        # probes span all three segments (mod 3: 735→0, 100→1, 17/101→2)
        # and include the updated key 101, so the read exercises bloom
        # hits in every file plus the tombstone/new-segment pair
        probe_keys = [
            r.ek
            for r in evk.filter(F.col("event_id").isin(17, 100, 101, 735))
            .select("ek")
            .collect()
        ]
        out = (
            shape(store.read_where_key_between(2500, 6500), "key_range")
            .unionByName(
                # r6: secondary-zone-map value-band read. The band excludes
                # the UPDATED rows' live values (~1030-1070), so the probe
                # also verifies shadow-safety: the stale in-band originals
                # of keys 3000-3999 must NOT resurface
                shape(store.read_where_between("value", 30, 70), "value_band")
            )
            .unionByName(shape(bstore.read_where_key_in(probe_keys), "bloom_point"))
            .unionByName(
                # TIME TRAVEL through the same skipping stack: version 3
                # is the store BEFORE the update commit, so key 101 must
                # read its ORIGINAL value — a wrong-version read (or a
                # tombstone applied across versions) flips the hash
                shape(
                    bstore.read_where_key_in(probe_keys, version=3),
                    "bloom_point_v3",
                )
            )
        )
        return out.localCheckpoint()  # materialize before the tmp store is removed
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_STORE_RANGE_READ = """
SELECT 'key_range' AS probe, event_id::BIGINT AS event_id, event_type,
       round(value + CASE WHEN event_id BETWEEN 3000 AND 3999
                          THEN 1000.0 ELSE 0.0 END, 2) AS value
FROM events
WHERE event_id BETWEEN 2500 AND 6500
UNION ALL
SELECT 'value_band', event_id::BIGINT, event_type,
       round(value + CASE WHEN event_id BETWEEN 3000 AND 3999
                          THEN 1000.0 ELSE 0.0 END, 2)
FROM events
WHERE (value + CASE WHEN event_id BETWEEN 3000 AND 3999
                    THEN 1000.0 ELSE 0.0 END) BETWEEN 30 AND 70
UNION ALL
SELECT 'bloom_point', event_id::BIGINT, event_type,
       round(value + CASE WHEN event_id = 101 THEN 1000.0 ELSE 0.0 END, 2)
FROM events
WHERE event_id IN (17, 100, 101, 735)
UNION ALL
-- time travel: version 3 predates the update, no CASE
SELECT 'bloom_point_v3', event_id::BIGINT, event_type, round(value, 2)
FROM events
WHERE event_id IN (17, 100, 101, 735)
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup via CURATED STREAMING INGEST (driver
    gate for operators/dedup.py incremental_dedup + streaming/ingest.py
    curated_ingest_to_store — VERDICT r5 next #1). Three batches land as
    files and stream through curated_ingest_to_store (one micro-batch
    each, signature index maintained): batch b holds the natural docs
    with doc_id % 3 == b remapped to b*10M + doc_id (append-only id
    ranges), plus planted exact and near (first-word-stripped) copies of
    earlier batches' docs at higher in-range ids. Output is the full
    admission ledger (batch_id, doc_id, admitted) for every input doc.

    The oracle replays the INCREMENTAL semantics exactly — three
    sequential DuckDB stages, each running the full exact→MinHash-LSH→
    Jaccard→components chain over (kept so far ∪ batch) and admitting
    the batch docs whose component min is themselves. Per-batch
    chain-on-(kept ∪ batch) is provably identical to incremental
    admission (kept×kept verified pairs cannot exist in a deduped kept
    set, and extra kept-side edges never change a batch verdict), so
    the oracle holds on ANY corpus — including the natural near-dup
    pairs in the test data — with no batch-vs-incremental equivalence
    assumption. The one-shot whole-corpus chain equivalence (and its
    documented transitive-chain divergence) is pinned separately in
    tests/test_dedup.py.

    r7 fold (VERDICT r6 next #3 — SURVEY §7.1 M7's foreachBatch index
    maintenance, driver-gated): scope='vecsearch' rows prove the ANN
    index stays correct WHILE curated batches land. The admitted
    corpus's embeddings (vec = embeddings[(doc_id % 10M) % 1M], a
    deterministic remap both engines share) stream batch-by-batch
    through ``ingest_to_store(transform=IVFIndex.assign)`` into a
    cluster-partitioned SnapshotStore — the store IS the inverted-list
    layout — and a post-ingest full-probe search over the store
    snapshot (``IVFIndex(data_path=store.snapshot_dir())``) must
    hash-match exact cosine top-5 computed by DuckDB over the same
    kept set. Full probe makes the search SQL-expressible; the
    nprobe < nlist pruning of the same streamed-store path is pinned
    in tests/test_ivf.py (plan-asserted partition filters).
    r9 fold (VERDICT r8 #5 — drift-triggered retrain, driver-gated):
    a FOURTH vector batch carries a shifted distribution (every
    component +3.0). ``ingest_to_store``'s ``drift_retrain`` monitor
    (default-off everywhere — the reference never retrains) compares
    each batch's mean squared assignment distance against the
    build-corpus baseline; batches 1-2 are the build distribution and
    stay quiet, batch 3 trips the 2× threshold, retrains the quantizer
    on (corpus ∪ batch) and republishes the store relayouted under the
    new centroids in one atomic ``replace`` commit. scope='vecdrift'
    rows pin WHERE the retrain fired (flag per batch: 0,0,0,1), and
    the post-ingest full-probe search — exact under any quantizer —
    hash-matches the oracle over the final corpus including the
    shifted rows, proving the relayout lost nothing.

    r11 fold: scope='standingq' rows pin STANDING-QUERY maintenance
    (``ingest_to_store(standing_topk_maintain=...)`` →
    ``streaming/ingest._maintain_standing_topk``): the same five
    queries the post-hoc vecsearch probe uses are maintained as a live
    top-5 result set WHILE the four vector batches (including the
    retrain batch, which the quantizer-independent merge must ignore)
    land — exact because top-k(C∪B) = top-k(top-k(C) ∪ top-k(B))
    under the engine's total order, O(nq·k) state, O(batch·nq) work
    per batch. The final state must hash-match the identical exact
    ranking vecsearch computes from scratch.
    r12 fold (VERDICT r11 #1): an OUT-OF-BAND store DELETE lands
    between vector batches 1 and 2 (kept ids ≡3 mod 10 among the
    first two batches — hitting rows the standing set was serving).
    The maintainer detects it through the store's mutation clock and,
    under ``on_mutation='repair'``, re-tops EXACTLY the affected
    queries over the survivors — so the same standingq ≡ vecsearch
    hash identity now also proves the serving state survives the
    store's delete surface (C2), not just its inserts.

    Column mapping: admission rows (k1=batch_id, k2=doc_id,
    flag=admitted as 0/1 — a BIGINT because nullable booleans
    stringify asymmetrically across the two compare sides); vecsearch
    and standingq rows (k1=query_id, k2=result doc_id, k3=rank,
    val=similarity); vecdrift rows (k1=batch index, flag=retrain
    fired)."""
    import shutil
    import tempfile

    from deployment_spark.operators.crud import SnapshotStore
    from deployment_spark.operators.ivf import IVFIndex
    from deployment_spark.streaming.ingest import curated_ingest_to_store, ingest_to_store

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    M = 10_000_000
    strip1 = F.regexp_replace("text", r"^\S+\s+", "").alias("text")

    def nat(b: int) -> DataFrame:
        return d.filter(F.col("doc_id") % 3 == b).select(
            (F.lit(b * M) + F.col("doc_id")).alias("doc_id"), "text"
        )

    def planted(src_mod: int, lo: int, hi: int, base: int, near: bool) -> DataFrame:
        src = d.filter(
            (F.col("doc_id") % 3 == src_mod)
            & (F.col("doc_id") >= lo)
            & (F.col("doc_id") < hi)
        )
        return src.select(
            (F.lit(base) + F.col("doc_id")).alias("doc_id"),
            strip1 if near else F.col("text"),
        )

    b0 = nat(0)
    # batch 1: new docs + exact copies of batch-0 docs + near copies of
    # batch-0 docs (caught only through the kept-side signature index)
    b1 = (
        nat(1)
        .unionByName(planted(0, 0, 30, M + 5_000_000, near=False))
        .unionByName(planted(0, 30, 60, M + 6_000_000, near=True))
    )
    # batch 2: new docs + exact copies of batch-1 naturals (two-hop kept
    # growth) + near copies of batch-0 + an intra-batch exact dup of its
    # own naturals (keep-first inside the batch)
    b2 = (
        nat(2)
        .unionByName(planted(1, 0, 30, 2 * M + 5_000_000, near=False))
        .unionByName(planted(0, 60, 90, 2 * M + 6_000_000, near=True))
        .unionByName(planted(2, 0, 15, 2 * M + 7_000_000, near=False))
    )
    root = tempfile.mkdtemp(prefix="incr_dedup_entry_")
    try:
        landing = os.path.join(root, "landing")
        for i, b in enumerate((b0, b1, b2)):
            b.coalesce(1).write.parquet(os.path.join(landing, f"b={i:03d}"))
        store = SnapshotStore(spark, os.path.join(root, "corpus"), key="doc_id")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(landing)
        )
        q = curated_ingest_to_store(
            stream, store, os.path.join(root, "ckpt"),
            index_dir=os.path.join(root, "idx"),
        )
        q.awaitTermination(600)
        ledger = (
            b0.select(F.lit(0).cast("long").alias("batch_id"), "doc_id")
            .unionByName(b1.select(F.lit(1).cast("long").alias("batch_id"), "doc_id"))
            .unionByName(b2.select(F.lit(2).cast("long").alias("batch_id"), "doc_id"))
        )
        kept = store.read().select("doc_id", F.lit(True).alias("_adm"))
        admission = (
            ledger.join(kept, "doc_id", "left")
            .select(
                F.lit("admission").alias("scope"),
                F.col("batch_id").alias("k1"),
                F.col("doc_id").cast("long").alias("k2"),
                F.lit(None).cast("long").alias("k3"),
                F.coalesce("_adm", F.lit(False)).cast("long").alias("flag"),
                F.lit(None).cast("double").alias("val"),
            )
        )

        # -- vecsearch probe: index maintenance WHILE batches land ------
        emb = _t(spark, sf_dir, "embeddings")
        kept_vec = (
            store.read()
            .select("doc_id")
            .join(
                emb.select(F.col("vec_id").alias("_orig"), "embedding"),
                ((F.col("doc_id") % M) % 1_000_000) == F.col("_orig"),
            )
            .select("doc_id", F.col("embedding").cast("array<double>").alias("embedding"))
        )
        # quantizer trained on batch 0's admitted vectors (seeded KMeans);
        # the stream then routes EVERY batch through assign() into the
        # same layout — the incremental path a build() never sees
        idx = IVFIndex(spark, os.path.join(root, "ivfq")).build(
            kept_vec.filter(F.col("doc_id") < M), id_col="doc_id", nlist=8
        )
        # r9 (VERDICT r8 #5): batch 3 carries a SHIFTED distribution —
        # every component +3.0, far outside the build corpus — so the
        # drift monitor must fire EXACTLY there: batches 1-2 are the
        # build distribution (score ≈ baseline, stays quiet), batch 3
        # retrains the quantizer and relayouts the store mid-stream.
        # Full-probe search stays exact under ANY quantizer, so the
        # oracle replays it without modeling the retrain.
        shifted = emb.filter(F.col("vec_id") < 50).select(
            (F.lit(3 * M) + F.col("vec_id")).alias("doc_id"),
            F.transform(
                F.col("embedding").cast("array<double>"), lambda x: x + F.lit(3.0)
            ).alias("embedding"),
        )
        vec_landing = os.path.join(root, "vec_landing")
        vec_store = SnapshotStore(
            spark,
            os.path.join(root, "vec_corpus"),
            key="doc_id",
            partition_by="cluster_id",
        )
        fired: list[int] = []
        # r11: the SAME five queries the post-hoc vecsearch probe uses,
        # maintained as a STANDING result set while the batches (and
        # the mid-stream retrain) land — scope='standingq' hash-matches
        # the identical exact ranking, pinning the per-batch merge
        # machinery (streaming/ingest._maintain_standing_topk) to
        # exact semantics through a quantizer retrain it must ignore
        queries = kept_vec.orderBy("doc_id").limit(5).select(
            F.col("doc_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        standing_root = os.path.join(root, "standing")

        def vec_run():
            q = ingest_to_store(
                (
                    spark.readStream.schema(kept_vec.schema)
                    .option("maxFilesPerTrigger", "1")
                    .option("recursiveFileLookup", "true")
                    .parquet(vec_landing)
                ),
                vec_store,
                os.path.join(root, "vec_ckpt"),
                transform=idx.assign,
                drift_retrain={
                    "index": idx,
                    "baseline": idx.drift_score(
                        kept_vec.filter(F.col("doc_id") < M)
                    ),
                    "threshold": 2.0,
                    "on_retrain": lambda bid, score: fired.append(bid),
                },
                standing_topk_maintain={
                    "root": standing_root, "queries": queries, "k": 5,
                    # r12: heal out-of-band mutations (exact for the
                    # deletes-only history this entry stages)
                    "on_mutation": "repair",
                },
                # r14: single-consumer fixture store — bounded log is safe
                vacuum_mutation_log=True,
            )
            q.awaitTermination(600)

        # r12 (VERDICT r11 #1): batches 0-1 land, then an OUT-OF-BAND
        # store DELETE (kept ids ≡3 mod 10 among them — hitting both
        # rows the standing set serves and bystanders), then batches
        # 2-3 land through the SAME checkpoint. The standing maintainer
        # detects the mutation clock advance and repairs EXACTLY
        # (re-top only the affected queries over the survivors); the
        # final standingq state must still hash-match the from-scratch
        # exact ranking over the post-delete corpus.
        for i in range(2):
            kept_vec.filter(F.floor(F.col("doc_id") / M) == i).coalesce(1).write.parquet(
                os.path.join(vec_landing, f"b={i:03d}")
            )
        vec_run()
        vec_store.delete_ids(
            vec_store.read()
            .filter((F.col("doc_id") % 10 == 3) & (F.col("doc_id") < 2 * M))
            .select("doc_id")
        )
        # r13 (VERDICT r12 Next #3): an OUT-OF-BAND UPSERT lands in the
        # same between-runs window — survivor ids ≡7 (mod 10) among the
        # first two batches get NEGATED vectors, re-assigned into the
        # current layout. The history since the standing state's pin is
        # now delete+upsert, NOT deletes-only, so the maintainer must
        # take the EXACT mutation repair (store key log): re-top only
        # the queries whose served rows were touched, merge the new
        # content's scores for the rest. The final standingq state must
        # still hash-match the from-scratch exact ranking over the
        # mutated corpus (negated vectors included) — rebuild is no
        # longer the upsert answer.
        up = (
            vec_store.read()
            .filter((F.col("doc_id") % 10 == 7) & (F.col("doc_id") < 2 * M))
            .select(
                "doc_id",
                F.transform("embedding", lambda x: -x).alias("embedding"),
            )
        )
        vec_store.upsert(idx.assign(up, vec_col="embedding"))
        kept_vec.filter(F.floor(F.col("doc_id") / M) == 2).coalesce(1).write.parquet(
            os.path.join(vec_landing, "b=002")
        )
        shifted.coalesce(1).write.parquet(os.path.join(vec_landing, "b=003"))
        vec_run()
        from deployment_spark.streaming.ingest import read_standing_topk

        standingq = read_standing_topk(spark, standing_root).select(
            F.lit("standingq").alias("scope"),
            F.col("query_id").cast("long").alias("k1"),
            F.col("doc_id").cast("long").alias("k2"),
            F.col("rank").cast("long").alias("k3"),
            F.lit(None).cast("long").alias("flag"),
            F.round("similarity", 4).alias("val"),
        )
        vecdrift = spark.createDataFrame(
            [(b, 1 if b in fired else 0) for b in range(4)],
            "k1 long, flag long",
        ).select(
            F.lit("vecdrift").alias("scope"),
            "k1",
            F.lit(None).cast("long").alias("k2"),
            F.lit(None).cast("long").alias("k3"),
            "flag",
            F.lit(None).cast("double").alias("val"),
        )
        # the streamed store IS the index data: full-probe search over
        # its snapshot must equal exact cosine top-5 (SQL-expressible)
        searcher = IVFIndex(
            spark, idx.root, data_path=vec_store.snapshot_dir()
        )
        queries = kept_vec.orderBy("doc_id").limit(5).select(
            F.col("doc_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        vecsearch = searcher.search(
            queries, k=5, nprobe=10**9, id_col="doc_id"
        ).select(
            F.lit("vecsearch").alias("scope"),
            F.col("query_id").cast("long").alias("k1"),
            F.col("doc_id").cast("long").alias("k2"),
            F.col("rank").cast("long").alias("k3"),
            F.lit(None).cast("long").alias("flag"),
            F.round("similarity", 4).alias("val"),
        )
        # materialize before the tmp store is removed
        return (
            admission.unionByName(vecsearch)
            .unionByName(vecdrift)
            .unionByName(standingq)
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _incremental_dedup_oracle_sql() -> str:
    """Three-stage sequential replay of incremental admission (see
    q_incremental_dedup). Each stage c: exact keep-first within the
    batch, md5 anti vs kept, then the portable MinHash(16 seeds, 4
    bands)/3-word-shingle Jaccard(>=0.6)/recursive-closure chain over
    kept ∪ survivors; admitted = batch docs whose component min is
    themselves; kept grows by the admitted rows."""
    m = 10_000_000
    stages = []
    for c in range(3):
        stages.append(f"""
ex{c} AS MATERIALIZED (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, md5(text) AS h,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM b{c}
  ) WHERE rn = 1 AND h NOT IN (SELECT md5(text) FROM kept{c})
), corpus{c} AS MATERIALIZED (
  SELECT doc_id, text FROM kept{c} UNION ALL SELECT doc_id, text FROM ex{c}
), words{c} AS MATERIALIZED (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM corpus{c}
), sh{c} AS MATERIALIZED (
  SELECT DISTINCT doc_id, unnest(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS sh
  FROM words{c}
), seeded{c} AS MATERIALIZED (
  SELECT doc_id, sh.sh, s.seed, md5(s.seed::VARCHAR || '|' || sh.sh) AS h
  FROM sh{c} sh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) s
), minhash{c} AS MATERIALIZED (
  SELECT doc_id, seed, min(h) AS mh FROM seeded{c} GROUP BY doc_id, seed
), bands{c} AS MATERIALIZED (
  SELECT doc_id, seed // 4 AS band_id,
         md5(string_agg(mh, '|' ORDER BY seed)) AS sig
  FROM minhash{c} GROUP BY doc_id, seed // 4
), cand{c} AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands{c} a JOIN bands{c} b
    ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
), sizes{c} AS MATERIALIZED (
  SELECT doc_id, count(*) AS n_sh FROM sh{c} GROUP BY doc_id
), shared{c} AS MATERIALIZED (
  SELECT c.a_id, c.b_id, count(*) AS shared
  FROM cand{c} c
  JOIN sh{c} a ON a.doc_id = c.a_id
  JOIN sh{c} b ON b.doc_id = c.b_id AND b.sh = a.sh
  GROUP BY 1, 2
), verified{c} AS MATERIALIZED (
  SELECT a_id, b_id FROM shared{c}
  JOIN sizes{c} sa ON sa.doc_id = a_id
  JOIN sizes{c} sb ON sb.doc_id = b_id
  WHERE shared / (sa.n_sh + sb.n_sh - shared) >= 0.6
), edges{c} AS MATERIALIZED (
  SELECT a_id AS x, b_id AS y FROM verified{c}
  UNION
  SELECT b_id AS x, a_id AS y FROM verified{c}
), reach{c} AS (
  SELECT x, y FROM edges{c}
  UNION
  SELECT r.x, e.y FROM reach{c} r JOIN edges{c} e ON r.y = e.x
), labels{c} AS MATERIALIZED (
  SELECT x AS node, least(x, min(y)) AS label FROM reach{c} GROUP BY x
), adm{c} AS MATERIALIZED (
  SELECT doc_id, text FROM ex{c}
  WHERE doc_id NOT IN (SELECT node FROM labels{c} WHERE node > label)
), kept{c + 1} AS MATERIALIZED (
  SELECT doc_id, text FROM kept{c} UNION ALL SELECT doc_id, text FROM adm{c}
)""")
    stage_sql = ",".join(stages)
    return f"""
WITH RECURSIVE b0 AS MATERIALIZED (
  SELECT 0 * {m} + doc_id AS doc_id, text FROM documents WHERE doc_id % 3 = 0
), b1 AS MATERIALIZED (
  SELECT {m} + doc_id AS doc_id, text FROM documents WHERE doc_id % 3 = 1
  UNION ALL
  SELECT {m + 5_000_000} + doc_id, text FROM documents
  WHERE doc_id % 3 = 0 AND doc_id < 30
  UNION ALL
  SELECT {m + 6_000_000} + doc_id, regexp_replace(text, '^\\S+\\s+', '')
  FROM documents WHERE doc_id % 3 = 0 AND doc_id >= 30 AND doc_id < 60
), b2 AS MATERIALIZED (
  SELECT 2 * {m} + doc_id AS doc_id, text FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT {2 * m + 5_000_000} + doc_id, text FROM documents
  WHERE doc_id % 3 = 1 AND doc_id < 30
  UNION ALL
  SELECT {2 * m + 6_000_000} + doc_id, regexp_replace(text, '^\\S+\\s+', '')
  FROM documents WHERE doc_id % 3 = 0 AND doc_id >= 60 AND doc_id < 90
  UNION ALL
  SELECT {2 * m + 7_000_000} + doc_id, text FROM documents
  WHERE doc_id % 3 = 2 AND doc_id < 15
), kept0 AS MATERIALIZED (
  SELECT doc_id, text FROM b0 WHERE 1 = 0
),{stage_sql},
keptv AS MATERIALIZED (
  -- the vecsearch probe's corpus: admitted docs carrying the shared
  -- deterministic embedding remap (see q_incremental_dedup docstring)
  SELECT k.doc_id, e.embedding::DOUBLE[] AS v
  FROM kept3 k JOIN embeddings e ON (k.doc_id % {m}) % 1000000 = e.vec_id
), vcorpus AS MATERIALIZED (
  -- plus the r9 shifted-distribution batch (every component +3.0) that
  -- fires the mid-stream quantizer retrain; full probe is exact under
  -- any quantizer, so the replay needs only the final corpus content.
  -- r12: minus the MID-STREAM OUT-OF-BAND DELETE (kept ids ≡3 mod 10
  -- among the first two batches) the standing maintainer must repair
  -- around — queries still rank over exactly the surviving corpus.
  -- r13: AND with the MID-STREAM OUT-OF-BAND UPSERT applied (survivor
  -- ids ≡7 mod 10 among the first two batches carry NEGATED vectors) —
  -- the delete+upsert history forces the maintainer's exact MUTATION
  -- repair, and both probes rank over the post-upsert content
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 7 AND doc_id < {2 * m}
              THEN list_transform(v, x -> -x) ELSE v END AS v
  FROM keptv
  WHERE NOT (doc_id % 10 = 3 AND doc_id < {2 * m})
  UNION ALL
  SELECT 3 * {m} + vec_id AS doc_id,
         list_transform(embedding::DOUBLE[], x -> x + 3.0) AS v
  FROM embeddings WHERE vec_id < 50
), vq AS MATERIALIZED (
  SELECT doc_id AS query_id, v AS qv FROM keptv ORDER BY doc_id LIMIT 5
), vr AS (
  SELECT query_id, doc_id,
         list_cosine_similarity(vcorpus.v, vq.qv) AS sim,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY list_cosine_similarity(vcorpus.v, vq.qv) DESC, doc_id
         ) AS rank
  FROM vcorpus CROSS JOIN vq
)
SELECT 'admission' AS scope, lb.batch_id::BIGINT AS k1,
       lb.doc_id::BIGINT AS k2, CAST(NULL AS BIGINT) AS k3,
       (k.doc_id IS NOT NULL)::BIGINT AS flag, CAST(NULL AS DOUBLE) AS val
FROM (
  SELECT 0 AS batch_id, doc_id FROM b0
  UNION ALL SELECT 1, doc_id FROM b1
  UNION ALL SELECT 2, doc_id FROM b2
) lb LEFT JOIN kept3 k ON k.doc_id = lb.doc_id
UNION ALL
SELECT 'vecsearch', query_id::BIGINT, doc_id::BIGINT, rank::BIGINT,
       CAST(NULL AS BIGINT), round(sim, 4)
FROM vr WHERE rank <= 5
UNION ALL
-- standingq (r11): the per-batch-maintained standing result set must
-- equal the same exact ranking the post-hoc vecsearch computes — the
-- merge across 4 batches (including the retrain batch) is exact
SELECT 'standingq', query_id::BIGINT, doc_id::BIGINT, rank::BIGINT,
       CAST(NULL AS BIGINT), round(sim, 4)
FROM vr WHERE rank <= 5
UNION ALL
-- vecdrift: the retrain fires on the shifted batch (3) and ONLY there
SELECT 'vecdrift', b::BIGINT, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       (b = 3)::BIGINT, CAST(NULL AS DOUBLE)
FROM (SELECT unnest([0, 1, 2, 3]) AS b)
"""


SQL_INCREMENTAL_DEDUP = _incremental_dedup_oracle_sql()


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# name -> (spark_callable, oracle_sql | None)
#
# ORDER MATTERS: the driver's correctness gate runs entries in dict
# order and windows at 50 — r2 silently dropped the last 9 of 59. Two
# defenses: (a) the catalog is folded to exactly 50 entries (trivial
# probes share tagged-union slots; per-doc signal families share joined
# slots — every operator still verified, fewer slots; r4 folded
# vector_norms+label_centroid_stats → embedding_norm_stats,
# token_extract+concat_serialize → text_functions, events_hourly →
# streaming_hourly_counts' batch columns, doc_repetition → doc_quality
# to make room for the round-3 surface: attribution_join,
# hist_quantiles, profile_sketch_bounds, store_range_read; late-r5
# folded frame-plan→media_payload_stats and packing→doc_chunks to gate
# doc_span_dedup and dsir_select), and
# (b) newer / previously-unwindowed surface runs FIRST so even a
# smaller window sees it.
REGISTRY: dict = {
    "topk_cosine": (q_topk_cosine, SQL_TOPK_COSINE_SCOPED),
    "packet_topk": (q_packet_topk, SQL_PACKET_TOPK),
    "ivf_topk": (q_ivf_topk, SQL_IVF_TOPK_SCOPED),
    "topk_enriched": (q_topk_enriched, SQL_TOPK_ENRICHED),
    "streaming_hourly_counts": (q_streaming_hourly_counts, SQL_STREAMING_HOURLY_COUNTS),
    "media_payload_stats": (q_media_payload_stats, SQL_MEDIA_PAYLOAD_STATS),
    # r5 additions: Lee-et-al exact duplicated-span removal and DSIR
    # hashed-ngram importance selection (slots freed by folding
    # frame-plan→media_payload_stats, packing→doc_chunks)
    "doc_span_dedup": (q_doc_span_dedup, SQL_DOC_SPAN_DEDUP),
    "dsir_select": (q_dsir_select, SQL_DSIR_SELECT),
    # r5 fold: the four per-codec recall entries share one tagged-union
    # slot (gate windows at 50); each remains callable and floor-pinned
    "ann_recall": (q_ann_recall, SQL_ANN_RECALL),
    # r6 addition: incremental corpus dedup via curated streaming ingest
    # (slot freed by folding dedup_keepfirst → doc_exact_dedup); the
    # oracle replays per-batch admission as three sequential chain stages
    "incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    # r5 additions: lexical BM25 and the BM25 ⊕ cosine RRF hybrid
    "doc_bm25_topk": (q_doc_bm25_topk, SQL_DOC_BM25_TOPK),
    "hybrid_search": (q_hybrid_search, SQL_HYBRID_SEARCH),
    # r5 additions: kNN graph + SemDeDup + export shuffle + temperature
    # mixing (slots freed by folding lag→funnel, normalize→chunks,
    # sketch-bounds→table_profile, stage-order→text_functions)
    "knn_graph": (q_knn_graph, SQL_KNN_GRAPH),
    "semantic_dedup": (q_semantic_dedup, SQL_SEMANTIC_DEDUP),
    "shuffled_export": (q_shuffled_export, SQL_SHUFFLED_EXPORT),
    "domain_mixture": (q_domain_mixture, SQL_DOMAIN_MIXTURE),
    # round-4 driver-gated surface (VERDICT r3 #1) — front of the window
    "attribution_join": (q_attribution_join, SQL_ATTRIBUTION_JOIN),
    "hist_quantiles": (q_hist_quantiles, SQL_HIST_QUANTILES),
    "store_range_read": (q_store_range_read, SQL_STORE_RANGE_READ),
    "embedding_norm_stats": (q_embedding_norm_stats, SQL_EMBEDDING_NORM_STATS),
    "lsh_bucket_ann": (q_lsh_bucket_ann, SQL_LSH_BUCKET_ANN),
    "embedding_neardup": (q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "revenue_by_nation": (q_revenue_by_nation, SQL_REVENUE_BY_NATION),
    "revenue_rollup": (q_revenue_rollup, SQL_REVENUE_ROLLUP),
    "filter_predicates": (q_filter_predicates, SQL_FILTER_PREDICATES),
    "doc_decontaminate": (q_doc_decontaminate, SQL_DOC_DECONTAMINATE),
    "doc_lm_score": (q_doc_lm_score, SQL_DOC_LM_SCORE),
    "text_functions": (q_text_functions, SQL_TEXT_FUNCTIONS),
    "rank_per_group": (q_rank_per_group, SQL_RANK_PER_GROUP),
    "deterministic_sample": (q_deterministic_sample, SQL_DETERMINISTIC_SAMPLE),
    "crud_ops_summary": (q_crud_ops_summary, SQL_CRUD_OPS_SUMMARY),
    "doc_quality": (q_doc_quality, SQL_DOC_QUALITY),
    "doc_lang_scripts": (q_doc_lang_scripts, SQL_DOC_LANG_SCRIPTS),
    "doc_exact_dedup": (q_doc_exact_dedup, SQL_DOC_EXACT_DEDUP),
    "doc_ngram_jaccard": (q_doc_ngram_jaccard, SQL_DOC_NGRAM_JACCARD),
    "doc_minhash_lsh": (q_doc_minhash_lsh, SQL_DOC_MINHASH_LSH),
    "doc_dedup_pipeline": (q_doc_dedup_pipeline, SQL_DOC_DEDUP_PIPELINE),
    "doc_pii_scrub": (q_doc_pii_scrub, SQL_DOC_PII_SCRUB),
    "doc_chunks": (q_doc_chunks, SQL_DOC_CHUNKS),
    "doc_compressibility": (q_doc_compressibility, SQL_DOC_COMPRESSIBILITY),
    "user_sessions": (q_user_sessions, SQL_USER_SESSIONS),
    "event_funnel": (q_event_funnel, SQL_EVENT_FUNNEL),
    "skewed_topn": (q_skewed_topn, SQL_SKEWED_TOPN),
    "table_profile": (q_table_profile, SQL_TABLE_PROFILE),
    "events_asof_purchase": (q_events_asof_purchase, SQL_EVENTS_ASOF_PURCHASE),
    "value_band_counts": (q_value_band_counts, SQL_VALUE_BAND_COUNTS),
    "event_freq_cms": (q_event_freq_cms, SQL_EVENT_FREQ_CMS),
    "doc_hashes": (q_doc_hashes, SQL_DOC_HASHES),
    "doc_prep_pipeline": (q_doc_prep_pipeline, SQL_DOC_PREP_PIPELINE),
}
