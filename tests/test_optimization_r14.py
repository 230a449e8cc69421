"""Focused pins for the round-14 optimization changes (OPTIMIZATION_r14.md).

Each test pins the PLAN/behavior property an optimization bought, so a
future edit that silently regresses it fails here instead of surfacing
as a quiet bench regression a round later — the test_plans.py convention.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_dsir_select_job_budget(spark, sf_dir, tmp_path):
    """q_dsir_select (r14): the weights checkpoint is LAZY
    (eager=False) — the checkpoint-RDD materialization job folds into
    the consumer's own action instead of running as a separate eager
    count (measured 8 → 7 jobs per invocation; the AQE query-stage
    jobs themselves run at plan-build time via toRdd either way). The
    checkpoint stays load-bearing: it is the column-pruning barrier
    that keeps the weights pass single-scan (see q_dsir_select's
    comment). Ceiling pinned at the measured count so a future edit
    that re-adds an action or an exchange fails here. The entry reads
    a PRIVATE copy of documents.parquet for the same cached-leaf reason
    as test_lm_score_single_tokenization: once an earlier test
    materializes conftest's session-cached documents table, the shared
    feature exchange is no longer reused and the invocation costs one
    extra query-stage job. The ≤7 count holds on a fresh file scan, the
    production path."""
    import shutil

    from deployment_spark.queries import q_dsir_select

    shutil.copy(f"{sf_dir}/documents.parquet", tmp_path / "documents.parquet")
    private_dir = str(tmp_path)
    tracker = spark.sparkContext.statusTracker()
    # warm: first call pays one-off planning/listing
    q_dsir_select(spark, private_dir).count()
    spark.sparkContext.setJobGroup("dsir_job_pin", "steady-state invocation")
    try:
        df = q_dsir_select(spark, private_dir)
        assert df.count() == 200
        jobs = len(tracker.getJobIdsForGroup("dsir_job_pin"))
        assert jobs <= 7, jobs
    finally:
        spark.sparkContext.setJobGroup(None, None)


def test_served_bm25_entry_mutation_log_bounded(spark, sf_dir):
    """r14 (VERDICT r13 #8): the standing streaming entries own their
    fixture stores outright — this ingest's maintainers are the
    mutation log's only possible consumers — so they run with
    vacuum_mutation_log=True by DEFAULT. After _bm25_served_topk's
    staged delete+upsert+heal flow, the store's key log must hold no
    entry below the final batch's clock floor (bounded at O(1) here
    instead of growing O(touched) forever), while the served ranking
    stayed exact (its oracle hash is gated elsewhere)."""
    import hashlib
    import os
    import tempfile

    from deployment_spark.queries import _bm25_served_topk

    assert _bm25_served_topk(spark, sf_dir).count() > 0
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    mdir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_bm25srv_{tag}", "store", "_mutations"
    )
    seqs = sorted(
        int(n[4:]) for n in os.listdir(mdir) if n.startswith("seq=")
    ) if os.path.isdir(mdir) else []
    # the delete and the upsert each logged one entry; the second run's
    # vacuum floor (clock at batch start) is past the delete's seq, so
    # at most the floor entry itself survives
    assert len(seqs) <= 1, seqs


def test_codec_recall_groups_share_one_exact_reference(spark, sf_dir):
    """ann_recall (r14, VERDICT r13 next #2): the four codec families'
    exact reference is computed ONCE per process (_exact_norm_topk10)
    and the raw-cosine reference once for the ivf pruned/graph groups
    (_exact_raw_topk10) — the same frame OBJECT is handed to every
    consumer, and its values equal a fresh computation of the identical
    expression tree (the sharing contract: only provably-equal
    definitions share)."""
    from deployment_spark.functions.vector import l2_normalize
    from deployment_spark.operators.similarity import topk_similarity_join_expr
    from deployment_spark.queries import (
        _exact_norm_topk10,
        _exact_raw_topk10,
        _t,
    )

    a = _exact_norm_topk10(spark, sf_dir)
    assert _exact_norm_topk10(spark, sf_dir) is a  # per-process cache
    b = _exact_raw_topk10(spark, sf_dir)
    assert _exact_raw_topk10(spark, sf_dir) is b

    emb = _t(spark, sf_dir, "embeddings")
    norm = emb.select("vec_id", l2_normalize("embedding").alias("embedding"))
    nq = norm.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    fresh_norm = topk_similarity_join_expr(norm, nq, k=10).select("query_id", "vec_id")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in fresh_norm.collect()}
    rq = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    fresh_raw = topk_similarity_join_expr(emb, rq, k=10).select("query_id", "vec_id")
    assert {tuple(r) for r in b.collect()} == {tuple(r) for r in fresh_raw.collect()}
