"""Plan-quality gates (SURVEY §4): pushdown, pruning, broadcast, codegen.
A query that silently regresses to full scans or shuffle joins fails
here even while staying correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from deployment_spark.plans import audit
from deployment_spark.queries import (
    q_point_lookup,
    q_pricing_summary,
    q_revenue_by_nation,
)
from deployment_spark.schemas import load_table


def test_point_lookup_pushes_filter(spark, sf_dir):
    df = q_point_lookup(spark, sf_dir)
    pushed = audit.pushed_filters(df)
    assert any("o_orderkey" in p for p in pushed), pushed


def test_pricing_summary_prunes_columns_and_pushes_date(spark, sf_dir):
    df = q_pricing_summary(spark, sf_dir)
    scans = audit.scan_columns(df)
    assert scans, "expected a file scan"
    # 7 referenced columns out of 11 in lineitem — pruning must hold
    assert all(len(cols) <= 7 for cols in scans), scans
    assert any("l_shipdate" in p for p in audit.pushed_filters(df))


def test_revenue_join_is_broadcast_not_shuffle(spark, sf_dir):
    df = q_revenue_by_nation(spark, sf_dir)
    assert audit.has_broadcast_join(df)
    assert not audit.has_shuffle_join(df)


def test_projection_only_reads_needed_columns(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select("l_orderkey").filter(F.col("l_orderkey") % 10 == 0)
    scans = audit.scan_columns(df)
    assert scans == [["l_orderkey"]]


def test_codegen_present_in_agg_pipeline(spark, sf_dir):
    df = q_pricing_summary(spark, sf_dir)
    assert audit.codegen_stage_count(df) >= 1


def test_neardup_lsh_path_plan_shape(spark, sf_dir):
    """The bucket-first near-dup plan must contain NO cartesian product
    and evaluate the signature UDF exactly once (the one-pass
    groupBy(band, sig) shape — a self-join would run it twice)."""
    from deployment_spark.operators.similarity import cosine_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    df = cosine_neardup_pairs(emb, 0.99, method="lsh")
    plan = audit.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") == 1, plan.count("MapInPandas")


def test_neardup_exact_path_no_cartesian(spark, sf_dir):
    """The distributed exact path is a grouped block-pair computation —
    no cartesian product node, no broadcast of the corpus."""
    from deployment_spark.operators.similarity import cosine_neardup_pairs_exact

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    df = cosine_neardup_pairs_exact(emb, 0.5, num_blocks=4)
    plan = audit.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_pii_scrub_stays_in_codegen(spark, sf_dir):
    """PII scrubbing is a per-row regexp projection: single scan, zero
    exchanges, whole-stage codegen."""
    from deployment_spark.operators.textstats import scrub_pii

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    df = scrub_pii(docs)
    assert audit.count_exchanges(df) == 0
    assert audit.codegen_stage_count(df) >= 1


def test_categorical_sort_no_join(spark):
    """T4's array_position key is an expression, not a lookup join."""
    from deployment_spark.operators.cleaning import categorical_sort

    df = spark.createDataFrame([("a", 1), ("b", 2)], ["stage", "v"])
    plan = audit.physical_plan(categorical_sort(df, "stage", ["b", "a"]))
    assert "Join" not in plan


def test_session_stats_single_shuffle(spark, sf_dir):
    """Sessionize window + per-session aggregate must share ONE user-key
    exchange — the aggregate reuses the window's partitioning."""
    from deployment_spark.streaming.sessionize import session_stats

    ev = load_table(spark, sf_dir, "events")
    df = session_stats(ev, gap_minutes=1440)
    assert audit.count_exchanges(df) == 1, audit.physical_plan(df)


def test_ivfpq_codes_scan_partition_pruned(spark, sf_dir, tmp_path):
    """The composed index's ADC scan must hit PartitionFilters on the
    codes table — pruning is the point of the IVF half."""
    from deployment_spark.functions.vector import l2_normalize
    from deployment_spark.operators.ivfpq import IVFPQIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", l2_normalize("embedding").alias("embedding")
    )
    idx = IVFPQIndex(spark, str(tmp_path / "pq_plan")).build(
        emb, nlist=8, m=8, ksub=16
    )
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    df = idx.search(queries, k=3, nprobe=2, shortlist=10)
    assert audit.has_partition_filters(df), audit.physical_plan(df)


def test_registry_sweep_no_scale_killers(spark, sf_dir):
    """Every catalog entry's physical plan, audited automatically: no
    CartesianProduct anywhere, and BroadcastNestedLoopJoin only where a
    1-row summary is cross-joined onto per-query rows (the self-judging
    recall entries — bounded by construction). A correct query that
    re-introduces an unpruned cross join fails HERE, not in review."""
    from deployment_spark.plans.audit import physical_plan
    from deployment_spark.queries import REGISTRY

    # crossJoin(broadcast(1-row summary)) plans as BNLJ; bounded: the
    # broadcast side is a single aggregate row. hist_quantiles broadcasts
    # the ≤bins-row cumulative grid and the 1-row total against a 6-row
    # probe set — every BNLJ side is O(bins), never data-scale.
    # doc_lm_score crossJoins the 1-row corpus-total aggregate;
    # ann_recall unions the recall entries (each a 1-row summary
    # crossJoin); bm25/hybrid broadcast the 1-row corpus-stats row;
    # topk_enriched's radius slot scans corpus × broadcast(nq queries) —
    # the brute-force ANN shape, broadcast side bounded by the query
    # batch contract, never data-scale
    # domain_mixture crossJoins the 1-row Σn^α normalizer onto the
    # S-row source-count table (S = #sources, never data-scale); the
    # corpus-side join is a plain broadcast hash join, asserted by
    # test_domain_mixture_rates_join_is_broadcast
    # (dsir_select needs no allowance: its distribution totals come
    # from an unpartitioned window over the 512-row bucket table, not a
    # crossJoin branch)
    BNLJ_OK = {
        "ann_recall", "hist_quantiles", "doc_lm_score",
        "doc_bm25_topk", "hybrid_search", "topk_enriched",
        "domain_mixture",
    }
    sf = sf_dir
    offenders = {}
    for name, (fn, _sql) in REGISTRY.items():
        plan = physical_plan(fn(spark, sf))
        bad = []
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            bad.append("BroadcastNestedLoopJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_lm_score_single_tokenization(spark, sf_dir, tmp_path):
    """unigram_lm_score must scan + tokenize the corpus ONCE on the
    production path (fresh file scans — what the driver gate and any
    100 TB run do): the vocab build and the scoring join share the tf
    aggregate's exchange via ReuseExchange (r4 finding: the old shape
    ran the explode twice). The table is read from a PRIVATE copy:
    conftest's session-scoped cache of the shared documents table would
    substitute InMemoryRelation leaves, and AQE's TableCacheQueryStage
    does not canonicalize equal across subtrees, which disables the
    reuse this test pins (noted in the operator docstring)."""
    import re
    import shutil

    from deployment_spark.operators.textstats import unigram_lm_score

    path = str(tmp_path / "docs.parquet")
    shutil.copy(f"{sf_dir}/documents.parquet", path)
    d = spark.read.parquet(path).select("doc_id", "text")
    out = unigram_lm_score(d)
    out.collect()  # AQE: inspect the FINAL executed plan, not the initial
    final = audit.physical_plan(out).split("== Initial Plan ==")[0]
    n_scans = len(re.findall(r"FileScan|Scan parquet|Scan orc", final))
    assert n_scans == 1, final
    # 2 Generates: the tokenizing explode (must appear once) and the
    # cheap vocab-side salt-replication explode
    gens = [ln for ln in final.splitlines() if "Generate" in ln]
    assert len(gens) == 2, final
    assert sum("split" in ln for ln in gens) == 1, gens
    assert "ReusedExchange" in final, final


def test_bm25_single_tokenization(spark, sf_dir, tmp_path):
    """bm25_scores must scan + tokenize the corpus ONCE on the
    production path: the 1-row corpus-stats aggregate and the scoring
    projection both consume the per-doc aggregate's exchange, which AQE
    dedupes at stage materialization (ReusedExchange in the FINAL plan;
    the initial static plan prints two subtrees — reading it is the
    trap this test avoids). Private table copy for the same
    cached-leaf reason as test_lm_score_single_tokenization."""
    import re
    import shutil

    from deployment_spark.operators.retrieval import bm25_scores

    path = str(tmp_path / "docs.parquet")
    shutil.copy(f"{sf_dir}/documents.parquet", path)
    d = spark.read.parquet(path).select("doc_id", "text")
    out = bm25_scores(d, ["dup", "vector", "merge", "batch"])
    out.collect()  # AQE: inspect the FINAL executed plan
    final = audit.physical_plan(out).split("== Initial Plan ==")[0]
    n_scans = len(re.findall(r"FileScan|Scan parquet|Scan orc", final))
    assert n_scans == 1, final
    gens = [ln for ln in final.splitlines() if "Generate" in ln]
    assert len(gens) == 1, final
    assert "ReusedExchange" in final, final


def test_knn_graph_plan_shape(spark, sf_dir):
    """knn_graph: block-pair Arrow tasks + one final window — never a
    cartesian/BNLJ pair join, and the block replication count matches
    the requested decomposition (explode of a B-element sequence)."""
    from deployment_spark.operators.knn import knn_graph
    from deployment_spark.plans.audit import physical_plan

    emb = load_table(spark, sf_dir, "embeddings")
    plan = physical_plan(knn_graph(emb, k=3, num_blocks=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # numpy block scoring
    assert "Window" in plan  # global top-k merge


def test_domain_mixture_rates_join_is_broadcast(spark, sf_dir):
    """temperature_mixture joins the S-row rate table back onto the
    corpus — must plan as a broadcast join (zero corpus shuffle), the
    whole point of the row-local keep design."""
    from deployment_spark.operators.export import temperature_mixture
    from deployment_spark.plans import audit

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    m = temperature_mixture(docs, "source", alpha=0.5, target_rows=100)
    assert audit.has_broadcast_join(m)
    assert not audit.has_shuffle_join(m)


def test_shuffled_shards_single_corpus_exchange(spark, sf_dir):
    """shuffled_shards: shard assignment is row-local; the only
    corpus-scale exchange is the per-shard position window's hash
    partitioning on shard."""
    from deployment_spark.operators.export import shuffled_shards
    from deployment_spark.plans import audit

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    s = shuffled_shards(docs, 8, seed=1)
    plan = audit.physical_plan(s)
    assert "CartesianProduct" not in plan
    # one exchange for the window (AQE may append a trailing coalesce
    # read, but no second hashpartitioning of the corpus)
    assert plan.count("hashpartitioning(shard") <= 1
    assert audit.count_exchanges(s) == 1


def test_span_dedup_shuffles_on_content_keys_only(spark, sf_dir):
    """span_dedup (r5): the dup-shingle lookup must be a hash JOIN on the
    shingle (AQE-skew-splittable), never a count-over-window piling a
    hot boilerplate shingle onto one task, and never a pair-space or
    cartesian shape; exchanges are shingle- and doc-keyed only."""
    from deployment_spark.operators.dedup import span_dedup
    from deployment_spark.plans import audit

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = span_dedup(docs)
    plan = audit.physical_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # no window partitioned by the shingle key anywhere in the plan
    assert "windowspecdefinition(sh" not in plan
    # bounded exchange count: shingle agg + join re-shuffle + doc window
    # (the doc groupBy reuses the window's partitioning)
    assert audit.count_exchanges(out) <= 4, audit.count_exchanges(out)


def test_dsir_ratio_join_is_broadcast(spark, sf_dir):
    """dsir_weights (r5): the 512-row bucket-ratio table must broadcast
    back onto the feature stream — the 100 TB corpus side's only
    exchanges are the bucket aggregate (closed at n_buckets, partial
    map-side combine) and the final doc-keyed sum."""
    from deployment_spark.operators.selection import dsir_weights
    from deployment_spark.plans import audit
    from pyspark.sql import functions as F2

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    w = dsir_weights(docs, F2.col("lang") == "en")
    plan = audit.physical_plan(w)
    assert audit.has_broadcast_join(w)
    assert not audit.has_shuffle_join(w)
    assert "CartesianProduct" not in plan
    # (the static plan prints the shared bf subtree once per consumer;
    # runtime dedup to a single scan/explode is pinned by
    # test_dsir_single_feature_pass on the FINAL executed plan)


def test_dsir_single_feature_pass(spark, sf_dir, tmp_path):
    """dsir_weights must scan + feature-explode the corpus ONCE on the
    production path: the bucket-distribution build and the per-doc
    scoring both consume the (doc, bucket) frequency aggregate's
    exchange via ReuseExchange. Two load-bearing details pinned here:
    the coalesce'd non-null bucket (else the ratio join pushes
    isnotnull into one subtree) and the is_target output column (else
    the pruner strips max(is_t) from the scoring branch's copy) — see
    the operator docstring. Private table copy for the same cached-leaf
    reason as test_lm_score_single_tokenization."""
    import re
    import shutil

    from deployment_spark.operators.selection import dsir_weights
    from pyspark.sql import functions as F2

    path = str(tmp_path / "docs.parquet")
    shutil.copy(f"{sf_dir}/documents.parquet", path)
    d = spark.read.parquet(path).select("doc_id", "text", "lang")
    out = dsir_weights(d, F2.col("lang") == "en")
    out.collect()  # AQE: inspect the FINAL executed plan
    final = audit.physical_plan(out).split("== Initial Plan ==")[0]
    n_scans = len(re.findall(r"FileScan|Scan parquet|Scan orc", final))
    assert n_scans == 1, final
    gens = [ln for ln in final.splitlines() if "Generate" in ln]
    assert len(gens) == 1, final
    assert "ReusedExchange" in final, final


def test_simhash_pair_plan_is_band_keyed_no_cartesian(spark, sf_dir):
    """Banded simhash pairs shuffle on (band_id, band_value) — a keyed
    equi-join, never a cartesian — and the popcount verify is pure
    codegen (no Python anywhere in the plan)."""
    from deployment_spark.operators.dedup import simhash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    df = simhash_neardup_pairs(docs)
    plan = audit.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for py in ("MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython"):
        assert py not in plan, py
    assert "band_id" in plan and "band_val" in plan


def test_doc_quality_single_scan_no_exchange(spark, sf_dir):
    """doc_quality (heuristics + trained-classifier scoring) must be ONE
    scan of documents with zero exchanges — the model columns ride the
    same row-local projection, not a second scan self-joined back."""
    from deployment_spark.queries import q_doc_quality

    df = q_doc_quality(spark, sf_dir)
    plan = audit.physical_plan(df)
    assert audit.count_exchanges(df) == 0, plan
    assert plan.count("documents.parquet") <= 1


def test_blocked_topk_plan_shape(spark, sf_dir, tmp_path):
    """The block-pair exact top-k must be exactly two exchanges: one
    hash shuffle on (_qb, _cb) feeding the pair-matmul tasks, one on
    the query id for the final window — with Spark's WindowGroupLimit
    pre-reduction on both sides of it. Anything more means the bipartite
    replication got re-shuffled (the scale story collapses); a scan that
    reads more than (id, vector) means pruning broke."""
    import re

    from deployment_spark.operators.similarity import topk_similarity_join_blocked
    from deployment_spark.plans import audit
    from pyspark.sql import functions as F

    # a private parquet copy: the session-scoped cached `embeddings`
    # fixture would otherwise substitute InMemoryRelation for the scan
    # (test-order dependent) and there'd be no FileScan to assert on
    own = str(tmp_path / "emb")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").write.parquet(own)
    emb = spark.read.parquet(own)
    q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    df = topk_similarity_join_blocked(
        emb, q, k=5, query_block_rows=16, corpus_block_rows=256
    )
    plan = audit.physical_plan(df)
    assert audit.count_exchanges(df) == 2, plan
    assert "WindowGroupLimit" in plan  # window pre-reduction engaged
    # column pruning reaches both replicated scans
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    assert len(schemas) == 2, plan
    assert all("label" not in s for s in schemas), schemas


def test_batch_ann_plan_shape(spark, sf_dir, tmp_path):
    """search_batch's MAIN-query plan budget (r9 shape, r10 prune): the
    routing table is lazily localCheckpointed — its blocked-top-k
    lineage (2 exchanges + its own pandas stage, pinned by the
    blocked-plan test above) runs once at materialization and shows in
    THIS plan as a checkpoint scan. What remains: the corpus scan
    pruned to probed clusters by a STATIC partition filter (r10 —
    the probed set is nlist-bounded and collected, so the filter is
    ``cluster_id IN (...)`` applied at file listing; the r9 broadcast
    semi-join and its exchange are gone), 1 exchange for the cluster
    groupBy, the global window's partial/final pair — ≤ 3 exchanges,
    exactly ONE pandas group stage (cluster scoring), and NEVER a
    cartesian product. An extra exchange means the probed-pair
    replication got re-shuffled; a second pandas stage means the
    checkpoint stopped truncating the routing lineage (each consumer
    would re-run it)."""
    import re

    from deployment_spark.operators.ivf import IVFIndex
    from deployment_spark.plans import audit
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = IVFIndex(spark, str(tmp_path / "ivfplan")).build(emb, nlist=16)
    q = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # nprobe=2: ≤ 12 of 16 clusters probed by construction (6 queries ×
    # 2 probes), below the PRUNE_SKIP_COVERAGE gate — the prune is live
    df = idx.search_batch(q, k=5, nprobe=2)
    plan = audit.physical_plan(df)
    assert audit.count_exchanges(df) <= 3, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert re.findall(
        r"PartitionFilters: \[[^\]]*cluster_id[^\]]*IN[^\]]*\]", plan
    ), plan  # unprobed clusters pruned at the scan's file listing
    assert "LeftSemi" not in plan, plan
    assert "CartesianProduct" not in plan


def test_expensive_entries_exchange_budget(spark, sf_dir):
    """r7 (VERDICT r6 next #8): pinned exchange-count ceilings for the
    most expensive bench entries (top of BENCH_r06 by time). A future
    edit that introduces an extra shuffle into one of these plans fails
    THIS test, instead of surfacing as a quiet bench regression a round
    later. Ceilings are the counts measured at pin time — an entry
    whose budget drops can tighten its row; one that must grow has to
    justify the new exchange here.

    Entries that localCheckpoint internally (dsir_select's feature
    pass, semantic_dedup's components) show only their POST-checkpoint
    exchanges — the internal stages have their own shape tests."""
    from deployment_spark.plans import audit
    from deployment_spark.queries import REGISTRY

    BUDGET = {
        "dsir_select": 0,        # post-checkpoint: broadcast ratio join only
        "semantic_dedup": 2,
        "doc_ngram_jaccard": 4,  # shingle agg + prefix join + 2 verify joins
        "doc_minhash_lsh": 2,    # signature agg + band join
        "skewed_topn": 2,        # salted partial + final top-N
        # r12 three-ranker widening: the rrf3 probe adds the maxsim
        # ranking (token-bag build join + the two-stage Σ-max partial
        # aggregates + rank window) and a third fusion union/groupBy —
        # 18 measured at pin time (was 11 for two rankers, two fusions)
        "hybrid_search": 18,
        "doc_exact_dedup": 2,    # docs md5 window + lineitem keep-first fold
        "embedding_neardup": 2,  # band join + pair dedup
        # r11 two-arm widening: the direct arm keeps its per-doc agg +
        # rank window; the indexed arm adds its own pruned-postings
        # per-doc agg + rank window (the df/stats attachments ride
        # broadcasts) — 2 exchanges per arm. r12 four-probe widening:
        # probe=deleted and probe=served each add their own
        # pruned-postings agg + rank window (their index/state
        # CONSTRUCTION runs eagerly in queries._fixture's build-once
        # memo, so only the four serving-read plans appear here);
        # 10 measured at pin time — 2 per ranking × 4 probes plus the
        # deleted arm's tombstone-correction aggregation pair
        "doc_bm25_topk": 10,
        "doc_lm_score": 6,       # token stats + unigram join + rollup
        # r9 two-arm widening: interactive arm (routing broadcast join +
        # top-k window, 1 exchange) + batch arm (blocked centroid
        # routing window, grouped scoring exchange, final window)
        "ivf_topk": 4,
    }
    over = {}
    for name, ceiling in BUDGET.items():
        df = REGISTRY[name][0](spark, sf_dir)
        n = audit.count_exchanges(df)
        if n > ceiling:
            over[name] = (n, ceiling)
    assert not over, f"exchange budget exceeded (got, ceiling): {over}"
