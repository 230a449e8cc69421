"""BM25 retrieval + RRF fusion (operators/retrieval.py): formula
cross-check against plain Python, idf ordering, rank determinism, plan
shape, and fusion arithmetic."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from deployment_spark.operators.retrieval import bm25_scores, bm25_topk, rrf_fuse, weighted_fuse


@pytest.fixture(scope="module")
def tiny_docs(spark):
    rows = [
        (0, "apple banana apple cherry"),
        (1, "banana banana banana banana"),
        (2, "apple cherry durian durian durian"),
        (3, "elderberry"),
        (4, "apple apple apple apple apple apple"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bm25_py(docs, terms, k1=1.2, b=0.75):
    toks = {i: t.lower().split() for i, t in docs}
    dl = {i: len(ts) for i, ts in toks.items()}
    n = len(docs)
    avgdl = sum(dl.values()) / n
    out = {}
    for i, ts in toks.items():
        s = 0.0
        matched = 0
        for t in terms:
            tf = ts.count(t)
            if tf == 0:
                continue
            matched += 1
            df = sum(1 for ts2 in toks.values() if t in ts2)
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl[i] / avgdl))
        if matched:
            out[i] = (s, matched)
    return out


def test_bm25_matches_reference_formula(spark, tiny_docs):
    rows = [(r.doc_id, r.text) for r in tiny_docs.collect()]
    terms = ["apple", "durian"]
    want = _bm25_py(rows, terms)
    got = {
        r.doc_id: (r.bm25, r.matched_terms)
        for r in bm25_scores(tiny_docs, terms).collect()
    }
    assert set(got) == set(want)
    for i, (s, m) in want.items():
        assert got[i][1] == m
        assert abs(got[i][0] - s) < 1e-9, (i, got[i][0], s)


def test_rare_term_outscores_common(spark, tiny_docs):
    """One occurrence of a corpus-rare term must outrank one occurrence
    of a corpus-common term at comparable dl — the idf property."""
    scored = {r.doc_id: r.bm25 for r in bm25_scores(tiny_docs, ["elderberry", "banana"]).collect()}
    assert scored[3] > scored[1]  # rare single hit > common quadruple hit
    assert scored[3] > scored[0]


def test_topk_rank_and_determinism(spark, tiny_docs):
    a = bm25_topk(tiny_docs, ["apple", "banana"], k=3).collect()
    b = bm25_topk(tiny_docs, ["apple", "banana"], k=3).collect()
    assert [(r.doc_id, r.rank) for r in a] == [(r.doc_id, r.rank) for r in b]
    assert [r.rank for r in a] == [1, 2, 3]
    sims = [r.bm25 for r in a]
    assert sims == sorted(sims, reverse=True)


def test_topk_uses_take_ordered(spark, tiny_docs):
    """orderBy+limit must compile to TakeOrderedAndProject — per-partition
    heaps, not a global sort — the scale contract in the docstring."""
    plan = (
        bm25_topk(tiny_docs, ["apple"], k=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_empty_terms_raise(spark, tiny_docs):
    with pytest.raises(ValueError, match="non-empty"):
        bm25_scores(tiny_docs, [])
    with pytest.raises(ValueError, match="non-empty"):
        rrf_fuse([])


def test_rrf_hand_computed(spark):
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2), (4, 3)], "doc_id long, rank int")
    got = {r.doc_id: (r.n_lists, r.rrf_score) for r in rrf_fuse([a, b]).collect()}
    assert got[2] == (2, 1 / 62 + 1 / 61)
    assert got[1] == (1, 1 / 61)
    assert got[4] == (1, 1 / 63)
    # present-in-both at middling ranks beats single-list rank 1
    assert got[2][1] > got[1][1]


def test_weighted_fuse_hand_computed(spark):
    a = spark.createDataFrame(
        [(1, 1, 10.0), (2, 2, 5.0), (3, 3, 0.0)], "doc_id long, rank int, score double"
    )
    b = spark.createDataFrame(
        [(2, 1, 0.9), (4, 2, 0.9)], "doc_id long, rank int, score double"
    )
    got = {
        r.doc_id: (r.n_lists, r.fused_score)
        for r in weighted_fuse([(a, 0.7), (b, 0.3)]).collect()
    }
    # a-list min-max: 10->1.0, 5->0.5, 0->0.0; b-list degenerate -> 1.0 each
    assert got[1] == (1, pytest.approx(0.7))
    assert got[2] == (2, pytest.approx(0.7 * 0.5 + 0.3))
    assert got[3] == (1, pytest.approx(0.0))
    assert got[4] == (1, pytest.approx(0.3))


def test_entry_functions_run(spark, sf_dir):
    from deployment_spark.queries import q_doc_bm25_topk, q_hybrid_search

    sf = sf_dir
    bm = q_doc_bm25_topk(spark, sf).collect()
    assert len(bm) == 80
    by_probe = {}
    for r in bm:
        by_probe.setdefault(r.probe, []).append(r)
    assert set(by_probe) == {"direct", "indexed", "deleted", "served"}
    key = lambda rows: sorted((r.rank, r.doc_id, r.bm25) for r in rows)
    # the two full-corpus execution paths answer identically; the
    # mutated-corpus probes rank DIFFERENT corpora (their exactness vs
    # from-scratch twins is pinned in test_serving_state + the oracle)
    assert key(by_probe["direct"]) == key(by_probe["indexed"])
    for probe, rows in by_probe.items():
        assert sorted(r.rank for r in rows) == list(range(1, 21)), probe
    hy = q_hybrid_search(spark, sf).collect()
    assert len(hy) == 60
    by_probe = {}
    for r in hy:
        by_probe.setdefault(r.probe, []).append(r)
    assert set(by_probe) == {"rrf", "weighted", "rrf3"}
    for probe, rows in by_probe.items():
        assert sorted(r.rank for r in rows) == list(range(1, 21)), probe
        lists_cap = 3 if probe == "rrf3" else 2
        assert all(1 <= r.n_lists <= lists_cap for r in rows)
        # fused list must actually draw from several modalities
        assert any(r.n_lists >= 2 for r in rows), probe
    # the three-ranker fusion really carries the late-interaction list
    assert any(r.n_lists == 3 for r in by_probe["rrf3"])


# ---------------------------------------------------------------------------
# BM25Index — persisted inverted index (r11)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus_docs(spark):
    """120 docs with skewed token frequencies: common tokens everywhere,
    mid tokens cyclic, a handful of rare tokens — exercises idf spread,
    multi-bucket pruning, and bucket skew."""
    rows = [
        (
            i,
            f"common filler tok{i % 11} mid{i % 5} "
            + ("rareterm " if i % 37 == 0 else "")
            + f"tail{i % 3}",
        )
        for i in range(120)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _built(spark, docs, tmp, n_buckets=8):
    from deployment_spark.operators.retrieval import BM25Index

    return BM25Index(spark, str(tmp), n_buckets=n_buckets).build(docs)


def _score_map(df):
    return {r.doc_id: (r.dl, r.matched_terms, r.bm25) for r in df.collect()}


def test_bm25_index_bitexact_vs_direct(spark, corpus_docs, tmp_path):
    """The index path must return BIT-identical rows to the from-scratch
    bm25_scores — same pivot, same term order, same avgdl arithmetic —
    so the two can share one oracle ranking."""
    idx = _built(spark, corpus_docs, tmp_path / "idx")
    terms = ["rareterm", "common", "mid2"]
    direct = _score_map(bm25_scores(corpus_docs, terms))
    indexed = _score_map(idx.search_scores(terms))
    assert direct == indexed  # exact equality, doubles included


def test_bm25_index_append_equals_build(spark, corpus_docs, tmp_path):
    """build(b1) + append(b2) + append(b3) ≡ build(full): postings
    content, stats sums, and search results all agree."""
    from deployment_spark.operators.retrieval import BM25Index

    full = _built(spark, corpus_docs, tmp_path / "full")
    inc = BM25Index(spark, str(tmp_path / "inc"), n_buckets=8).build(
        corpus_docs.filter("doc_id < 40")
    )
    inc.append(corpus_docs.filter("doc_id >= 40 and doc_id < 80"))
    inc.append(corpus_docs.filter("doc_id >= 80"))
    terms = ["rareterm", "tok3", "tail1"]
    assert _score_map(full.search_scores(terms)) == _score_map(
        inc.search_scores(terms)
    )
    rows = lambda ix: {
        (r.doc_id, r.tok, r.tf, r.dl)
        for r in spark.read.parquet(ix.postings_dir).collect()
    }
    assert rows(full) == rows(inc)
    stat = (
        spark.read.parquet(inc.stats_dir)
        .groupBy()
        .agg(
            F.sum("n_docs").alias("n"),
            F.sum("sum_dl").alias("s"),
            F.max("max_doc_id").alias("m"),
        )
        .collect()[0]
    )
    assert (stat.n, stat.m) == (120, 119)


def test_bm25_index_partition_pruning(spark, corpus_docs, tmp_path):
    """A query's scan must read ONLY its terms' buckets — the executed
    FileSourceScan's numFiles metric is the proof (relation has one
    file per non-empty bucket after build)."""
    from deployment_spark.operators.retrieval import bm25_bucket

    idx = _built(spark, corpus_docs, tmp_path / "prune", n_buckets=8)
    term = "rareterm"
    hits = idx.search_scores([term])
    hits.collect()
    ep = hits._jdf.queryExecution().executedPlan()

    def find_scans(node, acc):
        name = node.getClass().getName()
        if "FileSourceScan" in name:
            acc.append(node)
        # AQE wraps the plan: AdaptiveSparkPlanExec and QueryStageExec
        # have no children() — descend through their current plan
        if "AdaptiveSparkPlanExec" in name:
            return find_scans(node.executedPlan(), acc)
        if "QueryStageExec" in name:
            return find_scans(node.plan(), acc)
        for i in range(node.children().size()):
            find_scans(node.children().apply(i), acc)
        return acc

    scans = find_scans(ep, [])
    # identify the postings scans by schema (tok_bucket is the partition
    # column) — the Location path in toString() truncates under long
    # pytest tmp dirs
    post_scans = [s for s in scans if "tok_bucket" in s.toString()[:300]]
    assert post_scans, "no postings scan found"
    total = len(spark.read.parquet(idx.postings_dir).inputFiles())
    for s in post_scans:
        read = s.metrics().apply("numFiles").value()
        assert read < total, (read, total)
        assert read <= 2  # one bucket's file(s)


def test_bm25_bucket_twin_matches_spark(spark):
    """zlib.crc32 (driver-side pruning) ≡ F.crc32 (partition layout) over
    ascii, unicode, and punctuation tokens — the correctness hinge of
    bucket pruning."""
    from deployment_spark.operators.retrieval import bm25_bucket

    toks = [
        "alpha", "Alpha", "ALPHA!", "naïve", "日本語", "emoji🙂", "x",
        "0123456789", "with-dash", "under_score", "ünïcödé", "θΘπ",
    ]
    sdf = spark.createDataFrame([(t,) for t in toks], "tok string").withColumn(
        "b", (F.crc32(F.encode(F.col("tok"), "utf-8")) % 16).cast("int")
    )
    got = {r.tok: r.b for r in sdf.collect()}
    assert got == {t: bm25_bucket(t, 16) for t in toks}


def test_bm25_index_reconcile_heals_lost_append(spark, corpus_docs, tmp_path):
    """Crash window: store committed a batch but the index append was
    lost → reconcile(kept) re-indexes exactly the tail above the stats
    watermark. Orphan postings (postings landed, stats row lost) are
    dropped first so nothing double-counts."""
    from deployment_spark.operators.retrieval import BM25Index

    d1 = corpus_docs.filter("doc_id < 60")
    d2 = corpus_docs.filter("doc_id >= 60")
    idx = BM25Index(spark, str(tmp_path / "rec"), n_buckets=8).build(d1)
    # lost append: kept corpus advanced, index didn't
    assert idx.reconcile(corpus_docs) == 60
    terms = ["rareterm", "tok7"]
    want = _score_map(bm25_scores(corpus_docs, terms))
    assert _score_map(idx.search_scores(terms)) == want
    # orphan postings — the OTHER crash window (postings landed, stats
    # row lost): fresh index over d1, then d2's postings WITHOUT their
    # stats row; reconcile must drop the orphans (ids above the
    # watermark) before re-landing one copy, else d2 double-counts
    idx2 = BM25Index(spark, str(tmp_path / "rec2"), n_buckets=8).build(d1)
    (
        idx2._postings(d2, "text", "doc_id", gen=0, n_buckets=8)
        .repartition("tok_bucket")
        .write.mode("append")
        .partitionBy("tok_bucket")
        .parquet(idx2.postings_dir)
    )
    assert idx2.reconcile(corpus_docs) == 60
    assert _score_map(idx2.search_scores(terms)) == want


def test_bm25_index_compact_preserves_content(spark, corpus_docs, tmp_path):
    from deployment_spark.operators.retrieval import BM25Index

    idx = BM25Index(spark, str(tmp_path / "cmp"), n_buckets=4).build(
        corpus_docs.filter("doc_id < 30")
    )
    for lo in (30, 60, 90):
        idx.append(corpus_docs.filter(f"doc_id >= {lo} and doc_id < {lo + 30}"))
    before = len(spark.read.parquet(idx.postings_dir).inputFiles())
    terms = ["common", "rareterm"]
    want = _score_map(idx.search_scores(terms))
    idx.compact()
    after = len(spark.read.parquet(idx.postings_dir).inputFiles())
    assert after < before
    assert spark.read.parquet(idx.stats_dir).count() == 1
    assert _score_map(idx.search_scores(terms)) == want
    assert idx.max_indexed_id() == 119


def test_bm25_index_absent_raises_contract_error(spark, tmp_path):
    from deployment_spark.operators.retrieval import BM25Index

    idx = BM25Index(spark, str(tmp_path / "nothere"))
    with pytest.raises(FileNotFoundError, match="no BM25 index"):
        idx.search_scores(["x"])
    with pytest.raises(ValueError, match="non-empty"):
        idx.search_scores([])


def test_bm25_index_torn_stats_raises_contract_error(spark, corpus_docs, tmp_path):
    """A missing stats dir must fail with the library's contract error,
    never serve scores computed from N = 0 (avgdl 0/0 → every score
    NULL). Two shapes: the stats dir is gone before the search, and it
    vanishes INSIDE the search, after exists() passed — the window a
    sibling's build() opens when it deletes stats/ before re-appending."""
    import shutil

    from deployment_spark.operators.retrieval import BM25Index

    _built(spark, corpus_docs, tmp_path / "idx")
    shutil.rmtree(tmp_path / "idx" / "stats")
    with pytest.raises(FileNotFoundError, match="no BM25 index"):
        BM25Index(spark, str(tmp_path / "idx")).search_scores(["common"])

    _built(spark, corpus_docs, tmp_path / "idx2")
    idx = BM25Index(spark, str(tmp_path / "idx2"))
    has_postings = idx._has_postings

    def sibling_rebuild_lands():
        shutil.rmtree(tmp_path / "idx2" / "stats")
        return has_postings()

    idx._has_postings = sibling_rebuild_lands
    with pytest.raises(FileNotFoundError, match="no BM25 index"):
        idx.search_scores(["common"])


def test_bm25_index_tombstone_correction_matches_antijoin(spark, corpus_docs, tmp_path):
    """The N/sum_dl tombstone correction and the live-postings anti-join
    must describe ONE tombstone set. A sibling's delete() lands inside
    the search, after the tombstone frame was read and before the
    correction: the scores must equal a fresh handle's search over the
    tombstones the anti-join used (the sibling's kill excluded from
    both), not a correction for a doc that still scores."""
    from deployment_spark.operators.retrieval import BM25Index

    root = str(tmp_path / "idx")
    _built(spark, corpus_docs, tmp_path / "idx")
    assert BM25Index(spark, root).delete([3]) == 1
    terms = ["common", "mid2", "rareterm"]
    want = _score_map(BM25Index(spark, root).search_scores(terms))

    idx = BM25Index(spark, root)
    live_postings = idx._live_postings
    landed = []

    def sibling_delete_lands(postings, tombstones):
        landed.append(BM25Index(spark, root).delete([7]))
        return live_postings(postings, tombstones=tombstones)

    idx._live_postings = sibling_delete_lands
    assert _score_map(idx.search_scores(terms)) == want
    assert landed == [1]

def test_bm25_index_legacy_stats_compact_and_rebucket(spark, corpus_docs, tmp_path):
    """r12 ADVICE: pre-r12 stats partials carry no src_seq/src_clock
    columns; _fold_stats aggregated them unconditionally, raising AFTER
    _set_marker(True) — the marker stayed set and the legacy index
    permanently read as absent. Legacy indexes must compact() and
    rebucket() cleanly (pin stays NULL, like a never-pinned partial)."""
    from deployment_spark.operators.retrieval import BM25Index

    idx = BM25Index(spark, str(tmp_path / "legacy"), n_buckets=8).build(corpus_docs)
    # strip the r12 pin columns to reproduce a grandfathered stats dir
    legacy = spark.read.parquet(idx.stats_dir).drop("src_seq", "src_clock").collect()
    legacy_df = spark.createDataFrame(
        legacy, "n_docs long, sum_dl long, max_doc_id long, n_buckets int"
    )
    import shutil

    shutil.rmtree(str(tmp_path / "legacy" / "stats"))
    legacy_df.coalesce(1).write.mode("overwrite").parquet(idx.stats_dir)
    idx2 = BM25Index(spark, str(tmp_path / "legacy"))
    terms = ["common", "rareterm"]
    want = _score_map(idx2.search_scores(terms))
    idx2.compact()
    assert idx2.exists()  # marker cleared, index serves
    assert _score_map(idx2.search_scores(terms)) == want
    assert idx2.pinned_src_clock() is None  # still unpinned, not corrupted
    idx2.rebucket(16)
    assert idx2.exists()
    idx3 = BM25Index(spark, str(tmp_path / "legacy"))
    assert idx3.n_buckets == 16
    assert _score_map(idx3.search_scores(terms)) == want


def test_bm25_index_reindex_absent_raises(spark, corpus_docs, tmp_path):
    """r12 ADVICE: reindex() on a non-existent/torn index must raise —
    delete() returns 0, postings land, a stats partial flips exists()
    true, and searches silently serve a one-batch corpus (the failure
    mode the maintenance marker closed for torn compactions)."""
    from deployment_spark.operators.retrieval import BM25Index

    idx = BM25Index(spark, str(tmp_path / "absent"), n_buckets=8)
    with pytest.raises(FileNotFoundError, match="reindex"):
        idx.reindex(corpus_docs.filter("doc_id < 5"))
    assert not idx.exists()
