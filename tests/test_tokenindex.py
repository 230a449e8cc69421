"""Maintained maxsim token index (operators/tokenindex.py +
streaming.ingest._maintain_token_index — r13, VERDICT r12 Missing #1):
build/append layout correctness, the mutation-clock staleness contract
(raise / exact deletes-only repair / rebuild on content change), torn
maintenance reading as absent, and delete-pressure compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deployment_spark.operators.crud import (
    SnapshotStore,
    StaleServingStateError,
)
from deployment_spark.operators.multivec import (
    maxsim_rerank,
    maxsim_topk,
    token_candidates,
)
from deployment_spark.operators.tokenindex import TokenIVFIndex


@pytest.fixture(scope="module")
def doc_batches(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return [
        emb.filter(F.col("vec_id").between(lo, hi)).localCheckpoint()
        for lo, hi in [(0, 79), (80, 159), (160, 239)]
    ]


def _tokens_fn(df):
    """Deterministic per-doc token bags derivable from the rows alone
    (the maintainer's tokens_fn contract): token 0 is the doc's own
    vector, token 1 a scaled copy; tok_id = doc·2 + j."""
    base = df.select(F.col("vec_id").cast("long").alias("doc_id"), "embedding")
    t0 = base.select(
        "doc_id",
        (F.col("doc_id") * 2).alias("tok_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    t1 = base.select(
        "doc_id",
        (F.col("doc_id") * 2 + 1).alias("tok_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * F.lit(0.5)
        ).alias("embedding"),
    )
    return t0.unionByName(t1)


def _queries(batch):
    """3 query bags of 2 tokens each, from the first rows."""
    q = batch.filter(F.col("vec_id") < 3)
    q0 = q.select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.lit(0).cast("long").alias("q_pos"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    q1 = q.select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.lit(1).cast("long").alias("q_pos"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: -x
        ).alias("query_vec"),
    )
    return q0.unionByName(q1).localCheckpoint()


def _two_stage(tidx, q_tokens, k=5):
    """Full-probe, all-hits two-stage over the MAINTAINED index — exact
    by construction (candidates ⊇ every doc with a live token), so it
    must equal the exact maxsim ranking over the live bags."""
    n = tidx.n_tokens()
    cand = token_candidates(
        lambda qd, kk: tidx.search_tokens(qd, k=kk, nprobe=10**9),
        q_tokens,
        tidx.live_token_doc(),
        k_per_token=max(n, 1),
        query_pos="q_pos",
    )
    bags = tidx.live_tokens().select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    return maxsim_rerank(
        bags, q_tokens, cand, k=k, round_to=6, query_pos="q_pos"
    )


def _exact(store, q_tokens, k=5):
    bags = _tokens_fn(store.read()).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    return maxsim_topk(bags, q_tokens, k=k, round_to=6, query_pos="q_pos")


def _rankmap(df):
    return {
        (r.query_id, r.rank): (r.vec_id, round(r.maxsim, 9))
        for r in df.collect()
    }


def _feed(store, batch, cfg):
    from deployment_spark.streaming.ingest import _maintain_token_index

    prev_v = store.current_version() if store.exists() else 0
    store.insert(batch)
    _maintain_token_index(store, batch, prev_v, cfg)


def test_token_index_build_append_two_stage_exact(spark, tmp_path, doc_batches):
    """build(b0) + maintained append(b1) must serve a two-stage ranking
    identical (at full probe / all hits) to the exact maxsim ranking
    over the current corpus — the maintained index IS the corpus's
    token index."""
    store = SnapshotStore(spark, str(tmp_path / "tx_store"), key="vec_id")
    cfg = {"root": str(tmp_path / "tx_idx"), "tokens_fn": _tokens_fn, "nlist": 8}
    _feed(store, doc_batches[0], cfg)
    _feed(store, doc_batches[1], cfg)
    tidx = TokenIVFIndex(spark, cfg["root"])
    assert tidx.exists()
    q = _queries(doc_batches[0])
    assert _rankmap(_two_stage(tidx, q)) == _rankmap(_exact(store, q))
    # live token count tracks the corpus (160 docs × 2 tokens)
    assert tidx.n_tokens() == 320
    # watermark = max doc id landed
    assert tidx.max_indexed_id() == 159


def test_token_index_detects_and_repairs_deletes(spark, tmp_path, doc_batches):
    store = SnapshotStore(spark, str(tmp_path / "td_store"), key="vec_id")
    cfg = {"root": str(tmp_path / "td_idx"), "tokens_fn": _tokens_fn, "nlist": 8}
    _feed(store, doc_batches[0], cfg)
    _feed(store, doc_batches[1], cfg)

    store.delete_ids([5, 81, 92])
    with pytest.raises(StaleServingStateError, match="maxsim token index"):
        _feed(store, doc_batches[2], cfg)

    # repair: exact tombstone kill; batch 2 (already inserted by the
    # raising call) lands through the watermark — the coverage-derived
    # increment self-heals the crash window by construction
    from deployment_spark.streaming.ingest import _maintain_token_index

    cfg_r = {**cfg, "on_mutation": "repair"}
    prev_v = store.current_version()
    _maintain_token_index(store, doc_batches[2], prev_v, cfg_r)
    tidx = TokenIVFIndex(spark, cfg["root"])
    assert {r.doc_id for r in tidx.live_doc_ids().collect()} == {
        r.vec_id for r in store.read().select("vec_id").collect()
    }
    # candidates can never propose a deleted doc
    q = _queries(doc_batches[0])
    cand = token_candidates(
        lambda qd, kk: tidx.search_tokens(qd, k=kk, nprobe=10**9),
        q,
        tidx.live_token_doc(),
        k_per_token=tidx.n_tokens(),
        query_pos="q_pos",
    )
    assert not {r.vec_id for r in cand.collect()} & {5, 81, 92}
    # and the served ranking equals exact-over-survivors
    assert _rankmap(_two_stage(tidx, q)) == _rankmap(_exact(store, q))


def test_token_index_upsert_repairs_exactly(spark, tmp_path, doc_batches, monkeypatch):
    """r13: a content upsert heals through the EXACT repair — tokens
    derive per doc, so the repair is delete(T) + reindex(tokens_fn(T))
    one generation higher, never a rebuild. Mixed history (upsert +
    delete) exercises both decomposition halves."""
    calls = {"reindex": 0, "build": 0}
    orig_reindex = TokenIVFIndex.reindex
    orig_build = TokenIVFIndex.build

    def spy_reindex(self, *a, **kw):
        calls["reindex"] += 1
        return orig_reindex(self, *a, **kw)

    def spy_build(self, *a, **kw):
        calls["build"] += 1
        return orig_build(self, *a, **kw)

    monkeypatch.setattr(TokenIVFIndex, "reindex", spy_reindex)
    monkeypatch.setattr(TokenIVFIndex, "build", spy_build)
    store = SnapshotStore(spark, str(tmp_path / "tu_store"), key="vec_id")
    cfg = {
        "root": str(tmp_path / "tu_idx"),
        "tokens_fn": _tokens_fn,
        "nlist": 8,
        "on_mutation": "repair",
    }
    _feed(store, doc_batches[0], cfg)
    assert calls["build"] == 1  # the first-batch build
    store.upsert(
        store.read()
        .filter(F.col("vec_id") == 7)
        .select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
    )
    store.delete_ids([11])
    _feed(store, doc_batches[1], cfg)
    assert calls["reindex"] == 1 and calls["build"] == 1  # repair, no rebuild
    tidx = TokenIVFIndex(spark, cfg["root"])
    q = _queries(doc_batches[0])
    assert _rankmap(_two_stage(tidx, q)) == _rankmap(_exact(store, q))
    assert 11 not in {r.doc_id for r in tidx.live_doc_ids().collect()}


def test_token_index_rebuilds_on_replace(spark, tmp_path, doc_batches, monkeypatch):
    """replace logs no touched keys by design → the repair policy falls
    back to rebuild — still exact, never silently stale."""
    calls = {"reindex": 0}
    monkeypatch.setattr(
        TokenIVFIndex, "reindex",
        lambda self, *a, **kw: calls.__setitem__("reindex", calls["reindex"] + 1),
    )
    store = SnapshotStore(spark, str(tmp_path / "tr_store"), key="vec_id")
    cfg = {
        "root": str(tmp_path / "tr_idx"),
        "tokens_fn": _tokens_fn,
        "nlist": 8,
        "on_mutation": "repair",
    }
    _feed(store, doc_batches[0], cfg)
    store.replace(store.read().filter(F.col("vec_id") != 7))
    _feed(store, doc_batches[1], cfg)
    assert calls["reindex"] == 0  # rebuild path, not the exact repair
    tidx = TokenIVFIndex(spark, cfg["root"])
    q = _queries(doc_batches[0])
    assert _rankmap(_two_stage(tidx, q)) == _rankmap(_exact(store, q))


def test_token_index_torn_maintenance_reads_absent(spark, tmp_path, doc_batches):
    tidx = TokenIVFIndex(spark, str(tmp_path / "torn_idx"), nlist=8).build(
        _tokens_fn(doc_batches[0])
    )
    assert tidx.exists()
    tidx._set_marker(True)
    assert not tidx.exists()
    # a build IS the recovery: marker cleared last, index serves again
    tidx.build(_tokens_fn(doc_batches[0]))
    assert tidx.exists()


def test_token_index_long_lived_handle_sees_sibling_append(
    spark, tmp_path, doc_batches
):
    """A long-lived handle must see a sibling instance's append in its
    stats answers: the stats memo is keyed by the stats dir's listing,
    not reset by this handle's own writes only (a handle that cached
    its stats served the pre-append count and pin forever)."""
    root = str(tmp_path / "sib_idx")
    tidx = TokenIVFIndex(spark, root, nlist=8).build(
        _tokens_fn(doc_batches[0]), src_clock={"seq": 1}
    )
    assert (tidx.n_tokens(), tidx.pinned_src_clock()) == (160, {"seq": 1})
    TokenIVFIndex(spark, root).append(
        _tokens_fn(doc_batches[1]), src_clock={"seq": 2}
    )
    assert (tidx.n_tokens(), tidx.pinned_src_clock()) == (320, {"seq": 2})
    assert tidx.max_indexed_id() == 159


def test_token_index_delete_and_compact(spark, tmp_path, doc_batches):
    tidx = TokenIVFIndex(spark, str(tmp_path / "tc_idx"), nlist=8).build(
        _tokens_fn(doc_batches[0])
    )
    assert tidx.delete([0, 1, 2]) == 3
    assert tidx.delete([0]) == 0  # already dead: no double-subtract
    assert tidx.n_tokens() == (80 - 3) * 2
    live_before = {r.doc_id for r in tidx.live_doc_ids().collect()}
    assert live_before == set(range(3, 80))
    dead, live = tidx.tombstone_pressure()
    assert (dead, live) == (6, 154)
    tidx.compact()
    assert tidx._tombstones() is None
    assert tidx.exists()
    assert {r.doc_id for r in tidx.live_doc_ids().collect()} == live_before
    assert tidx.n_tokens() == 154
    # watermark survives the fold
    assert tidx.max_indexed_id() == 79

def test_token_index_under_curated_ingest(spark, tmp_path):
    """The curated wrapper maintains the token index too (r13): admitted
    batches land their token rows; the coverage-derived increment keeps
    the index equal to the kept corpus across micro-batches."""
    import os

    from deployment_spark.streaming.ingest import curated_ingest_to_store

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    b0 = docs.filter(F.col("doc_id") < 60)
    b1 = docs.filter(F.col("doc_id").between(60, 119))
    landing = str(tmp_path / "landing")
    b0.coalesce(1).write.parquet(os.path.join(landing, "b=000"))
    b1.coalesce(1).write.parquet(os.path.join(landing, "b=001"))

    def tokens_fn(df):
        # deterministic per-doc token vectors derived from the id alone
        base = df.select(F.col("doc_id").cast("long").alias("doc_id"))
        return base.select(
            "doc_id",
            (F.col("doc_id") * 2).alias("tok_id"),
            F.array(
                (F.col("doc_id") % 7).cast("double"), F.lit(1.0)
            ).alias("embedding"),
        ).unionByName(
            base.select(
                "doc_id",
                (F.col("doc_id") * 2 + 1).alias("tok_id"),
                F.array(
                    (F.col("doc_id") % 5).cast("double"), F.lit(-1.0)
                ).alias("embedding"),
            )
        )

    store = SnapshotStore(spark, str(tmp_path / "cur_store"), key="doc_id")
    q = curated_ingest_to_store(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(landing),
        store,
        str(tmp_path / "ckpt"),
        token_index_maintain={
            "root": str(tmp_path / "cur_idx"),
            "tokens_fn": tokens_fn,
            "nlist": 4,
        },
    )
    q.awaitTermination(300)
    tidx = TokenIVFIndex(spark, str(tmp_path / "cur_idx"))
    assert tidx.exists()
    kept = {r.doc_id for r in store.read().select("doc_id").collect()}
    assert {r.doc_id for r in tidx.live_doc_ids().collect()} == kept
    assert tidx.n_tokens() == 2 * len(kept)


def test_search_tokens_doc_resolution_pruned_and_bounded(
    spark, tmp_path, doc_batches
):
    """r13 session 2: ``search_tokens`` resolves hit liveness (and, with
    ``with_doc=True``, the owning docs) from the PROBED CELLS with the
    k·nq-bounded hit set as the broadcast side — never by broadcasting
    the full layout's live token-id set, which is O(corpus) memory (an
    OOM at 100 TB, not merely a slow scan). Pins: (1) the with_doc
    candidate path equals the full-map path, including dead-doc
    exclusion after a delete; (2) the tok→doc resolution scan carries a
    cluster_id partition filter; (3) no tokens-layout scan without a
    partition filter appears anywhere in the plan."""
    import re

    from deployment_spark.operators.multivec import reference_k_per_token
    from deployment_spark.plans import audit

    store = SnapshotStore(spark, str(tmp_path / "pb_store"), key="vec_id")
    store.insert(doc_batches[0])
    store.insert(doc_batches[1])
    tidx = TokenIVFIndex(spark, str(tmp_path / "pb_idx"), nlist=8)
    tidx.build(_tokens_fn(store.read()))
    tidx.delete([85, 90, 95])
    q_tokens = _queries(doc_batches[0])
    kpt = reference_k_per_token(tidx.n_tokens())

    with_map = token_candidates(
        lambda qd, kk: tidx.search_tokens(qd, k=kk, nprobe=4),
        q_tokens,
        tidx.live_token_doc(),
        k_per_token=kpt,
        query_pos="q_pos",
    )
    self_resolved = token_candidates(
        lambda qd, kk: tidx.search_tokens(qd, k=kk, nprobe=4, with_doc=True),
        q_tokens,
        None,
        k_per_token=kpt,
        query_pos="q_pos",
    )
    a = {(r.query_id, r.vec_id) for r in with_map.collect()}
    b = {(r.query_id, r.vec_id) for r in self_resolved.collect()}
    assert a == b and b
    assert not {85, 90, 95} & {d for _, d in b}  # dead docs never proposed

    qdf = q_tokens.select(
        (F.col("query_id") * 10 + F.col("q_pos")).alias("query_id"),
        F.col("query_vec"),
    )
    plan = audit.physical_plan(
        tidx.search_tokens(qdf, k=kpt, nprobe=4, with_doc=True)
    )
    # tokens-layout scans are the FileScans carrying the cluster_id
    # partition column (the explain truncates Location paths, so match
    # on the attribute list; the tombstone scan has no cluster_id)
    token_scans = re.findall(
        r"FileScan parquet \[[^\]]*cluster_id[^\]]*\][^\n]*", plan
    )
    assert token_scans, plan
    assert all(
        re.search(r"PartitionFilters: \[[^\]]*cluster_id", s) for s in token_scans
    ), token_scans  # every tokens-layout scan is cell-pruned

    # the pruned cells come from IVFIndex.probe on either route: above
    # AUTO_DISTRIBUTED_NLIST (list count patched in the quantizer
    # metadata, as test_ivf.py's threshold pin does) the distributed
    # route must probe exactly the driver-routed cells (nprobe 1: the
    # 6 queries reach at most 6 of the 8 cells, so equality is not
    # trivially "every cell")
    import json
    import os
    from unittest import mock

    from deployment_spark.operators.ivf import AUTO_DISTRIBUTED_NLIST, IVFIndex

    driver_cells = tidx._probed_cells(qdf, 1)
    assert 0 < len(driver_cells) < 8
    meta_path = os.path.join(tidx.quantizer_root, "centroids.json")
    with open(meta_path) as f:
        meta = json.load(f)
    with open(meta_path, "w") as f:
        json.dump(dict(meta, nlist=AUTO_DISTRIBUTED_NLIST + 1), f)
    spy = mock.patch.object(
        IVFIndex, "route_distributed", autospec=True,
        side_effect=IVFIndex.route_distributed,
    )
    with spy as routed:
        assert tidx._probed_cells(qdf, 1) == driver_cells
    assert routed.called
