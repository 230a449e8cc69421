"""CRUD snapshot store (C1-C7) — scripted mutation sequences with
straight-line expected state (SURVEY §5.2(3))."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from deployment_spark.operators.crud import SnapshotStore, drop_stores_by_prefix


@pytest.fixture()
def store(spark, tmp_path):
    return SnapshotStore(spark, str(tmp_path / "corpus"), key="id")


def mk(spark, rows):
    return spark.createDataFrame(rows, ["id", "payload"])


def test_create_insert_count(spark, store):
    store.create(mk(spark, [(1, "a"), (2, "b")]))
    assert store.count() == 2
    store.insert(mk(spark, [(3, "c"), (3, "c-dup"), (2, "existing")]))
    # incoming dedup on key + existing keys dropped (Milvus pk semantics)
    assert store.count() == 3
    assert store.read().filter(F.col("id") == 2).collect()[0].payload == "b"


def test_delete_ids_and_last_n(spark, store):
    store.create(mk(spark, [(i, f"p{i}") for i in range(10)]))
    store.delete_ids([0, 1])
    assert sorted(r.id for r in store.read().collect()) == list(range(2, 10))
    store.delete_last_n(3)
    assert sorted(r.id for r in store.read().collect()) == [2, 3, 4, 5, 6]


def test_update_delete_reinsert_semantics(spark, store):
    store.create(mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    # reference C3: new vectors get NEW ids; old slots are not preserved
    store.update([2], mk(spark, [(20, "b2")]))
    assert sorted(r.id for r in store.read().collect()) == [1, 3, 20]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_update_is_single_commit(spark, tmp_path, mode):
    """C3 snapshot isolation: delete + re-insert land in ONE commit, so a
    concurrent reader can never observe the deleted-but-not-reinserted
    intermediate state (round-1 verdict: update double-committed)."""
    s = SnapshotStore(spark, str(tmp_path / f"u_{mode}"), key="id", mode=mode)
    s.create(mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    v_before = s.current_version()
    v_after = s.update([2], mk(spark, [(20, "b2")]))
    assert v_after == v_before + 1  # exactly one version bump
    assert sorted(r.id for r in s.read().collect()) == [1, 3, 20]
    # every historical version is a consistent state: either pre-update
    # (has 2, lacks 20) or post-update (has 20, lacks 2) — never neither
    for v in range(1, v_after + 1):
        ids = {r.id for r in s.read(version=v).collect()}
        assert (2 in ids) != (20 in ids)


def test_upsert_lastwins(spark, store):
    store.create(mk(spark, [(1, "a"), (2, "b")]))
    store.upsert(mk(spark, [(2, "B"), (9, "new")]))
    state = {r.id: r.payload for r in store.read().collect()}
    assert state == {1: "a", 2: "B", 9: "new"}


def test_snapshot_time_travel_and_vacuum(spark, store):
    store.create(mk(spark, [(1, "a")]))
    store.insert(mk(spark, [(2, "b")]))
    assert store.read(version=1).count() == 1
    assert store.read(version=2).count() == 2
    removed = store.vacuum(keep_last=1)
    assert removed == [1]
    assert store.read().count() == 2


@pytest.fixture()
def mor(spark, tmp_path):
    return SnapshotStore(spark, str(tmp_path / "mor_corpus"), key="id", mode="mor")


def test_mor_full_crud_sequence(spark, mor):
    mor.create(mk(spark, [(i, f"p{i}") for i in range(10)]))
    # insert: batch dedup + existing-key drop, one new segment
    mor.insert(mk(spark, [(10, "x"), (10, "x-dup"), (3, "existing")]))
    assert mor.count() == 11
    assert mor.read().filter(F.col("id") == 3).collect()[0].payload == "p3"
    # delete: tombstone only
    mor.delete_ids([0, 1])
    assert sorted(r.id for r in mor.read().collect()) == [2, 3, 4, 5, 6, 7, 8, 9, 10]
    # re-insert after delete must survive the older tombstone
    mor.insert(mk(spark, [(0, "reborn")]))
    assert mor.read().filter(F.col("id") == 0).collect()[0].payload == "reborn"
    # upsert: last-wins via newer segment
    mor.upsert(mk(spark, [(2, "P2"), (99, "new")]))
    state = {r.id: r.payload for r in mor.read().collect()}
    assert state[2] == "P2" and state[99] == "new" and state[0] == "reborn"
    # delete_last_n operates on merged state
    mor.delete_last_n(1)
    assert 99 not in {r.id for r in mor.read().collect()}


def test_mor_matches_cow_state(spark, tmp_path):
    """Same scripted sequence through both engines ⇒ identical final state."""
    stores = [
        SnapshotStore(spark, str(tmp_path / m), key="id", mode=m) for m in ("cow", "mor")
    ]
    finals = []
    for s in stores:
        s.create(mk(spark, [(i, f"v{i}") for i in range(20)]))
        s.insert(mk(spark, [(20, "a"), (21, "b")]))
        s.delete_ids([5, 6, 7])
        s.upsert(mk(spark, [(8, "V8"), (30, "c")]))
        s.update([9], mk(spark, [(40, "d")]))
        s.delete_last_n(2)
        finals.append({(r.id, r.payload) for r in s.read().collect()})
    assert finals[0] == finals[1]


def test_mor_compact_and_time_travel(spark, mor):
    mor.create(mk(spark, [(1, "a"), (2, "b")]))
    mor.insert(mk(spark, [(3, "c")]))
    mor.delete_ids([1])
    assert mor.read(version=1).count() == 2
    assert mor.read(version=2).count() == 3
    before = {(r.id, r.payload) for r in mor.read().collect()}
    v = mor.compact()
    m = mor._read_manifest(v)
    assert len(m["segments"]) == 1 and m["tombstones"] == []
    assert {(r.id, r.payload) for r in mor.read().collect()} == before
    removed = mor.vacuum(keep_last=1)
    assert removed == [1, 2, 3]
    assert {(r.id, r.payload) for r in mor.read().collect()} == before


def test_exists_drop_prefix(spark, tmp_path):
    root = str(tmp_path)
    s1 = SnapshotStore(spark, os.path.join(root, "bench_model_a"), key="id")
    s2 = SnapshotStore(spark, os.path.join(root, "bench_model_b"), key="id")
    s3 = SnapshotStore(spark, os.path.join(root, "other"), key="id")
    for s in (s1, s2, s3):
        assert not s.exists()
        s.create(mk(spark, [(1, "x")]))
        assert s.exists()
    dropped = drop_stores_by_prefix(root, "bench_")
    assert dropped == ["bench_model_a", "bench_model_b"]
    assert not os.path.exists(s1.root) and os.path.exists(s3.root)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_schema_evolution_additive_column(spark, tmp_path, mode):
    """Opt-in evolution: an insert carrying a NEW column widens the
    table; old rows read NULL for it; a later insert OMITTING a column
    still lands (NULL-filled). Strict mode still rejects drift."""
    from pyspark.sql import functions as F

    s = SnapshotStore(
        spark, str(tmp_path / f"ev_{mode}"), key="id", mode=mode,
        schema_evolution=True,
    )
    s.create(mk(spark, [(1, "a"), (2, "b")]))
    s.insert(
        spark.createDataFrame([(3, "c", 9.5)], ["id", "payload", "score"])
    )
    rows = {r.id: (r.payload, r.score) for r in s.read().collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}
    # omit a column on the next insert
    s.insert(spark.createDataFrame([(4, 1.5)], ["id", "score"]))
    rows = {r.id: (r.payload, r.score) for r in s.read().collect()}
    assert rows[4] == (None, 1.5)

    strict = SnapshotStore(spark, str(tmp_path / f"strict_{mode}"), key="id", mode=mode)
    strict.create(mk(spark, [(1, "a")]))
    import pyspark.errors

    with pytest.raises(Exception):
        strict.insert(spark.createDataFrame([(2, "b", 1.0)], ["id", "payload", "extra"]))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_concurrent_commit_loser_fails_loudly(spark, tmp_path, mode):
    """Optimistic concurrency: two writers that both read version N race
    to claim N+1; the loser raises ConcurrentCommitError instead of
    silently overwriting the winner (lost update). Simulated by
    pre-claiming the next version as a 'concurrent' writer would."""
    from deployment_spark.operators.crud import ConcurrentCommitError

    s = SnapshotStore(spark, str(tmp_path / f"occ_{mode}"), key="id", mode=mode)
    s.create(mk(spark, [(1, "a")]))
    nxt = s.current_version() + 1
    # the "other writer" claims the version first
    open(str(tmp_path / f"occ_{mode}" / f"claim.v{nxt:06d}"), "w").close()
    with pytest.raises(ConcurrentCommitError):
        s.insert(mk(spark, [(2, "b")]))
    # state unchanged; a retry (fresh read -> next version) succeeds
    assert s.count() == 1
    # clear the simulated claim as the winner's commit would have consumed it
    os.remove(str(tmp_path / f"occ_{mode}" / f"claim.v{nxt:06d}"))
    s.insert(mk(spark, [(2, "b")]))
    assert s.count() == 2


def test_mor_loser_never_touches_winner_files(spark, tmp_path):
    """The mor claim must happen BEFORE any segment/tombstone write:
    segment paths are deterministic (s{v}/t{v}), so a loser that writes
    first would overwrite the winner's already-published files — a silent
    lost update the ConcurrentCommitError contract exists to prevent.
    With claim-first, the loser errors out leaving NO s{v}/t{v} dirs."""
    from deployment_spark.operators.crud import ConcurrentCommitError

    root = tmp_path / "morrace"
    s = SnapshotStore(spark, str(root), key="id", mode="mor")
    s.create(mk(spark, [(1, "a"), (2, "b")]))
    nxt = s.current_version() + 1
    open(str(root / f"claim.v{nxt:06d}"), "w").close()  # winner holds the claim
    for mutate in (
        lambda: s.insert(mk(spark, [(3, "c")])),
        lambda: s.delete_ids([1]),
        lambda: s.update([2], mk(spark, [(2, "B")])),
        lambda: s.upsert(mk(spark, [(2, "B")])),
        lambda: s.compact(),
    ):
        with pytest.raises(ConcurrentCommitError):
            mutate()
        assert not os.path.exists(str(root / f"s{nxt:06d}")), "loser wrote a segment"
        assert not os.path.exists(str(root / f"t{nxt:06d}")), "loser wrote a tombstone"


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_stale_base_read_fails_claim(spark, tmp_path, mode):
    """A writer whose base snapshot went stale between its read and its
    claim must get ConcurrentCommitError — otherwise its anti-join/merge
    against the stale base silently drops the concurrent writer's rows
    (the claim is taken on base_version+1, not on a re-read current+1).
    Simulated by hooking the pinned base read to let a second store
    instance commit in the gap."""
    from deployment_spark.operators.crud import ConcurrentCommitError

    root = str(tmp_path / f"stale_{mode}")
    a = SnapshotStore(spark, root, key="id", mode=mode)
    b = SnapshotStore(spark, root, key="id", mode=mode)
    a.create(mk(spark, [(1, "a"), (2, "b")]))
    # prime the schema memo: _check_schema runs BEFORE the mutation
    # captures base_v — had it a version-pinned read, the hook would
    # fire there and B's commit would land before the stale-base window
    # even opens (r7 harness drift)
    a._schema(a.current_version())
    base_v = a.current_version()

    orig_read = a.read
    fired = []

    def hooked(version=None):
        df = orig_read(version)
        # version is pinned ONLY for the mutation's base read; the
        # schema memo (primed above) absorbs the schema-check read
        if version is not None and not fired:
            fired.append(b.insert(mk(spark, [(9, "z")])))
        return df

    a.read = hooked
    try:
        with pytest.raises(ConcurrentCommitError) as exc:
            a.insert(mk(spark, [(3, "c")]))
    finally:
        a.read = orig_read
    # the window really was exercised: the hook fired (B committed in
    # the gap) and A's failed claim was on its STALE base_v+1, which is
    # exactly the version B published
    assert fired, "hook never fired — the stale-base window was not simulated"
    assert fired[0] == base_v + 1
    assert f"version {base_v + 1}" in str(exc.value)
    # B's concurrent row survived; A's loser mutation changed nothing
    assert {r.id for r in a.read().collect()} == {1, 2, 9}
    # retry on the fresh base succeeds
    a.insert(mk(spark, [(3, "c")]))
    assert {r.id for r in a.read().collect()} == {1, 2, 3, 9}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_stale_base_version_contract(spark, tmp_path, mode):
    """Direct contract test for the stale-base protection, independent of
    read-hook ordering (the hook simulation above proves the WINDOW; this
    pins the MECHANISM so a refactor that drops the claim/freshness check
    fails even if internal read ordering changes): committing with an
    explicitly stale base_version must raise, whichever of the two
    defenses (claim marker taken, or marker vacuumed but pointer ahead)
    is in play."""
    from deployment_spark.operators.crud import ConcurrentCommitError

    root = str(tmp_path / f"stalec_{mode}")
    a = SnapshotStore(spark, root, key="id", mode=mode)
    b = SnapshotStore(spark, root, key="id", mode=mode)
    a.create(mk(spark, [(1, "a")]))
    stale_v = a.current_version()
    b.insert(mk(spark, [(2, "b")]))  # concurrent commit: stale_v+1 now published

    df = a.read()  # any frame; the claim must fail before it matters
    if mode == "cow":
        with pytest.raises(ConcurrentCommitError):
            a._commit(df, base_version=stale_v)
    else:
        with pytest.raises(ConcurrentCommitError):
            a._claim_version(stale_v + 1)
    # same must hold after vacuum swept the consumed claim marker — the
    # pointer-freshness check is the defense once the marker is gone
    a.vacuum()
    assert not os.path.exists(os.path.join(root, f"claim.v{stale_v + 1:06d}"))
    if mode == "cow":
        with pytest.raises(ConcurrentCommitError):
            a._commit(df, base_version=stale_v)
    else:
        with pytest.raises(ConcurrentCommitError):
            a._claim_version(stale_v + 1)
    # no damage: published state intact, retry on fresh base works
    assert {r.id for r in b.read().collect()} == {1, 2}
    a.insert(mk(spark, [(3, "c")]))
    assert {r.id for r in a.read().collect()} == {1, 2, 3}


def test_recover_claims_frees_crashed_writer(spark, tmp_path):
    """A writer that claimed a version and died mid-commit must not burn
    the version forever: recover_claims() frees claims above the
    published version, after which mutation succeeds."""
    from deployment_spark.operators.crud import ConcurrentCommitError

    s = SnapshotStore(spark, str(tmp_path / "rec"), key="id")
    s.create(mk(spark, [(1, "a")]))
    nxt = s.current_version() + 1
    open(str(tmp_path / "rec" / f"claim.v{nxt:06d}"), "w").close()  # dead claimant
    with pytest.raises(ConcurrentCommitError):
        s.insert(mk(spark, [(2, "b")]))
    assert s.recover_claims() == [nxt]
    s.insert(mk(spark, [(2, "b")]))
    assert s.count() == 2


def test_vacuum_sweeps_consumed_claims(spark, tmp_path):
    s = SnapshotStore(spark, str(tmp_path / "vc"), key="id")
    s.create(mk(spark, [(1, "a")]))
    s.insert(mk(spark, [(2, "b")]))
    assert any(n.startswith("claim.v") for n in os.listdir(str(tmp_path / "vc")))
    s.vacuum(keep_last=1)
    assert not any(n.startswith("claim.v") for n in os.listdir(str(tmp_path / "vc")))
    assert s.count() == 2


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_read_where_key_between_matches_filtered_read(spark, tmp_path, mode):
    """Zone-mapped range reads return exactly read().filter(between) —
    across segments, tombstones, and re-inserts — while (mor) pruning
    whole files whose key zone cannot intersect the range."""
    s = SnapshotStore(spark, str(tmp_path / f"zm_{mode}"), key="id", mode=mode)
    s.create(mk(spark, [(i, f"a{i}") for i in range(0, 100)]))
    s.insert(mk(spark, [(i, f"b{i}") for i in range(100, 200)]))
    s.insert(mk(spark, [(i, f"c{i}") for i in range(200, 300)]))
    s.delete_ids([150, 250])
    s.upsert(mk(spark, [(120, "UPDATED")]))

    got = {r.id: r.payload for r in s.read_where_key_between(100, 199).collect()}
    want = {
        r.id: r.payload
        for r in s.read().filter(F.col("id").between(100, 199)).collect()
    }
    assert got == want
    assert 150 not in got and got[120] == "UPDATED" and len(got) == 99

    if mode == "mor":
        m = s._read_manifest(s.current_version())
        # zone maps recorded on every entry
        assert all(e["key_min"] is not None for e in m["segments"])
        # the [0, 99] range prunes the later segments AND both tombstones
        hits = s._zone_hits(m["segments"], 0, 99)
        assert len(hits) < len(m["segments"])
        assert s._zone_hits(m["tombstones"], 0, 99) == []
    # empty range: typed empty result, no error
    assert s.read_where_key_between(5000, 6000).count() == 0

    # point-set read: same pruning discipline, same answers
    got_in = {r.id: r.payload for r in s.read_where_key_in([120, 150, 250, 7, 9999]).collect()}
    assert got_in == {120: "UPDATED", 7: "a7"}  # 150/250 deleted, 9999 absent
    assert s.read_where_key_in([]).count() == 0
    if mode == "mor":
        m = s._read_manifest(s.current_version())
        # a probe set inside one segment's zone scans just that segment
        only_first = [e for e in m["segments"] if e["key_min"] is not None and e["key_max"] < 100]
        assert len(only_first) >= 1


def _live_files(store):
    m = store._read_manifest(store.current_version())
    return len(m["segments"]) + len(m["tombstones"])


def test_mor_auto_compaction_bounds_read_amplification(spark, tmp_path):
    """compact_when policy (VERDICT r4 #5): a 24-mutation grid-shaped
    sequence (insert, delete, update per size — update commits 2 files)
    must keep every CURRENT manifest at <= compact_when live files, with
    state identical to an unpoliced mor twin."""
    policed = SnapshotStore(
        spark, str(tmp_path / "policed"), key="id", mode="mor", compact_when=4
    )
    free = SnapshotStore(spark, str(tmp_path / "free"), key="id", mode="mor")
    nxt = 100
    for s in (policed, free):
        s.create(mk(spark, [(i, f"p{i}") for i in range(20)]))
    max_live = 0
    for round_no in range(8):
        batch = [(nxt + i, f"n{nxt + i}") for i in range(5)]
        upd = [(nxt + 50 + i, f"u{nxt + i}") for i in range(2)]
        victims = [round_no * 2, round_no * 2 + 1]
        upd_victims = [20 + round_no]
        for s in (policed, free):
            s.insert(mk(spark, batch))
            s.delete_ids(victims)
            s.update(upd_victims, mk(spark, upd))
        max_live = max(max_live, _live_files(policed))
        nxt += 5
    assert max_live <= 4, max_live
    assert _live_files(free) > 4  # the twin really did accrete
    a = sorted((r.id, r.payload) for r in policed.read().collect())
    b = sorted((r.id, r.payload) for r in free.read().collect())
    assert a == b


def test_mor_auto_compaction_never_triggers_under_threshold(spark, tmp_path):
    s = SnapshotStore(
        spark, str(tmp_path / "s"), key="id", mode="mor", compact_when=50
    )
    s.create(mk(spark, [(1, "a")]))
    v1 = s.insert(mk(spark, [(2, "b")]))
    v2 = s.delete_ids([1])
    # versions advance one per mutation — no hidden compaction commits
    assert (v1, v2) == (2, 3)
    assert _live_files(s) == 3  # s1, s2, t3


def test_auto_compaction_failure_does_not_fail_the_mutation(spark, tmp_path, monkeypatch):
    """The mutation is durably published before auto-compaction runs;
    ANY compaction failure (not just a lost claim race) must surface as
    a deferred fold, never as a failed mutation (review finding r5)."""
    s = SnapshotStore(
        spark, str(tmp_path / "s"), key="id", mode="mor", compact_when=2
    )
    s.create(mk(spark, [(1, "a")]))
    s.insert(mk(spark, [(2, "b")]))

    def boom():
        raise RuntimeError("transient executor loss")

    monkeypatch.setattr(s, "compact", boom)
    v = s.insert(mk(spark, [(3, "c")]))  # trips compact_when=2 -> boom
    assert v == 3  # the mutation's own commit survives
    assert sorted(r.id for r in s.read().collect()) == [1, 2, 3]
    monkeypatch.undo()
    v2 = s.insert(mk(spark, [(4, "d")]))  # next trip folds for real
    assert _live_files(s) == 1 and s.count() == 4


def test_auto_compaction_failure_is_observable_not_silent(spark, tmp_path, monkeypatch):
    """A failing threshold-triggered compaction must defer (store stays
    valid, mutation stays committed) AND surface: warning emitted,
    failure counter incremented — a persistently dead policy is
    distinguishable from a working one."""
    import warnings

    s = SnapshotStore(
        spark, str(tmp_path / "cfail"), key="id", mode="mor", compact_when=1
    )
    s.insert(spark.createDataFrame([(1, "a")], "id long, v string"))

    def boom():
        raise RuntimeError("disk full")

    monkeypatch.setattr(s, "compact", boom)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        s.insert(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert s.compaction_failures == 1
    assert any("auto-compaction deferred" in str(w.message) for w in caught)
    # the mutation itself committed; the store reads fine uncompacted
    assert {r.id for r in s.read().collect()} == {1, 2}


def test_insert_assume_new_fast_path(spark, tmp_path):
    """assume_new skips the pk existence anti-join (the hidden O(corpus)
    insert term the r6 store probe measured). Fresh-key inserts must be
    byte-equivalent to the checked path; violating the caller guarantee
    lands duplicate keys — the documented sharp edge, same as
    dedup_new=False."""
    for mode in ("cow", "mor"):
        store = SnapshotStore(
            spark, str(tmp_path / f"an_{mode}"), key="k", mode=mode
        )
        base = spark.createDataFrame([(i, "a") for i in range(100)], "k long, v string")
        store.insert(base)
        fresh = spark.createDataFrame(
            [(i, "b") for i in range(100, 120)], "k long, v string"
        )
        store.insert(fresh, assume_new=True)
        assert store.count() == 120
        got = {r.k: r.v for r in store.read().collect()}
        assert all(got[i] == "b" for i in range(100, 120))
        # intra-batch dedup still applies on the fast path
        dup_batch = spark.createDataFrame(
            [(200, "c"), (200, "c2"), (201, "d")], "k long, v string"
        )
        store.insert(dup_batch, assume_new=True)
        assert store.count() == 122
        # violating the guarantee: the existing key lands again — as two
        # raw rows under cow, and as a silent last-wins shadow under mor
        # (the merge-on-read key dedup hides the older row)
        store.insert(
            spark.createDataFrame([(0, "dup")], "k long, v string"),
            assume_new=True,
        )
        k0 = store.read().filter("k = 0").collect()
        if mode == "cow":
            assert sorted(r.v for r in k0) == ["a", "dup"]
        else:
            assert [r.v for r in k0] == ["dup"]


def test_read_where_between_value_skipping(spark, tmp_path):
    """Secondary zone maps (stats_cols): value-range reads prune
    segments whose tracked [min,max] cannot match — but NEVER at the
    cost of resurrecting shadowed rows (the mor hazard: an upsert that
    moved a value out of range must still hide the stale in-range row).
    """
    store = SnapshotStore(
        spark, str(tmp_path / "zs"), key="k", mode="mor", stats_cols=["val"]
    )
    # three append batches with DISJOINT key ranges and value bands
    store.insert(spark.createDataFrame(
        [(i, float(10 + i % 5)) for i in range(100)], "k long, val double"))
    store.insert(spark.createDataFrame(
        [(i, float(1000 + i % 5)) for i in range(100, 200)], "k long, val double"))
    store.insert(spark.createDataFrame(
        [(i, float(2000 + i % 5)) for i in range(200, 300)], "k long, val double"))

    got = store.read_where_between("val", 900, 1100)
    rows = got.collect()
    assert sorted(r.k for r in rows) == list(range(100, 200))
    # pruning is real: the plan reads fewer files than a full read
    assert len(got.inputFiles()) < len(store.read().inputFiles())

    # shadow-safety: move keys 0-9 OUT of the low band via upsert; a
    # naive value-pruner would drop the new segment (values 5000) and
    # resurrect the stale in-band rows
    store.upsert(spark.createDataFrame(
        [(i, 5000.0) for i in range(10)], "k long, val double"))
    low = store.read_where_between("val", 0, 100)
    assert sorted(r.k for r in low.collect()) == list(range(10, 100))

    # equivalence with the naive filtered read on every band
    for lo, hi in ((0, 100), (900, 1100), (0, 10000), (3000, 4000)):
        a = sorted((r.k, r.val) for r in store.read_where_between("val", lo, hi).collect())
        b = sorted((r.k, r.val) for r in store.read().filter(
            F.col("val").between(lo, hi)).collect())
        assert a == b, (lo, hi)

    # stores without stats degrade to scan-and-filter, same answers
    plain = SnapshotStore(spark, str(tmp_path / "ns"), key="k", mode="mor")
    plain.insert(spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k long, val double"))
    assert plain.read_where_between("val", 10, 20).count() == 11


def test_read_where_between_random_histories(spark, tmp_path):
    """Property check for shadow-safe value skipping: for random
    insert/upsert/delete histories (overlapping keys, values migrating
    across bands), read_where_between must equal the naive filtered
    read on every probed band. Deterministic seeds; both engines."""
    import random

    for seed in (11, 23):
        rng = random.Random(seed)
        for mode in ("cow", "mor"):
            store = SnapshotStore(
                spark,
                str(tmp_path / f"rh_{mode}_{seed}"),
                key="k",
                mode=mode,
                stats_cols=["val"],
            )
            expected: dict[int, float] = {}
            next_id = 0
            for step in range(6):
                op = rng.choice(["insert", "upsert", "delete"]) if step else "insert"
                if op == "insert":
                    rows = [
                        (next_id + i, float(rng.randrange(0, 5000)))
                        for i in range(rng.randrange(5, 40))
                    ]
                    next_id += len(rows)
                    store.insert(
                        spark.createDataFrame(rows, "k long, val double")
                    )
                    for kk, vv in rows:
                        expected.setdefault(kk, vv)
                elif op == "upsert" and expected:
                    ks = rng.sample(sorted(expected), min(8, len(expected)))
                    rows = [(kk, float(rng.randrange(0, 5000))) for kk in ks]
                    store.upsert(
                        spark.createDataFrame(rows, "k long, val double")
                    )
                    expected.update(dict(rows))
                elif op == "delete" and expected:
                    ks = rng.sample(sorted(expected), min(5, len(expected)))
                    store.delete_ids(ks)
                    for kk in ks:
                        expected.pop(kk)
            for lo, hi in ((0, 1000), (1000, 3000), (2500, 5000), (0, 5000)):
                got = sorted(
                    (r.k, r.val)
                    for r in store.read_where_between("val", lo, hi).collect()
                )
                want = sorted(
                    (kk, vv) for kk, vv in expected.items() if lo <= vv <= hi
                )
                assert got == want, (mode, seed, lo, hi)


def test_commit_meta_survives_compaction_and_metaless_commits(spark, tmp_path):
    """r6 ADVICE (crud.py compact): commits that supply no meta —
    compact(), the auto-compaction follow-up, a delete — must CARRY the
    previous pointer's meta forward, not erase it. A curated-ingest
    store in mor mode with compact_when set previously lost its
    curated_max_seen replay watermark at the first auto-compaction; the
    next recovery fell back to max-kept-id, reintroducing the
    dropped-tail replay bug the watermark exists to fix."""
    s = SnapshotStore(
        spark, str(tmp_path / "s"), key="id", mode="mor", compact_when=3
    )
    s.create(mk(spark, [(1, "a")]), meta={"curated_max_seen": 10})
    # manual compact: meta must ride through the follow-up commit
    s.compact()
    assert s.commit_meta()["curated_max_seen"] == 10
    # meta-less mutations keep it too
    s.delete_ids([1])
    assert s.commit_meta()["curated_max_seen"] == 10
    # grow past compact_when so a metadata-carrying insert TRIPS
    # auto-compaction: the follow-up commit must not wipe the new value
    for i in range(2, 7):
        s.insert(mk(spark, [(i, f"p{i}")]), meta={"curated_max_seen": i * 10})
    assert s.commit_meta()["curated_max_seen"] == 60
    # the table really did compact (meta survived a real fold, not a no-op)
    m = s._read_manifest(s.current_version())
    assert len(m["segments"]) == 1 and not m["tombstones"]
    # newer keys override, older unrelated keys persist (the r12
    # mutation clock rides alongside — the delete above stamped it)
    s.insert(mk(spark, [(99, "z")]), meta={"other": "x"})
    meta = s.commit_meta()
    assert {k: meta[k] for k in ("curated_max_seen", "other")} == {
        "curated_max_seen": 60, "other": "x",
    }
    assert meta["mutation_clock"]["deletes"] == 1


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_update_meta_is_meta_only(spark, tmp_path, mode):
    """r6 ADVICE (ingest.py all-rejected branch): persisting a watermark
    must not cost a snapshot rewrite. update_meta merges keys into the
    CURRENT pointer — same version, no new snapshot/segment files."""
    s = SnapshotStore(spark, str(tmp_path / "s"), key="id", mode=mode)
    s.create(mk(spark, [(1, "a"), (2, "b")]), meta={"curated_max_seen": 5})
    v = s.current_version()
    files_before = sorted(os.listdir(s.root))
    s.update_meta({"curated_max_seen": 9})
    assert s.current_version() == v
    assert s.commit_meta() == {"curated_max_seen": 9}
    assert sorted(os.listdir(s.root)) == files_before  # no new data files
    assert sorted(r.id for r in s.read().collect()) == [1, 2]
    # empty store: nothing to attach meta to — loud error, not silence
    empty = SnapshotStore(spark, str(tmp_path / "empty"), key="id")
    with pytest.raises(ValueError):
        empty.update_meta({"x": 1})


def test_update_meta_respects_claim_protocol(spark, tmp_path):
    """r7 ADVICE: an unprotected read-merge-swap in update_meta could
    roll the pointer BACK over a data commit that published v+1 in the
    gap, orphaning the committed snapshot. update_meta must therefore
    hold the v+1 claim marker (the same one any data commit needs)
    across its swap: while another writer holds it, update_meta raises
    instead of racing; once free, it succeeds and releases the marker
    so the next data commit can claim v+1 normally."""
    from deployment_spark.operators.crud import ConcurrentCommitError

    root = tmp_path / "mc"
    s = SnapshotStore(spark, str(root), key="id")
    s.create(mk(spark, [(1, "a")]), meta={"w": 1})
    v = s.current_version()
    marker = root / f"claim.v{v + 1:06d}"
    open(str(marker), "w").close()  # a concurrent writer mid-commit
    with pytest.raises(ConcurrentCommitError):
        s.update_meta({"w": 2})
    assert s.commit_meta() == {"w": 1}  # pointer untouched by the loser
    os.remove(str(marker))
    s.update_meta({"w": 2})
    assert s.commit_meta() == {"w": 2}
    assert not marker.exists()  # claim released after the meta swap
    s.insert(mk(spark, [(2, "b")]))  # ...so data commits proceed
    assert s.current_version() == v + 1


def test_vacuum_never_sweeps_inflight_segments(spark, tmp_path):
    """r7 (found by the concurrent-reader maintenance test): a mor
    segment/tombstone dir whose version is ABOVE the published pointer
    belongs to a live writer that has claimed but not yet committed —
    vacuum must leave it alone (sweeping it raced the in-flight write:
    rmtree crashed mid-walk, and a finished-but-unpublished segment
    could be destroyed before its manifest landed). Once the version
    is published, normal retention applies again."""
    s = SnapshotStore(spark, str(tmp_path / "s"), key="id", mode="mor")
    s.create(mk(spark, [(1, "a")]))
    assert s.current_version() == 1
    # simulate a concurrent writer mid-commit: claim v2 + s000002 dir
    # written, manifest/pointer not yet swapped
    s._claim_version(2)
    mk(spark, [(2, "b")]).write.parquet(os.path.join(s.root, "s000002"))
    s.vacuum(keep_last=1)
    assert os.path.isdir(os.path.join(s.root, "s000002")), "in-flight segment swept"
    # the writer completes its commit: the segment is now published
    m = s._read_manifest(1)
    s._commit_manifest(
        m["segments"] + [s._entry("s000002", 2, 2, 2)], m["tombstones"], version=2
    )
    assert sorted(r.id for r in s.read().collect()) == [1, 2]
    # published history obeys retention: compact to v3, vacuum, and the
    # now-unreferenced old segments (<= current) ARE swept
    s.compact()
    s.vacuum(keep_last=1)
    names = set(os.listdir(s.root))
    assert "s000003" in names and "s000001" not in names and "s000002" not in names
    assert sorted(r.id for r in s.read().collect()) == [1, 2]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_stale_writer_cannot_reclaim_vacuumed_version(spark, tmp_path, mode):
    """r7 review finding: vacuum sweeps consumed claim markers, so the
    marker alone no longer blocks a STALE writer from re-claiming an
    already-published version and overwriting committed data. The
    claim now also validates freshness against the pointer: claiming
    any version other than published+1 fails loudly, marker or not."""
    s = SnapshotStore(spark, str(tmp_path / "s"), key="id", mode=mode)
    s.create(mk(spark, [(1, "a")]))
    base_v = s.current_version()          # stale writer reads v1
    s.insert(mk(spark, [(2, "b")]))       # concurrent writer publishes v2
    s.vacuum(keep_last=5)                 # sweeps spent claim markers
    assert not any(n.startswith("claim.") for n in os.listdir(s.root))
    from deployment_spark.operators.crud import ConcurrentCommitError

    with pytest.raises(ConcurrentCommitError):
        if mode == "cow":
            s._commit(mk(spark, [(9, "stale")]), base_version=base_v)
        else:
            s._claim_version(base_v + 1)
    # the published state survived the stale attempt untouched
    assert sorted(r.id for r in s.read().collect()) == [1, 2]
    # and a FRESH mutation still works (the check doesn't brick writes)
    s.insert(mk(spark, [(3, "c")]))
    assert sorted(r.id for r in s.read().collect()) == [1, 2, 3]


# -- per-segment key bloom filters (r7: manifest-level point-read skipping) --


def _hash_keyed(spark, lo, hi):
    """Rows keyed by md5 — the hash layout where every segment's zone
    map spans the whole keyspace and only blooms can prune."""
    return spark.range(lo, hi).select(
        F.md5(F.col("id").cast("string")).alias("k"), F.col("id").alias("v")
    )


def _segs_scanned(df, root):
    return sorted(
        {f.split(str(root) + "/")[1].split("/")[0] for f in df.inputFiles()}
    )


def bloom_store(spark, tmp_path, **kw):
    s = SnapshotStore(
        spark, str(tmp_path / "bs"), key="k", mode="mor", bloom_bits=1 << 14, **kw
    )
    df = _hash_keyed(spark, 0, 300)
    for m in (0, 1, 2):
        s.insert(df.filter(F.col("v") % 3 == m))
    return s, df


def test_bloom_point_read_scans_only_owning_segment(spark, tmp_path):
    """With md5 keys the three segments' zone maps all span ~the full
    keyspace (zone layer prunes nothing); the bloom sidecars must still
    reduce a point read to the one segment that holds the key."""
    s, df = bloom_store(spark, tmp_path)
    m = s._read_manifest(s.current_version())
    assert all(e.get("bloom") for e in m["segments"])
    # zones really are useless here: every segment zone-hits every key
    probe = [r.k for r in df.filter(F.col("v") == 4).collect()]  # batch 2
    out = s.read_where_key_in(probe)
    assert [r.v for r in out.collect()] == [4]
    assert _segs_scanned(out, s.root) == ["s000002"]


def test_bloom_absent_key_scans_nothing(spark, tmp_path):
    s, _ = bloom_store(spark, tmp_path)
    out = s.read_where_key_in(["0123456789abcdef0123456789abcdef"])
    assert out.count() == 0
    assert out.inputFiles() == []
    assert [f.name for f in out.schema.fields] == ["k", "v"]  # typed empty


def test_bloom_no_false_negatives(spark, tmp_path):
    """Every present key must be found — blooms may over-scan (false
    positive) but a skip of a file that holds a probe key is data loss."""
    s, df = bloom_store(spark, tmp_path)
    allk = [r.k for r in df.collect()]
    assert s.read_where_key_in(allk).count() == 300


def test_bloom_probe_type_mismatch_no_false_negatives(spark, tmp_path):
    """r7 ADVICE: probe keys arrive with Python-inferred types; the
    stored key column here is DOUBLE, so an int probe canonicalized
    without a cast would hash '7' while the build hashed '7.0' — a
    silent bloom false negative dropping rows isin() would match. The
    probe column must be cast to the table's key type before hashing."""
    s = SnapshotStore(
        spark, str(tmp_path / "dbl"), key="k", mode="mor", bloom_bits=1 << 14
    )
    rows = spark.range(0, 30).select(
        F.col("id").cast("double").alias("k"), F.col("id").alias("v")
    )
    s.insert(rows.filter(F.col("v") < 15))
    s.insert(rows.filter(F.col("v") >= 15))
    # int probes against the double key column: both rows must be found
    out = s.read_where_key_in([7, 20]).collect()
    assert sorted(r.v for r in out) == [7, 20]
    # float probes keep working too
    assert s.read_where_key_in([7.0]).count() == 1


def test_tracked_rows_exact_or_unknown_never_wrong(spark, tmp_path):
    """r7 next #7: live row counts must come from commit-time write-job
    observations (O(1) pointer read), never a scan per scrape — and a
    mor store whose delta is unknowable (delete/upsert may not match /
    may shadow) must report None, not a wrong number. compact()
    re-materializes and restores exactness."""
    # cow: always exact
    c = SnapshotStore(spark, str(tmp_path / "c"), key="id")
    c.create(mk(spark, [(1, "a"), (2, "b")]))
    assert c.tracked_rows() == 2
    c.insert(mk(spark, [(3, "c")]))
    assert c.tracked_rows() == 3 == c.count()
    c.delete_ids([1])
    assert c.tracked_rows() == 2 == c.count()  # cow rewrite observes
    assert c.manifest_file_rows() == (2, 0)

    # mor: exact through create/insert, unknown after delete, exact
    # again after compact, unknown after upsert
    m = SnapshotStore(spark, str(tmp_path / "m"), key="id", mode="mor")
    m.create(mk(spark, [(1, "a"), (2, "b")]))
    m.insert(mk(spark, [(3, "c"), (3, "dup")]))  # dedup_new drops one
    assert m.tracked_rows() == 3 == m.count()
    m.delete_ids([2, 99])  # 99 doesn't exist: delta unknowable O(ids)
    assert m.tracked_rows() is None
    seg, tomb = m.manifest_file_rows()
    assert seg == 3 and tomb == 2  # physical sums stay exact
    m.compact()
    assert m.tracked_rows() == 2 == m.count()
    m.upsert(mk(spark, [(1, "A"), (7, "g")]))  # 1 shadows: delta unknown
    assert m.tracked_rows() is None
    assert m.manifest_file_rows() == (4, 0)  # 2 compacted + 2 upserted
    m.compact()
    assert m.tracked_rows() == 3 == m.count()


def test_store_metrics_scrape_never_scans(spark, tmp_path):
    """The default /metrics scrape must be scan-free: with read()/count()
    poisoned, store_samples still renders — emitting the rows gauge
    while tracked, omitting it (not scanning) while unknown."""
    from deployment_spark.sources.metrics import store_samples

    s = SnapshotStore(spark, str(tmp_path / "s"), key="id", mode="mor")
    s.create(mk(spark, [(1, "a"), (2, "b")]))

    def boom(*a, **kw):  # any scan attempt fails the test loudly
        raise AssertionError("scrape scanned the store")

    s.read = boom
    s.count = boom
    names = {n for n, _l, _v in store_samples(s)}
    vals = {n: v for n, _l, v in store_samples(s)}
    assert vals["deployment_store_rows"] == 2
    assert vals["deployment_store_segment_rows"] == 2
    assert vals["deployment_store_tombstone_rows"] == 0
    # unknown phase: gauge omitted, still no scan
    del s.read, s.count  # restore class methods for the mutation
    s.delete_ids([1])
    s.read = boom
    s.count = boom
    names = {n for n, _l, _v in store_samples(s)}
    assert "deployment_store_rows" not in names
    assert "deployment_store_tombstone_rows" in names


def test_bloom_tombstones_and_updates_stay_correct(spark, tmp_path):
    """The tombstone written by delete/update carries its own bloom; a
    point read of a deleted key returns nothing (the tombstone file is
    bloom-HIT and applied), and an updated key reads last-wins."""
    s, df = bloom_store(spark, tmp_path)
    k4, k7 = (r.k for r in df.filter(F.col("v").isin(4, 7)).orderBy("v").collect())
    s.delete_ids([k4])
    assert s.read_where_key_in([k4]).count() == 0
    new = df.filter(F.col("v") == 7).withColumn("v", F.lit(7000).cast("long"))
    s.update([k7], new)
    assert [r.v for r in s.read_where_key_in([k7]).collect()] == [7000]
    # compaction rebuilds the bloom on the folded segment
    s.compact()
    m = s._read_manifest(s.current_version())
    assert len(m["segments"]) == 1 and m["segments"][0].get("bloom")
    assert [r.v for r in s.read_where_key_in([k7]).collect()] == [7000]
    assert s.read_where_key_in([k4]).count() == 0


def test_bloom_sidecar_damage_degrades_to_scan(spark, tmp_path):
    """Missing or corrupt sidecars must keep the entry (scan it), never
    skip it — pruning degrades, correctness doesn't."""
    import glob

    s, df = bloom_store(spark, tmp_path)
    sides = sorted(glob.glob(os.path.join(s.root, "s*", "_bloom.json")))
    os.remove(sides[0])
    with open(sides[1], "w") as f:
        f.write("{truncated")
    allk = [r.k for r in df.collect()]
    assert s.read_where_key_in(allk).count() == 300
    probe = [r.k for r in df.filter(F.col("v") == 3).collect()]  # batch 1
    out = s.read_where_key_in(probe)
    assert [r.v for r in out.collect()] == [3]
    # segment 1's sidecar is gone -> conservatively scanned; segment 3's
    # intact sidecar still skips it
    scanned = _segs_scanned(out, s.root)
    assert "s000001" in scanned and "s000003" not in scanned


def test_bloom_requires_mor_and_sane_bits(spark, tmp_path):
    with pytest.raises(ValueError, match="mor only"):
        SnapshotStore(spark, str(tmp_path / "c"), key="k", mode="cow", bloom_bits=1 << 14)
    with pytest.raises(ValueError, match="multiple of 64"):
        SnapshotStore(spark, str(tmp_path / "m"), key="k", mode="mor", bloom_bits=100)


def test_bloom_integer_keys_and_empty_segment(spark, tmp_path):
    """Int-keyed stores hash through the same cast-to-string canon; an
    all-rejected (empty) segment's bloom is empty and always skipped."""
    s = SnapshotStore(spark, str(tmp_path / "i"), key="id", mode="mor", bloom_bits=1 << 12)
    s.create(mk(spark, [(1, "a"), (2, "b")]))
    s.insert(mk(spark, [(3, "c")]))
    out = s.read_where_key_in([2])
    assert [r.payload for r in out.collect()] == ["b"]
    # empty segment: upsert of zero rows still commits a (bloomed) file
    s.upsert(mk(spark, [(1, "a")]).filter(F.lit(False)))
    out2 = s.read_where_key_in([2])
    assert [r.payload for r in out2.collect()] == ["b"]
    assert "s000003" not in _segs_scanned(out2, s.root)


def test_multiprocess_writer_race(spark, tmp_path):
    """r7 next #8 (stretch): every other concurrency test races two
    store INSTANCES inside one driver process — this one certifies the
    O_EXCL claim + pointer-freshness protocol the way real concurrent
    writers arrive: two OS processes, each with its OWN Spark JVM,
    racing mor inserts on one root. Invariants that must hold whatever
    the interleaving: every writer's every row lands exactly once (no
    lost updates), the version advanced exactly once per successful
    commit (claims serialized), and no claim marker leaked above the
    published version. ~60-90 s (two JVM startups) — the cost of the
    only test that can catch a protocol assumption that holds in-process
    but not cross-process (e.g. O_EXCL vs NFS, pointer rename
    visibility)."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "mp")
    go = str(tmp_path / "go")
    s = SnapshotStore(spark, root, key="id", mode="mor")
    s.create(mk(spark, [(1, "seed")]))
    v0 = s.current_version()

    script = os.path.join(os.path.dirname(__file__), "_race_writer.py")
    N = 4
    procs = [
        subprocess.Popen(
            [_sys.executable, script, root, str(w), str(N), go],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for w in (1, 2)
    ]
    # release the barrier only once BOTH writers' JVMs are up and have
    # signalled ready — otherwise the faster JVM can finish all its
    # commits before the slower one starts and nothing actually races
    deadline = time.time() + 300
    while not all(os.path.exists(f"{go}.ready{w}") for w in (1, 2)):
        assert time.time() < deadline, "writer JVMs never became ready"
        time.sleep(0.1)
    open(go, "w").close()
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0, f"stdout:\n{out}\nstderr tail:\n{err[-2000:]}"
        outs.append(json.loads(out.strip().splitlines()[-1]))

    # no lost updates: all 2N rows + seed, each exactly once
    got = sorted(r.id for r in s.read().collect())
    want = sorted([1] + [w * 1000 + i for w in (1, 2) for i in range(N)])
    assert got == want
    # one version per successful commit — claims really serialized
    assert s.current_version() == v0 + sum(o["committed"] for o in outs)
    assert all(o["committed"] == N for o in outs)
    # no claim marker above the published version survived
    s.vacuum()
    leaked = [
        n
        for n in os.listdir(root)
        if n.startswith("claim.v")
        and int(n[len("claim.v"):]) > s.current_version()
    ]
    assert leaked == []
    # contention evidence (informational, not asserted: interleaving is
    # the OS scheduler's choice): retries recorded per writer
    print("race retries:", {o["writer"]: o["retries"] for o in outs})


def test_tracked_rows_unknown_when_batch_not_deduped(spark, tmp_path):
    """r8 review: insert(dedup_new=False) can land intra-batch duplicate
    keys that the mor last-wins read collapses — physical segment rows
    would overcount live rows, so the tracked count must go unknown
    rather than wrong."""
    m = SnapshotStore(spark, str(tmp_path / "nd"), key="id", mode="mor")
    m.create(mk(spark, [(1, "a")]))
    m.insert(mk(spark, [(2, "x"), (2, "y")]), dedup_new=False)
    assert m.count() == 2  # key 2 collapsed by last-wins
    assert m.tracked_rows() is None  # unknown, never 3
    m.compact()
    assert m.tracked_rows() == 2 == m.count()


def test_cow_scrape_has_no_manifest_gauges(spark, tmp_path):
    """r8 review: for cow stores segment_rows always equals the rows
    gauge and tombstone_rows is constant 0 — series noise; the manifest
    gauges are mor-only compaction telemetry."""
    from deployment_spark.sources.metrics import store_samples

    c = SnapshotStore(spark, str(tmp_path / "c"), key="id")
    c.create(mk(spark, [(1, "a")]))
    names = {n for n, _l, _v in store_samples(c)}
    assert "deployment_store_rows" in names
    assert "deployment_store_segment_rows" not in names
    assert "deployment_store_tombstone_rows" not in names


def test_replace_rewrites_snapshot_both_modes(spark, tmp_path):
    """r9: replace() publishes a version whose content is exactly the
    given frame — the relayout commit. cow rewrites the snapshot; mor
    folds to one fresh base segment with zero tombstones."""
    from deployment_spark.operators.crud import SnapshotStore

    for mode in ("cow", "mor"):
        store = SnapshotStore(
            spark, str(tmp_path / f"rep_{mode}"), key="k", mode=mode
        )
        store.create(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
        store.insert(spark.createDataFrame([(3, "c")], "k long, v string"))
        v = store.current_version()
        nv = store.replace(
            spark.createDataFrame([(7, "x"), (8, "y")], "k long, v string")
        )
        assert nv == v + 1
        assert sorted((r.k, r.v) for r in store.read().collect()) == [
            (7, "x"), (8, "y"),
        ]
        # history intact: the pre-replace version still reads
        assert store.read(v).count() == 3
        # and mutations compose on top of the replaced content
        store.insert(spark.createDataFrame([(9, "z")], "k long, v string"))
        assert store.count() == 3


def _columns_rows(df):
    return df.columns, sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_time_travel_read_after_own_schema_changing_replace(spark, tmp_path, mode):
    """A read of a version from before this handle's own schema-changing
    replace() must use THAT version's schema: the strict-mode schema
    memo is keyed by the files it was read from, not shared across
    versions (a version-blind memo returned ['id', 'b'] with NULLs)."""
    root = str(tmp_path / f"tt_{mode}")
    a = SnapshotStore(spark, root, key="id", mode=mode)
    a.create(spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "id long, a string"))
    v_old = a.current_version()
    a.replace(spark.createDataFrame([(1, "p")], "id long, b string"))
    a.insert(spark.createDataFrame([(4, "q")], "id long, b string"))
    got = _columns_rows(a.read(v_old))
    fresh = _columns_rows(SnapshotStore(spark, root, key="id", mode=mode).read(v_old))
    assert got == fresh == (["id", "a"], [(1, "x"), (2, "y"), (3, "z")])
    # and the current version still reads with its own schema
    assert _columns_rows(a.read()) == (["id", "b"], [(1, "p"), (4, "q")])


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_long_lived_handle_sees_sibling_replace(spark, tmp_path, mode):
    """A long-lived handle whose schema memo is warm must read a sibling
    instance's schema-changing replace() like a fresh handle does (a
    memo that only its own writes reset returned [(7, None)])."""
    root = str(tmp_path / f"sib_{mode}")
    a = SnapshotStore(spark, root, key="id", mode=mode)
    a.create(spark.createDataFrame([(1, "x")], "id long, b string"))
    a.insert(spark.createDataFrame([(2, "y")], "id long, b string"))
    a.read().collect()
    SnapshotStore(spark, root, key="id", mode=mode).replace(
        spark.createDataFrame([(7, "q")], "id long, c string")
    )
    got = _columns_rows(a.read())
    fresh = _columns_rows(SnapshotStore(spark, root, key="id", mode=mode).read())
    assert got == fresh == (["id", "c"], [(7, "q")])


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_long_lived_handle_sees_drop_and_recreate(spark, tmp_path, mode):
    """drop() + create() by other handles restarts the version numbers,
    so a memo keyed by the version number alone would serve the dropped
    table's schema to the re-created one; the key also carries the
    source files' mtime."""
    root = str(tmp_path / f"drop_{mode}")
    a = SnapshotStore(spark, root, key="id", mode=mode)
    a.create(spark.createDataFrame([(1, "x")], "id long, a string"))
    a.read().collect()
    SnapshotStore(spark, root, key="id", mode=mode).drop()
    SnapshotStore(spark, root, key="id", mode=mode).create(
        spark.createDataFrame([(5, "n")], "id long, d string")
    )
    assert a.current_version() == 1
    assert _columns_rows(a.read()) == (["id", "d"], [(5, "n")])


def test_commit_embedded_cluster_counts_lifecycle(spark, tmp_path):
    """r11 (VERDICT r10 #3): per-cluster counts travel in the commit
    pointer. cow: every commit of a cluster-partitioned store re-stamps
    exact counts. mor: create/insert/replace/compact keep them exact
    (insert increments under its no-shadowing guarantee); a plain
    upsert and a delete CANNOT know their shadow counts, so the token
    goes stale and the accessor reads absent — never wrong."""
    from deployment_spark.operators.crud import SnapshotStore

    def mk(i, c):
        return (i, c, f"p{i}")

    schema = "vec_id long, cluster_id int, payload string"

    def live_counts(store):
        return {
            r.cluster_id: r["count"]
            for r in store.read().groupBy("cluster_id").count().collect()
        }

    # -- cow: exact at every commit -------------------------------------
    cow = SnapshotStore(
        spark, str(tmp_path / "cc_cow"), key="vec_id",
        partition_by="cluster_id",
    )
    cow.create(spark.createDataFrame([mk(1, 0), mk(2, 0), mk(3, 1)], schema))
    assert cow.cluster_counts() == {0: 2, 1: 1}
    cow.insert(spark.createDataFrame([mk(4, 1)], schema))
    assert cow.cluster_counts() == {0: 2, 1: 2}
    cow.upsert(spark.createDataFrame([mk(2, 1, ), (5, 2, "p5")], schema))
    assert cow.cluster_counts() == live_counts(cow) == {0: 1, 1: 3, 2: 1}
    cow.delete_ids([1])
    assert cow.cluster_counts() == live_counts(cow) == {1: 3, 2: 1}

    # -- mor: exact where knowable, absent where not ----------------------
    mor = SnapshotStore(
        spark, str(tmp_path / "cc_mor"), key="vec_id",
        partition_by="cluster_id", mode="mor",
    )
    mor.create(spark.createDataFrame([mk(1, 0), mk(2, 0), mk(3, 1)], schema))
    assert mor.cluster_counts() == {0: 2, 1: 1}
    mor.insert(spark.createDataFrame([mk(4, 1)], schema))
    assert mor.cluster_counts() == {0: 2, 1: 2}
    # plain upsert: shadow count unknowable -> absent, not wrong
    mor.upsert(spark.createDataFrame([mk(2, 1)], schema))
    assert mor.cluster_counts() is None
    # caller-supplied counts (the relayout contract) re-stamp them
    mor.upsert(
        spark.createDataFrame([mk(5, 2)], schema),
        cluster_counts={0: 1, 1: 3, 2: 1},
    )
    assert mor.cluster_counts() == live_counts(mor) == {0: 1, 1: 3, 2: 1}
    # delete: unknowable again; compact restores exactness
    mor.delete_ids([1])
    assert mor.cluster_counts() is None
    mor.compact()
    assert mor.cluster_counts() == live_counts(mor) == {1: 3, 2: 1}
    # replace folds to one fresh segment: exact by construction
    mor.replace(spark.createDataFrame([mk(9, 4), mk(10, 4)], schema))
    assert mor.cluster_counts() == {4: 2}
    # a store without a cluster layout never embeds anything
    plain = SnapshotStore(spark, str(tmp_path / "cc_plain"), key="k")
    plain.create(spark.createDataFrame([(1, "a")], "k long, v string"))
    assert plain.cluster_counts() is None

def test_mutation_key_log_and_coverage(spark, tmp_path):
    """r13 (VERDICT r12 Next #3): destructive mutations log their
    touched keys under the clock seq; touched_keys_since returns the
    union over a fully-covered range and None when a replace (which
    logs nothing by design) or a missing log leaves a hole — the
    signal that routes maintainers to rebuild."""
    from deployment_spark.operators.crud import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "mlog"), key="id")
    rows = spark.range(10).select("id", (F.col("id") * 2).alias("v"))
    store.create(rows)
    s0 = store.mutation_clock()["seq"]
    store.delete_ids([1, 2])
    store.upsert(spark.range(3, 5).select("id", (F.col("id") * 7).alias("v")))
    store.update([7], spark.range(20, 21).select("id", (F.col("id")).alias("v")))
    cur = store.mutation_clock()["seq"]
    touched = store.touched_keys_since(s0, cur)
    assert {r.id for r in touched.collect()} == {1, 2, 3, 4, 7, 20}
    # sub-range: only mutations after the newer pin
    assert {r.id for r in store.touched_keys_since(s0 + 1, cur).collect()} == {
        3, 4, 7, 20,
    }
    # empty range: typed empty frame, never None
    assert store.touched_keys_since(cur, cur).count() == 0
    # replace logs nothing → the range has a hole → None (rebuild signal)
    store.replace(store.read())
    assert store.touched_keys_since(s0, store.mutation_clock()["seq"]) is None
    # a pin taken AFTER the replace is covered again
    s1 = store.mutation_clock()["seq"]
    store.delete_ids([6])
    got = store.touched_keys_since(s1, store.mutation_clock()["seq"])
    assert {r.id for r in got.collect()} == {6}
    # vacuum: entries below a seq vanish, coverage correctly reports the hole
    assert store.vacuum_mutation_log(below_seq=s1 + 2) >= 1
    assert store.touched_keys_since(s0, cur) is None
