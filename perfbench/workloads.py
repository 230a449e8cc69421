"""The workloads. Each has a set-up (input generation, fixture build and
one warm-up call down every path it times) and a closed loop, driven by
one client, that runs rounds until ``seconds`` have passed.

Every engine call goes through ``Ctx.timed``, which times it and, in a
traced run, wraps it in a span. Output checks compare the engine's
answers with the benchmark's own model of the data; each mismatch
counts as a failed call.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from deployment_spark.functions.embed import hash_embed
from deployment_spark.functions.text import packet_text_v1
from deployment_spark.operators.cleaning import clean_packet_frame
from deployment_spark.operators.crud import SnapshotStore
from deployment_spark.operators.ivf import IVFIndex, reference_nlist
from deployment_spark.operators.similarity import topk_similarity_join
from deployment_spark.schemas import read_packet_csv
from deployment_spark.streaming.ingest import ingest_to_store, packet_csv_stream

import gen

KEY = "frame_number"
VEC = "embedding"
DIM = 64
COMPACT_WHEN = 8

# Sizes are set so that a run, set-up included, ends in about 70 s on a
# 4-core host; README.md gives the 100k sizing they were scaled from.
ANN_CORPUS_ROWS = 20_000
ANN_BATCH, ANN_K, ANN_NPROBE = 10, 10, 8
CRUD_ROWS = 20_000
CRUD_INSERT, CRUD_DELETE, CRUD_UPDATE, CRUD_LOOKUP = 2_000, 1_000, 500, 10
CRUD_QUERIES, CRUD_K = 3, 5  # the reference's 3 query samples, k = 5
# A round adds four live files (insert segment, delete tombstone, update
# segment + tombstone), so with compact_when = 8 every second round
# compacts. Rounds run in pairs, so every run ends in the same state.
CRUD_ROUNDS_PER_CYCLE = 2


class Ctx:
    """Per-run state: session, tracer, work directory, seeded RNG, and
    the samples, counts and check failures the run accumulates. Samples
    and counts are kept only while ``recording`` (the timed loop)."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.counts: dict[str, float] = {}
        self.recording = False
        self.setup_facts: dict[str, float] = {}
        self._files = 0

    def timed(self, name: str, fn):
        self.attempted += 1
        with self.tracer.span(name):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        return out, dt

    def sample(self, name: str, value: float) -> None:
        if self.recording:
            self.samples.setdefault(name, []).append(value)

    def add(self, name: str, value: float) -> None:
        if self.recording:
            self.counts[name] = self.counts.get(name, 0) + value

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def new_file(self, *parts: str) -> str:
        """A fresh numbered file path under the work directory."""
        self._files += 1
        p = self.dir(*parts[:-1], f"{self._files:05d}{parts[-1]}")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


# -- store accounting (reads the on-disk manifest, never the engine) -------

def _manifest(store: SnapshotStore) -> dict:
    v = store.current_version()
    with open(os.path.join(store.root, f"m{v:06d}.json")) as f:
        return json.load(f)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def store_bytes(store: SnapshotStore) -> int:
    """Bytes of the files the current mor version references."""
    m = _manifest(store)
    return sum(_dir_bytes(os.path.join(store.root, e["path"]))
               for e in m["segments"] + m["tombstones"])


def live_files(store: SnapshotStore) -> int:
    m = _manifest(store)
    return len(m["segments"]) + len(m["tombstones"])


def data_files(root: str) -> int:
    n = 0
    for _, _, files in os.walk(root):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def embed_packets(df):
    """scan → clean → text → hash_embed: the Column chain that fuses into
    the job the store write runs."""
    return (clean_packet_frame(df)
            .withColumn("packet_text", packet_text_v1())
            .withColumn(VEC, hash_embed("packet_text", DIM)))


def vec_frame(spark, ids, vecs, id_col: str, vec_col: str):
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    return spark.createDataFrame(rows, f"{id_col} long, {vec_col} array<float>")


def check_topk(ctx: Ctx, what: str, got, truth, k: int) -> None:
    """Engine top-k against the driver-side brute force. Ids must agree
    except where float32 storage makes a near-tie, which the similarity
    values then decide."""
    for qi, ref in enumerate(truth):
        rows = sorted((r for r in got if r[0] == qi), key=lambda r: r[2])
        ok = len(rows) == min(k, len(ref))
        if ok:
            ok = all(abs(r[3] - s) < 1e-4 for r, (_, s) in zip(rows, ref))
            kth = ref[-1][1]
            must = {i for i, s in ref if s > kth + 1e-4}
            ok = ok and must <= {r[1] for r in rows}
        ctx.check(ok, f"{what}: query {qi} top-{k} differs from brute force")


# -- ann_query ---------------------------------------------------------------

def ann_query(ctx: Ctx) -> Iterator[None]:
    """Read-only closed loop of 10-query batches against one store and one
    IVF index over a clustered corpus: IVFIndex.search(k=10, nprobe=8),
    then exact topk_similarity_join(k=10) as the recall reference. The
    index is built in set-up by IVFIndex.build (Spark k-means at
    reference_nlist)."""
    spark = ctx.spark
    with ctx.tracer.span("setup"):
        with ctx.tracer.span("generate"):
            corpus = gen.clustered_corpus(ctx.rng, ANN_CORPUS_ROWS, DIM)
            ids = np.arange(1, ANN_CORPUS_ROWS + 1, dtype=np.int64)
            src = ctx.new_file("ann", ".parquet")
            pq.write_table(pa.table({KEY: ids, VEC: list(corpus)}), src)
        store = SnapshotStore(spark, ctx.dir("ann", "store"), key=KEY,
                              mode="mor", compact_when=COMPACT_WHEN)
        ctx.timed("crud.create", lambda: store.create(spark.read.parquet(src)))
        idx = IVFIndex(spark, ctx.dir("ann", "ivf"))
        ctx.timed("ivf.build", lambda: idx.build(
            store.read().select(KEY, VEC), id_col=KEY, vec_col=VEC,
            nlist=reference_nlist(ANN_CORPUS_ROWS)))
        with ctx.tracer.span("check"):
            nt = idx.ntotal()
        ctx.check(nt == ANN_CORPUS_ROWS, f"ann: index ntotal {nt} != corpus rows")
        flat = store.read().select(KEY, VEC)
        _ann_batch(ctx, idx, flat, corpus, ids)
    yield
    start = time.perf_counter()
    while not ctx.samples.get("op") or time.perf_counter() - start < ctx.seconds:
        _ann_batch(ctx, idx, flat, corpus, ids)
    c = ctx.counts
    c["rows_per_s"] = c["query_rows"] / c["query_wall_s"]
    c["store_bytes_per_row"] = store_bytes(store) / ANN_CORPUS_ROWS


def _ann_batch(ctx: Ctx, idx: IVFIndex, flat, corpus, ids) -> None:
    qv = gen.near_queries(ctx.rng, corpus, ANN_BATCH)
    qdf = vec_frame(ctx.spark, range(ANN_BATCH), qv, "query_id", "query_vec")
    approx, t_ann = ctx.timed("ivf.search", lambda: idx.search(
        qdf, k=ANN_K, nprobe=ANN_NPROBE, id_col=KEY, vec_col=VEC).collect())
    exact, t_exact = ctx.timed("similarity.topk", lambda: topk_similarity_join(
        flat, qdf, k=ANN_K, corpus_id=KEY, corpus_vec=VEC).collect())
    check_topk(ctx, "ann exact", exact, gen.brute_topk(corpus, ids, qv, ANN_K), ANN_K)
    ctx.check(all(sum(1 for r in approx if r[0] == q) == ANN_K for q in range(ANN_BATCH)),
              "ann: IVF search returned fewer than k rows for a query")
    ref = {q: {r[1] for r in exact if r[0] == q} for q in range(ANN_BATCH)}
    hits = sum(1 for r in approx if r[1] in ref[r[0]])
    ctx.sample("op", t_ann)
    ctx.sample("ann_batch_s", t_ann)
    ctx.sample("exact_batch_s", t_exact)
    ctx.sample("ivf.search.recall_at_10", hits / (ANN_BATCH * ANN_K))
    ctx.add("query_rows", ANN_BATCH)
    ctx.add("query_wall_s", t_ann + t_exact)
    ctx.add("similarity.topk.rows_scored", ANN_CORPUS_ROWS * ANN_BATCH)
    if ctx.tracer.enabled and ctx.recording:
        routing, probed = idx.route(qdf.collect(), ANN_NPROBE)
        counts = idx.cluster_counts() or {}
        ctx.sample("ivf.search.lists_probed", len(probed))
        ctx.sample("ivf.search.rows_examined_per_hit",
                   sum(counts.get(c, 0) for _, c in routing) / (ANN_BATCH * ANN_K))


# -- crud_mixed ----------------------------------------------------------------

class CrudModel:
    """The benchmark's own copy of the live rows: key → vector."""

    def __init__(self) -> None:
        self.rows: dict[int, np.ndarray] = {}
        self.next_key = 1

    def take_keys(self, n: int) -> int:
        first = self.next_key
        self.next_key += n
        return first

    def pick(self, rng, n: int) -> np.ndarray:
        live = np.fromiter(self.rows.keys(), dtype=np.int64, count=len(self.rows))
        return rng.choice(live, n, replace=False)

    def learn(self, rows) -> None:
        self.rows.update((r[0], np.asarray(r[1], dtype=np.float32)) for r in rows)


def _update_frame(ctx: Ctx, keys: np.ndarray, vecs: np.ndarray):
    """Replacement rows in the store's schema, with benchmark-made
    vectors so the model knows them exactly."""
    rng, n = ctx.rng, len(keys)
    src, dst = gen.ips(rng, n), gen.ips(rng, n)
    proto = rng.choice(gen.PROTOCOLS, n).tolist()
    sport, dport, flen = (rng.integers(1024, 65536, n), rng.integers(1024, 65536, n),
                          rng.integers(64, 1461, n))
    text = [f"{a} {b} {p} {x} {y} {p} {z}"
            for a, b, p, x, y, z in zip(src, dst, proto, sport, dport, flen)]
    path = ctx.new_file("crud", "updates", ".parquet")
    pq.write_table(pa.table({
        "frame_time": [f"{k * 0.001:.6f}" for k in keys.tolist()],
        "ip_src": src, "ip_dst": dst,
        "tcp_srcport": [str(x) for x in sport], "tcp_dstport": [str(x) for x in dport],
        "_ws_col_protocol": proto, "frame_len": [str(x) for x in flen],
        KEY: keys, "packet_text": text,
        VEC: pa.array(list(vecs), type=pa.list_(pa.float32())),
    }), path)
    return ctx.spark.read.parquet(path)


def _mutate(ctx: Ctx, store: SnapshotStore, name: str, fn) -> float:
    """Time one store mutation. In-line auto-compaction is measured by
    the store itself and subtracted, as ``run_reference_grid`` does; it
    is counted at the layer level instead."""
    before = store.auto_compaction_seconds
    files0 = data_files(store.root) if ctx.tracer.enabled else 0
    _, dt = ctx.timed(name, fn)
    fold = store.auto_compaction_seconds - before
    if fold > 0:
        ctx.add("crud.auto_compactions", 1)
        ctx.add("crud.auto_compaction_s", fold)
        ctx.add("crud.compaction_bytes_rewritten", store_bytes(store))
    if ctx.tracer.enabled:
        ctx.add(f"{name}.files_written", data_files(store.root) - files0)
    ctx.add("mutation_wall_s", dt)
    return dt - fold


def _stream_insert(ctx: Ctx, store: SnapshotStore, model: CrudModel, land: str) -> float:
    """Land one 2,000-row packet CSV and drain it through the AvailableNow
    streaming ingest; then read the landed keys back into the model."""
    first = model.take_keys(CRUD_INSERT)
    with ctx.tracer.span("generate"):
        fresh = gen.write_packet_csv(ctx.new_file("crud", "landing", ".csv"), ctx.rng,
                                     first, CRUD_INSERT)
    progress = []

    def drain():
        q = ingest_to_store(packet_csv_stream(ctx.spark, land, max_files_per_trigger=1),
                            store, ctx.dir("crud", "ckpt"), transform=embed_packets)
        q.awaitTermination()
        progress.extend(q.recentProgress)

    t = _mutate(ctx, store, "streaming.ingest", drain)
    with ctx.tracer.span("check"):
        landed = store.read_where_key_between(first, first + CRUD_INSERT).select(
            KEY, VEC).collect()
    ctx.check(len(landed) == len(fresh) and {r[0] for r in landed} == fresh,
              f"crud: {len(landed)} of {len(fresh)} landed rows readable")
    model.learn(landed)
    batches = [p for p in progress if p["numInputRows"] > 0]
    ctx.check(len(batches) == 1, f"crud: one landed file ran as {len(batches)} batches")
    for p in batches:
        d = p["durationMs"]
        ctx.sample("streaming.batch.trigger_ms", d["triggerExecution"])
        ctx.sample("streaming.batch.add_batch_ms", d.get("addBatch", 0))
        ctx.sample("streaming.batch.rows_per_s",
                   p["numInputRows"] * 1000.0 / max(d["triggerExecution"], 1))
    ctx.add("stream_batches", len(batches))
    return t


def _crud_round(ctx: Ctx, store: SnapshotStore, model: CrudModel, land: str) -> None:
    rng = ctx.rng
    t_ins = _stream_insert(ctx, store, model, land)

    victims = model.pick(rng, CRUD_DELETE).tolist()
    t_del = _mutate(ctx, store, "crud.delete_ids", lambda: store.delete_ids(victims))
    for k in victims:
        del model.rows[k]

    upd_keys = model.pick(rng, CRUD_UPDATE)
    upd_vecs = gen.random_unit(rng, CRUD_UPDATE, DIM)
    upd_df = _update_frame(ctx, upd_keys, upd_vecs)
    t_upd = _mutate(ctx, store, "crud.update",
                    lambda: store.update(upd_keys.tolist(), upd_df))
    model.rows.update(zip(upd_keys.tolist(), upd_vecs))

    # 7 live keys and 3 just-deleted ones
    probe = model.pick(rng, CRUD_LOOKUP - 3).tolist() + victims[:3]
    if ctx.tracer.enabled:
        ctx.sample("crud.read.live_files", live_files(store))
    got, t_look = ctx.timed("crud.read_where_key_in",
                            lambda: store.read_where_key_in(probe).select(KEY, VEC).collect())
    want = {k for k in probe if k in model.rows}
    ok = len(got) == len(want) and {r[0] for r in got} == want and all(
        np.allclose(np.asarray(r[1], dtype=np.float32), model.rows[r[0]]) for r in got)
    ctx.check(ok, "crud: read_where_key_in disagrees with the model")

    keys = np.fromiter(model.rows.keys(), dtype=np.int64, count=len(model.rows))
    mat = np.stack([model.rows[k] for k in keys.tolist()])
    qv = gen.unit_rows(mat[rng.integers(0, len(keys), CRUD_QUERIES)]
                       + 0.05 * gen.random_unit(rng, CRUD_QUERIES, DIM)).astype(np.float32)
    qdf = vec_frame(ctx.spark, range(CRUD_QUERIES), qv, "query_id", "query_vec")
    res, t_q = ctx.timed("similarity.topk", lambda: topk_similarity_join(
        store.read().select(KEY, VEC), qdf, k=CRUD_K, corpus_id=KEY,
        corpus_vec=VEC).collect())
    check_topk(ctx, "crud query", res, gen.brute_topk(mat, keys, qv, CRUD_K), CRUD_K)

    with ctx.tracer.span("check"):
        n = store.count()
    ctx.check(n == len(model.rows),
              f"crud: store counts {n} live rows, model has {len(model.rows)}")
    for name, t in (("insert_s", t_ins), ("delete_s", t_del), ("update_s", t_upd),
                    ("lookup_s", t_look), ("crud_query_s", t_q)):
        ctx.sample(name, t)
    ctx.sample("op", t_ins + t_del + t_upd + t_look + t_q)
    ctx.add("mutated_rows", CRUD_INSERT + CRUD_DELETE + CRUD_UPDATE)
    ctx.add("similarity.topk.rows_scored", len(model.rows) * CRUD_QUERIES)


def crud_mixed(ctx: Ctx) -> Iterator[None]:
    """The reference CRUD grid as a steady closed loop over a mor store
    (compact_when=8). Set-up lands the corpus as packet CSV and bulk
    loads it: scan → clean → text → hash_embed → SnapshotStore.create.
    Each round inserts one landed 2,000-row CSV through the AvailableNow
    streaming ingest, then runs delete_ids 1,000, update 500,
    read_where_key_in 10 keys and exact top-5 for 3 queries."""
    spark = ctx.spark
    land = ctx.dir("crud", "landing")
    with ctx.tracer.span("setup"):
        model = CrudModel()
        with ctx.tracer.span("generate"):
            bulk = ctx.new_file("crud", "bulk", ".csv")
            valid = gen.write_packet_csv(bulk, ctx.rng, model.take_keys(CRUD_ROWS),
                                         CRUD_ROWS)
        store = SnapshotStore(spark, ctx.dir("crud", "store"), key=KEY,
                              mode="mor", compact_when=COMPACT_WHEN)
        _, t_create = ctx.timed("crud.create", lambda: store.create(
            embed_packets(read_packet_csv(spark, bulk))))
        with ctx.tracer.span("check"):
            loaded = store.read().select(KEY, VEC).collect()
        ctx.check(len(loaded) == len(valid) and {r[0] for r in loaded} == valid,
                  f"crud: bulk load kept {len(loaded)} rows, expected {len(valid)} "
                  "(generated rows minus garbage and duplicate keys)")
        model.learn(loaded)
        ctx.setup_facts = {"crud.create.kept_ratio": len(loaded) / CRUD_ROWS,
                           "crud.create.rows_per_s": CRUD_ROWS / t_create}
        os.makedirs(land, exist_ok=True)
        _crud_round(ctx, store, model, land)
    yield
    start = time.perf_counter()
    while not ctx.samples.get("op") or time.perf_counter() - start < ctx.seconds:
        for _ in range(CRUD_ROUNDS_PER_CYCLE):
            _crud_round(ctx, store, model, land)
    c = ctx.counts
    c["rows_per_s"] = c["mutated_rows"] / c["mutation_wall_s"]
    c["store_bytes_per_row"] = store_bytes(store) / len(model.rows)


WORKLOADS = {"ann_query": ann_query, "crud_mixed": crud_mixed}

