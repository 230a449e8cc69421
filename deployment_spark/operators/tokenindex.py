"""Maintained token-level IVF index for two-stage maxsim serving (r13,
VERDICT r12 Missing #1 / Next #1).

The two-stage late-interaction path (``multivec.token_candidates`` →
``maxsim_rerank``) needs a token-vector ANN index for its first stage.
Until r13 that index was built ad hoc inside the gate entry — it had no
maintainer, no mutation-clock pin, and no delete story, so a user
running ColBERT-style retrieval under curated ingest (the exact
workflow BM25 postings, the kNN graph, and the standing top-k state
already support) silently served stale candidates after any store
mutation. The reference's serving analogue is the same Milvus
collection lifecycle that motivated r12 (``Milvus/stream1.py:313-315``
deletes entities and the collection's indexes reflect it on the next
search; ``:370`` upserts).

This class brings the token index under the SAME maintained-serving-
structure contract as ``retrieval.BM25Index`` — deliberately the same
layout grammar, because the problems are isomorphic (token rows are
postings; the quantizer cell is the bucket):

- ``tokens/``     — parquet partitioned by ``cluster_id``: one row per
  document token (``vec_id`` = the token's id, ``doc_id``,
  ``embedding``, ``gen``). The IVF quantizer's inverted-list layout IS
  the postings layout, so a token search prunes to the probed cells
  exactly like ``IVFIndex`` search (the quantizer object is constructed
  over ``quantizer/`` with ``data_path=tokens/``).
- ``quantizer/``  — an ``operators.ivf.IVFIndex`` root holding the
  centroid set (trained once at build over the corpus tokens, nlist =
  ``reference_nlist(corpus tokens)`` by default). Appends ASSIGN to the
  frozen centroids — O(batch), the standard IVF maintenance trade; the
  drift machinery (``streaming.ingest`` drift_retrain) is the answer
  when the token distribution moves.
- ``stats/``      — O(appends) tiny partials (``n_tokens, max_doc_id,
  src_seq, src_clock``): the reconcile watermark (max SEEN doc id per
  appended batch — the replay-safety rule: derive the increment from
  the DERIVED STATE'S OWN coverage) and the source store's pinned
  mutation clock.
- ``tombstones/`` — EXACT delete support: one row per killed doc
  (``doc_id, gen, n_toks``). A token row is dead iff a tombstone with
  its doc_id and ``gen >= row.gen`` exists — the same generation rule
  as BM25 (generations derive from the tombstone set itself, no
  separate counter to desync). Candidate generation stays correct
  against dead tokens without rewriting the layout: the tok→doc join
  runs over ``live_token_doc()``, so a dead token's hits drop out
  there (an O(deleted) broadcast anti-join until ``compact()``), and
  the rerank stage reads bags from ``live_tokens()`` only.
- ``_maintenance.inprogress`` — multi-swap maintenance marker:
  ``compact()`` is non-atomic over two swap dirs plus a delete, so the
  whole sequence runs under the marker and any crash inside leaves the
  index reading as ABSENT (the maintainer's rebuild contract recovers
  it) instead of a torn layout silently mis-pruning.

Maintenance lives in ``streaming.ingest._maintain_token_index``
(``ingest_to_store(token_index_maintain=...)``): per batch it appends
the batch docs' token rows (tokens are derived DETERMINISTICALLY per
doc by the caller's ``tokens_fn``, so reconcile and append collapse
into one "index everything above the watermark" step), detects
out-of-band store mutations through the mutation clock, and heals —
exact tombstone repair for deletes-only histories, rebuild on content
changes. Gated end-to-end by the ann_recall ``maxsim/two_stage_stream``
group (batches + a mid-stream delete land, the served two-stage
ranking must hold the recall floor against the exact maxsim ranking
over the survivors, replayed independently in SQL and numpy).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deployment_spark.operators.crud import Memo, parquet_rows


class TokenIVFIndex:
    """Persisted, maintainable IVF index over long-format token vectors
    — the serving-cadence first stage of two-stage maxsim. See the
    module docstring for the layout and the serving contract."""

    def __init__(self, spark: SparkSession, root: str, nlist: int | None = None):
        # plain-path root (NOT URI-normalized): the quantizer half is an
        # operators.ivf.IVFIndex, whose centroid metadata is os-path
        # driver-local by design — same path contract as every other
        # IVFIndex root in the engine. The Hadoop-FS calls below resolve
        # plain paths against the default filesystem, like IVFIndex's
        # own parquet reads.
        self.spark = spark
        self.root = root.rstrip("/")
        self.tokens_dir = self.root + "/tokens"
        self.stats_dir = self.root + "/stats"
        self.tombstones_dir = self.root + "/tombstones"
        self._nlist_arg = None if nlist is None else int(nlist)
        self._stats = Memo()  # stats partials, keyed by the dir's listing

    # -- quantizer ----------------------------------------------------------

    @property
    def quantizer_root(self) -> str:
        return self.root + "/quantizer"

    def quantizer(self):
        """The IVFIndex view of this structure: centroids under
        ``quantizer/``, inverted lists AT ``tokens/`` — search/assign
        run through the standard IVF machinery unchanged."""
        from deployment_spark.operators.ivf import IVFIndex

        return IVFIndex(self.spark, self.quantizer_root, data_path=self.tokens_dir)

    # -- build / maintain -----------------------------------------------------

    def _resolve_build_nlist(self, tokens: DataFrame) -> int:
        from deployment_spark.operators.ivf import reference_nlist

        if self._nlist_arg is not None:
            return self._nlist_arg
        return reference_nlist(tokens.count())

    def build(
        self,
        tokens: DataFrame,
        src_clock: dict | None = None,
        id_col: str = "tok_id",
        doc_col: str = "doc_id",
        vec_col: str = "embedding",
    ) -> "TokenIVFIndex":
        """One-shot build (overwrite; clears tombstones): train the
        quantizer over the token vectors, write the assigned layout,
        land the stats partial, clear the maintenance marker LAST (a
        build IS the recovery from a torn compact). ``tokens``: one row
        per document token (id_col unique per token, doc_col the owning
        document, vec_col the token vector)."""
        rows = (
            tokens.select(
                F.col(id_col).cast("long").alias("vec_id"),
                F.col(doc_col).cast("long").alias("doc_id"),
                F.col(vec_col).cast("array<double>").alias("embedding"),
            )
            .withColumn("gen", F.lit(0).cast("int"))
        )
        nlist = self._resolve_build_nlist(rows)
        self.quantizer().build(rows, id_col="vec_id", nlist=nlist)
        fs, hp = self._fs()
        fs.delete(hp(self.stats_dir), True)
        fs.delete(hp(self.tombstones_dir), True)
        self._append_stats(rows, src_clock)
        self._set_marker(False)
        return self

    def append(
        self,
        tokens: DataFrame,
        src_clock: dict | None = None,
        id_col: str = "tok_id",
        doc_col: str = "doc_id",
        vec_col: str = "embedding",
    ) -> None:
        """O(batch) incremental append under the append-only doc-id
        contract: assign the batch's token vectors to the FROZEN
        centroids, append to the cell-partitioned layout, land the
        stats partial (carrying the reconcile watermark) last — a crash
        between the two writes re-appends the batch on the next
        maintenance pass (orphan rows above the watermark are dropped
        first, see ``drop_orphans``)."""
        rows = tokens.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(doc_col).cast("long").alias("doc_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        ).withColumn("gen", F.lit(int(self._current_write_gen())).cast("int"))
        assigned = self.quantizer().assign(rows, vec_col="embedding")
        (
            assigned.repartition("cluster_id")
            .write.mode("append")
            .partitionBy("cluster_id")
            .parquet(self.tokens_dir)
        )
        self._append_stats(assigned, src_clock)

    def _append_stats(
        self, rows: DataFrame, src_clock: dict | None, advance_watermark: bool = True
    ) -> None:
        # advance_watermark=False (reindex): the re-landed ids are OLD
        # ids at-or-below the watermark by contract — the partial rides
        # with max_doc_id NULL so the append-only watermark is unmoved
        stat = rows.agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (
                F.max("doc_id") if advance_watermark else F.lit(None)
            ).cast("long").alias("max_doc_id"),
        )
        seq = None if src_clock is None else int(src_clock.get("seq", 0))
        stat = stat.withColumn("src_seq", F.lit(seq).cast("long")).withColumn(
            "src_clock",
            F.lit(None if src_clock is None else json.dumps(src_clock)).cast(
                "string"
            ),
        )
        stat.coalesce(1).write.mode("append").parquet(self.stats_dir)

    def reindex(
        self,
        tokens: DataFrame,
        src_clock: dict | None = None,
        id_col: str = "tok_id",
        doc_col: str = "doc_id",
        vec_col: str = "embedding",
    ) -> None:
        """UPSERT a set of docs' token bags (r13): kill the old
        instances (generation tombstones at the current gen, a no-op
        for docs already dead), then land the new token rows one
        generation HIGHER so they survive the kill. Ids above the
        watermark are NEW docs and route through :meth:`append`
        (advancing the watermark — so the maintainer's coverage-derived
        increment can never double-index them); old ids re-land with a
        NULL-watermark stats partial. A crash between the kill and the
        re-land leaves the docs absent (never stale) until the next
        repair or rebuild — the same documented window as BM25's."""
        if not self.exists():
            raise FileNotFoundError(
                f"no token index at {self.root}: reindex() upserts into an "
                f"existing index — build() first"
            )
        hi = self.max_indexed_id()
        if hi is not None:
            fresh = tokens.filter(F.col(doc_col) > hi)
            if not fresh.isEmpty():
                self.append(
                    fresh, src_clock=src_clock,
                    id_col=id_col, doc_col=doc_col, vec_col=vec_col,
                )
            tokens = tokens.filter(F.col(doc_col) <= hi)
            if tokens.isEmpty():
                return
        self.delete(tokens.select(doc_col).distinct())
        rows = tokens.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(doc_col).cast("long").alias("doc_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        ).withColumn("gen", F.lit(int(self._current_write_gen())).cast("int"))
        assigned = self.quantizer().assign(rows, vec_col="embedding")
        (
            assigned.repartition("cluster_id")
            .write.mode("append")
            .partitionBy("cluster_id")
            .parquet(self.tokens_dir)
        )
        self._append_stats(assigned, src_clock, advance_watermark=False)

    def drop_orphans(self) -> None:
        """Remove token rows above the stats watermark — the crash
        window where the layout append landed but its stats row didn't.
        Duplicate token rows are actually HARMLESS to maxsim (max over
        duplicate vectors is idempotent, candidates are distinct) but
        unbounded re-appends would still accrete storage, so the
        re-land swaps them out first, BM25-reconcile-style."""
        hi = self.max_indexed_id()
        floor = hi if hi is not None else -(1 << 62)
        full = self.spark.read.parquet(self.tokens_dir)
        orphans = full.filter(F.col("doc_id") > floor)
        if orphans.isEmpty():
            return
        self._swap_tokens(full.filter(F.col("doc_id") <= floor))

    # -- deletes ---------------------------------------------------------------

    def _tombstones(self) -> DataFrame | None:
        try:
            t = self.spark.read.parquet(self.tombstones_dir)
            return t if t.limit(1).count() else None
        except Exception:  # path missing / empty
            return None

    def _current_write_gen(self) -> int:
        t = self._tombstones()
        if t is None:
            return 0
        return int(t.agg(F.max("gen")).collect()[0][0]) + 1

    _UNSET = object()

    def _live(self, rows: DataFrame, tombstones=_UNSET) -> DataFrame:
        """Generation kill rule, identical to BM25's: a token row is
        dead iff a tombstone for its doc has gen >= the row's gen.
        O(deleted) broadcast; absent → no-op."""
        t = self._tombstones() if tombstones is self._UNSET else tombstones
        if t is None:
            return rows
        kill = t.groupBy("doc_id").agg(F.max("gen").alias("_kgen"))
        return (
            rows.join(F.broadcast(kill), "doc_id", "left")
            .filter(F.col("_kgen").isNull() | (F.col("gen") > F.col("_kgen")))
            .drop("_kgen")
        )

    def delete(self, ids: DataFrame | list) -> int:
        """EXACT delete: tombstone every live doc in ``ids`` (its token
        count rides along for the stats correction). Docs absent from
        the index — never indexed, or already dead — write nothing, so
        corrections never double-subtract. One layout scan (doc-keyed —
        cell pruning cannot help a doc-keyed delete) + one O(killed)
        write; candidate/rerank reads are exact on the survivors
        immediately, ``compact()`` materializes. Returns docs killed."""
        if not self.exists():
            return 0
        if isinstance(ids, DataFrame):
            ids_df = ids.select(F.col(ids.columns[0]).cast("long").alias("doc_id"))
        else:
            ids_df = self.spark.createDataFrame(
                [(int(i),) for i in ids], "doc_id long"
            )
        t = self._tombstones()
        gen = 0 if t is None else int(t.agg(F.max("gen")).collect()[0][0]) + 1
        live = self._live(
            self.spark.read.parquet(self.tokens_dir).select("doc_id", "gen"),
            tombstones=t,
        )
        hi = self.max_indexed_id()
        if hi is not None:
            # only watermarked docs are deletable: rows above it are
            # crash orphans whose stats row never landed — tombstoning
            # one would subtract tokens stats never added
            live = live.filter(F.col("doc_id") <= hi)
        killed = (
            live.join(ids_df.distinct(), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_toks"))
            .withColumn("gen", F.lit(gen).cast("int"))
            .select("doc_id", "gen", "n_toks")
            .localCheckpoint()
        )
        n = killed.count()
        if n:
            killed.coalesce(1).write.mode("append").parquet(self.tombstones_dir)
        return n

    # -- reads -----------------------------------------------------------------

    def live_tokens(self) -> DataFrame:
        """(doc_id, vec_id, embedding) of every LIVE token row — the
        rerank stage's bag source AND (projected) the tok→doc map."""
        return self._live(self.spark.read.parquet(self.tokens_dir)).select(
            "doc_id", "vec_id", "embedding"
        )

    def live_token_doc(self, token_id: str = "tok_id", doc_id: str = "vec_id") -> DataFrame:
        """(token_id, doc_id) map over live tokens, named for
        ``multivec.token_candidates`` (whose doc column default is
        'vec_id' — the single-vector searchers' entity id)."""
        return self._live(
            self.spark.read.parquet(self.tokens_dir).select("doc_id", "vec_id", "gen")
        ).select(
            F.col("vec_id").alias(token_id), F.col("doc_id").alias(doc_id)
        )

    def live_doc_ids(self) -> DataFrame:
        """Distinct doc ids with at least one live token — the frame a
        repair diffs against the source store's current keys."""
        return self._live(
            self.spark.read.parquet(self.tokens_dir).select("doc_id", "gen")
        ).select("doc_id").distinct()

    def _probed_cells(self, queries: DataFrame, nprobe: int) -> list[int]:
        """The sorted union of cells this query batch probes — the SAME
        ``IVFIndex.probe`` step the quantizer search runs, so restricting
        any follow-up read to these cells provably covers every hit the
        search can return. Collect is nq·nprobe-bounded ints, never data
        rows."""
        return self.quantizer().probe(queries, nprobe)[1]

    def search_tokens(
        self, queries: DataFrame, k: int, nprobe: int = 8, with_doc: bool = False
    ) -> DataFrame:
        """First-stage token ANN: (query_id, tok_id) hits of the probed
        cells, LIVE tokens only — plus the hit's OWNING DOC as
        ``vec_id`` when ``with_doc=True`` (the entity-id convention of
        ``live_token_doc``), which lets ``token_candidates`` skip its
        tok→doc map join entirely.

        Liveness and doc resolution are BOUNDED at scale (r13 session
        2): the tok→doc rows are read from the PROBED CELLS only (the
        partition-pruned filter below — every hit token lives in a
        probed cell by construction) and filtered to the hit set with
        the HIT side broadcast (k·nq-bounded by contract). The first
        cut semi-joined hits against ``live_token_doc()`` — a FULL
        layout scan whose live token-id set became the broadcast build
        side: O(corpus) driver/executor memory, an OOM (not merely a
        slow scan) on a 100 TB corpus. Dead rows in the probed cells
        are anti-joined out per the generation rule (O(deleted)
        broadcast) so they can never displace a live hit from the
        k_per_token window; the hits frame is locally checkpointed
        (k·nq rows) so the probed scan runs once, not once per
        consumer."""
        hits = self.quantizer().search(
            queries, k=k, nprobe=nprobe
        ).localCheckpoint()
        cells = self._probed_cells(queries, nprobe)
        tok_doc = (
            self.spark.read.parquet(self.tokens_dir)
            .filter(F.col("cluster_id").isin([int(c) for c in cells]))
            .select("vec_id", "doc_id", "gen")
        )
        live_hit = self._live(
            tok_doc.join(
                F.broadcast(hits.select("vec_id").distinct()),
                "vec_id",
                "left_semi",
            )
        )
        out = hits.join(
            F.broadcast(live_hit.select("vec_id", "doc_id")), "vec_id"
        )
        if with_doc:
            return out.select(
                "query_id",
                F.col("vec_id").alias("tok_id"),
                F.col("doc_id").alias("vec_id"),
            )
        return out.select("query_id", F.col("vec_id").alias("tok_id"))

    def n_tokens(self) -> int:
        """Live token count: Σ stats partials − tombstone corrections —
        the scale input of ``reference_k_per_token``, O(1) driver work
        (plus one O(deleted) sum when tombstones exist)."""
        base = sum(int(r["n_tokens"]) for r in self._stats_rows())
        return max(base - self._dead_tokens(self._tombstones()), 0)

    def _dead_tokens(self, t: DataFrame | None) -> int:
        """Tombstoned token count of the tombstone frame ``t`` — the
        stats correction; 0 without tombstones."""
        if t is None:
            return 0
        return int(t.agg(F.coalesce(F.sum("n_toks"), F.lit(0))).collect()[0][0])

    # -- staleness contract ------------------------------------------------------

    def _stats_rows(self) -> list:
        """Every stats partial, collected once per listing of the stats
        dir — the same read as ``BM25Index._stats_rows``."""
        return parquet_rows(self.spark, self._stats, self.stats_dir)

    def pinned_src_clock(self) -> dict | None:
        best_seq, best_clock = None, None
        for r in self._stats_rows():
            if r["src_seq"] is None:
                continue
            s = int(r["src_seq"])
            if best_seq is None or s > best_seq:
                best_seq, best_clock = s, r["src_clock"]
        if best_seq is None:
            return None
        if best_clock is not None:
            return json.loads(best_clock)
        return {"seq": best_seq}

    def pin_src_clock(self, src_clock: dict) -> None:
        """Zero partial recording that the index now reflects the source
        at ``src_clock`` (repair paths that only wrote tombstones)."""
        self.spark.createDataFrame(
            [(0, None, int(src_clock.get("seq", 0)), json.dumps(src_clock))],
            "n_tokens long, max_doc_id long, src_seq long, src_clock string",
        ).coalesce(1).write.mode("append").parquet(self.stats_dir)

    def max_indexed_id(self) -> int | None:
        ids = [
            int(r["max_doc_id"])
            for r in self._stats_rows()
            if r["max_doc_id"] is not None
        ]
        return max(ids) if ids else None

    # -- existence / maintenance ---------------------------------------------------

    def _fs(self):
        jvm = self.spark.sparkContext._jvm
        hp = jvm.org.apache.hadoop.fs.Path
        fs = hp(self.root).getFileSystem(
            self.spark.sparkContext._jsc.hadoopConfiguration()
        )
        return fs, hp

    def _has_tokens(self) -> bool:
        # LIVE probe on purpose — the torn-state detector
        try:
            self.spark.read.parquet(self.tokens_dir).limit(1).collect()
            return True
        except Exception:
            return False

    def _has_quantizer(self) -> bool:
        fs, hp = self._fs()
        return bool(fs.exists(hp(self.quantizer_root + "/centroids.json")))

    def exists(self) -> bool:
        """True only when tokens, stats, AND the quantizer are present
        and no maintenance marker is — every torn multi-write state
        reads as absent, and absent-is-safe is the documented recovery
        (the maintainer's next batch takes the full-build path)."""
        return (
            bool(self._stats_rows())
            and self._has_tokens()
            and self._has_quantizer()
            and not self._marker_present()
        )

    @property
    def _marker_path(self) -> str:
        return self.root + "/_maintenance.inprogress"

    def _marker_present(self) -> bool:
        fs, hp = self._fs()
        return bool(fs.exists(hp(self._marker_path)))

    def _set_marker(self, on: bool) -> None:
        fs, hp = self._fs()
        if on:
            fs.create(hp(self._marker_path), True).close()
        else:
            fs.delete(hp(self._marker_path), False)

    def _swap_tokens(self, df: DataFrame) -> None:
        fs, hp = self._fs()
        tmp = self.tokens_dir + ".compacting"
        old = self.tokens_dir + ".old"
        fs.delete(hp(tmp), True)
        (
            df.repartition("cluster_id")
            .write.mode("overwrite")
            .partitionBy("cluster_id")
            .parquet(tmp)
        )
        fs.delete(hp(old), True)
        fs.rename(hp(self.tokens_dir), hp(old))
        fs.rename(hp(tmp), hp(self.tokens_dir))
        fs.delete(hp(old), True)

    def tombstone_pressure(self) -> tuple[int, int]:
        """(tombstoned tokens, live tokens) — the fraction trigger's
        inputs, mirroring BM25's: dead hits waste first-stage
        k_per_token slots only until the anti-join drops them, but the
        anti-join itself is the O(deleted) per-query cost compaction
        exists to fold away."""
        dead = self._dead_tokens(self._tombstones())
        base = sum(int(r["n_tokens"]) for r in self._stats_rows())
        return dead, max(base - dead, 0)

    def compact(self) -> None:
        """Materialize deletes and fold per-batch small files: live
        token rows rewritten per cell, tombstone corrections folded
        into ONE merged stats row, tombstones cleared. Runs under the
        maintenance marker — a crash anywhere inside reads as absent
        and the rebuild contract recovers."""
        t = self._tombstones()
        corr = self._dead_tokens(t)
        live = self._live(self.spark.read.parquet(self.tokens_dir), tombstones=t)
        stats = self._stats_rows()
        n_tokens = sum(int(r["n_tokens"]) for r in stats) - corr
        hi = self.max_indexed_id()
        pin = self.pinned_src_clock()
        self._set_marker(True)
        self._swap_tokens(live)
        merged = self.spark.createDataFrame(
            [
                (
                    int(n_tokens),
                    hi,
                    None if pin is None else int(pin.get("seq", 0)),
                    None if pin is None else json.dumps(pin),
                )
            ],
            "n_tokens long, max_doc_id long, src_seq long, src_clock string",
        )
        fs, hp = self._fs()
        tmp = self.stats_dir + ".compacting"
        old = self.stats_dir + ".old"
        fs.delete(hp(tmp), True)
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        fs.delete(hp(old), True)
        fs.rename(hp(self.stats_dir), hp(old))
        fs.rename(hp(tmp), hp(self.stats_dir))
        fs.delete(hp(old), True)
        fs.delete(hp(self.tombstones_dir), True)
        self._set_marker(False)
