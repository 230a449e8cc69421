"""CRUD maintenance on immutable storage (SURVEY §2.10 C1-C7, §7.3(2)).

The reference mutates a live index (FAISS ``index.add/remove_ids``,
Milvus ``insert/delete/upsert`` + ``flush``). On Spark the equivalent is
**snapshot versioning**: every mutation writes a new immutable parquet
snapshot and atomically repoints a version marker. Readers always see a
complete snapshot — the reference's "Strong" consistency
(``Milvus/stream1.py:115``) falls out of snapshot isolation.

By construction this fixes two documented reference bugs:
- index/payload drift (``FAISS/UI-Demo/pipeline+ui.py:532-534``): vector
  and payload live in one row, they cannot diverge;
- the 16,384-row pk-scan cap (``Milvus/stream1.py:299``): last-N delete
  is a real ORDER BY/LIMIT plan, not a capped client scan.

Two storage strategies behind one API (``mode=``):

- ``"cow"`` (copy-on-write, default): every mutation materializes the
  full next snapshot. Reads are a plain scan; mutation cost is O(corpus).
- ``"mor"`` (merge-on-read): the lakehouse shape. A snapshot is a
  MANIFEST of immutable data segments plus key tombstones; insert/upsert
  append one segment (O(batch)), delete appends one tombstone file
  (O(ids)). Reads reconstruct last-wins state: union segments tagged
  with their commit sequence, keep the newest row per key, anti-join
  tombstones newer than the surviving row. ``compact()`` folds
  everything back to a single segment (plain-scan reads again). At
  100 TB, mor is the only shape where the reference's 2,500-30,000-row
  mutation grid doesn't rewrite the corpus 24 times.

Snapshots are written partitioned when a partition column is configured
(e.g. ``cluster_id`` for the IVF layout, §4). Old versions are retained
for time travel until ``vacuum``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class ConcurrentCommitError(RuntimeError):
    """Another writer claimed the version this mutation computed —
    re-read the store and retry (optimistic concurrency)."""


class StaleServingStateError(RuntimeError):
    """A maintained serving structure (BM25 inverted index, kNN-graph
    store, standing top-k state) detected that its source store took a
    content-destructive mutation (delete/update/upsert/replace) it never
    incorporated — serving from it would silently return vanished or
    stale rows. Re-run maintenance with ``on_mutation='repair'`` (exact
    for delete/update/upsert histories via the mutation key log;
    rebuild for replace or log-less stores) or ``'rebuild'``."""


class Memo:
    """One value under one key: the one freshness rule for driver-side
    caches over durable state (store schemas, BM25/token index stats
    and tombstone corrections, IVF cluster counts). The key is the
    durable state the value was read from — a file's path and mtime, a
    dir listing, a frame's input files, a data path — observed BEFORE
    computing, so
    any writer (this handle, a sibling, another process) and any
    time-travel read gets a recompute, never a stale hit, and nothing
    invalidates by hand. ``None`` is not held (absence is re-probed).
    ``put`` holds a value the caller just wrote; ``rekey`` moves the
    value to a key the caller knows describes the same value. The slot
    is one tuple, swapped whole."""

    __slots__ = ("_slot",)

    def __init__(self) -> None:
        self._slot: tuple | None = None

    def get(self, key, compute):
        slot = self._slot
        if slot is not None and slot[0] == key:
            return slot[1]
        value = compute()
        if value is not None:
            self._slot = (key, value)
        return value

    def put(self, key, value):
        self._slot = (key, value)
        return value

    def rekey(self, old, new) -> None:
        slot = self._slot
        if slot is not None and slot[0] == old:
            self._slot = (new, slot[1])


def dir_listing(spark: SparkSession, path: str) -> tuple | None:
    """(name, length, mtime) of every file directly under ``path`` from
    one Hadoop FS listing (no Spark job), or None when it is missing.
    Appends add UUID-named part files and rebuilds or swaps replace
    them, so any write to a parquet dir changes this key."""
    try:
        p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        return tuple(
            sorted(
                (st.getPath().getName(), st.getLen(), st.getModificationTime())
                for st in fs.listStatus(p)
            )
        )
    except Exception:  # path missing
        return None


def parquet_rows(spark: SparkSession, memo: Memo, path: str) -> list:
    """Every row of the small parquet dir ``path`` ([] when it is
    missing or empty), collected once per listing of the dir."""

    def collect() -> list:
        try:
            return spark.read.parquet(path).collect()
        except Exception:  # path missing / empty dir
            return []

    return memo.get(dir_listing(spark, path), collect)


class SnapshotStore:
    """Versioned parquet table with last-wins upsert semantics.

    Layout::

        root/
          _current            # JSON {"version": N, "path": "v000N"}
          v0001/ ... parquet
          v0002/ ... parquet
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key: str = "id",
        partition_by: str | None = None,
        mode: str = "cow",
        schema_evolution: bool = False,
        compact_when: int | None = None,
        stats_cols: list[str] | None = None,
        bloom_bits: int | None = None,
    ) -> None:
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        if compact_when is not None and compact_when < 1:
            raise ValueError(f"compact_when must be >= 1, got {compact_when}")
        if bloom_bits is not None:
            if mode != "mor":
                raise ValueError(
                    "bloom_bits is manifest-level file skipping — mor only "
                    "(a cow snapshot is one file set; parquet row-group "
                    "blooms already skip below file level there)"
                )
            if bloom_bits < 64 or bloom_bits % 64:
                raise ValueError(
                    f"bloom_bits must be a positive multiple of 64, got {bloom_bits}"
                )
        self.spark = spark
        self.root = root
        self.key = key
        self.partition_by = partition_by
        self.mode = mode
        # observable auto-compaction health: incremented (with a warning)
        # whenever a threshold-triggered compact() fails and is deferred
        self.compaction_failures = 0
        # cumulative wall time spent in SUCCESSFUL threshold-triggered
        # compactions — lets harnesses attribute the in-line fold cost
        # separately from the mutation that tripped the threshold.
        # Failed attempts accrue to the _failed_ counter instead: no
        # fold happened, so their time must not read as fold time.
        self.auto_compaction_seconds = 0.0
        self.auto_compaction_failed_seconds = 0.0
        # opt-in additive schema evolution: inserts/upserts may carry NEW
        # columns (old rows read as NULL) and may omit existing ones.
        # Off by default — strict schemas catch writer bugs.
        self.schema_evolution = schema_evolution
        # mor auto-compaction policy: after a mutation publishes a
        # manifest holding MORE than ``compact_when`` live files
        # (segments + tombstones), fold the table back to one segment in
        # a follow-up commit. Bounds read amplification by construction —
        # every published-and-current manifest merges at most
        # ``compact_when`` files — instead of relying on callers to
        # remember a maintenance cadence (VERDICT r4 #5: the bench's
        # fixed every-3-sizes choice let segment accretion drift).
        self.compact_when = compact_when
        # non-key columns to zone-map per segment (min/max observed on
        # the write job, zero extra scans) — enables
        # read_where_between() data skipping on value predicates
        self.stats_cols = list(stats_cols or [])
        # per-segment KEY bloom filter (the Hudi/Iceberg bloom-index
        # move): zone maps prune point reads only when segments have
        # disjoint key RANGES — with hash-distributed keys (uuid/md5)
        # every segment spans the whole keyspace and zones never prune.
        # A bloom sidecar answers "is key k definitely absent from this
        # file?" regardless of key layout. Sizing: ~10 bits/row ≈ 1% fp
        # (a false positive only costs a scan, never a wrong answer).
        # Cost: one O(batch) column-pruned read-back per written file.
        self.bloom_bits = bloom_bits
        self._schema_memo = Memo()
        os.makedirs(root, exist_ok=True)

    def _union(self, a: DataFrame, b: DataFrame) -> DataFrame:
        return a.unionByName(b, allowMissingColumns=self.schema_evolution)

    def _schema_key(self, version: int) -> tuple:
        """(path, mtime) of the files version ``version``'s schema is
        read from: the cow snapshot, or the mor manifest's FIRST segment
        — its base, which only create/replace/compact rewrite; later
        segments append behind it with the same columns (strict mode)."""
        if self.mode == "cow":
            path = self._snapshot_path(version)
        else:
            seg = self._read_manifest(version)["segments"][0]["path"]
            path = os.path.join(self.root, seg)
        try:
            return path, os.stat(path).st_mtime_ns
        except OSError:  # vacuumed or never written: the read raises
            return path, None

    def _schema(self, version: int):
        """The explicit schema for every segment read of ``version``, or
        None under schema_evolution, where segments differ and each read
        infers. A schema-less ``spark.read.parquet`` pays a schema
        inference JOB, and a fragmented mor read builds one reader per
        live file set, so inferring per read cost O(files) driver jobs
        per plan (r14). The memo is keyed by the source files' path and
        mtime, so a time-travel read, a sibling's replace and a drop +
        re-create at the same version number all re-infer, while a mor
        insert/update/delete keeps its base segment and stays a hit. The
        commit path carries the entry across this handle's own
        schema-preserving commits (see :meth:`_publish`)."""
        if self.schema_evolution:
            return None
        key = self._schema_key(version)
        return self._schema_memo.get(
            key, lambda: self.spark.read.parquet(key[0]).schema
        )

    def _check_schema(self, rows: DataFrame) -> None:
        """Strict mode fails FAST on column drift — mor would otherwise
        accept a divergent segment and only explode at read() time."""
        if self.schema_evolution or not self.exists():
            return
        # compare (name, type) pairs, not names alone — name-only checks
        # silently accept type drift (e.g. a long column flipping to
        # double via coalesce(..., 0.0)) and the store's schema changes
        # out from under readers on the first merge
        schema = self._schema(self.current_version())
        base = sorted((f.name, f.dataType.simpleString()) for f in schema.fields)
        new = sorted((f.name, f.dataType.simpleString()) for f in rows.schema.fields)
        if base != new:
            raise ValueError(
                f"schema drift rejected (schema_evolution=False): table has "
                f"{base}, incoming rows have {new}"
            )

    # -- version bookkeeping ------------------------------------------------

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_current")

    def current_version(self) -> int:
        if not os.path.exists(self._pointer):
            return 0
        with open(self._pointer) as f:
            return json.load(f)["version"]

    def tracked_rows(self) -> int | None:
        """Exact live row count as of the last commit, O(1) from the
        pointer — never a scan (r7 VERDICT next #7). cow: always exact
        (the snapshot write job observes its own count). mor: maintained
        incrementally where the mutation's delta is knowable — create
        and insert (+batch; the anti-join / assume_new guarantee means
        no shadowing) keep it exact; delete/upsert/update set it to
        ``None`` (their replaced/matched counts are unknowable without
        the base scan those O(batch) paths exist to avoid); the next
        ``compact()`` re-materializes and restores exactness. ``None``
        means "unknown — use count() if you must pay the scan"."""
        if not os.path.exists(self._pointer):
            return None
        with open(self._pointer) as f:
            r = json.load(f).get("rows")
        return int(r) if r is not None else None

    def manifest_file_rows(self) -> tuple[int | None, int | None]:
        """(segment_rows, tombstone_rows) — PHYSICAL row sums from the
        manifest's per-file counts (written free by the write job's
        Observation), O(manifest) driver work, zero scans. This is
        compaction-pressure telemetry, NOT a live count: segments may
        shadow each other and tombstoned keys may not exist. ``None``
        per side when any entry predates per-file counts. cow returns
        (tracked_rows(), 0) — the snapshot is one file set."""
        if self.mode == "cow":
            return self.tracked_rows(), 0
        v = self.current_version()
        if v == 0:
            return None, None

        def total(entries):
            rows = [e.get("rows") for e in entries]
            return None if any(r is None for r in rows) else int(sum(rows))

        m = self._read_manifest(v)
        return total(m["segments"]), total(m["tombstones"])

    def commit_meta(self) -> dict:
        """Caller-supplied metadata as of the LAST commit (e.g. a
        streaming batch_id) — rides in the atomically-swapped pointer
        file, so it is exactly as durable as the commit it describes;
        the replay check in streaming.rollup relies on that atomicity.

        Meta is CARRIED FORWARD: every commit merges the previous
        pointer's meta under its own keys (new keys win), so a commit
        that supplies no meta — compact(), a delete, the auto-compaction
        follow-up — cannot erase another writer's durable state. Before
        this, a curated-ingest store with ``compact_when`` set lost its
        ``curated_max_seen`` replay watermark at the first auto-
        compaction and the next recovery fell back to max-kept-id,
        reintroducing the dropped-tail replay bug (r6 ADVICE). Keys are
        therefore sticky; there is deliberately no way to clear one
        short of rebuilding the store."""
        if not os.path.exists(self._pointer):
            return {}
        with open(self._pointer) as f:
            return json.load(f).get("meta", {})

    def _merged_meta(self, meta: dict | None) -> dict:
        """Previous pointer meta merged under the new commit's keys —
        see :meth:`commit_meta` for why carry-forward is load-bearing.
        Must be read BEFORE the pointer swap of the commit using it."""
        return {**self.commit_meta(), **(meta or {})}

    # -- mutation clock (r12, VERDICT r11 #1) --------------------------------

    _MUTATION_OPS = ("deletes", "updates", "upserts", "replaces")

    def mutation_clock(self) -> dict:
        """Durable counter of CONTENT-DESTRUCTIVE mutations, O(1) from
        the pointer meta: ``{"seq": total, "deletes": n, "updates": n,
        "upserts": n, "replaces": n}``. Inserts/creates never bump it —
        they only ADD rows, which every maintained serving structure
        (BM25 index, kNN graph, standing top-k) absorbs through its
        normal incremental path. Deletes/updates/upserts/replaces DO
        bump it (unless the caller certifies ``content_preserving`` —
        the drift relayout, which rewrites layout columns only), so a
        maintainer comparing the clock against the value it pinned at
        its last maintenance detects exactly the mutations that can
        leave it serving vanished or stale rows. The per-op counters
        let a repair path distinguish deletes-only histories (exact
        O(affected) repair) from content changes (rebuild). Advisory
        for PLANS, load-bearing for the maintainers' staleness
        contract; carried forward by commit-meta merge like every
        other durable key."""
        clock = self.commit_meta().get("mutation_clock") or {}
        out = {"seq": int(clock.get("seq", 0))}
        for op in self._MUTATION_OPS:
            out[op] = int(clock.get(op, 0))
        return out

    def _bump_mutation(self, op: str, meta: dict | None = None) -> dict:
        """Meta dict for a commit performing destructive op ``op``.
        Read-before-claim is safe: every caller claims base+1 right
        after, so a concurrent commit between this read and the claim
        fails the claim instead of losing a bump."""
        clock = self.mutation_clock()
        clock["seq"] += 1
        clock[op] += 1
        return {**(meta or {}), "mutation_clock": clock}

    # -- destructive-mutation key log (r13, VERDICT r12 Next #3) -------------

    @property
    def _mutations_dir(self) -> str:
        return os.path.join(self.root, "_mutations")

    def _log_touched(
        self, keys_df: DataFrame, meta: dict, assume_distinct: bool = False
    ) -> None:
        """O(batch) durable log of the KEYS a destructive mutation
        touches, under the clock seq the mutation will commit with —
        written BEFORE the commit publishes, so a published destructive
        commit always has its keys on record (an orphan entry from a
        commit that then failed merely over-approximates: repairing an
        untouched key re-tops it to the same exact state). This is what
        upgrades the maintainers' upsert/update story from rebuild to
        EXACT repair: a maintainer asks for the keys touched since its
        pinned seq and restricts the re-top to state referencing them.
        ``replace`` deliberately writes NO entry — its touched set is
        the corpus — which makes :meth:`touched_keys_since`'s coverage
        check route replace histories to rebuild automatically. The log
        grows O(touched) per destructive mutation; bound retention with
        :meth:`vacuum_mutation_log` once every consumer's pin has
        advanced. r14: the mutating methods MATERIALIZE their O(batch)
        key/row frames (localCheckpoint) before calling this, so the
        log write reads the same computed rows the data write lands —
        one execution of the caller's input chain per mutation instead
        of two (at corpus scale the chain includes the base read), and
        the old double-execution determinism hazard is gone by
        construction. ``assume_distinct`` skips the per-key distinct
        when the caller already materialized distinct keys."""
        clock = meta["mutation_clock"]
        keys = keys_df.select(self.key)
        if not assume_distinct:
            keys = keys.distinct()
        (
            keys.coalesce(1)
            .write.mode("append")
            .parquet(os.path.join(self._mutations_dir, f"seq={int(clock['seq'])}"))
        )

    def touched_keys_since(self, pinned_seq: int, cur_seq: int) -> DataFrame | None:
        """Distinct keys destructively touched in the clock range
        (pinned_seq, cur_seq], from the key log — or ``None`` when the
        log does not COVER the whole range (a replace in the range logs
        nothing by design; stores predating the log have holes), in
        which case exact repair is impossible and callers rebuild.
        Coverage = every seq in the range has at least one entry; a
        duplicate entry from a failed-then-retried commit just unions
        in (over-approximation is repair-safe). O(touched) read."""
        if cur_seq <= pinned_seq:
            return self.read().select(self.key).limit(0)
        try:
            log = self.spark.read.parquet(self._mutations_dir)
        except Exception:  # no log at all
            return None
        in_range = log.filter(
            (F.col("seq") > int(pinned_seq)) & (F.col("seq") <= int(cur_seq))
        )
        seqs = {int(r[0]) for r in in_range.select("seq").distinct().collect()}
        if seqs != set(range(int(pinned_seq) + 1, int(cur_seq) + 1)):
            return None
        return in_range.select(self.key).distinct()

    def vacuum_mutation_log(self, below_seq: int) -> int:
        """Drop key-log entries with seq < ``below_seq`` (every consumer
        has pinned at or past it). Returns entries removed."""
        removed = 0
        if not os.path.isdir(self._mutations_dir):
            return removed
        for name in sorted(os.listdir(self._mutations_dir)):
            if name.startswith("seq=") and int(name[4:]) < int(below_seq):
                shutil.rmtree(
                    os.path.join(self._mutations_dir, name), ignore_errors=True
                )
                removed += 1
        return removed

    # -- commit-embedded per-cluster counts (r11, VERDICT r10 #3) ------------

    def _footer_cluster_counts(self, path: str) -> dict:
        """{cluster_id: rows} of one just-written file set — a count job
        that is footer-level when cluster_id is the partition column
        (parquet metadata only) and a single-column scan of the file set
        otherwise; nlist-bounded output. Runs once per COMMIT, never per
        query: the whole point is that readers get the counts as a free
        pointer-meta lookup."""
        return {
            int(r["cluster_id"]): int(r["_n"])
            for r in self.spark.read.parquet(path)
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        }

    def _stamp_cluster_counts(self, meta: dict | None, counts: dict | None,
                              token: str) -> dict | None:
        """Fold ``counts`` into commit meta under the commit's OWN
        freshness token (cow: the snapshot basename; mor: ``v<version>``).
        The token invalidates exactly at commit — a later commit either
        re-stamps with its own counts or leaves a stale token behind,
        which :meth:`cluster_counts` treats as absent. Counts are
        ADVISORY plan inputs (salting, prune coverage): a wrong dict can
        mis-tune a plan, never change results."""
        if counts is None:
            return meta
        return {
            **(meta or {}),
            "cluster_counts": {str(k): int(v) for k, v in counts.items()},
            "cluster_counts_token": token,
        }

    def cluster_counts(self) -> dict | None:
        """Advisory ``{cluster_id: rows}`` embedded at the LAST commit,
        O(1) from the pointer — stats travel with the snapshot they
        describe, so a fresh process (or a reader of a READ-ONLY index
        root pointed at this store) never pays a count job. None when
        the last commit didn't refresh them (the carry-forward token no
        longer matches — e.g. after a mor delete/update, whose shadow
        counts are unknowable without the base scan those paths avoid)."""
        if not os.path.exists(self._pointer):
            return None
        with open(self._pointer) as f:
            p = json.load(f)
        meta = p.get("meta", {})
        tok = meta.get("cluster_counts_token")
        expect = p.get("path") if self.mode == "cow" else f"v{p['version']}"
        if tok is None or tok != expect:
            return None
        try:
            return {int(k): int(v) for k, v in meta["cluster_counts"].items()}
        except (ValueError, TypeError, AttributeError, KeyError):
            return None

    def update_meta(self, meta: dict) -> int:
        """Meta-ONLY commit: merge ``meta`` into the current pointer
        without writing any snapshot data — same version, same files,
        atomic pointer swap. For bookkeeping that must be durable even
        when a mutation has nothing to write: the curated-ingest replay
        watermark after an all-rejected batch previously had to ride an
        insert of ZERO rows, which on a cow store rewrites the entire
        snapshot (O(corpus) per rejected batch — r6 ADVICE).

        Concurrency-safe via the same claim protocol data commits use:
        the swap happens only while HOLDING the claim marker on v+1,
        which every data commit needs to publish v+1 — so the pointer
        this read cannot be superseded before the replace lands (an
        unprotected read-merge-swap could roll the pointer back over a
        concurrent data commit, orphaning its snapshot — r7 ADVICE). A
        concurrent data commit between our read and our claim just means
        the claim fails; the merge is re-applied on the fresh pointer
        (bounded retries — meta merge is idempotent). Two concurrent
        update_meta calls serialize the same way instead of losing a
        merge. Returns the (unchanged) current version.

        Crash recovery (r8 ADVICE): a process dying between the O_EXCL
        claim create and the finally-release leaves a stale
        ``claim.v{v+1}`` marker that blocks every subsequent commit on
        this store — exactly like a data commit crashing mid-write, and
        cleared the same way: :meth:`recover_claims` removes it (the
        version was never published, so removal is always safe)."""
        if not os.path.exists(self._pointer):
            raise ValueError(f"snapshot store {self.root} is empty")
        last_err = None
        attempt = 0
        for _ in range(8):
            v = self.current_version()
            try:
                self._claim_version(v + 1)
            except ConcurrentCommitError as e:
                last_err = e
                # linear backoff (0.1..0.8 s, ~3.6 s total budget): the
                # claim holder is typically a data commit mid-Spark-job;
                # a zero-delay loop would burn all retries in
                # microseconds and raise spuriously (r8 review)
                attempt += 1
                time.sleep(0.1 * attempt)
                continue
            marker = os.path.join(self.root, f"claim.v{v + 1:06d}")
            try:
                with open(self._pointer) as f:
                    pointer = json.load(f)
                if pointer["version"] != v:  # pragma: no cover — claim held
                    continue
                pointer["meta"] = {**pointer.get("meta", {}), **meta}
                self._publish(pointer)
                return pointer["version"]
            finally:
                # release: the version was never published, so the next
                # data commit must be able to claim v+1
                try:
                    os.remove(marker)
                except FileNotFoundError:  # pragma: no cover
                    pass
        raise ConcurrentCommitError(
            f"update_meta on {self.root} lost the claim race 8 times "
            f"(a writer is committing continuously); retry later — or, "
            f"if the claimant crashed mid-commit, run recover_claims() "
            f"to clear its stale marker"
        ) from last_err

    def _snapshot_path(self, version: int) -> str:
        return os.path.join(self.root, f"v{version:06d}")

    def exists(self) -> bool:
        """C7 — existence check (``utility.has_collection``,
        ``Milvus/stream1.py:105``)."""
        return self.current_version() > 0

    def _claim_version(self, version: int) -> None:
        """Optimistic concurrency: exclusively create a per-version claim
        marker (O_EXCL — atomic on POSIX) BEFORE publishing. Two writers
        that both read version N race to claim N+1; the loser gets
        ConcurrentCommitError instead of silently overwriting the
        winner's snapshot — the lost-update failure snapshot isolation
        alone does not prevent.

        The marker alone is NOT sufficient once maintenance runs:
        vacuum sweeps consumed markers (<= published version), so a
        STALE writer could win the O_EXCL race for an already-published
        version whose marker was swept and overwrite committed files
        (r7 review finding). A successful claim therefore also
        validates freshness against the pointer: the claimed version
        must be exactly published+1. The order matters — marker first,
        THEN the pointer read — so between the two steps no concurrent
        writer can publish the claimed version (publishing requires
        this same marker)."""
        marker = os.path.join(self.root, f"claim.v{version:06d}")
        try:
            fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"version {version} already claimed by a concurrent writer "
                f"(store {self.root}); re-read and retry the mutation — or, "
                "if the claimant crashed mid-commit, run recover_claims() "
                "once no writer is live"
            ) from None
        current = self.current_version()
        if current != version - 1:
            # stale claim: the version was already published (its spent
            # marker may have been vacuumed). Remove our marker — the
            # version stays protected by this same check for any later
            # stale claimant — and fail loudly like the marker race.
            try:
                os.remove(marker)
            except FileNotFoundError:
                pass
            raise ConcurrentCommitError(
                f"version {version} is stale: store {self.root} is already "
                f"at v{current}; re-read and retry the mutation"
            )

    def recover_claims(self) -> list[int]:
        """Crash recovery: remove claim markers ABOVE the published
        version (a writer claimed them but never swapped the pointer —
        it died mid-commit and its half-written files are unreferenced).
        This also clears the marker of a crashed :meth:`update_meta`
        (which holds the v+1 claim during its pointer swap but never
        publishes v+1, so its stale marker is always above the
        published version). Only safe when the caller knows no writer
        is currently live; the published state itself is never
        touched."""
        current = self.current_version()
        freed = []
        for name in sorted(os.listdir(self.root)):
            if name.startswith("claim.v"):
                v = int(name[len("claim.v"):])
                if v > current:
                    os.remove(os.path.join(self.root, name))
                    freed.append(v)
        return freed

    def _commit(
        self, df: DataFrame, meta: dict | None = None,
        base_version: int | None = None, new_schema: bool = False,
    ) -> int:
        """C5 — flush/persist barrier (``collection.flush()``,
        ``Milvus/stream1.py:226``): write the new snapshot fully, then
        atomically swap the pointer (write-temp + rename).

        ``base_version`` is the version the caller READ while computing
        ``df``. Claiming base+1 (not current+1 re-read at commit time)
        makes the claim also validate read freshness: if another writer
        published after our read, base+1 is already claimed and we raise
        instead of committing a snapshot derived from stale state — the
        anti-join/dedup/merge inside the mutation would otherwise
        silently drop the concurrent writer's rows. ``new_schema``: the
        commit may change the table schema (create/replace)."""
        version = (
            base_version + 1 if base_version is not None else self.current_version() + 1
        )
        self._claim_version(version)
        path = self._snapshot_path(version)
        # a cow snapshot IS the table: observing its row count on the
        # write job gives an always-exact live-rows pointer field for
        # free (no extra scan) — /metrics reads it O(1) (r7 next #7)
        from pyspark.sql import Observation

        obs = Observation()
        writer = df.observe(obs, F.count(F.lit(1)).alias("cnt")).write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(self.partition_by)
        writer.parquet(path)
        # per-cluster counts travel WITH the snapshot they describe
        # (r11, VERDICT r10 #3): one footer-level job per commit, keyed
        # by the snapshot basename, so IVF readers over this snapshot —
        # including fresh processes on read-only index roots — make
        # their salting/prune decisions without any count job.
        # gate on the PARTITION column, not mere column presence: only
        # an inverted-list layout has IVF readers to feed, and only
        # there is the count job footer-level (a cluster_id data column
        # would cost a real column scan per commit for no consumer)
        if self.partition_by == "cluster_id" and "cluster_id" in df.columns:
            meta = self._stamp_cluster_counts(
                meta,
                self._footer_cluster_counts(path),
                os.path.basename(path),
            )
        self._publish(
            {
                "version": version,
                "path": os.path.basename(path),
                "ts": time.time(),
                "rows": int(obs.get.get("cnt") or 0),
                "meta": self._merged_meta(meta),
            },
            None if new_schema else version - 1,
        )
        return version

    def _publish(self, pointer: dict, base: int | None = None) -> None:
        """Atomically swap the version pointer (write-temp + rename).
        ``base`` is the version a schema-preserving commit read: every
        commit but create/replace, since its rows passed _check_schema
        or it only dropped rows. The schema memo then moves from base's
        key to the new version's, so this handle's next read pays no
        inference job. Both keys are taken before the swap, while base
        is still current and no vacuum can remove it."""
        keys = None
        if base is not None:
            keys = self._schema_key(base), self._schema_key(pointer["version"])
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            json.dump(pointer, f)
        os.replace(tmp, self._pointer)
        if keys is not None:
            self._schema_memo.rekey(*keys)

    # -- merge-on-read manifest bookkeeping ---------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, f"m{version:06d}.json")

    def _read_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _commit_manifest(
        self,
        segments: list[dict],
        tombstones: list[dict],
        meta: dict | None = None,
        version: int | None = None,
        rows: int | None = None,
        cluster_counts: dict | None = None,
        new_schema: bool = False,
    ) -> int:
        """C5 barrier, mor flavor: the new segment/tombstone files are
        fully written before the manifest that references them appears;
        pointer swap is atomic as in cow.

        ``version`` MUST be the value the caller obtained from
        ``_claim_version`` BEFORE writing any segment/tombstone files:
        those files live at deterministic paths derived from the version,
        so a writer that writes first and claims second can overwrite a
        concurrent winner's already-published files (silent lost update).
        Claim-first makes the s{v}/t{v} names exclusive to one writer.

        ``cluster_counts`` (r11): the LIVE per-cluster row counts as of
        this commit, when the mutation can derive them exactly (create/
        compact/replace fold to one segment; insert increments with its
        no-shadowing guarantee; the relayout upsert knows its own moved
        deltas). Stamped with the ``v<version>`` token — mutations that
        CANNOT know them (delete/update/plain upsert) pass None and the
        carried-forward token goes stale, reading as absent.
        ``new_schema`` as in :meth:`_commit`."""
        if version is None:  # legacy single-writer path
            version = self.current_version() + 1
            self._claim_version(version)
        meta = self._stamp_cluster_counts(meta, cluster_counts, f"v{version}")
        with open(self._manifest_path(version), "w") as f:
            json.dump(
                {"version": version, "segments": segments, "tombstones": tombstones}, f
            )
        self._publish(
            {
                "version": version,
                "mode": self.mode,
                "ts": time.time(),
                # exact live row count when the mutation can derive
                # it O(1) (see tracked_rows()); None = unknown until
                # the next compact()/create() re-materializes
                "rows": rows,
                "meta": self._merged_meta(meta),
            },
            None if new_schema else version - 1,
        )
        if self.compact_when is not None and (
            len(segments) + len(tombstones) > self.compact_when
        ):
            # the mutation is already durably published; compaction is a
            # best-effort follow-up commit, so NO compaction failure may
            # make the committed mutation look failed — a lost claim
            # race or a transient write error just defers folding to
            # whichever commit trips the threshold next (the store stays
            # valid in its pre-compaction state either way). compact()
            # publishes a 1-segment manifest, which cannot re-trip this
            # branch — no recursion. The failure is NOT silent: it is
            # counted and warned, so a persistently failing policy
            # (disk-full, permissions) is observable instead of quietly
            # unbounding read amplification.
            t0 = time.monotonic()
            try:
                v = self.compact()
                self.auto_compaction_seconds += time.monotonic() - t0
                return v
            except Exception as exc:
                import warnings

                self.auto_compaction_failed_seconds += time.monotonic() - t0
                self.compaction_failures += 1
                warnings.warn(
                    f"auto-compaction deferred after error ({exc!r}); "
                    f"store stays valid at v{version}, "
                    f"{self.compaction_failures} failure(s) so far",
                    stacklevel=2,
                )
                return version
        return version

    def _write_files(
        self, df: DataFrame, name: str
    ) -> tuple[str, object, object, dict, int]:
        """Write an immutable segment/tombstone file set and return
        ``(name, key_min, key_max, stats, row_count)`` where ``stats`` maps each
        tracked ``stats_cols`` column present in the frame to its
        [min, max]. ALL zone stats ride on the WRITE JOB ITSELF via the
        Observation API — zero extra scans (a follow-up stats agg
        measured +27% on the mor CRUD grid)."""
        from pyspark.sql import Observation

        path = os.path.join(self.root, name)
        obs = Observation()
        scols = [c for c in self.stats_cols if c in df.columns and c != self.key]
        aggs = [
            F.min(F.col(self.key)).alias("mn"),
            F.max(F.col(self.key)).alias("mx"),
            # row count sizes the bloom's hash count k; free on the write job
            F.count(F.lit(1)).alias("cnt"),
        ]
        for c in scols:
            aggs.append(F.min(F.col(c)).alias(f"mn_{c}"))
            aggs.append(F.max(F.col(c)).alias(f"mx_{c}"))
        observed = df.observe(obs, *aggs)
        writer = observed.write.mode("overwrite").option(
            # row-group bloom filter on the key: point lookups that
            # survive zone-map pruning skip row groups the key can't be
            # in — the sub-file companion to the manifest-level skipping
            f"parquet.bloom.filter.enabled#{self.key}",
            "true",
        )
        if self.partition_by and self.partition_by in df.columns:
            writer = writer.partitionBy(self.partition_by)
        writer.parquet(path)
        got = obs.get
        stats = {c: [got.get(f"mn_{c}"), got.get(f"mx_{c}")] for c in scols}
        cnt = int(got.get("cnt") or 0)
        if self.bloom_bits:
            self._build_bloom(path, cnt)
        return name, got.get("mn"), got.get("mx"), stats, cnt

    # -- per-segment key bloom filters (manifest-level point-read skipping) --

    _BLOOM_SIDECAR = "_bloom.json"  # "_" prefix: invisible to parquet scans,
    # lives INSIDE the segment dir so vacuum/compact/drop clean it for free

    def _key_hash_cols(self):
        """The two independent 64-bit key hashes both the build and the
        probe path derive bloom positions from (Kirsch-Mitzenmacher:
        pos_i = (h1 + i·h2) mod m). The key is canonicalized with a
        Spark-side cast to string so int32/int64/string keys hash
        identically on every path, and BOTH sides use Catalyst's
        xxhash64 — the probe hashes are computed by an nq-scale Spark
        job precisely so no Python reimplementation can drift from the
        JVM hash."""
        ks = F.col(self.key).cast("string")
        return F.xxhash64(ks).alias("_h1"), F.xxhash64(ks, F.lit(1)).alias("_h2")

    def _build_bloom(self, path: str, n: int) -> None:
        """Distributed bloom build over the JUST-WRITTEN segment files
        (read-back guarantees the filter matches file content even for
        nondeterministic input frames): key → k bit positions →
        64-bit-word bit_or aggregate → collect m/64 longs. The driver
        holds m/8 bytes per segment (KBs at the ~10-bits/row sizing),
        never rows. Overflow-safe position arithmetic: pmod before the
        multiply keeps every term < 2^34 under Spark 4's ANSI mode."""
        m = self.bloom_bits
        k = max(1, min(16, round(m * 0.6931 / max(n, 1))))
        sidecar = os.path.join(path, self._BLOOM_SIDECAR)
        if n == 0:
            with open(sidecar, "w") as f:
                json.dump({"m": m, "k": k, "n": 0, "words": {}}, f)
            return
        keys = self.spark.read.parquet(path).select(*self._key_hash_cols())
        h1m = F.pmod(F.col("_h1"), F.lit(m))
        h2m = F.pmod(F.col("_h2"), F.lit(m))
        pos = F.explode(
            F.array(*[F.pmod(h1m + F.lit(i) * h2m, F.lit(m)) for i in range(k)])
        ).alias("_p")
        words = (
            keys.select(pos)
            .select(
                F.floor(F.col("_p") / 64).alias("_w"),
                # SQL form: the Python shiftleft wrapper takes only a
                # literal bit count, the SQL function takes a column
                F.expr("shiftleft(1L, cast(_p % 64 as int))").alias("_b"),
            )
            .groupBy("_w")
            .agg(F.bit_or("_b").alias("_bits"))
            .collect()
        )
        with open(sidecar, "w") as f:
            json.dump(
                {"m": m, "k": k, "n": n, "words": {str(r._w): r._bits for r in words}},
                f,
            )

    def _probe_hashes(self, keys: list, version: int) -> list[tuple[int, int]]:
        """(h1, h2) per probe key via the same Catalyst exprs as the
        build — one tiny job over the (contract-bounded) probe set.

        The probe column is cast to the TABLE's key type before the
        string canonicalization: createDataFrame infers the Python
        type, and e.g. int probes against a double key column would
        hash '101' while the build hashed '101.0' — a silent bloom
        false negative that DROPS matching rows, unlike isin which
        coerces (r7 ADVICE). Casting to the stored type first makes
        both sides stringify the same value."""
        schema = self._schema(version) or self.read(version).schema
        key_type = schema[self.key].dataType
        kdf = self.spark.createDataFrame([(k,) for k in keys], [self.key])
        kdf = kdf.withColumn(self.key, F.col(self.key).cast(key_type))
        return [(r._h1, r._h2) for r in kdf.select(*self._key_hash_cols()).collect()]

    def _bloom_keep(self, entries: list[dict], hashes: list[tuple[int, int]]) -> list[dict]:
        """Entries some probe key MAY be in. No false negatives by bloom
        construction, so skipping is sound for point predicates: a file
        every probe key is definitely absent from cannot contribute a
        matching row, cannot shadow one (last-wins only consults rows of
        the probed keys), and cannot tombstone one. A missing, corrupt,
        or differently-sized sidecar keeps the entry — degrade to scan,
        never to wrong pruning. Python's % and & on the JSON-signed
        words match Java pmod / long bit tests exactly (two's-complement
        semantics of arbitrary-precision ints)."""
        out = []
        for e in entries:
            if not e.get("bloom"):
                out.append(e)
                continue
            try:
                with open(os.path.join(self.root, e["path"], self._BLOOM_SIDECAR)) as f:
                    b = json.load(f)
                m, k, words = int(b["m"]), int(b["k"]), b["words"]
            except (OSError, ValueError, KeyError, TypeError):
                out.append(e)
                continue
            hit = False
            for h1, h2 in hashes:
                h1m, h2m = h1 % m, h2 % m
                if all(
                    int(words.get(str(((h1m + i * h2m) % m) // 64), 0))
                    >> (((h1m + i * h2m) % m) % 64)
                    & 1
                    for i in range(k)
                ):
                    hit = True
                    break
            if hit:
                out.append(e)
        return out

    def _entry(
        self, name: str, seq: int, mn, mx, stats: dict | None = None,
        rows: int | None = None,
    ) -> dict:
        """Manifest entry with key ZONE MAP: `read_where_key_between`
        prunes whole segments/tombstone files against [key_min, key_max]
        before any scan — the lakehouse file-skipping move; at 100 TB the
        difference between reading one segment and reading the table.
        Non-JSON-able key types degrade to no-stats (= never pruned),
        never to wrong pruning."""
        if not isinstance(mn, (int, float, str)) or not isinstance(mx, (int, float, str)):
            mn = mx = None
        e = {"path": name, "seq": seq, "key_min": mn, "key_max": mx}
        if rows is not None:
            # per-file physical row count, free from the write job's
            # Observation: lets /metrics expose segment/tombstone sizes
            # and compaction pressure without ever scanning (r7 next #7)
            e["rows"] = int(rows)
        ok = lambda b: (
            isinstance(b[0], (int, float, str)) and isinstance(b[1], (int, float, str))
        )
        clean = {c: b for c, b in (stats or {}).items() if ok(b)}
        if clean:
            e["stats"] = clean
        if self.bloom_bits:
            # flag, not payload: readers open the sidecar only for
            # flagged entries, so non-bloom stores pay zero probe I/O
            e["bloom"] = True
        return e

    def _keys_df(self, ids: "DataFrame | list", like: DataFrame) -> DataFrame:
        if isinstance(ids, list):
            return self.spark.createDataFrame(
                [(i,) for i in ids], schema=like.select(self.key).schema
            )
        return ids.select(F.col(ids.columns[0]).alias(self.key))

    # -- reads --------------------------------------------------------------

    def _version(self, version: int | None) -> int:
        v = self.current_version() if version is None else version
        if v == 0:
            raise ValueError(f"snapshot store {self.root} is empty")
        return v

    def read(self, version: int | None = None) -> DataFrame:
        v = self._version(version)
        if self.mode == "cow":
            return self._read_seg(self._snapshot_path(v), self._schema(v))
        m = self._read_manifest(v)
        return self._merge_files(m["segments"], m["tombstones"], v)

    @staticmethod
    def _zone_hits(entries: list[dict], lo, hi) -> list[dict]:
        """Entries whose key zone [key_min, key_max] intersects [lo, hi];
        entries without stats always hit (prune conservatively)."""
        out = []
        for e in entries:
            mn, mx = e.get("key_min"), e.get("key_max")
            if mn is None or mx is None or (mn <= hi and mx >= lo):
                out.append(e)
        return out

    def read_where_key_between(self, lo, hi, version: int | None = None) -> DataFrame:
        """Key-range read with MANIFEST-LEVEL file skipping (mor): only
        segments/tombstones whose zone map intersects [lo, hi] are
        scanned, then the normal last-wins merge runs on the survivors
        and the range filter applies. Correct by the zone-map argument:
        any file containing a key in [lo, hi] necessarily has an
        intersecting zone, so pruned files cannot affect in-range rows.
        cow falls back to a filtered scan (parquet row-group stats prune
        below the file level there)."""
        rng = F.col(self.key).between(lo, hi)
        if self.mode == "cow":
            return self.read(version).filter(rng)
        v = self._version(version)
        m = self._read_manifest(v)
        segs = self._zone_hits(m["segments"], lo, hi)
        tombs = self._zone_hits(m["tombstones"], lo, hi)
        if not segs:
            return self.read(version).filter(rng).limit(0)  # typed empty
        return self._merge_files(segs, tombs, v).filter(rng)

    def read_where_key_in(self, keys: list, version: int | None = None) -> DataFrame:
        """Point-set read with manifest-level skipping, two layers deep:
        (1) zone maps — a file is kept only if SOME probe key falls
        inside its [key_min, key_max]; (2) per-segment bloom sidecars
        (stores built with ``bloom_bits``) — a zone-hit file is still
        skipped when every probe key is definitely absent from it. Zones
        carry range layouts (curated ingest: disjoint id bands per
        batch); blooms carry HASH layouts (uuid/md5 keys), where every
        segment's zone spans the whole keyspace and layer (1) never
        prunes. The isin filter then pushes to the surviving scans
        (parquet row-group stats + the row-group key bloom prune below
        file level). Skipping soundness: a file no probe key can be in
        contributes no matching row, shadows none, tombstones none;
        bloom false positives cost a scan, false negatives don't exist."""
        if not keys:
            return self.read(version).limit(0)
        pred = F.col(self.key).isin(list(keys))
        if self.mode == "cow":
            return self.read(version).filter(pred)
        v = self._version(version)
        m = self._read_manifest(v)

        def hits(entries):
            out = []
            for e in entries:
                mn, mx = e.get("key_min"), e.get("key_max")
                if mn is None or mx is None or any(mn <= k <= mx for k in keys):
                    out.append(e)
            return out

        segs = hits(m["segments"])
        tombs = hits(m["tombstones"])
        if any(e.get("bloom") for e in segs + tombs):
            hashes = self._probe_hashes(list(keys), v)
            segs = self._bloom_keep(segs, hashes)
            tombs = self._bloom_keep(tombs, hashes)
        if not segs:
            return self.read(version).filter(pred).limit(0)
        return self._merge_files(segs, tombs, v).filter(pred)

    def read_where_between(self, col: str, lo, hi, version: int | None = None) -> DataFrame:
        """Data skipping on a NON-KEY predicate column: segments whose
        tracked [min, max] (``stats_cols``) cannot contain a matching
        row are pruned before any scan — the secondary-zone-map move
        that turns "scan 100 TB, filter on value" into "scan the
        segments whose value range overlaps".

        Correctness under merge-on-read is SUBTLER than the key zone
        map: a segment's rows also SHADOW same-key rows in older
        segments, so dropping a segment whose values don't match could
        resurrect a stale row whose OLD value does match (upsert moved
        the value out of range; the stale row would pass the filter).
        A segment is therefore pruned only when BOTH hold: (a) its
        value zone misses [lo, hi], and (b) its KEY zone overlaps no
        older segment — it cannot be shadowing anything. Append-style
        workloads (curated ingest: disjoint key ranges per batch)
        satisfy (b) for every segment, so skipping is fully effective
        exactly where the data layout makes it sound; overlapping-key
        histories degrade to scan-and-filter, never to wrong answers.
        Missing stats prune nothing (conservative). Tombstones are
        key-only and only ever REMOVE rows, so they are always kept."""
        pred = F.col(col).between(lo, hi)
        if col == self.key:
            return self.read_where_key_between(lo, hi, version)
        if self.mode == "cow":
            # single snapshot, no shadowing: parquet row-group stats do
            # the file-level skipping under the pushed filter
            return self.read(version).filter(pred)
        v = self._version(version)
        m = self._read_manifest(v)
        segs = m["segments"]

        def value_misses(e: dict) -> bool:
            b = (e.get("stats") or {}).get(col)
            return b is not None and (b[0] > hi or b[1] < lo)

        def may_shadow(e: dict) -> bool:
            if e.get("key_min") is None or e.get("key_max") is None:
                return True
            for o in segs:
                if o["seq"] >= e["seq"]:
                    continue
                if o.get("key_min") is None or o.get("key_max") is None:
                    return True
                if e["key_min"] <= o["key_max"] and e["key_max"] >= o["key_min"]:
                    return True
            return False

        kept = [e for e in segs if not (value_misses(e) and not may_shadow(e))]
        if not kept:
            return self.read(version).filter(pred).limit(0)
        return self._merge_files(kept, m["tombstones"], v).filter(pred)

    def _read_seg(self, path: str, schema):
        r = self.spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(path)

    def _merge_files(self, segs: list[dict], tombs: list[dict], version: int) -> DataFrame:
        dschema = self._schema(version)
        if len(segs) == 1 and not tombs:  # compacted fast path: plain scan
            return self._read_seg(os.path.join(self.root, segs[0]["path"]), dschema)
        data = None
        for s in segs:
            part = self._read_seg(os.path.join(self.root, s["path"]), dschema)
            part = part.withColumn("_seq", F.lit(int(s["seq"])))
            data = part if data is None else self._union(data, part)
        # last-wins per key across segments (upsert lands as a newer segment)
        w = Window.partitionBy(self.key).orderBy(F.desc("_seq"))
        live = data.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
        if tombs:
            # a tombstone kills rows from segments OLDER than it; a
            # re-insert after delete lands in a newer segment and survives.
            # All tombstone files fold into ONE aggregated anti-join
            # (key → max seq), so the plan stays flat however many
            # deletes accumulated between compactions.
            from pyspark.sql.types import StructType

            tschema = (
                StructType([dschema[self.key]]) if dschema is not None else None
            )
            tdf = None
            for t in tombs:
                part = (
                    self._read_seg(os.path.join(self.root, t["path"]), tschema)
                    .select(F.col(self.key).alias("_tkey"))
                    .withColumn("_tseq", F.lit(int(t["seq"])))
                )
                tdf = part if tdf is None else tdf.unionByName(part)
            latest_tomb = tdf.groupBy("_tkey").agg(F.max("_tseq").alias("_tseq"))
            # No broadcast hint: under the delete-heavy sequences mor
            # exists for, accumulated tombstone keys between compactions
            # can exceed broadcastable size — let AQE pick the strategy
            # (it broadcasts small key sets at runtime anyway).
            live = live.join(
                latest_tomb,
                (F.col(self.key) == F.col("_tkey")) & (F.col("_tseq") > F.col("_seq")),
                "left_anti",
            )
        return live.drop("_rn", "_seq")

    def count(self) -> int:
        """A6 — ``index.ntotal`` / ``collection.num_entities``."""
        return self.read().count() if self.exists() else 0

    def snapshot_dir(self, version: int | None = None) -> str:
        """Filesystem path of a cow snapshot — for composing the store
        with path-oriented readers (e.g. pointing IVFIndex's
        ``data_path`` at a cluster-partitioned snapshot so nprobe
        partition pruning runs directly on store files). mor snapshots
        are manifests, not single directories — use :meth:`read`."""
        if self.mode != "cow":
            raise ValueError("snapshot_dir is cow-only; mor state is a manifest")
        v = self._version(version)
        return self._snapshot_path(v)

    # -- mutations (each returns the new version) ---------------------------

    def create(self, df: DataFrame, meta: dict | None = None) -> int:
        if self.mode == "mor":
            v = self.current_version() + 1
            self._claim_version(v)
            seg, mn, mx, st, cnt = self._write_files(df, f"s{v:06d}")
            return self._commit_manifest(
                [self._entry(seg, v, mn, mx, st, rows=cnt)],
                [],
                meta=meta,
                version=v,
                rows=cnt,
                cluster_counts=self._seg_cluster_counts(df, seg),
                new_schema=True,
            )
        return self._commit(df, meta=meta, new_schema=True)

    def _seg_cluster_counts(self, df: DataFrame, seg: str) -> dict | None:
        """Per-cluster counts of one just-written mor segment, or None
        when the frame carries no cluster layout — feeds
        :meth:`_commit_manifest`'s commit-embedded stats. Unlike the cow
        commit this keys on COLUMN presence, not the partition column:
        a mor segment is batch-sized, so even a single-column scan of it
        is O(batch) (footer-level when the store also partitions by
        cluster_id), while an unpartitioned cow snapshot would pay an
        O(corpus) column scan per commit."""
        if "cluster_id" not in df.columns:
            return None
        return self._footer_cluster_counts(os.path.join(self.root, seg))

    def insert(
        self,
        rows: DataFrame,
        dedup_new: bool = True,
        meta: dict | None = None,
        assume_new: bool = False,
    ) -> int:
        """C1 — append (``index.add`` / ``collection.insert``). The Milvus
        path dedups incoming rows on pk first (``stream1.py:215,265``);
        rows whose key already exists in the corpus are dropped, matching
        primary-key insert semantics. mor cost: one O(batch) segment
        write (plus the key anti-join read). ``meta`` rides in the
        atomically-swapped pointer exactly like ``create``'s — streaming
        callers persist their replay watermark in it so the watermark is
        exactly as durable as the rows it describes.

        ``assume_new=True`` skips the existence anti-join for callers
        that GUARANTEE fresh keys (append-only id streams above a
        watermark, e.g. curated ingest). The r6 store scale probe showed
        the anti-join is the hidden O(corpus) term of insert in BOTH
        engines (mor insert slope 6.4× at 64× corpus while its other
        mutations stayed flat) — with assume_new, a mor insert never
        reads the base at all and is O(batch) for real. Violating the
        guarantee lands duplicate-key rows, exactly like inserting dups
        with ``dedup_new=False``."""
        if not self.exists():
            return self.create(
                rows.dropDuplicates([self.key]) if dedup_new else rows, meta=meta
            )
        self._check_schema(rows)
        # pin the version we read; the claim below is on base_v + 1, so a
        # concurrent commit between this read and our claim fails the
        # claim instead of letting the anti-join against a stale base
        # silently drop the other writer's rows
        base_v = self.current_version()
        new = rows
        if dedup_new:
            new = new.dropDuplicates([self.key])
        if not assume_new:
            base = self.read(base_v)
            new = new.join(base.select(self.key), on=self.key, how="left_anti")
        if self.mode == "mor":
            # claim BEFORE writing s{v}: the claim loser must error out
            # here, not overwrite the winner's segment files (and a claim
            # on v also certifies manifest v-1 is still the latest)
            v = base_v + 1
            self._claim_version(v)
            m = self._read_manifest(base_v)
            seg, mn, mx, st, cnt = self._write_files(new, f"s{v:06d}")
            prev = self.tracked_rows()
            # embedded cluster counts increment by the new segment's —
            # exact under the same no-shadowing guarantee as the rows
            # gauge (anti-join / assume_new + dedup_new); base counts
            # absent or batch not key-unique → stay absent (stale token)
            prev_cc = self.cluster_counts() if dedup_new else None
            seg_cc = self._seg_cluster_counts(new, seg) if prev_cc is not None else None
            merged_cc = None
            if prev_cc is not None and seg_cc is not None:
                merged_cc = dict(prev_cc)
                for g, n in seg_cc.items():
                    merged_cc[g] = merged_cc.get(g, 0) + n
            return self._commit_manifest(
                m["segments"] + [self._entry(seg, v, mn, mx, st, rows=cnt)],
                m["tombstones"],
                meta=meta,
                version=v,
                # exact only when the batch itself is key-unique
                # (dedup_new) AND nothing shadows the base (anti-join /
                # the caller's assume_new guarantee, which data
                # correctness already rests on). dedup_new=False can
                # land intra-batch duplicate keys that the last-wins
                # read collapses — physical cnt would overcount live
                # rows, so the gauge goes unknown instead of wrong.
                rows=prev + cnt if (prev is not None and dedup_new) else None,
                cluster_counts=merged_cc,
            )
        # cow rewrites the snapshot either way; assume_new only spares it
        # the anti-join, not the O(corpus) union write
        return self._commit(
            self._union(self.read(base_v), new), meta=meta, base_version=base_v
        )

    def delete_ids(self, ids: DataFrame | list) -> int:
        """C2/J3 — delete by id-set (``index.remove_ids``,
        ``FAISS/PlainDemo/pipeline.py:110-112``). cow: broadcast
        left_anti rewrite; mor: one O(ids) tombstone file. Bumps the
        mutation clock — maintained serving structures must repair or
        rebuild before serving this store again (r12)."""
        base_v = self.current_version()
        base = self.read(base_v)
        # materialize the distinct key set ONCE (r14): the key log and
        # the tombstone/anti-join write previously each re-executed the
        # caller's id chain (delete_last_n's chain reads the base) plus
        # their own distinct — one O(ids) checkpoint now feeds both
        keys = (
            self._keys_df(ids, base).select(self.key).distinct().localCheckpoint()
        )
        meta = self._bump_mutation("deletes")
        self._log_touched(keys, meta, assume_distinct=True)
        if self.mode == "mor":
            v = base_v + 1
            self._claim_version(v)
            m = self._read_manifest(base_v)
            tomb, tmn, tmx, _, tcnt = self._write_files(keys, f"t{v:06d}")
            # rows=None: how many tombstoned keys actually existed is
            # unknowable without the base scan this O(ids) path exists
            # to avoid; exactness returns at the next compact()
            return self._commit_manifest(
                m["segments"],
                m["tombstones"] + [self._entry(tomb, v, tmn, tmx, rows=tcnt)],
                meta=meta,
                version=v,
            )
        # no broadcast hint: id-list deletes are tiny and AQE broadcasts
        # them at runtime anyway, but a delete-by-dataframe at 100 TB
        # scale can exceed broadcastable size — let AQE decide (matches
        # the mor tombstone read path)
        return self._commit(
            base.join(keys, on=self.key, how="left_anti"),
            meta=meta,
            base_version=base_v,
        )

    def delete_last_n(self, n: int) -> int:
        """C2 Milvus variant — delete the n largest keys
        (``Milvus/stream1.py:305-315``), WITHOUT the 16,384-row scan cap."""
        last_n = self.read().select(self.key).orderBy(F.desc(self.key)).limit(n)
        return self.delete_ids(last_n)

    def update(self, ids: DataFrame | list, new_rows: DataFrame) -> int:
        """C3 — update = delete + re-insert
        (``FAISS/PlainDemo/pipeline.py:91-104,114-123``). As in the
        reference, new rows may carry new ids — old id slots are not
        preserved (documented quirk, SURVEY §7.3(3)).

        Unlike the reference's two separate index mutations, delete and
        re-insert land in ONE commit (version bumps by exactly 1): a
        concurrent snapshot reader sees either the old state or the fully
        updated state, never the deleted-but-not-reinserted gap — which is
        what the store's snapshot-isolation claim requires."""
        self._check_schema(new_rows)
        base_v = self.current_version()
        base = self.read(base_v)
        # materialize the two O(batch) frames ONCE (r14): the key log,
        # the tombstone write and the segment write each consumed these
        # chains — and `new`'s chain contains the FULL base read (the
        # anti-join), so the un-materialized form paid two corpus reads
        # per update at scale
        keys = (
            self._keys_df(ids, base).select(self.key).distinct().localCheckpoint()
        )
        remaining = base.join(keys, on=self.key, how="left_anti")
        new = (
            new_rows.dropDuplicates([self.key])
            .join(remaining.select(self.key), on=self.key, how="left_anti")
            .localCheckpoint()
        )
        meta = self._bump_mutation("updates")
        # touched = the deleted slots AND the re-inserted keys (which may
        # be NEW ids — their fresh content must reach exact repairs too)
        self._log_touched(keys.unionByName(new.select(self.key)), meta)
        if self.mode == "mor":
            v = base_v + 1
            self._claim_version(v)
            m = self._read_manifest(base_v)
            # One manifest commit carries both the tombstone and the new
            # segment at the same seq: the tombstone only kills rows from
            # strictly OLDER segments (read() uses _tseq > _seq), so the
            # re-inserted rows survive their sibling tombstone.
            tomb, tmn, tmx, _, tcnt = self._write_files(keys, f"t{v:06d}")
            seg, smn, smx, sst, scnt = self._write_files(new, f"s{v:06d}")
            return self._commit_manifest(
                m["segments"] + [self._entry(seg, v, smn, smx, sst, rows=scnt)],
                m["tombstones"] + [self._entry(tomb, v, tmn, tmx, rows=tcnt)],
                meta=meta,
                version=v,
            )
        return self._commit(
            self._union(remaining, new), meta=meta, base_version=base_v
        )

    def upsert(self, rows: DataFrame, meta: dict | None = None,
               cluster_counts: dict | None = None,
               content_preserving: bool = False) -> int:
        """C4/J4 — last-wins merge by pk (``collection.upsert``,
        ``Milvus/stream1.py:370``). mor: just append the batch as the
        newest segment — the last-wins read resolves replacements, so
        upsert is O(batch) with no corpus read at all.

        ``cluster_counts`` (r11): callers that KNOW the post-upsert live
        per-cluster counts (the drift relayout computes its own moved
        deltas) pass them here to keep the commit-embedded stats fresh;
        a plain upsert can't know how many keys it shadowed, so by
        default the embedded counts go stale (token mismatch) rather
        than wrong.

        ``content_preserving`` (r12): the caller CERTIFIES the upsert
        changes no key set and no payload a derived serving structure
        reads — only layout columns (the drift relayout: same keys,
        same vectors, new ``cluster_id``) — so the mutation clock is
        not bumped and maintainers keep serving. A false certification
        silently re-creates the stale-serving bug the clock exists to
        catch; default False."""
        self._check_schema(rows)
        if not content_preserving:
            # materialize the batch ONCE (r14): the key log and the
            # segment/snapshot write previously each executed the
            # caller's row chain — for the maintainers' upserts that
            # chain is a read over the base store
            rows = rows.localCheckpoint()
            meta = self._bump_mutation("upserts", meta)
            self._log_touched(rows, meta)
        if self.mode == "mor":
            new = rows.dropDuplicates([self.key])
            if not self.exists():
                return self.create(new, meta=meta)
            v = self.current_version() + 1
            self._claim_version(v)
            m = self._read_manifest(v - 1)
            seg, mn, mx, st, cnt = self._write_files(new, f"s{v:06d}")
            # rows=None: an upsert segment may shadow existing keys, and
            # the shadow count is unknowable without a corpus read
            return self._commit_manifest(
                m["segments"] + [self._entry(seg, v, mn, mx, st, rows=cnt)],
                m["tombstones"],
                meta=meta,
                version=v,
                cluster_counts=cluster_counts,
            )
        base_v = self.current_version()
        base = self.read(base_v)
        merged = self._union(
            rows.withColumn("_prio", F.lit(1)), base.withColumn("_prio", F.lit(0))
        )
        w = Window.partitionBy(self.key).orderBy(F.desc("_prio"))
        final = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_prio")
        )
        return self._commit(final, meta=meta, base_version=base_v)

    def replace(self, df: DataFrame, meta: dict | None = None,
                content_preserving: bool = False) -> int:
        """Wholesale snapshot rewrite — the RELAYOUT commit (r9): publish
        a new version whose content is exactly ``df``, e.g. the corpus
        reassigned under a retrained quantizer (streaming drift
        response) or repartitioned onto a new layout column. Same claim
        protocol as every commit, so a concurrent writer makes this
        raise instead of being silently overwritten. cow: one
        full-snapshot write — the honest O(corpus) cost of a relayout;
        mor: folds to ONE fresh base segment and zero tombstones (a
        compact carrying new content).

        ``content_preserving`` (r12): as in :meth:`upsert` — the caller
        certifies keys and serving-visible payload are unchanged (pure
        relayout), skipping the mutation-clock bump."""
        if not self.exists():
            return self.create(df, meta=meta)
        if not content_preserving:
            meta = self._bump_mutation("replaces", meta)
        base_v = self.current_version()
        if self.mode == "mor":
            v = base_v + 1
            self._claim_version(v)
            seg, mn, mx, st, cnt = self._write_files(df, f"s{v:06d}")
            return self._commit_manifest(
                [self._entry(seg, v, mn, mx, st, rows=cnt)],
                [],
                meta=meta,
                version=v,
                rows=cnt,
                cluster_counts=self._seg_cluster_counts(df, seg),
                new_schema=True,
            )
        return self._commit(df, meta=meta, base_version=base_v, new_schema=True)

    def compact(self) -> int:
        """Fold a mor table back to one segment and zero tombstones —
        reads return to plain scans. The Spark analog of lakehouse
        compaction; run after delete-heavy sequences (SURVEY §7.3(2))."""
        if self.mode != "mor":
            return self.current_version()  # cow snapshots are always compact
        base_v = self.current_version()
        current = self.read(base_v)
        v = base_v + 1
        self._claim_version(v)
        seg, mn, mx, st, cnt = self._write_files(current, f"s{v:06d}")
        return self._commit_manifest(
            [self._entry(seg, v, mn, mx, st, rows=cnt)], [], version=v, rows=cnt,
            # a compact re-materializes the live set into one segment,
            # so its footer counts restore exactness after the mutations
            # that had to leave the embedded stats stale
            cluster_counts=self._seg_cluster_counts(current, seg),
        )

    # -- maintenance --------------------------------------------------------

    def drop(self) -> None:
        """C6 — drop collection (``utility.drop_collection``,
        ``Milvus/stream1.py:516``). The empty root is re-made, as
        ``__init__`` made it, so this handle can create the collection
        again (the reference drops, then re-creates)."""
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root, exist_ok=True)

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Remove snapshot versions older than the newest ``keep_last``
        (compaction policy for delete-heavy benchmark sequences,
        SURVEY §7.3(2)). mor: drops old manifests plus any segment or
        tombstone file no surviving manifest references."""
        current = self.current_version()
        removed = []
        # consumed claim markers (<= published version) are spent commit
        # tombstones — sweep them with the versions they claimed.
        # missing_ok: two maintenance calls may race each other benignly.
        for name in sorted(os.listdir(self.root)):
            if name.startswith("claim.v") and int(name[len("claim.v"):]) <= current:
                try:
                    os.remove(os.path.join(self.root, name))
                except FileNotFoundError:
                    pass
        if self.mode == "mor":
            referenced: set[str] = set()
            for v in range(max(current - keep_last + 1, 1), current + 1):
                if os.path.exists(self._manifest_path(v)):
                    m = self._read_manifest(v)
                    referenced |= {e["path"] for e in m["segments"] + m["tombstones"]}
            for v in range(1, max(current - keep_last + 1, 1)):
                if os.path.exists(self._manifest_path(v)):
                    os.remove(self._manifest_path(v))
                    removed.append(v)
            for name in sorted(os.listdir(self.root)):
                full = os.path.join(self.root, name)
                if (
                    os.path.isdir(full)
                    and (name.startswith("s") or name.startswith("t"))
                    and name not in referenced
                ):
                    # Segment/tombstone names encode the version that
                    # claimed them. A dir ABOVE the published version is
                    # a live writer's IN-FLIGHT files (claimed, not yet
                    # committed) — sweeping it raced the write both ways
                    # (this rmtree crashed mid-walk, and a finished-but-
                    # unpublished segment would be silently destroyed
                    # before its manifest landed: data loss). Found by
                    # the r7 concurrent-reader maintenance test. Crashed-
                    # future orphans are reclaimed later: after
                    # recover_claims a new writer overwrites the name,
                    # or once the version is passed the dir falls to
                    # <= current and unreferenced, sweepable then.
                    tail = name[1:]
                    if not tail.isdigit() or int(tail) > current:
                        continue
                    shutil.rmtree(full, ignore_errors=True)
            return removed
        for v in range(1, max(current - keep_last + 1, 1)):
            path = self._snapshot_path(v)
            if os.path.exists(path):
                shutil.rmtree(path)
                removed.append(v)
        return removed


def drop_stores_by_prefix(root_dir: str, prefix: str) -> list[str]:
    """C6 — drop-all by prefix scan (``Milvus/stream1.py:524-536``)."""
    dropped = []
    if not os.path.isdir(root_dir):
        return dropped
    for name in sorted(os.listdir(root_dir)):
        if name.startswith(prefix):
            shutil.rmtree(os.path.join(root_dir, name), ignore_errors=True)
            dropped.append(name)
    return dropped
