"""IVF (inverted-file) vector index on Spark (SURVEY §2.9 V3-V5, §4).

The reference builds ``faiss.IndexIVFFlat``: k-means coarse quantizer
with ``nlist = min(100, √n)`` lists, search probes the ``nprobe = 10``
nearest lists (``FAISS/PlainDemo/pipeline.py:316-321,257``).

Spark-first equivalent:
- **train** (V3): ``pyspark.ml.clustering.KMeans`` on the vector column
  → the centroid set IS the coarse quantizer;
- **add** (V4): assign each row its nearest centroid → ``cluster_id``
  column → ``write.partitionBy("cluster_id")`` parquet — one disk
  partition per inverted list;
- **search** (V5): query→centroid distances are computed driver-side
  (centroids are tiny: ≤100 × dim floats), the top-nprobe cluster ids
  become an ``isin`` filter, and Spark **partition pruning** skips every
  non-probed list on disk — the distributed analog of FAISS scanning 10
  of 100 lists. Candidates are then ranked by exact cosine, top-k per
  query.

Recall semantics match FAISS: results are exact within probed lists;
nprobe = nlist degrades to exact search (tested in tests/test_ivf.py).
"""

from __future__ import annotations

import json
import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deployment_spark.functions.vector import cosine_similarity
from deployment_spark.operators.crud import Memo
from deployment_spark.operators.similarity import (
    DEFAULT_MAX_CLUSTER_ROWS_PER_TASK as DEFAULT_SALT_BOUND,
)


def reference_nlist(n: int) -> int:
    """nlist = max(1, min(100, √n)) — FAISS/PlainDemo/pipeline.py:317 with
    the UI-Demo ``max(1, …)`` guard (pipeline+ui.py:338)."""
    return max(1, min(100, int(n**0.5)))


# routing="auto" switches driver → distributed above this list count.
# MEASURED, not asserted (tools/routing_probe.py, r7 — BASELINE.md
# "routing crossover (corrected)" table): driver routing cost is linear
# in nlist (centroids.json parse dominates: 0.11 s at 4k, 0.41 s at
# 16k, 1.6 s at 64k lists) while the distributed route is flat ≈ 0.5 s;
# the curves cross at ≈ 8k lists on the local[32] host (fit 7,902; at
# 16k driver already loses, 0.73 vs 0.51). 8,192 sits at the measured
# crossover — below it the FAISS-style in-RAM quantizer is faster,
# above it distributed wins on latency and is the only driver-safe
# shape as nlist heads toward the 10⁴-10⁵ a 100 TB corpus needs. (The
# probe's first cut double-counted the JSON parse and published 4,096;
# corrected same-round by review.)
AUTO_DISTRIBUTED_NLIST = 8192

# Probed-cluster coverage above which the batch routes SKIP the
# unprobed-cluster prune (VERDICT r9 #1): the prune's value is
# proportional to the unprobed fraction (8.0× fewer exchange rows at
# 12.5% coverage, r9 probe), but its machinery is pure fixed overhead
# (~0.4 s measured) once probed clusters cover ~all non-empty lists —
# the corpus-scale-nq regime, where every list is probed by someone.
# At ≥80% coverage the best case saves ≤20% of scan rows, below the
# measured overhead on every fixture probed.
PRUNE_SKIP_COVERAGE = 0.8

# Probed sets up to this size prune via a LITERAL isin — a STATIC
# partition filter the scan applies at file-listing time. MEASURED r11
# (tools/prune_probe.py, BASELINE.md "prune-form crossover" table): in
# the regime where the prune FIRES (coverage < PRUNE_SKIP_COVERAGE),
# the static filter beats the broadcast semi-join at every size probed
# — 8× at 12.5% coverage (4.1 vs 32.3 s, nlist 4096), 2× at 50% —
# because the semi-join form never prunes the file LISTING, only rows
# at runtime. The literal's cost is plan-side, ≈0.4 ms per id
# (serialization/analysis; evaluation is an InSet hash): ~7 s at this
# bound, which the saved listing+scan repays whenever the prune fires
# at all. The semi-join fallback above the bound is therefore a
# PLAN-SIZE guard, not a performance win — at 10⁵ probed ids consider
# a basePath+path-list scan instead (same static pruning, no
# expression). The full-coverage sizes where isin loses to semi
# (probed ≥ nlist: +1.2 s at 4k literals, +13 s at 32k) are exactly
# the sizes the coverage gate already refuses to prune.
PRUNE_ISIN_MAX = 16384

# filtered_search auto-route rule (r11): both routes' dominant cost is
# scoring vector rows per query — prefilter scores the filter's
# matches (frac·N), postfilter scores the probed clusters
# (nprobe/nlist·N) plus a predicate scan, a candidate join, and the
# rescue risk. So the principled decision is the SCAN-FRACTION
# comparison frac ≤ margin·(nprobe/nlist), scale-free by construction.
# The margin absorbs postfilter's fixed extras and decides ties toward
# the route that is also EXACT. Measured (tools/filtered_ann_probe.py,
# sf0.1 ×16, nlist=178, nprobe=10): at local fixture scale prefilter
# wins at EVERY selectivity up to 50% (1.1 s vs 2.4-4.0 s — the
# postfilter machinery's 3-job fixed overhead dwarfs the 32k-row scan
# work), i.e. the measured local margin exceeds 8. Asymptotically the
# overhead amortizes and the margin tends to ~1 from above. 2 is the
# scale-conservative choice: big corpora route near the true
# scan-volume crossover, small ones mis-route only in the regime where
# everything is cheap.
POSTFILTER_MARGIN = 2.0


def check_routing(routing: str, allowed: tuple) -> None:
    """Reject a ``routing`` value outside ``allowed``. Fail loudly: a
    typo'd routing must not silently fall through to the driver collect
    a batch caller is avoiding."""
    if routing not in allowed:
        raise ValueError(
            f"unknown routing {routing!r}: expected {' | '.join(allowed)}"
        )


class IVFIndex:
    """Partitioned-parquet IVF index: ``root/data/cluster_id=*/...`` plus
    ``root/centroids.json``."""

    def __init__(
        self, spark: SparkSession, root: str, data_path: str | None = None
    ) -> None:
        """``data_path`` points the index at EXTERNAL cluster-partitioned
        data instead of ``root/data`` — e.g. a SnapshotStore snapshot
        maintained by streaming ingest with ``transform=index.assign``
        (SURVEY §7.1 M7): the store IS the inverted-list layout, and
        search prunes its partitions exactly like an index-owned one.
        The quantizer (centroids) still lives under ``root``."""
        self.spark = spark
        self.root = root
        self._data_override = data_path
        # {cluster_id: rows} keyed by the data path, like the persisted
        # stats file (see write_cluster_stats)
        self._counts = Memo()

    @property
    def _data_path(self) -> str:
        return self._data_override or os.path.join(self.root, "data")

    @property
    def _centroids_path(self) -> str:
        return os.path.join(self.root, "centroids.json")

    @property
    def _cluster_stats_path(self) -> str:
        return os.path.join(self.root, "cluster_stats.json")

    # -- build (V3 train + V4 add) ------------------------------------------

    def build(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        nlist: int | None = None,
        seed: int = 42,
        train_fraction: float | None = None,
    ) -> "IVFIndex":
        """Train k-means (optionally on a sample — at 100 TB you never
        k-means the full corpus), assign clusters, write partitioned."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        n = df.count()
        k = nlist or reference_nlist(n)
        feat = df.withColumn("_features", array_to_vector(F.col(vec_col).cast("array<double>")))
        train = feat if train_fraction is None else feat.sample(train_fraction, seed=seed)
        model = KMeans(k=k, seed=seed, featuresCol="_features", predictionCol="cluster_id").fit(train)
        assigned = model.transform(feat).drop("_features")
        assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(self._data_path)
        centroids = [c.tolist() for c in model.clusterCenters()]
        os.makedirs(self.root, exist_ok=True)
        with open(self._centroids_path, "w") as f:
            json.dump({"nlist": k, "dim": len(centroids[0]), "centroids": centroids}, f)
        self._write_centroids_parquet(centroids)
        # per-cluster row counts as index metadata (r10): one
        # footer-level count over the just-written layout, so every
        # later batch search makes its salting/prune decisions without
        # a per-call job
        self.write_cluster_stats()
        return self

    def build_from_centroids(
        self,
        df: DataFrame,
        centroids: "np.ndarray | list",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFIndex":
        """Build the index layout from a GIVEN quantizer — the shape a
        100 TB corpus actually uses: k-means runs on a driver-side
        sample (or the centroids come from an earlier build), then the
        corpus is assigned DISTRIBUTED via :meth:`assign_distributed`
        and written partitioned. Unlike :meth:`build` there is no
        KMeans fit over the data, and unlike :meth:`assign` the
        centroid set may be large (nlist ≈ √n = 10⁴-10⁵): it travels
        as a broadcast numpy matrix (nlist × dim floats — megabytes at
        10⁵ lists), never as a Catalyst literal."""
        cents = [list(map(float, c)) for c in np.asarray(centroids, dtype=np.float64)]
        os.makedirs(self.root, exist_ok=True)
        with open(self._centroids_path, "w") as f:
            json.dump({"nlist": len(cents), "dim": len(cents[0]), "centroids": cents}, f)
        self._write_centroids_parquet(cents)
        assigned = self.assign_distributed(df, vec_col=vec_col)
        assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(
            self._data_path
        )
        self.write_cluster_stats()  # see build()
        return self

    def retrain_centroids(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        nlist: int | None = None,
        seed: int = 42,
        train_fraction: float | None = None,
    ) -> "IVFIndex":
        """Quantizer-ONLY retrain — the drift response (SURVEY §4; the
        reference never retrains, so every caller keeps this off by
        default). Fits fresh k-means centroids on ``df`` (optionally a
        sample) and swaps them in at this root; the index DATA is NOT
        touched, because the store-maintained layout owns it — the
        caller relayouts (``assign`` the existing rows, then
        ``SnapshotStore.replace``) under the new quantizer. Both
        ``assign`` and the routing paths re-read the centroid files per
        call, so the swap takes effect for the next batch with no
        object rebuild."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        k = nlist or self.nlist()
        feat = df.withColumn(
            "_features", array_to_vector(F.col(vec_col).cast("array<double>"))
        )
        train = feat if train_fraction is None else feat.sample(train_fraction, seed=seed)
        model = KMeans(
            k=k, seed=seed, featuresCol="_features", predictionCol="cluster_id"
        ).fit(train)
        centroids = [c.tolist() for c in model.clusterCenters()]
        with open(self._centroids_path, "w") as f:
            json.dump(
                {"nlist": k, "dim": len(centroids[0]), "centroids": centroids}, f
            )
        self._write_centroids_parquet(centroids)
        return self

    def assign_distributed(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """Nearest-centroid assignment for LARGE centroid sets: one numpy
        argmin per Arrow batch against the broadcast centroid matrix.
        The driver touches nlist × dim floats once (broadcast — the
        same bounded contract as the PQ/SQ train samples), never the
        corpus.

        Agreement with :meth:`assign` (the Catalyst literal path): the
        EXACT-tie break is identical (first-min index in both), pinned
        by test. For near-equidistant centroids the two paths compute
        distance with different float formulations (c·c − 2v·c via
        BLAS here vs per-component Σ(v−c)² in codegen), so a vector
        whose two nearest centroids differ by ~1 ulp can land in
        either list — harmless for full-probe search (exact rerank),
        and for pruned search bounded like any quantizer boundary case
        (the neighboring list is among the first probed). Bitwise
        cross-engine float parity is not achievable and not claimed."""
        from pyspark.sql.types import IntegerType, StructField, StructType

        cents = self.centroids()
        bc = self.spark.sparkContext.broadcast(cents)
        out_schema = StructType(
            list(df.schema.fields) + [StructField("cluster_id", IntegerType())]
        )

        def nearest(batches):
            cmat = bc.value  # (nlist, dim)
            c_sq = (cmat * cmat).sum(axis=1)  # precompute once per task
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                # argmin_j |v - c_j|^2 == argmin_j (c_j.c_j - 2 v.c_j);
                # matmul keeps this O(rows x nlist x dim) vectorized
                d2 = c_sq[None, :] - 2.0 * (v @ cmat.T)
                pdf = pdf.copy()
                pdf["cluster_id"] = np.argmin(d2, axis=1).astype("int32")
                yield pdf

        return df.mapInPandas(nearest, schema=out_schema)

    def _write_centroids_parquet(self, centroids: list) -> None:
        """Centroid table as DATA, not driver state: (cluster_id,
        centroid) parquet alongside the JSON. The JSON serves the
        reference-contract driver routing (nlist ≤ ~100, FAISS keeps the
        quantizer in RAM); the parquet serves the distributed routing
        path a 100 TB corpus needs (nlist ≈ √n runs 10⁴-10⁵, too big to
        collect per query batch)."""
        from pyspark.sql.types import (
            ArrayType, DoubleType, IntegerType, StructField, StructType,
        )

        rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
        schema = StructType([
            StructField("cluster_id", IntegerType()),
            StructField("centroid", ArrayType(DoubleType())),
        ])
        (
            self.spark.createDataFrame(rows, schema)
            .coalesce(max(1, len(rows) // 65536 + 1))
            .write.mode("overwrite")
            .parquet(os.path.join(self.root, "centroids_parquet"))
        )

    # -- read ----------------------------------------------------------------

    def centroids(self) -> np.ndarray:
        with open(self._centroids_path) as f:
            return np.array(json.load(f)["centroids"], dtype=np.float64)

    def data(self) -> DataFrame:
        return self.spark.read.parquet(self._data_path)

    def nlist(self) -> int:
        """List count from the index metadata (a scalar read, no
        centroid materialization)."""
        try:
            with open(self._centroids_path) as f:
                return int(json.load(f)["nlist"])
        except (OSError, ValueError, KeyError, TypeError):
            # missing file OR truncated/corrupt JSON (JSONDecodeError is a
            # ValueError) — fall back to counting the centroid table, as
            # the docstring promises, instead of crashing routing='auto'
            return self.centroids_df().count()

    def ntotal(self) -> int:
        return self.data().count()

    # -- per-cluster row-count metadata (r10, VERDICT r9 #1) ------------------

    def write_cluster_stats(self) -> dict:
        """Compute and persist ``{cluster_id: rows}`` for the CURRENT
        data path — one column-pruned count job (cluster_id is the
        partition column, so the scan is footer-level), nlist-bounded
        output. Keyed by the data path itself: an index-owned ``data/``
        is only rewritten by a build (which re-calls this), and an
        external ``data_path`` points at an immutable store snapshot —
        a new store version is a NEW snapshot directory, so stale stats
        are detected by token mismatch, not by mtime heuristics. The
        stats are ADVISORY plan inputs (salting decision, prune-coverage
        check): wrong counts mis-tune the plan, never the results."""
        counts = {
            int(r["cluster_id"]): int(r["_n"])
            for r in self.data()
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        }
        try:
            os.makedirs(self.root, exist_ok=True)
            tmp = self._cluster_stats_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "data_token": self._data_path,
                        "counts": {str(k): v for k, v in counts.items()},
                    },
                    f,
                )
            os.replace(tmp, self._cluster_stats_path)
        except OSError:
            # read-only index root: keep the in-memory memo for this
            # process; the next process recomputes (one footer-level job)
            pass
        return self._counts.put(self._data_path, counts)

    def cluster_counts(self, refresh_if_missing: bool = False) -> dict | None:
        """``{cluster_id: rows}`` from metadata — an O(1) lookup, no
        Spark job, when the persisted stats carry the current data
        path's token (plus a per-object memo so repeated batch searches
        don't even re-read the file). Falls back to counts EMBEDDED in
        a SnapshotStore commit pointer when ``data_path`` is a store
        snapshot (r11, VERDICT r10 #3) — stats travel with the snapshot,
        so a fresh process on a READ-ONLY index root still gets a free
        lookup. Returns None on a miss unless ``refresh_if_missing``,
        which computes + persists once."""
        counts = self._counts.get(self._data_path, self._stored_counts)
        if counts is None and refresh_if_missing:
            return self.write_cluster_stats()
        return counts

    def _stored_counts(self) -> dict | None:
        try:
            with open(self._cluster_stats_path) as f:
                d = json.load(f)
            if d.get("data_token") != self._data_path:
                raise ValueError("stale cluster stats (data path changed)")
            return {int(k): int(v) for k, v in d["counts"].items()}
        except (OSError, ValueError, KeyError, TypeError):
            return self._embedded_store_counts()

    def _embedded_store_counts(self) -> dict | None:
        """Counts a SnapshotStore commit embedded for OUR data path
        (r11): a cow store commit stamps per-cluster counts into its
        atomically-swapped ``_current`` pointer, token-keyed by the
        snapshot BASENAME — so when ``data_path`` points at
        ``<store>/<snapshot>``, the pointer one directory up is
        checked and the counts are used iff their token names exactly
        this snapshot (an index pinned to an older snapshot, or a
        pointer that moved on, reads as a miss, never as wrong counts).
        Pure file reads — no Spark job."""
        snap = self._data_path.rstrip("/")
        pointer = os.path.join(os.path.dirname(snap), "_current")
        try:
            with open(pointer) as f:
                meta = json.load(f).get("meta", {})
            if meta.get("cluster_counts_token") != os.path.basename(snap):
                return None
            return {int(k): int(v) for k, v in meta["cluster_counts"].items()}
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def batch_prune_plan(self, probes, nprobe: int):
        """Prune + salt decision of :meth:`probe_batch` (r10, VERDICT r9
        #1/#2). Returns ``(probed, counts)``:

        - ``probed``: the collected distinct probed cluster-id list
          (nlist-bounded by construction — the only query-derived state
          that ever reaches the driver on a batch route), or None when
          coverage makes pruning pure overhead: if ``nprobe`` already
          covers ≥ PRUNE_SKIP_COVERAGE of the non-empty lists the skip
          is decided with NO job at all; otherwise one bounded collect
          materializes the routing checkpoint (which every later
          consumer reuses) and the measured coverage decides.
        - ``counts``: per-cluster row counts from metadata
          (``cluster_counts``; computed + persisted once per index on a
          miss), filtered to the probed set — feeds the salting decision
          as a free lookup instead of the r9 per-call count job.
        """
        counts = self.cluster_counts(refresh_if_missing=True)
        nlist = len(counts) if counts else self.nlist()
        probed = None
        # tier-1 (no job): nprobe per query bounds the probed-set size,
        # so nprobe ≥ coverage·non-empty means pruning CANNOT help. The
        # shortcut is optimistic when centroids outnumber non-empty
        # lists — many empty clusters make nprobe routings concentrate
        # on the non-empty few — so it only ever SKIPS the prune early;
        # tier-2 measures real coverage before committing to one
        # (ADVICE r10).
        if int(nprobe) < PRUNE_SKIP_COVERAGE * nlist:
            probed = sorted(
                r["cluster_id"]
                for r in probes.select("cluster_id").distinct().collect()
            )
            # tier-2: coverage = |probed ∩ non-empty| / |non-empty| —
            # probed ids routed to EMPTY lists filter nothing, so they
            # must not count toward coverage (ADVICE r10).
            covered = (
                len(set(probed) & set(counts)) if counts else len(probed)
            )
            if covered >= PRUNE_SKIP_COVERAGE * nlist:
                probed = None
        if counts is not None and probed is not None:
            pset = set(probed)
            counts = {g: n for g, n in counts.items() if g in pset}
        return probed, counts

    def _apply_cluster_prune(self, table: DataFrame, probed) -> DataFrame:
        """Restrict ``table`` to the probed clusters: a literal ``isin``
        (static partition filter, pruned at file listing) for bounded
        sets, a broadcast semi-join built from the SAME collected list
        above PRUNE_ISIN_MAX (plan-size bound). ``probed=None`` means
        the coverage gate decided pruning filters ~nothing — no-op."""
        if probed is None:
            return table
        if len(probed) <= PRUNE_ISIN_MAX:
            return table.filter(F.col("cluster_id").isin(probed))
        pr = self.spark.createDataFrame(
            [(c,) for c in probed], table.select("cluster_id").schema
        )
        return table.join(F.broadcast(pr), "cluster_id", "left_semi")

    def _sq_dists(self, vec_col: str):
        """Column expr: array of squared L2 distances from ``vec_col`` to
        every persisted centroid — shared by assign() and the drift
        monitor so their distance semantics can never diverge."""
        cents = self.centroids()
        cent_lits = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
        )
        v = F.col(vec_col).cast("array<double>")
        return F.transform(
            cent_lits,
            lambda c: F.aggregate(
                F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )

    def assign(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """V4 for INCREMENTAL ingest: nearest-centroid assignment from
        the persisted centroid set — no KMeans model object needed, so a
        streaming micro-batch (or any later batch) can route new rows
        into the same inverted-list layout the index was built with.
        Pure Catalyst: the centroid array is a literal (≤100 × dim — the
        same size FAISS keeps in RAM), the argmin is an ``aggregate``
        over (index, distance) pairs; stays in codegen, no Python."""
        dists = self._sq_dists(vec_col)
        # first-min tie-break == np.argmin == the builder's assignment
        cluster = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        return df.withColumn("cluster_id", cluster)

    def assignment_stats(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """Quantizer-drift monitor (SURVEY §4: "re-train when drift
        exceeds a threshold" — the reference retrains never). Per
        cluster: row count and mean/max squared distance to the assigned
        centroid, computed against the PERSISTED centroids. Rising mean
        distance on fresh data vs the build-time corpus = the quantizer
        no longer fits the distribution = re-train signal. One scan, one
        tiny aggregate."""
        dists = self._sq_dists(vec_col)
        assigned = df.select(
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias("cluster_id"),
            F.array_min(dists).alias("_d2"),
        )
        return assigned.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("_d2").alias("mean_sq_dist"),
            F.max("_d2").alias("max_sq_dist"),
        )

    def drift_score(self, df: DataFrame, vec_col: str = "embedding") -> float:
        """Corpus-level mean squared assignment distance — compare fresh
        data against the build corpus's score; a sustained ratio above
        ~1.5 is the standard re-train trigger."""
        row = (
            self.assignment_stats(df, vec_col)
            .agg((F.sum(F.col("mean_sq_dist") * F.col("n")) / F.sum("n")).alias("s"))
            .first()
        )
        # empty input (quiet ingest window): no data is not a crash
        return float(row.s) if row.s is not None else float("nan")

    def centroids_df(self) -> DataFrame:
        """(cluster_id, centroid) as a DataFrame — the distributed twin
        of :meth:`centroids`. Reads the parquet written at build time;
        indexes built before it existed fall back to lifting the JSON
        (driver-side once, then it IS data)."""
        path = os.path.join(self.root, "centroids_parquet")
        try:
            return self.spark.read.parquet(path)
        except Exception:
            cents = self.centroids()
            self._write_centroids_parquet([c.tolist() for c in cents])
            return self.spark.read.parquet(path)

    def route_distributed(
        self,
        queries: DataFrame,
        nprobe: int,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
    ) -> DataFrame:
        """Large-nlist routing (VERDICT r5 next #4): the (query_id,
        cluster_id) table computed WITHOUT any driver-side centroid
        collect, correct for nlist in the 10⁴-10⁵ range where the
        quantizer itself is a distributed table.

        As in FAISS, whose coarse quantizer is itself an ``IndexFlat``,
        routing IS exact top-k over the centroid table:
        :func:`~deployment_spark.operators.similarity.topk_similarity_join`
        with ``k = nprobe`` (the nq-scale query batch rides a broadcast,
        each centroid-table partition emits its local per-query
        top-nprobe, one window merges). :meth:`probe_batch` is the same
        call on the blocked kernel. Tie-break matches the driver
        router: similarity desc, then cluster_id asc."""
        from deployment_spark.operators.similarity import topk_similarity_join

        return topk_similarity_join(
            self.centroids_df(),
            queries,
            k=int(nprobe),
            corpus_id="cluster_id",
            corpus_vec="centroid",
            query_id=query_id,
            query_vec=query_vec,
        ).select(query_id, "cluster_id")

    def route(
        self,
        qrows: list,
        nprobe: int,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
    ) -> tuple[list, list]:
        """Driver-side centroid routing (the driver route of
        :meth:`probe`): (query_id, cluster_id) pairs for each query's
        top-nprobe nearest centroids (cosine on the normalized centroid
        set), plus the sorted union of probed clusters for partition
        pruning."""
        cents = self.centroids()
        nprobe = min(nprobe, cents.shape[0])
        qn = cents / np.maximum(
            np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
        )
        routing = []
        for r in qrows:
            v = np.asarray(r[query_vec], dtype=np.float64)
            v = v / max(np.linalg.norm(v), 1e-12)
            order = np.argsort(-(qn @ v))[:nprobe]
            routing.extend((r[query_id], int(c)) for c in order)
        return routing, sorted({c for _, c in routing})

    # -- probe: the routing + pruning step of every IVF-family search ---------

    def probe(
        self,
        queries: DataFrame,
        nprobe: int,
        routing: str = "auto",
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        qrows: list | None = None,
    ) -> tuple[DataFrame | None, list]:
        """Interactive probe step of every IVF-family search (FAISS's
        shared ``quantizer->search``): the (query_id, cluster_id) routing
        frame of each query's top-``nprobe`` lists, plus the sorted
        probed-cluster list the caller prunes its scan to; ``(None, [])``
        for an empty query batch.

        'driver' routes through :meth:`route` against the in-RAM
        centroid set (the FAISS contract, right for nlist ≤ 100).
        'distributed' routes through :meth:`route_distributed` with NO
        driver-side centroid collect: the routing frame is checkpointed
        once (it feeds the probed-id collect and the caller's join), and
        only the PROBED ids reach the driver (≤ nq × nprobe ints), so the
        path stays driver-safe at nlist ≈ √n = 10⁴-10⁵. 'auto' picks
        driver at or below AUTO_DISTRIBUTED_NLIST, distributed above.

        ``qrows``: the batch's (query_id, query_vec) rows when the caller
        already collected them (the codec searches build LUTs or query
        broadcasts from them); otherwise the driver route's collect is
        the emptiness check, and on the distributed route an empty
        batch is an empty probed-id collect."""
        if routing == "auto":
            routing = "driver" if self.nlist() <= AUTO_DISTRIBUTED_NLIST else "distributed"
        if routing == "distributed":
            if qrows is not None and not qrows:
                return None, []
            routing_df = self.route_distributed(
                queries, nprobe, query_id, query_vec
            ).localCheckpoint()
            probed = sorted(
                r.cluster_id
                for r in routing_df.select("cluster_id").distinct().collect()
            )
            if not probed:
                return None, []
            return routing_df, probed
        if qrows is None:
            qrows = queries.select(query_id, query_vec).collect()
        if not qrows:
            return None, []
        pairs, probed = self.route(qrows, nprobe, query_id, query_vec)
        return self.spark.createDataFrame(pairs, [query_id, "cluster_id"]), probed

    def probe_batch(
        self,
        queries: DataFrame,
        nprobe: int,
        table: DataFrame,
        num_query_blocks: int | None = None,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
    ) -> tuple[DataFrame, DataFrame, dict | None]:
        """Batch probe step of every IVF-family ``search_batch`` and
        ``range_search_batch``, with NOTHING query-scale on the driver.
        ``table`` is what the caller scans (the index data, or codes
        partitioned by the same cluster_id). Returns ``(probes, pruned
        table, salt counts)``:

        - ``probes``: the nq·nprobe (query_id, cluster_id) pairs of the
          blocked exact top-k over the CENTROID table — no query
          broadcast, no centroid collect, so scale-safe in nq AND nlist
          at once (the centroid count is free metadata, so the router's
          sizing count is skipped). A LAZY localCheckpoint: it feeds the
          query join, the prune decision and (on a stats miss) the
          salting count, which would otherwise each re-run the top-k.
        - the table pruned to the probed clusters
          (:meth:`_apply_cluster_prune`), gated by coverage
          (:meth:`batch_prune_plan`): when the probed clusters cover
          ~all lists the prune filters nothing and is skipped.
        - per-cluster row counts from index METADATA, restricted to the
          probed set — the salting decision without a per-call count
          job (a codes table has the data's per-cluster rows).

        Plan CONSTRUCTION may run bounded jobs here: the probed-id
        collect behind the prune (≤ nlist ids; skipped when nprobe alone
        covers ≥80% of the lists) and, once per index, the cluster-stats
        count. Repeated calls on an unchanged index re-run only the
        probed collect."""
        from deployment_spark.operators.similarity import (
            DEFAULT_BLOCK_ROWS,
            topk_similarity_join_blocked,
        )

        probes = (
            topk_similarity_join_blocked(
                self.centroids_df(),
                queries,
                k=int(nprobe),
                corpus_id="cluster_id",
                corpus_vec="centroid",
                query_id=query_id,
                query_vec=query_vec,
                num_query_blocks=num_query_blocks,
                num_corpus_blocks=max(1, -(-self.nlist() // DEFAULT_BLOCK_ROWS)),
            )
            .select(query_id, "cluster_id")
            .localCheckpoint(eager=False)
        )
        probed, counts = self.batch_prune_plan(probes, int(nprobe))
        return probes, self._apply_cluster_prune(table, probed), counts

    def _probed_scores(self, queries, nprobe, routing, query_id, query_vec, vec_col):
        """The scored probed candidates of :meth:`search` and
        :meth:`range_search`: scan(data, cluster_id ∈ probed)
        [partition-pruned] ⋈_broadcast (query_id, cluster_id) routing
        frame → exact cosine ``_sim``. None for an empty query batch."""
        routing_df, probed = self.probe(queries, nprobe, routing, query_id, query_vec)
        if routing_df is None:
            return None
        q = F.broadcast(
            queries.withColumnRenamed(query_vec, "_qvec").join(routing_df, query_id)
        )
        # isin(probed) prunes non-probed cluster_id partitions at the scan
        candidates = self.data().filter(F.col("cluster_id").isin(probed))
        return candidates.join(q, "cluster_id").withColumn(
            "_sim", cosine_similarity(vec_col, "_qvec")
        )

    # -- search (V5 nprobe pruning + J1 top-k) --------------------------------

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 10,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        routing: str = "auto",
    ) -> DataFrame:
        """Top-k by cosine within the nprobe nearest lists per query.

        Plan shape: scan(data, cluster_id ∈ probed) [partition-pruned]
        ⋈_broadcast (query_id, cluster_id) routing table → exact cosine →
        per-query window top-k. Output: (query_id, vec_id, rank,
        similarity).

        ``routing`` 'auto' | 'driver' | 'distributed' picks the probe
        route (see :meth:`probe`). 'batch' dispatches to
        :meth:`search_batch` — the corpus-scale-QUERY-set path where
        nothing query-scale reaches the driver (both other routings
        collect the query batch, which is their contract)."""
        check_routing(routing, ("auto", "driver", "distributed", "batch"))
        if routing == "batch":
            # explicit corpus-scale-queries dispatch (r8): auto stays a
            # function of nlist only — sizing by nq would force a count
            # job onto every interactive search; batch callers know
            # they are batch
            return self.search_batch(
                queries, k, nprobe, query_id, query_vec, id_col, vec_col
            )
        scored = self._probed_scores(
            queries, nprobe, routing, query_id, query_vec, vec_col
        )
        if scored is None:
            return self.search_empty(query_id, id_col)
        w = Window.partitionBy(query_id).orderBy(F.desc("_sim"), F.asc(id_col))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, id_col, "rank", F.col("_sim").alias("similarity"))
        )

    def filtered_search(
        self,
        queries: DataFrame,
        predicate,
        k: int = 5,
        nprobe: int = 10,
        amp: int = 4,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        routing: str = "auto",
        route: str = "auto",
        n_match: int | None = None,
    ) -> DataFrame:
        """Scalar-filtered ANN with SELECTIVITY-AWARE routing — the
        vector-db "search with filter" mode done the way Milvus/FAISS
        deployments actually run it, because no single plan is right at
        both ends of the selectivity axis:

        - ``prefilter`` (selective predicates): exact brute-force cosine
          over the matching rows only. When the filter keeps few rows,
          scanning them exactly is cheaper than any index probe — and
          the answer is exact by construction.
        - ``postfilter`` (broad predicates): probe the index for
          ``k·amp`` candidates per query, keep the ones passing the
          predicate (one corpus scan of the predicate columns, the
          k·amp-scale candidate set broadcast onto it), re-rank to k.
          Queries left with fewer than k survivors are RESCUED with an
          exact pass over the filtered corpus restricted to just those
          queries, so no query ever under-returns because amplification
          guessed low.

        ``route='auto'`` compares SCAN FRACTIONS — the scale-free form
        of the crossover: prefilter scores frac·N rows per query,
        postfilter scores (nprobe/nlist)·N, so prefilter wins whenever
        frac ≤ POSTFILTER_MARGIN · min(1, nprobe/nlist) (margin
        rationale and the ×16 sweep behind it at the constant's note —
        at full probe postfilter can never win and auto correctly
        refuses it). The match count comes from ``n_match`` when the
        caller already knows it (e.g. a maintained dimension-table
        count); otherwise ONE narrow count job over the predicate
        columns (column-pruned scan — at 100 TB you would estimate from
        partition statistics instead; the count keeps the decision
        exact and the operator dependency-free).

        Exactness: prefilter is always exact. Postfilter is exact
        whenever the index probe is exact (nprobe ≥ nlist — the
        hash-gated entry's setting): with the engine's total order
        (sim desc, id asc), any filtered row outside the global top-k·amp
        ranks below every retained candidate, and under-returning
        queries fall into the exact rescue — so the composed result IS
        the exact filtered top-k. At partial nprobe it inherits the
        probe's approximation (recall caveats as :meth:`search`).

        ``predicate`` is a Column or SQL string over the index's data
        columns. Output: (query_id, id_col, rank, similarity)."""
        from deployment_spark.operators.similarity import (
            topk_similarity_join_expr,
        )

        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        if route not in ("auto", "prefilter", "postfilter"):
            raise ValueError(
                f"unknown route {route!r}: expected auto | prefilter | postfilter"
            )
        data = self.data()
        if route == "auto":
            if n_match is None:
                # narrow count: Catalyst prunes the scan to the
                # predicate's columns (no vector bytes move)
                n_match = data.filter(pred).count()
            total = self.ntotal()
            probe_frac = min(1.0, nprobe / max(1, self.nlist()))
            route = (
                "prefilter"
                if total == 0
                or n_match <= POSTFILTER_MARGIN * probe_frac * total
                else "postfilter"
            )
        if route == "prefilter":
            return topk_similarity_join_expr(
                data.filter(pred),
                queries,
                k=k,
                corpus_id=id_col,
                corpus_vec=vec_col,
                query_id=query_id,
                query_vec=query_vec,
            ).select(query_id, id_col, "rank", "similarity")

        cand = self.search(
            queries,
            k=k * amp,
            nprobe=nprobe,
            query_id=query_id,
            query_vec=query_vec,
            id_col=id_col,
            vec_col=vec_col,
            routing=routing,
        )
        # predicate evaluation on the candidates: broadcast the
        # (nq·k·amp)-row candidate set onto ONE column-pruned corpus
        # scan — never a corpus-sized shuffle
        matched = data.filter(pred).select(id_col).join(
            F.broadcast(cand), id_col
        )
        w = Window.partitionBy(query_id).orderBy(
            F.desc("similarity"), F.asc(id_col)
        )
        kept = (
            matched.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .localCheckpoint()  # consumed twice: result + starvation census
        )
        # starvation census: queries whose survivors < k get the exact
        # rescue; nq-scale aggregate, collected under the interactive
        # query-batch contract (same as the routing collects)
        survivors = {r[0]: r[1] for r in kept.groupBy(query_id).count().collect()}
        starved = [
            r[0]
            for r in queries.select(query_id).collect()
            if survivors.get(r[0], 0) < k
        ]
        full = kept.select(
            query_id, id_col, F.col("_rk").alias("rank"), "similarity"
        )
        if not starved:
            return full
        rescue = topk_similarity_join_expr(
            data.filter(pred),
            queries.filter(F.col(query_id).isin(starved)),
            k=k,
            corpus_id=id_col,
            corpus_vec=vec_col,
            query_id=query_id,
            query_vec=query_vec,
        ).select(query_id, id_col, "rank", "similarity")
        return full.filter(~F.col(query_id).isin(starved)).unionByName(rescue)

    def range_search(
        self,
        queries: DataFrame,
        radius: float,
        nprobe: int = 10,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        limit_per_query: int | None = None,
        routing: str = "auto",
    ) -> DataFrame:
        """Milvus range search over the IVF index (the search-params
        ``radius`` mode run against an index instead of a flat scan):
        every corpus vector with cosine ≥ ``radius`` inside each
        query's nprobe probed lists. Approximate through pruning
        exactly like :meth:`search` — a hit living outside the probed
        lists is missed — and EXACT at nprobe ≥ nlist, where it is
        ``similarity.radius_search`` computed over a partition-pruned
        scan + routing join (that full-probe equivalence is the
        hash-gated arm; pruning subset semantics are pinned in
        test_ivf.py). Same plan shape as ``search`` with the radius
        predicate replacing the top-k window; with ``limit_per_query``
        the tie-aware rank window caps each query, matching
        radius_search's contract. Output
        (query_id, vec_id, similarity[, rank])."""
        check_routing(routing, ("auto", "driver", "distributed"))
        scored = self._probed_scores(
            queries, nprobe, routing, query_id, query_vec, vec_col
        )
        if scored is None:
            return self._range_empty(query_id, id_col, limit_per_query)
        hits = scored.filter(F.col("_sim") >= float(radius))
        if limit_per_query is None:
            return hits.select(
                query_id, id_col, F.col("_sim").alias("similarity")
            )
        w = Window.partitionBy(query_id).orderBy(F.desc("_sim"), F.asc(id_col))
        return (
            hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(limit_per_query))
            .select(query_id, id_col, "rank", F.col("_sim").alias("similarity"))
        )

    def range_search_batch(
        self,
        queries: DataFrame,
        radius: float,
        nprobe: int = 10,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        limit_per_query: int | None = None,
        num_query_blocks: int | None = None,
        max_cluster_rows_per_task: int | None = DEFAULT_SALT_BOUND,
    ) -> DataFrame:
        """Range search over the index for CORPUS-SIZED query sets —
        completing the matrix: :meth:`search`/:meth:`search_batch` are
        the top-k pair, :meth:`range_search`/this the radius pair.
        Same two distributed stages as ``search_batch`` (blocked
        centroid routing with NOTHING query-scale on the driver, then
        probed (query, cluster) pairs grouped with the cluster's rows),
        but the grouped task emits radius HITS via the shared
        ``_grouped_pair_hits`` — with ``limit_per_query`` each query's
        per-cluster emit is pre-reduced tie-aware and one global window
        finalizes; without a limit the predicate is the reduction and
        no window runs. Hot clusters salt via
        ``max_cluster_rows_per_task`` exactly as in ``search_batch``
        (every (query, salt) emits its local hits; radius membership is
        per-row, so salting cannot change the hit set — only the local
        cap needs the global window to re-merge). Plan CONSTRUCTION may
        run bounded jobs — see :meth:`probe_batch`."""
        from deployment_spark.operators.similarity import (
            _cid_sort_kind,
            _grouped_pair_hits,
            _typed_ids,
        )

        lim = None if limit_per_query is None else int(limit_per_query)
        if queries.isEmpty():
            return self._range_empty(query_id, id_col, lim)
        data = self.data()
        if lim is not None:
            cid_kind = _cid_sort_kind(
                data.schema[id_col].dataType, "ivf batch range search with limit"
            )
        else:
            cid_kind = "str"  # no limit ⇒ no ranking ⇒ id order never applies

        probes, data, salt_counts = self.probe_batch(
            queries, nprobe, data, num_query_blocks, query_id, query_vec
        )

        pairs, group_cols = self._batch_pairs(
            queries, probes, data, query_id, query_vec, id_col, vec_col,
            max_cluster_rows_per_task, salt_counts,
        )
        hits = _typed_ids(
            _grouped_pair_hits(pairs, group_cols, float(radius), lim, cid_kind),
            queries, query_id, data, id_col,
        )
        if lim is None:
            return hits.select(
                F.col("_qid").alias(query_id),
                F.col("_cid").alias(id_col),
                F.col("_sim").alias("similarity"),
            )
        w = Window.partitionBy("_qid").orderBy(F.desc("_sim"), F.asc("_cid"))
        return (
            hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= lim)
            .select(
                F.col("_qid").alias(query_id),
                F.col("_cid").alias(id_col),
                "rank",
                F.col("_sim").alias("similarity"),
            )
        )

    def search_batch(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 10,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        num_query_blocks: int | None = None,
        max_cluster_rows_per_task: int | None = DEFAULT_SALT_BOUND,
    ) -> DataFrame:
        """ANN search for CORPUS-SIZED query sets — the offline-scoring
        sibling of :meth:`search`, with NOTHING query-scale on the
        driver: ``search`` (either routing) collects the query batch
        and/or the nq×nprobe probed-id set, which is the right FAISS
        contract for interactive batches and impossible for a 10⁶-query
        job. Here:

        1. ROUTING and PRUNING are :meth:`probe_batch`: the blocked
           exact top-k over the CENTROID table, scale-safe in nq AND
           nlist simultaneously (route_distributed broadcasts the query
           matrix; the driver router collects centroids), then the
           coverage-gated prune of unprobed clusters.
        2. SCORING groups the probed (query, cluster) pairs WITH the
           cluster's corpus rows by cluster_id — the same union-frame
           task as the hash-blocked exact path, keyed by the index's
           own partitioning instead of hash blocks — one numpy matmul
           per cluster, tie-aware local top-k.
        3. One global window finalizes, same (sim desc, id asc) contract
           as ``search``.

        Shuffle volume: |queries|·nprobe + |corpus| input rows plus
        nq·k·nprobe survivors. Task memory is bounded by CLUSTER size —
        for batch workloads size nlist so N/nlist rows fit a task (the
        usual nlist ≈ √N already gives √N-row clusters). A HOT cluster
        (the IVF skew case) serializes its one task and can exceed task
        memory; ``max_cluster_rows_per_task`` opts into sub-block
        salting — clusters above the bound split into
        ceil(size/bound) salts (corpus rows hash-salted, probing
        queries replicated across the cluster's salts), so the
        per-task matrix stays bounded and the hot cluster's work
        spreads across its salt count. The decision reads per-cluster
        counts from index metadata (free); local-global top-k stays
        exact because every (query, salt) emits its tie-aware local
        top-k and the global window merges. Cosine only, like the
        index itself. Plan CONSTRUCTION may run bounded jobs — see
        :meth:`probe_batch`."""
        from deployment_spark.operators.similarity import (
            _cid_sort_kind,
            _grouped_pair_topk,
            _typed_ids,
        )

        if queries.isEmpty():
            return self.search_empty(query_id, id_col)
        data = self.data()
        cid_kind = _cid_sort_kind(data.schema[id_col].dataType, "ivf batch search")
        kk = int(k)

        probes, data, salt_counts = self.probe_batch(
            queries, nprobe, data, num_query_blocks, query_id, query_vec
        )

        pairs, group_cols = self._batch_pairs(
            queries, probes, data, query_id, query_vec, id_col, vec_col,
            max_cluster_rows_per_task, salt_counts,
        )
        candidates = _typed_ids(
            _grouped_pair_topk(pairs, group_cols, kk, "cosine", cid_kind),
            queries, query_id, data, id_col,
        )
        w = Window.partitionBy("_qid").orderBy(F.desc("_sim"), F.asc("_cid"))
        return (
            candidates.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= kk)
            .select(
                F.col("_qid").alias(query_id),
                F.col("_cid").alias(id_col),
                "rank",
                F.col("_sim").alias("similarity"),
            )
        )

    def _batch_pairs(
        self, queries, probes, data, query_id, query_vec, id_col, vec_col,
        max_cluster_rows_per_task, salt_counts,
    ):
        """The union frame :meth:`search_batch` and
        :meth:`range_search_batch` group by cluster: the probed (query,
        cluster) pairs next to the probed clusters' corpus rows, hot
        clusters salted. Returns ``(frame, group_cols)``."""
        from deployment_spark.operators.similarity import _maybe_salt_hot_groups

        q = queries.join(probes, query_id).select(
            F.col(query_id).cast("string").alias("_qid"),
            F.lit(None).cast("string").alias("_cid"),
            F.col(query_vec).cast("array<double>").alias("_vec"),
            F.col("cluster_id").alias("_g"),
        )
        # Null-vector rows are excluded up front: the numpy stage would
        # crash on them, and topk_similarity_join_blocked set the
        # contract (r8 ADVICE) — the interactive path instead ranks a
        # null cosine last. The visible top-k matches whenever each
        # query's probed set holds ≥ k non-null rows; in a probed set
        # with fewer, the interactive path pads its k with null-sim
        # rows while this route returns only the scorable ones (r9
        # ADVICE — documented divergence, not a defect: a null vector
        # has no defined rank).
        c = data.filter(F.col(vec_col).isNotNull()).select(
            F.lit(None).cast("string").alias("_qid"),
            F.col(id_col).cast("string").alias("_cid"),
            F.col(vec_col).cast("array<double>").alias("_vec"),
            F.col("cluster_id").alias("_g"),
        )
        q, c, group_cols = _maybe_salt_hot_groups(
            q, c, data.select("cluster_id"), max_cluster_rows_per_task,
            counts=salt_counts,
        )
        return q.unionByName(c.select(*q.columns)), group_cols

    def search_empty(self, query_id: str, id_col: str) -> DataFrame:
        from pyspark.sql.types import DoubleType, LongType, StructField, StructType

        return self.spark.createDataFrame(
            [],
            StructType(
                [
                    StructField(query_id, LongType()),
                    StructField(id_col, LongType()),
                    StructField("rank", LongType()),
                    StructField("similarity", DoubleType()),
                ]
            ),
        )

    def _range_empty(self, query_id: str, id_col: str, limit) -> DataFrame:
        """Empty-input result of every range search: (query_id, id_col,
        similarity), plus rank when a per-query limit is set."""
        cols = [query_id, id_col, "similarity"]
        if limit is not None:
            cols = [query_id, id_col, "rank", "similarity"]
        return self.search_empty(query_id, id_col).select(*cols)
