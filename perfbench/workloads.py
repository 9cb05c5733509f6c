"""The benchmark's workloads.

Each workload is one client in a closed loop: the next call is issued only
after the previous one has returned and been materialized.  ``setup`` is
repeated, and ``setup_s`` takes the median of the repeats; ``warm`` is
untimed; ``cycle`` is one whole round of the same operations, so every run
attempts the same operations in the same proportions however long it
lasts.  Each operation is checked after its cycle, outside the timed
spans, and counts as failed if a check faults.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics

import numpy as np
from pyspark.sql import functions as F

import checks
from cells import RegistryPass
from inputs import QUERY_ID0, Mixture, rng_for, write_vectors

K = checks.K


class Workload:
    """Shared bookkeeping: operation counts, per-cycle figures, faults."""

    def __init__(self, spark, rec, seed: int, work: str):
        self.spark, self.rec, self.seed, self.work = spark, rec, seed, work
        self.attempted = 0
        self.failed = 0
        self.faults: list[str] = []
        self.per_cycle: dict[str, list[float]] = {}

    def op(self, name: str, faults: list[str]) -> None:
        self.attempted += 1
        if faults:
            self.failed += 1
            self.faults.extend(f"{name}: {f}" for f in faults[:3])

    def note(self, metric: str, value: float) -> None:
        self.per_cycle.setdefault(metric, []).append(value)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def detail(self) -> dict[str, float]:
        """Workload-specific figures: the median over cycles of each."""
        return {k: statistics.median(v) for k, v in self.per_cycle.items()}


def _persisted(df):
    """Persist and count: the call's result is materialized inside its span."""
    df = df.persist()
    df.count()
    return df


class VectorServe(Workload):
    """Point and batch reads through the three kNN paths.

    Corpus: ``N`` clustered 64-d vectors; a pool of one-row point queries
    and a batch of ``BATCH`` queries, all disjoint from the corpus.  The
    one-query calls use each path's default settings, so
    ``HNSWIndex.search`` takes its auto-dispatch, which sends a one-query
    call to the exact kernel.  The batch passes ``dispatch="beam"`` so the
    graph beam is what it times: under the default dispatch a batch reaches
    the beam only once BATCH×N exceeds 64 Mi score cells, and at that size
    (24,000 × 2,800 on a 4-core host) the HNSW build took 14–19 s and one
    batch 4–5 s, more than a run can spend.
    """

    N = 4_000
    BATCH = 1_000
    POINTS = 32
    IVF_LISTS, IVF_PROBES = 32, 4
    HNSW_LISTS, HNSW_M, HNSW_EF_BUILD, HNSW_EF_SEARCH = 8, 12, 32, 48
    # recall floors well under what the fixed knobs reach on every seed
    # tried, so a fault in the beam or the routing shows as failed
    # operations, not as a drift in a figure
    HNSW_RECALL_FLOOR = 0.75
    IVF_RECALL_FLOOR = 0.80

    def setup(self, r: int) -> None:
        """One set-up: inputs and both index builds.  Each repeat replaces
        the last; the cycles use the last one's indexes."""
        from hnsw_spark.operators.ann import build_ivf_index
        from hnsw_spark.operators.hnsw_graph import build_hnsw_index

        for idx in getattr(self, "held", ()):
            idx.index_df.unpersist()
        d = self.path(f"setup{r}")
        os.makedirs(d)
        mix = Mixture(self.seed)
        base = mix.draw(rng_for(self.seed, "corpus"), self.N)
        qs = mix.draw(rng_for(self.seed, "queries"), self.BATCH + self.POINTS)
        base_ids = np.arange(self.N, dtype=np.int64)
        q_ids = QUERY_ID0 + np.arange(len(qs), dtype=np.int64)
        write_vectors(os.path.join(d, "corpus.parquet"), base_ids, base)
        write_vectors(os.path.join(d, "batch.parquet"), q_ids[: self.BATCH], qs[: self.BATCH])
        write_vectors(os.path.join(d, "points.parquet"), q_ids[self.BATCH:], qs[self.BATCH:])
        self.oracle = checks.ExactTopK(base_ids, base)
        self.queries = {int(i): v for i, v in zip(q_ids, qs)}
        self.batch_truth = self.oracle.topk(q_ids[: self.BATCH], qs[: self.BATCH])
        self.point_ids = q_ids[self.BATCH:]
        self.point_truth = self.oracle.topk(self.point_ids, qs[self.BATCH:])

        spark, cycle = self.spark, f"setup{r}"
        self.corpus = spark.read.parquet(os.path.join(d, "corpus.parquet"))
        self.batch = spark.read.parquet(os.path.join(d, "batch.parquet"))
        self.points = spark.read.parquet(os.path.join(d, "points.parquet"))
        with self.rec.call("operators.ann.build_ivf_index", cycle):
            self.ivf = build_ivf_index(self.corpus, n_lists=self.IVF_LISTS)
            self.ivf.index_df = _persisted(self.ivf.index_df)
        with self.rec.call("operators.hnsw_graph.build_hnsw_index", cycle):
            self.hnsw = build_hnsw_index(
                self.corpus, n_lists=self.HNSW_LISTS, m=self.HNSW_M,
                ef_construction=self.HNSW_EF_BUILD, ef_search=self.HNSW_EF_SEARCH,
            )
            self.hnsw.index_df = _persisted(self.hnsw.index_df)
        self.held = (self.ivf, self.hnsw)

    def warm(self) -> None:
        """JIT and Python-worker warm-up: the first calls of a session run
        up to 3x slower than later ones, and the round after still burns
        more CPU than the rest; a run keeps two or three cycles, so one
        slow first cycle would move the median."""
        self._round("warm0", 0)
        self._round("warm1", 1)

    def _point(self, i: int):
        return self.points.filter(F.col("vec_id") == int(self.point_ids[i]))

    def _round(self, cycle, i: int) -> dict:
        from hnsw_spark.operators.knn import knn_exact

        rec, q = self.rec, self._point(i % self.POINTS)
        out = {}
        with rec.call("operators.knn.knn_exact_point", cycle) as s1:
            out["exact"] = knn_exact(self.corpus, q, k=K, strategy="local_merge").collect()
        with rec.call("operators.ann.search_point", cycle) as s2:
            out["ivf_point"] = self.ivf.search(q, k=K, n_probe=self.IVF_PROBES).collect()
        with rec.call("operators.hnsw_graph.search_point", cycle) as s3:
            out["hnsw_point"] = self.hnsw.search(q, k=K).collect()
        out["point_s"] = (s1["s"] + s2["s"] + s3["s"]) / 3
        out["point_cpu_s"] = (s1["cpu_s"] + s2["cpu_s"] + s3["cpu_s"]) / 3
        with rec.call("operators.ann.search_batch", cycle) as s4:
            out["ivf_batch"] = self.ivf.search(
                self.batch, k=K, n_probe=self.IVF_PROBES
            ).collect()
        with rec.call("operators.hnsw_graph.search_batch", cycle) as s5:
            out["hnsw_batch"] = self.hnsw.search(self.batch, k=K, dispatch="beam").collect()
        out["ivf_batch_qps"] = self.BATCH / s4["s"]
        out["hnsw_batch_qps"] = self.BATCH / s5["s"]
        return out

    def cycle(self, c: int) -> None:
        with self.rec.phase("cycle", c) as span:
            out = self._round(c, c)
        self.note("cycle_s", span["s"])
        self.note("cycle_cpu_s", span["cpu_s"])
        for key in ("point_s", "point_cpu_s", "ivf_batch_qps", "hnsw_batch_qps"):
            self.note(key, out[key])

        qid = int(self.point_ids[c % self.POINTS])
        one = {qid: self.point_truth[qid]}
        self.op("knn_exact_point", checks.check_exact(
            checks.as_frame(out["exact"]), one, self.oracle, self.queries))
        # a one-query HNSW call takes the exact kernel: the exact top-10
        self.op("hnsw_point", checks.check_exact(
            checks.as_frame(out["hnsw_point"]), one, self.oracle, self.queries, tol=1e-6))
        res = checks.as_frame(out["ivf_point"])
        _, low = checks.check_recall(res, one, self.IVF_RECALL_FLOOR)
        self.op("ivf_point", checks.check_contract(res, self.oracle, self.queries) + low)
        for name, floor in (("ivf_batch", self.IVF_RECALL_FLOOR),
                            ("hnsw_batch", self.HNSW_RECALL_FLOOR)):
            res = checks.as_frame(out[name])
            recall, low = checks.check_recall(res, self.batch_truth, floor)
            self.note(f"{name.split('_')[0]}_recall_at_10", recall)
            self.op(name, checks.check_contract(res, self.oracle, self.queries) + low)


class IndexIngest(Workload):
    """The write path: validate, build, insert, merge, save and load; then
    a memo-cold pass over one registered query per query module.

    Inputs per run: a base segment, a delta segment inserted with
    ``add_points``, a second segment built as its own HNSW index and
    folded in with ``merge_hnsw_indexes``, and held-out probe queries used
    only by the recall check.  Each cycle rebuilds everything from the
    same parquet files.
    """

    N_BASE, N_DELTA, N_SEG = 2_400, 600, 600
    PROBES = 200
    HNSW_LISTS, HNSW_M, HNSW_EF_BUILD, HNSW_EF_SEARCH = 8, 12, 32, 48
    IVF_LISTS = 16
    RECALL_FLOOR = 0.90

    def setup(self, r: int) -> None:
        """One set-up: the segments, the numpy truth, the registry fixture
        and its DuckDB oracle results, and a first registry pass over it.
        Each repeat replaces the last; the cycles read the last one's
        files."""
        self.dir = self.path(f"setup{r}")
        os.makedirs(self.dir)
        mix = Mixture(self.seed)
        sizes = {"base": self.N_BASE, "delta": self.N_DELTA, "seg": self.N_SEG}
        self.ids, vecs, start = {}, {}, 0
        for name, n in sizes.items():
            vecs[name] = mix.draw(rng_for(self.seed, name), n)
            self.ids[name] = np.arange(start, start + n, dtype=np.int64)
            start += n
            write_vectors(self._file(f"{name}.parquet"), self.ids[name], vecs[name])
            write_vectors(self._file(f"warm_{name}.parquet"),
                          self.ids[name][: n // 8], vecs[name][: n // 8])
        probes = mix.draw(rng_for(self.seed, "probes"), self.PROBES)
        probe_ids = QUERY_ID0 + np.arange(self.PROBES, dtype=np.int64)
        write_vectors(self._file("probes.parquet"), probe_ids, probes)
        all_ids = np.concatenate(list(self.ids.values()))
        self.oracle = checks.ExactTopK(all_ids, np.concatenate(list(vecs.values())))
        self.queries = {int(i): v for i, v in zip(probe_ids, probes)}
        self.truth = self.oracle.topk(probe_ids, probes)
        self.probes = self.spark.read.parquet(self._file("probes.parquet"))
        self.registry = RegistryPass(self.spark, self.rec, self.seed, self.dir)
        self.registry.run(f"setup{r}")

    def warm(self) -> None:
        """One untimed cycle on one-eighth copies of the segments, without
        the registry pass, which every set-up has run."""
        self._run_cycle("warm", "warm_", check=False)

    def _file(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def cycle(self, c: int) -> None:
        self._run_cycle(c, "", check=True)

    def _run_cycle(self, c, prefix: str, check: bool) -> None:
        from hnsw_spark.operators.ann import build_ivf_index, merge_ivf_indexes
        from hnsw_spark.operators.hnsw_graph import (
            add_points, build_hnsw_index, merge_hnsw_indexes,
        )
        from hnsw_spark.operators.validate import validate_vectors
        from hnsw_spark.plans.cachereg import release_caches
        from hnsw_spark.plans.persistence import load_index, save_index

        rec, spark = self.rec, self.spark
        seg = {n: spark.read.parquet(self._file(f"{prefix}{n}.parquet"))
               for n in ("base", "delta", "seg")}
        saved = self._file(f"index_{c}")
        hnsw_knobs = dict(n_lists=self.HNSW_LISTS, m=self.HNSW_M,
                          ef_construction=self.HNSW_EF_BUILD,
                          ef_search=self.HNSW_EF_SEARCH)
        held = []
        with rec.phase("cycle", c) as span:
            dims = []
            for name in ("base", "delta", "seg"):
                with rec.call("operators.validate.validate_vectors", c):
                    dims.append(validate_vectors(seg[name]))
            with rec.call("operators.hnsw_graph.build_hnsw_index", c) as s_build:
                base = build_hnsw_index(seg["base"], **hnsw_knobs)
                base.index_df = _persisted(base.index_df)
            with rec.call("operators.ann.build_ivf_index", c):
                ivf_a = build_ivf_index(seg["base"], n_lists=self.IVF_LISTS)
                ivf_a.index_df = _persisted(ivf_a.index_df)
            with rec.call("operators.ann.build_ivf_index", c):
                ivf_b = build_ivf_index(seg["delta"], n_lists=self.IVF_LISTS)
                ivf_b.index_df = _persisted(ivf_b.index_df)
            with rec.call("operators.hnsw_graph.add_points", c) as s_add:
                grown = add_points(base, seg["delta"])
                grown.index_df = _persisted(grown.index_df)
            with rec.call("operators.hnsw_graph.build_hnsw_index", c):
                other = build_hnsw_index(seg["seg"], **hnsw_knobs)
                other.index_df = _persisted(other.index_df)
            with rec.call("operators.hnsw_graph.merge_hnsw_indexes", c) as s_merge:
                merged = merge_hnsw_indexes(grown, other)
                merged.index_df = _persisted(merged.index_df)
            with rec.call("operators.ann.merge_ivf_indexes", c):
                ivf = merge_ivf_indexes(ivf_a, ivf_b)
                ivf.index_df = _persisted(ivf.index_df)
            with rec.call("plans.persistence.save_index", c):
                save_index(merged, saved)
            with rec.call("plans.persistence.load_index", c):
                loaded = load_index(spark, saved)
                loaded.index_df = _persisted(loaded.index_df)
            held = [base, ivf_a, ivf_b, grown, other, merged, ivf, loaded]
            if check:
                cells = self.registry.run(c)
        if check:
            self.note("cycle_s", span["s"])
            self.note("cycle_cpu_s", span["cpu_s"])
            self.note("build_vps", self.N_BASE / s_build["s"])
            self.note("insert_vps", (self.N_DELTA + self.N_SEG) / (s_add["s"] + s_merge["s"]))
            self.note("index_bytes", _du(saved))
            self._check(dims, base, ivf_a, ivf_b, grown, other, merged, ivf, loaded)
            for name, faults in self.registry.check(cells).items():
                self.op(name, faults)
        for idx in held:
            idx.index_df.unpersist()
        with rec.call("plans.cachereg.release_caches", c) as rel:
            rel["released"] = release_caches()
        shutil.rmtree(saved, ignore_errors=True)

    def _check(self, dims, base, ivf_a, ivf_b, grown, other, merged, ivf, loaded) -> None:
        ids, m = self.ids, self.HNSW_M
        for d in dims:
            self.op("validate_vectors", [] if d == 64 else [f"dimension {d}"])
        base_pd = base.index_df.toPandas()
        self.op("build_hnsw_index", checks.check_graph(base_pd, ids["base"], m))
        for name, idx, want in (("build_ivf_index", ivf_a, ids["base"]),
                                ("build_ivf_index", ivf_b, ids["delta"]),
                                ("merge_ivf_indexes", ivf,
                                 np.concatenate([ids["base"], ids["delta"]]))):
            self.op(name, _check_ivf(idx, want))
        grown_ids = np.concatenate([ids["base"], ids["delta"]])
        self.op("add_points", checks.check_graph(grown.index_df.toPandas(), grown_ids, m))
        all_ids = np.concatenate([grown_ids, ids["seg"]])
        merged_pd = merged.index_df.toPandas()
        self.op("merge_hnsw_indexes", checks.check_graph(merged_pd, all_ids, m))
        self.op("build_hnsw_index", checks.check_graph(other.index_df.toPandas(), ids["seg"], m))
        loaded_pd = loaded.index_df.toPandas()
        self.op("save_index", checks.check_graph(loaded_pd, all_ids, m))
        faults = checks.check_roundtrip(
            merged_pd, loaded_pd, _plain(merged.params), loaded.params
        )
        if not np.array_equal(merged.centroids, loaded.centroids):
            faults.append("centroids differ after the round trip")
        res = checks.as_frame(
            loaded.search(self.probes, k=K, dispatch="beam").collect()
        )
        recall, low = checks.check_recall(res, self.truth, self.RECALL_FLOOR)
        self.note("hnsw_recall_at_10", recall)
        self.op("load_index", faults + low + checks.check_contract(res, self.oracle, self.queries))


def _check_ivf(idx, want_ids) -> list[str]:
    pdf = idx.index_df.select("list_id", "id").toPandas()
    faults = []
    if sorted(pdf.id.tolist()) != sorted(int(i) for i in want_ids):
        faults.append("IVF ids differ from the input ids")
    if not pdf.list_id.between(0, idx.n_lists - 1).all():
        faults.append("IVF rows in lists the quantizer cannot route to")
    return faults


def _plain(params: dict) -> dict:
    """Params as they read back from JSON."""
    return json.loads(json.dumps(
        {k: v for k, v in params.items() if not isinstance(v, np.ndarray)}
    ))


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


WORKLOADS = {"vector_serve": VectorServe, "index_ingest": IndexIngest}
