"""Partitioned HNSW graph tier — the reference's namesake algorithm, Spark-first.

Parity targets (SURVEY.md §2 B1-B7, Q1-Q3; reference ``src/main.ts``):

- B1 level sampling (src/main.ts:47-69): levels are assigned Spark-side with
  the deterministic hash-seeded geometric draw (``operators/levels.py``), so
  the distribution is partition-invariant and independently oracle-checkable.
- B2-B7 build (src/main.ts:202-317): sequential, order-dependent graph
  wiring.  This does NOT translate to Catalyst — it runs as a per-partition
  routine inside ``applyInPandas`` over IVF lists: a k-means coarse quantizer
  (the Spark analogue of the upper layers' coarse-to-fine routing role)
  splits the corpus into ``n_lists`` independent sub-graphs built in
  parallel, one per executor task.  Insertion order within a partition is
  ascending id, the deterministic stand-in for the reference's input order.
- Q1-Q3 search (src/main.ts:71-129, 253-283): greedy upper-layer descent,
  then the ef-bounded beam at layer 0 with ``ef = max(k, efSearch)``
  (src/main.ts:267).  Each probed list searches its local graph inside a
  cogrouped ``applyInPandas``; the global merge is ``ORDER BY score DESC
  LIMIT k`` — dedupe is structural (each id lives in exactly one list).
  Since round 8 the layer-0 beam is BATCHED across all of a list's probing
  queries (``_search_layer_batched``): every still-active query advances
  one best-first hop per iteration, so each hop costs ONE adjacency gather
  + ONE vectorized scoring kernel for the whole batch instead of ~4 tiny
  numpy calls per (query, hop).  Per query the visited set, push
  thresholds, pop order, and early termination are identical to the
  sequential beam (parity-pinned).  Measured at 1M×64 clustered on m=16 /
  ef_construction=96 graphs: the tier crosses exact BLAS at serving batch
  sizes — 4.1× at recall 0.958 (Q=512, probe 6, ef 96), 2.3× at recall
  0.994 — while tiny batches (Q≤64) remain exact-BLAS territory
  (BENCH_PROTOCOL ``hnsw_crossover``).

Scale design (100 TB): each list is one executor task — n_lists is chosen so
a list's vectors + adjacency fit executor memory (e.g. 100 TB / 2 GB ≈ 50k
lists); build parallelism = n_lists, search touches only n_probe lists.  The
node table is a plain DataFrame (id, level, vector, neighbors) persisted as
Parquet partitioned by list_id, so probed searches prune at scan time.

Semantics mirrored from the reference (studied, not copied):
- neighbor-diversity heuristic keeps a candidate only if no already-kept
  neighbor is MORE similar to it than the candidate is to the node
  (Malkov & Yashunin Alg. 4 on similarities; src/main.ts:171-200);
- bidirectional connect re-selects both endpoints' adjacency and prunes
  displaced edges reciprocally (src/main.ts:139-169);
- entry point = first inserted node, promoted only on strictly greater
  level (src/main.ts:225-228);
- beam search early-terminates when the best frontier candidate scores
  below the worst retained result and the result set is full
  (src/main.ts:104-106).
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hnsw_spark.functions.similarity import get_metric
from hnsw_spark.operators.ann import (
    _MAX_DRIVER_BATCH,
    _probe_table,
    assign_lists,
    train_centroids,
)
from hnsw_spark.operators.knn import (
    _topk_window,
    collect_query_batch,
    knn_local_merge_prepared,
)
from hnsw_spark.operators.levels import select_level

NODE_SCHEMA = (
    "list_id int, id long, level int, vector array<float>, "
    "neighbors array<array<long>>, entry_id long"
)
# salted build (max_list_size): sub_id = list_id * _SALT_STRIDE + salt is
# the physical graph/partition key; list_id stays the ROUTING key
NODE_SCHEMA_SALTED = "sub_id long, " + NODE_SCHEMA
_SALT_STRIDE = 1 << 20
# add_points: touched (sub-)list keys become a literal IN-list (scan-time
# partition pruning for the untouched branch) up to this many values; a
# larger touched set keeps the broadcast semi/anti join shape.  The bound
# keeps Catalyst literal lists sane — the driver footprint is the same
# either way (the join path force-broadcast the same set).
_TOUCHED_ISIN_CAP = 8192
RESULT_SCHEMA = "query_id long, id long, score double"


def _node_schema(salted: bool, store: str) -> str:
    """Node-table schema for the (salted, store) combination: the int8
    store replaces the float vector with symmetric per-vector codes +
    scale (4× less list IO/memory at 100 TB; functions/quantize.py)."""
    vec = (
        "qvec array<int>, scale double"
        if store == "int8"
        else "vector array<float>"
    )
    base = (
        f"list_id int, id long, level int, {vec}, "
        "neighbors array<array<long>>, entry_id long"
    )
    return ("sub_id long, " + base) if salted else base


def _n_salts(count: Column, cap: int) -> Column:
    """Per-list salt count ⌈count / cap⌉ as ``_n_salts`` — the one formula
    the build (``_with_salt``) and insert (``add_points``) share."""
    return F.ceil(count / F.lit(int(cap))).cast("long").alias("_n_salts")


def _salt(assigned: DataFrame, counts: DataFrame) -> DataFrame:
    """``sub_id`` = list_id · STRIDE + pmod(xxhash64(id), n_salts) from a
    broadcast (list_id, _n_salts) frame.  Growth-stable insert depends on
    build and insert salting through this one expression."""
    return (
        assigned.join(F.broadcast(counts), "list_id")
        .withColumn(
            "sub_id",
            F.col("list_id").cast("long") * _SALT_STRIDE
            + F.pmod(F.xxhash64(F.col("id")), F.col("_n_salts")),
        )
        .drop("_n_salts")
    )


def _with_salt(
    assigned: DataFrame, max_list_size: int
) -> tuple[DataFrame, DataFrame]:
    """Adds ``sub_id`` = list_id · STRIDE + pmod(xxhash64(id), n_salts)
    with per-list n_salts = ⌈list_size / cap⌉ from a broadcast groupBy
    count (VERDICT r9 #5): the round-9 rank-round-robin salt planned a
    ``row_number() OVER (PARTITION BY list_id ORDER BY id)`` — an
    O(n log n) single-task sort ON THE HOT LIST, i.e. a new straggler at
    exactly the scale the salt exists to protect (one list = 10% of
    100 TB).  Hash-mod assignment needs no window and no sort — the count
    aggregate is map-side combined and list-cardinality-sized, the join
    broadcasts — at the price of statistical balance: sub-list sizes land
    within ±O(√(n/k)) of n/k instead of ±1 (binomial concentration), so
    the contract is expected size ≤ cap with observed max ≤ 2·cap
    (hnsw_salted_balance_gate), not a hard cap.  Assignment depends only
    on (id, list_id, cap) — deterministic under any partitioning, and
    STABLE under growth: a later insert cannot shift an existing node's
    sub-list, which is what makes incremental insert into a salted index
    sound (the rank-based salt could not offer that)."""
    from hnsw_spark.plans.cachereg import owned_persist

    # the counts aggregate AND the join's main side both consume the
    # assigned frame — without the persist the assign mapInPandas stage
    # (a full corpus pass through Python) ran once per consumer (Spark
    # does not CSE shared subtrees)
    assigned = owned_persist(assigned)
    counts = assigned.groupBy("list_id").agg(
        _n_salts(F.count("*"), max_list_size)
    )
    salted = _salt(assigned, counts)
    # counts is returned alongside: the per-list salt count IS the fan-out
    # map (sub_ids of list l = l·STRIDE + 0..n_salts-1, a superset of the
    # physically non-empty sub-lists, which search's fast path tolerates) —
    # a fresh never-saved index can hand it to search so the fallback never
    # re-derives the map from the full built node table (VERDICT r13 #7)
    return salted, counts


def _group_vecs(pdf: pd.DataFrame) -> np.ndarray:
    """One list's vectors as float64 — dequantized for the int8 store
    (q·scale in float64, EXACTLY the arithmetic the SQL oracle replays),
    straight stack for the float store."""
    if "qvec" in pdf.columns:
        q = np.stack(pdf["qvec"].to_numpy()).astype(np.float64)
        return q * pdf["scale"].to_numpy()[:, None]
    return np.stack(pdf["vector"].to_numpy()).astype(np.float64)


def final_entry(levels: np.ndarray, n0: int = 0, prev_entry: int | None = None) -> int:
    """Entry point (row index) after inserting rows ``n0..n-1`` in row order:
    promotion happens only on a strictly greater level (src/main.ts:225-228),
    so the entry is the FIRST row to reach the running maximum.  For a
    continued insert the previous entry survives unless a new row exceeds the
    old maximum.  Persisted per list (``entry_id``) because search cannot
    re-derive insertion order once incremental inserts interleave ids."""
    if n0 == 0 or prev_entry is None:
        return int(np.argmax(levels == levels.max()))
    old_max = int(levels[:n0].max())
    new = levels[n0:]
    if len(new) and int(new.max()) > old_max:
        return n0 + int(np.argmax(new == new.max()))
    return int(prev_entry)


class _LocalSim:
    """Vectorized similarity of one query vector against graph rows.

    float64 like the reference's scoring (JS numbers over f32 inputs);
    cosine keeps the NaN-on-zero-norm behavior (src/similarity.ts:10-12 has
    no guard) — NaN compares false everywhere, so zero-norm rows are simply
    never selected, matching the reference.
    """

    def __init__(self, vecs: np.ndarray, metric: str):
        self.metric = metric
        self.v = vecs
        self._prep_cache: dict[int, np.ndarray] = {}
        if metric == "cosine":
            with np.errstate(divide="ignore", invalid="ignore"):
                self.vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        else:
            self.sq = (vecs * vecs).sum(axis=1)

    def prep_query(self, q: np.ndarray) -> np.ndarray:
        if self.metric == "cosine":
            with np.errstate(divide="ignore", invalid="ignore"):
                return q / np.linalg.norm(q)
        return q

    def prep_row(self, i: int) -> np.ndarray:
        """``prep_query(self.v[i])`` memoized per row — the build calls it
        ~(m + ef) times per inserted node (every ``_select_neighbors`` /
        ``_insert_neighbor`` re-preps the same vector), and the norm +
        errstate context were ~20%% of a list's build wall.  Value-identical
        by construction: the same function on the same input, computed
        once."""
        got = self._prep_cache.get(i)
        if got is None:
            got = self.prep_query(self.v[i])
            self._prep_cache[i] = got
        return got

    def scores(self, qprep: np.ndarray, idx: np.ndarray) -> np.ndarray:
        """Similarity of the prepared query vs rows ``idx`` in one matmul."""
        if self.metric == "cosine":
            return self.vn[idx] @ qprep
        qq = qprep @ qprep
        d2 = np.maximum(self.sq[idx] - 2.0 * (self.v[idx] @ qprep) + qq, 0.0)
        # recompute near-zero entries: the expansion cancels catastrophically
        # for near-identical vectors (see operators/knn.py::_score_block)
        near = d2 < 1e-8 * (self.sq[idx] + qq)
        if near.any():
            diff = self.v[idx[near]] - qprep
            d2[near] = (diff * diff).sum(axis=1)
        return 1.0 / (1.0 + np.sqrt(d2))

    def scores_pairs(
        self, qmat: np.ndarray, qq: np.ndarray, owners: np.ndarray,
        idx: np.ndarray,
    ) -> np.ndarray:
        """Similarity of query ``owners[t]`` vs graph row ``idx[t]`` for all
        pairs t in ONE vectorized pass — the batched-beam scoring kernel.
        ``qmat`` holds PREPPED queries row-wise; ``qq`` their squared norms
        (euclidean only; ignored for cosine).  Value-identical to
        ``scores`` called per query (same expressions, same fallback)."""
        if self.metric == "cosine":
            return np.einsum("ij,ij->i", self.vn[idx], qmat[owners])
        dots = np.einsum("ij,ij->i", self.v[idx], qmat[owners])
        qqo = qq[owners]
        d2 = np.maximum(self.sq[idx] - 2.0 * dots + qqo, 0.0)
        near = d2 < 1e-8 * (self.sq[idx] + qqo)
        if near.any():
            diff = self.v[idx[near]] - qmat[owners[near]]
            d2[near] = (diff * diff).sum(axis=1)
        return 1.0 / (1.0 + np.sqrt(d2))

    def pair(self, i: int, j: int) -> float:
        if self.metric == "cosine":
            return float(self.vn[i] @ self.vn[j])
        diff = self.v[i] - self.v[j]  # direct form: no cancellation
        return 1.0 / (1.0 + np.sqrt(float(diff @ diff)))

    def cross(self, idx: np.ndarray) -> np.ndarray:
        """All-pairs similarity among rows ``idx`` in one matmul — lets the
        diversity heuristic's inner loop run on scalar lookups instead of
        per-pair kernel calls (the build's hot path)."""
        if self.metric == "cosine":
            m = self.vn[idx]
            return m @ m.T
        m = self.v[idx]
        sq = self.sq[idx]
        d2 = np.maximum(sq[:, None] - 2.0 * (m @ m.T) + sq[None, :], 0.0)
        near = d2 < 1e-8 * (sq[:, None] + sq[None, :])
        if near.any():
            ii, jj = np.nonzero(near)
            diff = m[ii] - m[jj]
            d2[ii, jj] = (diff * diff).sum(axis=1)
        return 1.0 / (1.0 + np.sqrt(d2))


def _select_neighbors(
    sim: _LocalSim, node: int, cand: list[int], max_neighbors: int
) -> list[int]:
    """Diversity heuristic (src/main.ts:171-200): candidates sorted by
    similarity-to-node desc; keep one only if every already-kept neighbor is
    no more similar to it than it is to the node.  Ties break by ascending
    id for cross-run determinism (the reference's JS sort is unstable)."""
    uniq = [c for c in dict.fromkeys(cand) if c != node]
    if not uniq:
        return []
    idx = np.asarray(uniq)
    s = sim.scores(sim.prep_row(node), idx)
    order = np.lexsort((idx, -s))
    pairm = sim.cross(idx)  # one matmul; the greedy loop below is scalar-only
    # The scalar all() scan beats a vectorized dominance mask here: most
    # calls arrive from _insert_neighbor with <= m+1 candidates, where
    # per-op numpy overhead costs more than a <= 16-element Python loop
    # (measured 1.4x slower with the mask on the 4k-list build).
    selected: list[int] = []  # positions into idx
    pl = pairm.tolist()  # scalar lookups: list indexing beats ndarray item
    sl = s.tolist()
    for o in order:
        if len(selected) >= max_neighbors:
            break
        o = int(o)
        c_score = sl[o]
        row = pl[o]
        if all(row[p] <= c_score for p in selected):
            selected.append(o)
    return [int(idx[p]) for p in selected]


def _greedy_search(
    sim: _LocalSim, nbrs: list[list[list[int]]], qprep: np.ndarray,
    entry: int, level: int,
) -> int:
    """Hill-climb at one layer (src/main.ts:71-91): move to the best
    strictly-improving neighbor until a local maximum."""
    best = entry
    best_score = float(sim.scores(qprep, np.asarray([entry]))[0])
    improved = True
    while improved:
        improved = False
        adj = nbrs[best][level] if level < len(nbrs[best]) else []
        if not adj:
            break
        a = np.asarray(adj)
        s = sim.scores(qprep, a)
        j = int(np.argmax(s))
        if s[j] > best_score:
            best, best_score, improved = int(a[j]), float(s[j]), True
    return best


def _search_layer(
    sim: _LocalSim, nbrs: list[list[list[int]]], qprep: np.ndarray,
    entry: int, level: int, ef: int,
) -> list[tuple[float, int]]:
    """ef-bounded best-first beam at one layer (src/main.ts:93-129):
    max-frontier + bounded min-heap of retained results + visited set;
    early-exit when the frontier can't beat the worst retained result.
    Returns (score, id) pairs sorted score-desc, id-asc."""
    e_score = float(sim.scores(qprep, np.asarray([entry]))[0])
    visited = {entry}
    frontier = [(-e_score, entry)]  # max-heap via negation
    best: list[tuple[float, int]] = [(e_score, entry)]  # min-heap, size ≤ ef
    while frontier:
        neg, cur = heapq.heappop(frontier)
        if len(best) >= ef and -neg < best[0][0]:
            break
        adj = nbrs[cur][level] if level < len(nbrs[cur]) else []
        fresh = [n for n in adj if n not in visited]
        if not fresh:
            continue
        visited.update(fresh)
        a = np.asarray(fresh)
        s = sim.scores(qprep, a)
        worst = best[0][0] if len(best) >= ef else -np.inf
        for sc, n in zip(s, a):
            sc = float(sc)
            if len(best) < ef or sc > worst:
                heapq.heappush(frontier, (-sc, int(n)))
                heapq.heappush(best, (sc, int(n)))
                if len(best) > ef:
                    heapq.heappop(best)
                worst = best[0][0] if len(best) >= ef else -np.inf
    return sorted(best, key=lambda t: (-t[0], t[1]))


# Crossover budget for auto dispatch: exact brute force costs Q×N score
# cells; the measured crossover at 1M×64 (BENCH_PROTOCOL hnsw_crossover)
# puts exact ahead of the beam through Q=64 (64M cells) and behind by
# Q=128-512, so 64M cells is the conservative exact-wins region.  Tiny
# serving batches and tiny corpora — where the beam's fixed Arrow/cogroup
# overhead dominates — therefore route to exact automatically.
_EXACT_DISPATCH_CELLS = 64 * 1024 * 1024

# Visited-matrix budget for the batched beam: bool cells per cogroup task
# (16M cells = 16 MB).  Above it the query batch is chunked — e.g.
# n_lists=8 over a 1M-row corpus with Q=512 would otherwise allocate
# ~64 MB per task before the beam even runs (ADVICE r8).
_VISITED_BUDGET = 16 << 20


def _search_layer_batched(
    sim: _LocalSim,
    adj0: np.ndarray,
    qmat: np.ndarray,
    qq: np.ndarray,
    entries: np.ndarray,
    ef: int,
) -> list[list[tuple[float, int]]]:
    """Layer-0 beam for MANY queries against one list's graph, advancing
    every still-active query ONE best-first hop per iteration (VERDICT r7
    #5).  Per query this is identical to ``_search_layer`` GIVEN IDENTICAL
    SCORES — same pop order (each query's own heap evolves independently),
    same visited set, same push thresholds, same early termination at pop
    time — the batching only amortizes the per-hop numpy dispatch across
    queries: one adjacency gather + ONE ``scores_pairs`` kernel per hop per
    list, instead of ~4 tiny numpy calls per (query, hop).  The einsum
    row-dot can differ from ``_search_layer``'s gemv by 1 ulp, so for
    candidates near-tied at the ef boundary the retained SET may diverge by
    boundary-score entries (ADVICE r8); the parity test tolerates
    symmetric-difference rows whose scores sit within 1 ulp of the ef-th
    score.  With ef at least the list size there is no boundary: every
    reachable node is kept, which is what the hash-checked full-probe rows
    rely on.  Parity is pinned by
    tests/test_hnsw_graph.py::test_batched_beam_matches_sequential.

    ``adj0``: (n, max_deg) int32 layer-0 adjacency as row positions,
    -1-padded.  Returns per-query (score, row) lists sorted score-desc,
    row-asc.

    Memory envelope (ADVICE r8): the dense visited matrix costs
    n_queries x list_size bool cells per task, so oversized serving
    batches are chunked to keep it under ``_VISITED_BUDGET`` cells
    (queries are fully independent — chunking cannot change any per-query
    result)."""
    n_q = qmat.shape[0]
    n = adj0.shape[0]
    if n_q > 1 and n_q * n > _VISITED_BUDGET:
        chunk = max(1, _VISITED_BUDGET // max(n, 1))
        out: list[list[tuple[float, int]]] = []
        for s in range(0, n_q, chunk):
            out.extend(
                _search_layer_batched(
                    sim, adj0, qmat[s : s + chunk], qq[s : s + chunk],
                    entries[s : s + chunk], ef,
                )
            )
        return out
    e_scores = sim.scores_pairs(qmat, qq, np.arange(n_q), entries)
    visited = np.zeros((n_q, adj0.shape[0]), dtype=bool)
    visited[np.arange(n_q), entries] = True
    frontiers = [[(-float(e_scores[q]), int(entries[q]))] for q in range(n_q)]
    best: list[list[tuple[float, int]]] = [
        [(float(e_scores[q]), int(entries[q]))] for q in range(n_q)
    ]
    terminated = np.zeros(n_q, dtype=bool)
    while True:
        curs: list[int] = []
        owners: list[int] = []
        for q in range(n_q):
            if terminated[q] or not frontiers[q]:
                continue
            neg, cur = heapq.heappop(frontiers[q])
            bq = best[q]
            if len(bq) >= ef and -neg < bq[0][0]:
                terminated[q] = True  # the sequential beam's break
                continue
            curs.append(cur)
            owners.append(q)
        if not curs:
            break
        adj = adj0[np.asarray(curs, dtype=np.int64)]
        owner_rep = np.repeat(
            np.asarray(owners, dtype=np.int64), adj.shape[1]
        )
        flat = adj.ravel()
        ok = flat >= 0
        o, f = owner_rep[ok], flat[ok]
        fresh = ~visited[o, f]
        o, f = o[fresh], f[fresh]
        if not len(f):
            continue
        visited[o, f] = True  # mark BEFORE thresholding, like sequential
        s = sim.scores_pairs(qmat, qq, o, f)
        # prefilter provably-rejected pairs: worst only rises during the
        # push loop, so sc <= worst-at-hop-start (with a full heap) could
        # never be pushed by the sequential beam either
        w0 = np.array(
            [
                best[q][0][0] if len(best[q]) >= ef else -np.inf
                for q in owners
            ]
        )
        w0_full = np.full(n_q, -np.inf)
        w0_full[np.asarray(owners, dtype=np.int64)] = w0
        keep = s > w0_full[o]
        # under-full heaps accept anything
        underfull = np.array([len(best[q]) < ef for q in range(n_q)])
        keep |= underfull[o]
        for sc, q, node in zip(s[keep], o[keep], f[keep]):
            bq = best[q]
            worst = bq[0][0] if len(bq) >= ef else -np.inf
            if len(bq) < ef or sc > worst:
                heapq.heappush(frontiers[q], (-float(sc), int(node)))
                heapq.heappush(bq, (float(sc), int(node)))
                if len(bq) > ef:
                    heapq.heappop(bq)
    return [sorted(bq, key=lambda t: (-t[0], t[1])) for bq in best]


def _insert_neighbor(
    sim: _LocalSim, nbrs: list[list[list[int]]], m: int,
    node: int, new: int, level: int,
) -> list[int]:
    """Insert ``new`` into ``node``'s adjacency, re-select the best ≤M, and
    return displaced ids (src/main.ts:154-169)."""
    existing = [x for x in nbrs[node][level] if x != new]
    selected = _select_neighbors(sim, node, existing + [new], m)
    removed = [x for x in existing if x not in selected]
    nbrs[node][level] = selected
    return removed


def _connect(
    sim: _LocalSim, nbrs: list[list[list[int]]], m: int,
    node: int, candidates: list[int], level: int,
) -> None:
    """B4-B5: connect ≤M diverse neighbors bidirectionally, pruning each
    displaced edge reciprocally (src/main.ts:131-152)."""
    for nb in _select_neighbors(sim, node, candidates, m):
        for removed in _insert_neighbor(sim, nbrs, m, node, nb, level):
            nbrs[removed][level] = [x for x in nbrs[removed][level] if x != node]
        for removed in _insert_neighbor(sim, nbrs, m, nb, node, level):
            nbrs[removed][level] = [x for x in nbrs[removed][level] if x != nb]


def build_local_graph(
    levels: np.ndarray,
    vecs: np.ndarray,
    m: int,
    ef_construction: int,
    metric: str,
    existing: list[list[list[int]]] | None = None,
    entry: int | None = None,
) -> list[list[list[int]]]:
    """Sequential HNSW build over one partition's rows, in row order
    (src/main.ts:202-317).  Returns per-row per-level adjacency (row indices,
    not ids — the caller translates).

    ``existing`` enables the incremental addPoint path (src/main.ts:234-248):
    rows ``0..len(existing)-1`` keep their wiring and rows beyond it are
    inserted into the live graph in row order, exactly as a continued
    ``addPoint`` sequence would.  ``entry`` is the existing graph's persisted
    entry row; when omitted it falls back to the first max-level existing row
    (exact only while row order equals original insertion order)."""
    n = len(levels)
    n0 = len(existing) if existing else 0
    nbrs: list[list[list[int]]] = (
        [[list(lvl) for lvl in row] for row in existing] if existing else []
    ) + [[[] for _ in range(int(levels[i]) + 1)] for i in range(n0, n)]
    if n == 0:
        return nbrs
    sim = _LocalSim(vecs, metric)
    if n0 == 0:
        entry, level_max, start = 0, int(levels[0]), 1
    else:
        level_max = int(levels[:n0].max())
        if entry is None:
            entry = int(np.argmax(levels[:n0] == level_max))
        start = n0
    for i in range(start, n):
        qprep = sim.prep_query(vecs[i])
        lvl_i = int(levels[i])
        ep = entry
        for level in range(level_max, lvl_i, -1):
            ep = _greedy_search(sim, nbrs, qprep, ep, level)
        for level in range(min(lvl_i, level_max), -1, -1):
            found = _search_layer(sim, nbrs, qprep, ep, level, ef_construction)
            _connect(sim, nbrs, m, i, [f[1] for f in found], level)
            if found:
                ep = found[0][1]
        if lvl_i > level_max:
            entry, level_max = i, lvl_i
    return nbrs


class HNSWIndex:
    """Partitioned HNSW index: node table + coarse-quantizer centroids.

    ``index_df``: (list_id, id, level, vector, neighbors) — ``neighbors[l]``
    is the layer-l adjacency as ids, the reference's persisted node shape
    (src/main.ts:322-344) as a DataFrame.
    """

    def __init__(
        self,
        index_df: DataFrame,
        centroids: np.ndarray,
        metric: str = "cosine",
        params: dict | None = None,
    ):
        self.index_df = index_df
        self.centroids = centroids
        self.metric = metric
        self.params = params or {}
        # (list_id, _n_salts) frame from the salted build/insert — lets a
        # fresh never-saved index derive the search fan-out map from the
        # assignment-stage counts instead of a distinct over the full built
        # node table (VERDICT r13 #7); None for unsalted/loaded indexes
        # (loaded ones carry the map in params["sub_ids"]).
        self._salt_counts: DataFrame | None = None

    @property
    def n_lists(self) -> int:
        return self.centroids.shape[0]

    def _own_node_table(self) -> None:
        """Persist the node table before search gives it a second consumer,
        unless its owner already cached it.  The persist is library-owned:
        ``hnsw_spark.release_caches()`` frees it."""
        from hnsw_spark.plans.cachereg import is_cached, owned_persist

        if not is_cached(self.index_df):
            self.index_df = owned_persist(self.index_df)

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int | None = None,
        ef_search: int | None = None,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
        dispatch: str = "auto",
    ) -> DataFrame:
        """Top-k: DataFrame[(query_id, id, score)].  ``ef = max(k, efSearch)``
        (src/main.ts:267); efSearch defaults to the build-time
        efConstruction (the fromJSON default, src/main.ts:354).

        ``dispatch`` (VERDICT r8 #3 — crossover-aware serving): the measured
        crossover (BENCH_PROTOCOL ``hnsw_crossover``: exact BLAS beats the
        beam up to Q≈64-128 at 1M×64; at fixture scale it always wins) says
        small work units belong to exact brute force — its cost is the
        Q×N score-cell count, so the rule is cell-based, not Q-based.
        ``"auto"`` (default) routes batches with
        Q×N ≤ ``_EXACT_DISPATCH_CELLS`` to the exact ``local_merge``
        operator (a strictly better answer, recall 1.0, and faster below
        the crossover — the reference's own adaptivity precedent is
        ``ef = max(k, efSearch)``, src/main.ts:267) and larger batches to
        the beam; ``"beam"`` forces the graph path (graph tests, oracle
        rows, and crossover benches pin it).  The exact route ignores
        ``n_probe``/``ef_search``; a caller that always wants exact results
        calls ``knn_exact`` directly.

        The layer-0 beam is batched (``_search_layer_batched``): all of a
        list's queries advance one best-first hop per iteration — one
        adjacency gather + one scoring kernel per hop per list (VERDICT r7
        #5).  With ``ef_search`` at least the size of every list, each beam
        keeps every reachable node, so the full-probe oracle rows
        degenerate to exact kNN with no ef boundary for near-ties to cross."""
        spark = self.index_df.sparkSession
        if k <= 0:
            return spark.createDataFrame([], RESULT_SCHEMA)
        if dispatch not in ("auto", "beam"):
            raise ValueError(f"unknown dispatch mode: {dispatch!r}")
        # ONE bounded collect serves both dispatch modes: it sizes the batch,
        # is the exact route's query transfer and routes the beam, so no
        # path pays a count or a second toPandas.  An over-cap batch (None)
        # routes distributed.
        batch = collect_query_batch(queries, query_id, query_vec, _MAX_DRIVER_BATCH)
        if dispatch == "auto" and batch is not None:
            n = self.params.get("n_vectors")
            if n is None:
                # one bounded job, memoized on the instance.  The sizing
                # count is a second consumer of the node table: without the
                # persist it would materialize the applyInPandas build once
                # and the exact route's scan would rebuild it, making
                # dispatch='auto' slower than the beam it replaces on
                # uncached indexes (ADVICE r9)
                self._own_node_table()
                n = self.index_df.count()
                self.params["n_vectors"] = n
            if len(batch[0]) * int(n) <= _EXACT_DISPATCH_CELLS:
                base_df = self.index_df
                if "qvec" in base_df.columns:
                    # int8 store: the exact route scores the DEQUANTIZED
                    # values (q·scale in double), the geometry the graph holds
                    base_df = base_df.withColumn(
                        "vector",
                        F.transform(
                            "qvec", lambda x: x.cast("double") * F.col("scale")
                        ),
                    )
                return knn_local_merge_prepared(
                    base_df, *batch, k, self.metric, base_id="id", base_vec="vector"
                )
        n_probe = min(n_probe or max(1, self.n_lists // 4), self.n_lists)
        ef = max(
            k,
            ef_search
            or self.params.get("ef_search")
            or self.params.get("ef_construction", 100),
        )
        metric = self.metric
        probes = _probe_table(
            queries, batch, self.centroids, metric, n_probe, query_id, query_vec
        )

        def search_group(
            nodes: pd.DataFrame, qs: pd.DataFrame
        ) -> pd.DataFrame:
            if nodes.empty or qs.empty:
                return pd.DataFrame(
                    {"query_id": pd.Series(dtype="int64"),
                     "id": pd.Series(dtype="int64"),
                     "score": pd.Series(dtype="float64")}
                )
            nodes = nodes.sort_values("id").reset_index(drop=True)
            ids = nodes["id"].to_numpy()
            levels = nodes["level"].to_numpy()
            vecs = _group_vecs(nodes)
            sim = _LocalSim(vecs, metric)
            level_max = int(levels.max())
            n = len(ids)
            # adjacency arrives as CSR per node (see the cogroup below):
            # ``nbr_flat`` holds every level's neighbor ids back to back,
            # ``nbr_lens`` the length of each level.  Ids map to rows via
            # searchsorted over the (sorted) id column; -1 marks an id not
            # in this group.
            row_lens = nodes["nbr_lens"].to_numpy()
            tot = np.fromiter((len(r) for r in nodes["nbr_flat"]), np.int64, n)
            flat = (
                np.concatenate(nodes["nbr_flat"].to_numpy()).astype(np.int64)
                if tot.sum() else np.empty(0, dtype=np.int64)
            )
            fpos = np.clip(np.searchsorted(ids, flat), 0, n - 1)
            fpos = np.where(ids[fpos] == flat, fpos, -1)
            start = np.cumsum(tot) - tot
            # layer-0 adjacency as a -1-padded positions matrix
            lens0 = np.fromiter(
                (r[0] if len(r) else 0 for r in row_lens), np.int64, n
            )
            width = max(int(lens0.max()), 1)
            cols = np.arange(width)
            adj0 = np.full((n, width), -1, dtype=np.int64)
            mask = cols < lens0[:, None]
            adj0[mask] = fpos[(start[:, None] + cols)[mask]]
            # upper layers in _greedy_search's nested shape: positions per
            # level for nodes with level >= 1; the level-0 majority shares
            # one empty row, never mutated (descent at level l only stands
            # on level >= l nodes)
            upper: list[list[list[int]]] = [[]] * n
            if level_max > 0:
                for i in np.nonzero(levels > 0)[0]:
                    bounds = start[i] + np.concatenate(
                        ([0], np.cumsum(row_lens[i]))
                    )
                    upper[i] = [
                        [int(p) for p in fpos[lo:hi] if p >= 0]
                        for lo, hi in zip(bounds[:-1], bounds[1:])
                    ]
            # the persisted build-time entry (final_entry): re-deriving it
            # from id order breaks once incremental inserts interleave ids
            eid = nodes["entry_id"].iloc[0] if "entry_id" in nodes else None
            eid_pos = (
                int(np.searchsorted(ids, int(eid)))
                if eid is not None and not pd.isna(eid)
                else -1
            )
            entry = (
                eid_pos
                if 0 <= eid_pos < n and int(ids[eid_pos]) == int(eid)
                else int(np.argmax(levels == level_max))
            )
            qmat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in qs["qvec"]]
            )
            qprep_rows = [sim.prep_query(qmat[i]) for i in range(len(qmat))]
            # greedy upper-layer descent per query (upper layers are a
            # vanishing fraction of nodes; the beam below dominates)
            eps = np.empty(len(qmat), dtype=np.int64)
            for i, qprep in enumerate(qprep_rows):
                ep = entry
                for level in range(level_max, 0, -1):
                    ep = _greedy_search(sim, upper, qprep, ep, level)
                eps[i] = ep
            qm = np.stack(qprep_rows)
            qq = (
                np.einsum("ij,ij->i", qm, qm)
                if metric != "cosine"
                else np.zeros(len(qm))
            )
            results = _search_layer_batched(sim, adj0, qm, qq, eps, ef)
            qids = qs["query_id"].to_numpy()
            out_q, out_i, out_s = [], [], []
            for i, found in enumerate(results):
                for sc, p in found[:k]:
                    out_q.append(int(qids[i]))
                    out_i.append(int(ids[p]))
                    out_s.append(float(sc))
            return pd.DataFrame({"query_id": out_q, "id": out_i, "score": out_s})

        key = "list_id"
        if "sub_id" in self.index_df.columns:
            # salted index (max_list_size): fan each probed list out to all
            # of its sub-lists.
            sub_ids = self.params.get("sub_ids")
            if not sub_ids and self._salt_counts is not None:
                # Fresh never-saved salted index (VERDICT r13 #7): the
                # fan-out map derives from the build/insert's own per-list
                # salt counts — a list_id-cardinality collect over the
                # assignment-stage aggregate (cached by _with_salt's owned
                # persist while it lives; at worst one assign pass) — never
                # from the full built node table, whose distinct fallback
                # re-ran the whole assign + wire chain inside the search
                # action.  sub_ids = l·STRIDE + 0..n_salts-1 is a SUPERSET
                # of the physically non-empty sub-lists; their cogroup
                # groups have no nodes and contribute zero rows (the CSR
                # neighbors below keep such groups safe).  Past the literal
                # cap the distinct fallback keeps the old shape, mirroring
                # add_points/save_index.
                derived = [
                    int(r["list_id"]) * _SALT_STRIDE + j
                    for r in self._salt_counts.collect()
                    for j in range(int(r["_n_salts"]))
                ]
                if 0 < len(derived) <= _TOUCHED_ISIN_CAP:
                    sub_ids = derived
            if sub_ids:
                # Fast path: the (list_id → sub_id) map is index METADATA —
                # computed once at publish time (persistence.save_index) and
                # extended on insert (add_points) — so the search plan never
                # has to persist and re-scan the node table just to list the
                # sub_ids: for a freshly grown/merged index that second
                # consumer forced caching the ENTIRE index and a full extra
                # pass over it inside the search action.  The map may carry
                # sub-lists with no physical rows (hash residues nothing
                # landed in, or publish-time supersets); their cogroup groups
                # have no nodes and contribute zero result rows, so the
                # output is identical to the distinct-derived map.
                sub_map = spark.createDataFrame(
                    [(int(s) // _SALT_STRIDE, int(s)) for s in sub_ids],
                    "list_id int, sub_id long",
                )
                probes = probes.join(F.broadcast(sub_map), "list_id")
            else:
                # Fallback (no metadata, e.g. an index saved before the map
                # existed, or grown past the literal-set cap): the map is
                # distinct over the node table (≤ a few rows per list,
                # broadcast by AQE), so routing stays list-keyed and only the
                # cogroup key changes.
                # alias through a fresh name: the map derives from index_df,
                # and cogrouping index_df against a probe frame carrying the
                # SAME sub_id attribute trips Spark's ambiguous-self-join
                # analysis.  The map makes the node table a SECOND consumer
                # of whatever pipeline produced it — for a freshly
                # built/grown/merged index that meant re-running the entire
                # assign + wire applyInPandas chain just to list the sub_ids
                # — so persist it first
                self._own_node_table()
                sub_map = self.index_df.select(
                    "list_id", F.col("sub_id").alias("_sub")
                ).distinct()
                probes = probes.join(sub_map, "list_id").withColumnRenamed(
                    "_sub", "sub_id"
                )
            key = "sub_id"
        # neighbors cross into Python as CSR (flat ids + per-level sizes):
        # under PySpark 4.1.2 / pyarrow 16.1.0 a cogroup group that is empty
        # on the side carrying an array<array<long>> column crashes the
        # worker in arrow_to_pandas, and probed (sub-)lists with no nodes
        # are reachable (superset fan-out maps, filtered node tables)
        nodes = self.index_df.select(
            *[c for c in self.index_df.columns if c != "neighbors"],
            F.flatten("neighbors").alias("nbr_flat"),
            F.transform("neighbors", lambda lvl: F.size(lvl)).alias("nbr_lens"),
        )
        local = (
            nodes.groupBy(key)
            .cogroup(probes.groupBy(key))
            .applyInPandas(search_group, RESULT_SCHEMA)
        )
        # global merge: ids are unique across lists, so dedupe (src/main.ts:
        # 269-280) is structural and the merge is a pure top-k.
        return _topk_window(local, k)


def _wire_list(
    rows: pd.DataFrame,
    m: int,
    ef_construction: int,
    metric: str,
    existing: list[list[list[int]]] | None = None,
    prev_entry: int | None = None,
) -> pd.DataFrame:
    """Wire one (sub-)list's rows in row order and return its node-table
    rows: list_id, id, level, neighbors as ids, entry_id, the store
    columns and, when salted, sub_id.  ``existing``/``prev_entry`` carry
    the live graph of the first ``len(existing)`` rows for an incremental
    insert (``build_local_graph``); the build passes neither."""
    ids = rows["id"].to_numpy()
    levels = rows["level"].to_numpy()
    nbrs = build_local_graph(
        levels, _group_vecs(rows), m, ef_construction, metric,
        existing=existing, entry=prev_entry,
    )
    e = final_entry(
        levels, n0=len(existing) if existing else 0, prev_entry=prev_entry
    )
    out = {
        "list_id": rows["list_id"],
        "id": ids,
        "level": levels,
        "neighbors": [
            [[int(ids[x]) for x in lvl] for lvl in row] for row in nbrs
        ],
        "entry_id": np.full(len(ids), ids[e], dtype=np.int64),
    }
    if "qvec" in rows.columns:
        out["qvec"], out["scale"] = rows["qvec"], rows["scale"]
    else:
        out["vector"] = rows["vector"]
    if "sub_id" in rows.columns:
        out = {"sub_id": rows["sub_id"], **out}
    return pd.DataFrame(out)


def add_points(
    index: HNSWIndex,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> HNSWIndex:
    """Incremental insert (the addPoint path, src/main.ts:234-248): new
    vectors are routed to their lists with the frozen centroids and wired
    into each list's live graph — existing adjacency is preserved and
    extended, untouched lists (sub-lists, when salted) pass through
    unchanged.

    Insertion order within a list is ascending id after the existing rows,
    the same append discipline as the reference's sequential addPoint; ids
    must be fresh (duplicate inserts are rejected by validate_vectors
    upstream, matching src/main.ts:240-242).

    All four store/salt combinations insert (round 10 — the round-9
    float32-only raises are gone because their reasons are gone):

    - ``store='int8'``: incoming vectors are quantized with fresh
      per-vector scales (the scale is per-vector, so no global codebook
      goes stale); if ``df`` already carries ``qvec``/``scale`` columns
      (the segment-merge path), the codes are preserved verbatim — no
      re-encoding loss — and wiring uses the dequantized values, the
      identical geometry search scores.
    - salted (``max_list_size``): the hash-mod salt (``_with_salt``) made
      sub-list membership a pure function of (id, list_id), so existing
      nodes KEEP their sub_id and only new nodes are assigned — with
      n_salts from the grown per-list totals, so a list that outgrew its
      salt count spreads new nodes over more sub-lists (new sub_ids start
      empty graphs; search fans to whatever sub-lists exist).
    """
    store = "int8" if "qvec" in index.index_df.columns else "float32"
    salted = "sub_id" in index.index_df.columns
    has_codes = "qvec" in df.columns and "scale" in df.columns
    if has_codes and store != "int8":
        raise ValueError(
            "df carries int8 codes (qvec/scale) but the index is a float32"
            " store: dequantize the delta or rebuild the base as int8 —"
            " mixing stores inside one node table is not supported"
        )
    m = int(index.params.get("m", 16))
    ef_construction = int(index.params.get("ef_construction", 100))
    seed = int(index.params.get("seed", 42))
    max_level = index.params.get("max_level")
    metric = index.metric
    lvl = select_level(F.col(id_col).cast("long"), m, seed)
    if max_level is not None:
        lvl = F.least(lvl, F.lit(int(max_level)))
    if has_codes:
        from hnsw_spark.functions.quantize import dequantize

        # routing needs a float view; the codes themselves are preserved
        base = df.select(
            F.col(id_col).cast("long").alias("id"),
            dequantize("qvec", "scale").alias("vector"),
            lvl.alias("level"),
            "qvec",
            "scale",
        )
        extra = ("level", "qvec", "scale")
    else:
        base = df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).alias("vector"),
            lvl.alias("level"),
        )
        extra = ("level",)
    assigned = assign_lists(base, index.centroids, metric, extra_cols=extra)
    if store == "int8" and not has_codes:
        from hnsw_spark.functions.quantize import quant_scale, quantize

        assigned = assigned.withColumn(
            "scale", quant_scale("vector")
        ).withColumn("qvec", quantize("vector", F.col("scale")))
    if salted:
        from hnsw_spark.plans.cachereg import owned_persist

        # the totals subtree (per-list n_salts) and the union into the
        # rewire both consume the assigned delta; persist it (delta-sized)
        # so the assign mapInPandas runs once, not once per consumer
        assigned = owned_persist(assigned)
        cap = int(index.params.get("max_list_size") or 1)
        old_counts = index.index_df.groupBy("list_id").agg(
            F.count("*").alias("_n_old")
        )
        totals = (
            assigned.groupBy("list_id")
            .agg(F.count("*").alias("_n_new"))
            .join(old_counts, "list_id", "left")
            .select(
                "list_id",
                _n_salts(
                    F.coalesce("_n_old", F.lit(0)) + F.col("_n_new"), cap
                ),
            )
        )
        assigned = _salt(assigned, totals)
    vcols = ["qvec", "scale"] if store == "int8" else ["vector"]
    cols = (["sub_id"] if salted else []) + [
        "list_id", "id", "level", *vcols, "neighbors", "entry_id",
    ]
    new_nodes = (
        assigned.withColumn("neighbors", F.lit(None).cast("array<array<long>>"))
        .withColumn("entry_id", F.lit(None).cast("long"))
        .select(*cols)
    )
    # an index persisted before entry_id existed loads (and searches, via
    # the same fallback) fine — backfill the column here so incremental
    # insert works on old node tables too instead of failing analysis
    old_df = index.index_df
    if "entry_id" not in old_df.columns:
        old_df = old_df.withColumn("entry_id", F.lit(None).cast("long"))

    def rewire_group(pdf: pd.DataFrame) -> pd.DataFrame:
        is_new = pdf["neighbors"].isna()
        old = pdf[~is_new].sort_values("id")
        new = pdf[is_new].sort_values("id")
        if new.empty:  # untouched (sub-)list: pass through unchanged
            return old.reset_index(drop=True)
        ordered = pd.concat([old, new]).reset_index(drop=True)
        if old.empty:
            return _wire_list(ordered, m, ef_construction, metric)
        pos = {int(v): i for i, v in enumerate(ordered["id"].to_numpy())}
        existing = [
            [[pos[int(x)] for x in lvl if int(x) in pos] for lvl in row]
            for row in old["neighbors"]
        ]
        eid = old["entry_id"].iloc[0]
        prev_entry = pos[int(eid)] if not pd.isna(eid) else None
        return _wire_list(
            ordered, m, ef_construction, metric,
            existing=existing, prev_entry=prev_entry,
        )

    key = "sub_id" if salted else "list_id"
    # O(delta) for real: only (sub-)lists that RECEIVE new nodes cross the
    # rewire shuffle + Python boundary; every other list's rows pass by as
    # a plain columnar scan (the rewire's own pass-through branch returned
    # them row-identical anyway, after paying the full nested-neighbors
    # Arrow round trip).  The touched set is bounded by the index's own
    # physical (sub-)list count — the previous shape force-BROADCAST it, so
    # the driver already held it; collecting it instead prices the same
    # bound while turning both sides of the split into plain literal
    # predicates: the untouched branch becomes `key NOT IN touched`, which
    # pushes into the node-table scan (the persisted layout is partitioned
    # by list_id — untouched lists are PRUNED at the source, never scanned),
    # and the broadcast-exchange build + two join stages disappear from the
    # critical path.  A very large touched set (a bulk ingest that touches
    # more sub-lists than a sane literal list) falls back to the broadcast
    # semi/anti joins — same values, the old plan shape.
    # the touched-set job and the rewire union both consume the delta
    # frame; persist it (delta-sized) so neither runs assign/salt twice
    from hnsw_spark.plans.cachereg import owned_persist

    new_nodes = owned_persist(new_nodes)
    old_sel = old_df.select(*cols)
    touched_rows = new_nodes.select(key).distinct().limit(
        _TOUCHED_ISIN_CAP + 1
    ).collect()
    touched_vals = None
    if len(touched_rows) <= _TOUCHED_ISIN_CAP:
        touched_vals = [r[0] for r in touched_rows]
        is_touched = F.col(key).isin(touched_vals)
        # NULL keys never match an equi-join, so the anti branch KEPT them;
        # `~isin` is NULL on NULL input — keep the row explicitly
        unioned = old_sel.filter(is_touched).unionByName(new_nodes)
        untouched = old_sel.filter(~is_touched | F.col(key).isNull())
    else:
        touched = new_nodes.select(key).distinct()
        unioned = old_sel.join(
            F.broadcast(touched), key, "left_semi"
        ).unionByName(new_nodes)
        untouched = old_sel.join(F.broadcast(touched), key, "left_anti")
    index_df = (
        unioned.groupBy(key)
        .applyInPandas(rewire_group, _node_schema(salted, store))
        .unionByName(untouched)
    )
    params = dict(index.params)
    # the memoized corpus size (auto-dispatch) is stale on the grown index
    params.pop("n_vectors", None)
    if salted:
        # Maintain the publish-time fan-out map (search's params fast path):
        # grown sub-lists = the base's map ∪ the delta's touched set — which
        # this function ALREADY collected for the scan split, so the update
        # is free.  Any condition that breaks the invariant (no base map,
        # cap fallback where the touched set was never collected, or a NULL
        # key that the literal map could not route) drops the map entirely
        # and search falls back to deriving it from the node table.
        base_map = params.pop("sub_ids", None)
        if (
            base_map
            and touched_vals is not None
            and all(v is not None for v in touched_vals)
        ):
            params["sub_ids"] = sorted(
                set(int(s) for s in base_map)
                | set(int(v) for v in touched_vals)
            )
    grown = HNSWIndex(index_df, index.centroids, metric, params)
    # the counts-derived fan-out map covers only non-NULL sub_ids, so hand it
    # on only when no node can carry a NULL one: the base is fresh-built /
    # grown with its own counts, or carried the save-time verified map, and
    # every touched key was collected non-NULL.  Otherwise search keeps the
    # distinct fallback, which also probes a NULL sub_id group.
    base_null_free = index._salt_counts is not None or bool(
        index.params.get("sub_ids")
    )
    if (
        salted
        and base_null_free
        and touched_vals is not None
        and all(v is not None for v in touched_vals)
    ):
        # The grown per-list salt counts double as the fresh-index fan-out
        # map (see _with_salt / HNSWIndex._salt_counts).  ``totals`` covers
        # only lists that RECEIVED delta nodes; lists with only base nodes
        # must keep their own implied count or the map would stop probing
        # them.  Correct for every node because the per-list ceil is
        # monotone under growth: every existing node's salt residue was
        # drawn against a count ≤ the current ceil, so l·STRIDE +
        # 0..n_salts-1 is always a superset of the live sub_ids (empty
        # groups are tolerated by search, same as the publish-time map).
        only_old = old_counts.join(
            assigned.select("list_id").distinct(), "list_id", "left_anti"
        ).select("list_id", _n_salts(F.col("_n_old"), cap))
        grown._salt_counts = totals.unionByName(only_old)
    return grown


def merge_hnsw_indexes(base: HNSWIndex, delta: HNSWIndex) -> HNSWIndex:
    """FAISS-style segment merge for the graph tier — the HNSW twin of
    ``operators/ann.merge_ivf_indexes`` (VERDICT r8 #4): the delta
    segment's nodes are re-assigned under the BASE coarse quantizer and
    re-wired into the base lists' live graphs through the addPoint path.
    The base keeps its centroids, adjacency, and per-list entry points;
    the delta's adjacency is rebuilt, because graph edges are
    quantizer-relative — a segment wired under different routing cannot be
    grafted edge-for-edge (the reference itself has no graph merge: whole
    -index overwrite, src/db.ts:54-60; re-insertion under the serving
    quantizer is the standard segment-compaction move).

    Cost is O(delta): only lists that receive delta nodes rebuild (and
    only incrementally); untouched base lists pass through unchanged
    inside ``add_points``' rewire cogroup.  Metrics must match; duplicate
    ids across segments are the caller's contract, as in the IVF merge.

    Stores must MATCH (round 10 — previously an int8 delta died with an
    opaque unresolved-column error, ADVICE r9): an int8 delta merged into
    an int8 base keeps its codes + per-vector scales VERBATIM (wiring uses
    the dequantized values — zero re-encoding loss, and the full-probe
    degeneration stays hash-checkable because both segments' stored values
    are still exactly quantize(raw)); a salted delta contributes its nodes
    (its own sub-list structure is build-local and is NOT carried — the
    base's salt map re-assigns); a salted base accepts inserts since the
    hash-mod salt made membership growth-stable."""
    if base.metric != delta.metric:
        raise ValueError(
            f"metric mismatch: {base.metric!r} vs {delta.metric!r}"
        )
    base_int8 = "qvec" in base.index_df.columns
    delta_int8 = "qvec" in delta.index_df.columns
    if base_int8 != delta_int8:
        raise ValueError(
            "store mismatch: base is "
            f"{'int8' if base_int8 else 'float32'} but delta is "
            f"{'int8' if delta_int8 else 'float32'} — rebuild one segment "
            "so both node tables carry the same representation"
        )
    if delta_int8:
        moved = delta.index_df.select(
            F.col("id").alias("vec_id"), "qvec", "scale"
        )
    else:
        moved = delta.index_df.select(
            F.col("id").alias("vec_id"), F.col("vector").alias("embedding")
        )
    return add_points(base, moved)


def build_hnsw_index(
    df: DataFrame,
    n_lists: int = 8,
    m: int = 16,
    ef_construction: int = 100,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    ef_search: int | None = None,
    max_level: int | None = None,
    max_list_size: int | None = None,
    store: str = "float32",
) -> HNSWIndex:
    """Build the partitioned index: coarse-quantize into ``n_lists``, assign
    levels (B1) Spark-side, then build each list's graph in parallel inside
    ``applyInPandas``.

    ``max_level`` caps the level draw (``max_level=0`` pins every node to
    layer 0) — the reference's own test discipline for checking exact ids
    (tests/HNSW.test.ts pins the level draw); combined with
    n_probe = n_lists and ef ≥ list size this degenerates search to exact
    kNN, which is how the oracle checks the whole HNSW pipeline.

    ``max_list_size`` is the SKEW GUARD (VERDICT r8 #8): real corpora
    cluster unevenly, and each list is one sequential Python build task —
    a hot list that swallows 10% of a 100 TB corpus is a straggler that
    never finishes and a memory cliff.  When set, each list is hash-mod
    salted (``_with_salt``: pmod(xxhash64(id), ⌈list_size / cap⌉) — no
    window, no per-list sort; sizes balanced within ±O(√(n/k)), VERDICT
    r9 #5) into SUB-LISTS, each carrying its own graph under the physical
    key ``sub_id``; ``list_id`` remains the routing key and search fans
    each probed list out to all of its sub-lists, so full-probe
    degeneration stays exact (searching every sub-graph of a list ≡
    searching the list — ids are disjoint, the merge is a pure top-k).
    Recall at partial ef changes only through graph locality, priced by
    the recall gates like every other knob.

    ``store='int8'`` keeps symmetric per-vector codes + scale instead of
    float32 in the node table (4× less list IO/memory at 100 TB — the
    FAISS ScalarQuantizer recipe the IVF tier already offers): the GRAPH
    itself is built over the dequantized values, so build-time wiring and
    search-time scoring see the identical geometry and the full-probe
    degeneration stays hash-checkable against a SQL oracle that replays
    q·scale exactly.  Incremental insert quantizes the new vectors with
    fresh per-vector scales; segment merge preserves the delta's codes
    verbatim (see ``add_points`` / ``merge_hnsw_indexes``)."""
    get_metric(metric)  # validate early (src/main.ts:42-44)
    if store not in ("float32", "int8"):
        raise ValueError(f"unknown store: {store!r}")
    lvl = select_level(F.col(id_col).cast("long"), m, seed)
    if max_level is not None:
        lvl = F.least(lvl, F.lit(int(max_level)))
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("vector"),
        lvl.alias("level"),
    )
    centroids = train_centroids(base.select("id", "vector"), n_lists, metric, seed)
    assigned = assign_lists(base, centroids, metric, extra_cols=("level",))
    salted = max_list_size is not None
    salt_counts = None
    if salted:
        if max_list_size < 1:
            raise ValueError(f"max_list_size must be >= 1: {max_list_size}")
        assigned, salt_counts = _with_salt(assigned, int(max_list_size))

    if store == "int8":
        from hnsw_spark.functions.quantize import quant_scale, quantize

        assigned = (
            assigned.withColumn("scale", quant_scale("vector"))
            .withColumn("qvec", quantize("vector", F.col("scale")))
            .drop("vector")
        )

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        return _wire_list(pdf, m, ef_construction, metric)

    key = "sub_id" if salted else "list_id"
    index_df = assigned.groupBy(key).applyInPandas(
        build_group, _node_schema(salted, store)
    )
    built = HNSWIndex(
        index_df,
        centroids,
        metric,
        params={
            "n_lists": n_lists,
            "m": m,
            "ef_construction": ef_construction,
            "ef_search": ef_search,
            "seed": seed,
            "max_level": max_level,
            "max_list_size": max_list_size,
            "store": store,
        },
    )
    built._salt_counts = salt_counts
    return built
