"""Output checks made apart from the library.

Every check returns a list of faults (empty when the output passes); a
faulty output counts its operation as failed.  Nothing here calls the
library: nearest neighbours come from a numpy brute force over the same
vectors the harness generated, and graph checks read the collected node
table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

K = 10


class ExactTopK:
    """numpy cosine brute force over a corpus; the truth every kNN output is
    checked against."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = np.asarray(ids, dtype=np.int64)
        v = np.asarray(vecs, dtype=np.float64)
        self.unit = v / np.linalg.norm(v, axis=1, keepdims=True)

    def scores(self, q: np.ndarray) -> np.ndarray:
        """(len(q), N) cosine scores in float64."""
        q = np.asarray(q, dtype=np.float64)
        return (q / np.linalg.norm(q, axis=1, keepdims=True)) @ self.unit.T

    def topk(self, qids: np.ndarray, q: np.ndarray, k: int = K) -> dict[int, tuple]:
        """query id -> (ids, scores) of the true top-k, score descending,
        ties broken by ascending id."""
        out = {}
        for start in range(0, len(q), 1024):
            s = self.scores(q[start:start + 1024])
            cand = np.argpartition(-s, k - 1, axis=1)[:, :k]
            cs = np.take_along_axis(s, cand, axis=1)
            order = np.lexsort((self.ids[cand], -cs), axis=1)
            top = np.take_along_axis(cand, order, axis=1)
            for row, qid in enumerate(qids[start:start + 1024]):
                out[int(qid)] = (self.ids[top[row]], s[row, top[row]])
        return out


def as_frame(rows) -> pd.DataFrame:
    """Collected (query_id, id, score) rows, in the order they came back."""
    return pd.DataFrame(
        [(int(r[0]), int(r[1]), float(r[2])) for r in rows],
        columns=["query_id", "id", "score"],
    )


def check_exact(res: pd.DataFrame, truth: dict, oracle: ExactTopK,
                queries: dict[int, np.ndarray], tol: float = 1e-9) -> list[str]:
    """An exact top-k: ids must equal the true top-k except where the k-th
    score is tied, and every score must equal numpy's within ``tol``."""
    faults = check_contract(res, oracle, queries, tol)
    for qid, (tids, tscores) in truth.items():
        got = res[res.query_id == qid]
        if len(got) != len(tids):
            faults.append(f"query {qid}: {len(got)} rows, expected {len(tids)}")
            continue
        gs = np.sort(got.score.to_numpy())[::-1]
        if not np.allclose(gs, tscores, rtol=0, atol=tol):
            faults.append(f"query {qid}: scores differ from the exact top-{len(tids)}")
        must = set(tids[tscores > tscores[-1] + tol].tolist())
        if not must <= set(got.id.tolist()):
            faults.append(f"query {qid}: misses {sorted(must - set(got.id))}")
    return faults


def check_contract(res: pd.DataFrame, oracle: ExactTopK,
                   queries: dict[int, np.ndarray], tol: float = 1e-6,
                   k: int = K) -> list[str]:
    """The result contract of every kNN path: at most k rows per query,
    distinct ids taken from the corpus, scores equal to numpy cosine within
    ``tol``, and score descending within each query."""
    faults = []
    qids = np.fromiter(queries, dtype=np.int64, count=len(queries))
    qpos = pd.Index(qids).get_indexer(res.query_id)
    pos = pd.Index(oracle.ids).get_indexer(res.id)
    if (qpos < 0).any():
        faults.append(f"rows for unknown queries {sorted(set(res.query_id[qpos < 0]))[:5]}")
    if (pos < 0).any():
        faults.append(f"ids not in the corpus: {sorted(set(res.id[pos < 0]))[:5]}")
    counts = res.groupby("query_id").size()
    if (counts > k).any():
        faults.append(f"queries {list(counts.index[counts > k][:5])}: more than k={k} rows")
    if res.duplicated(["query_id", "id"]).any():
        faults.append("repeated ids within a query")
    ok = (qpos >= 0) & (pos >= 0)
    qmat = np.stack([queries[int(q)] for q in qids]).astype(np.float64)
    qunit = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    true = np.einsum("ij,ij->i", oracle.unit[pos[ok]], qunit[qpos[ok]])
    bad = ~np.isclose(res.score.to_numpy()[ok], true, rtol=0, atol=tol)
    if bad.any():
        faults.append(f"{int(bad.sum())} scores differ from numpy cosine by more than {tol}")
    # within each query, in the order the rows came back
    by_q = res.sort_values("query_id", kind="stable")
    same = by_q.query_id.to_numpy()[1:] == by_q.query_id.to_numpy()[:-1]
    rising = np.diff(by_q.score.to_numpy()) > 0
    if (same & rising).any():
        faults.append("scores not descending within a query")
    return faults


def recall_at_k(res: pd.DataFrame, truth: dict, k: int = K) -> float:
    """Mean over the truth's queries of |returned ∩ true top-k| / k."""
    got = res.groupby("query_id").id.apply(set).to_dict()
    hits = [len(got.get(q, set()) & set(t[0][:k].tolist())) / k for q, t in truth.items()]
    return float(np.mean(hits))


def check_recall(res: pd.DataFrame, truth: dict, floor: float) -> tuple[float, list[str]]:
    r = recall_at_k(res, truth)
    return r, ([] if r >= floor else [f"recall@{K} {r:.4f} below {floor}"])


def check_graph(nodes: pd.DataFrame, input_ids, m: int) -> list[str]:
    """HNSW node-table invariants: one node per input row, ids unique and
    equal to the input ids, every neighbour in the node's own list, no
    self-loops, one adjacency per level and at most ``m`` neighbours at
    every level."""
    faults = []
    ids = nodes.id.to_numpy()
    if len(ids) != len(input_ids):
        faults.append(f"{len(ids)} nodes for {len(input_ids)} input rows")
    if len(set(ids.tolist())) != len(ids):
        faults.append("node ids repeat")
    if set(ids.tolist()) != set(int(i) for i in input_ids):
        faults.append("node ids differ from the input ids")
    for lid, grp in nodes.groupby("list_id", sort=False):
        members = set(grp.id.tolist())
        for nid, level, adj in zip(grp.id, grp.level, grp.neighbors):
            if len(adj) != int(level) + 1:
                faults.append(f"node {nid}: {len(adj)} adjacency levels for level {level}")
            for lvl, nb in enumerate(adj):
                nb = list(nb)
                if len(nb) > m:
                    faults.append(f"node {nid}: degree {len(nb)} > m={m} at level {lvl}")
                if nid in nb:
                    faults.append(f"node {nid}: self-loop at level {lvl}")
                missing = set(nb) - members
                if missing:
                    faults.append(
                        f"node {nid}: neighbours {sorted(missing)[:3]} not in list {lid}"
                    )
        if len(faults) > 20:
            break
    return faults


def canonical_nodes(nodes: pd.DataFrame) -> pd.DataFrame:
    """Node table in id order with array cells turned into tuples, so two
    collections of the same table compare equal."""
    out = nodes.sort_values("id", ignore_index=True)
    for c in out.columns:
        if pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
        elif out[c].dtype == object:
            out[c] = out[c].map(_freeze)
    return out[sorted(out.columns)]


def _freeze(x):
    if isinstance(x, (list, tuple, np.ndarray)):
        return tuple(_freeze(v) for v in x)
    return x


def check_roundtrip(before: pd.DataFrame, after: pd.DataFrame,
                    params_before: dict, params_after: dict) -> list[str]:
    """``load_index(save_index(x))`` keeps every row and every param."""
    faults = []
    a, b = canonical_nodes(before), canonical_nodes(after)
    if list(a.columns) != list(b.columns):
        faults.append(f"columns {list(a.columns)} != {list(b.columns)}")
    elif not a.equals(b):
        faults.append("node rows differ after the round trip")
    for key, val in params_before.items():
        if params_after.get(key) != val:
            faults.append(f"param {key}: {val!r} -> {params_after.get(key)!r}")
    return faults


def _normalized(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), ignore_index=True)


def check_oracle(got: pd.DataFrame, want: pd.DataFrame, tol: float = 1e-9) -> list[str]:
    """A registered query's collected output against its DuckDB oracle:
    the same row count and columns, and the same values once both sides
    are sorted by every column, floats within ``tol``."""
    if len(got) != len(want):
        return [f"{len(got)} rows, oracle {len(want)}"]
    g, w = _normalized(got), _normalized(want)
    if list(g.columns) != list(w.columns):
        return [f"columns {list(g.columns)} != oracle {list(w.columns)}"]
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]):
            a, b = g[c].to_numpy(), w[c].to_numpy(float)
            if not np.allclose(a, b, rtol=0, atol=tol, equal_nan=True):
                return [f"column {c} differs from the oracle by more than {tol}"]
        elif not g[c].astype(str).equals(w[c].astype(str)):
            return [f"column {c} differs from the oracle"]
    return []
