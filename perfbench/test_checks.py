"""The benchmark's own checks must flag planted faults.

    python3 -m pytest perfbench/test_checks.py -q

No Spark: each test builds a correct output with numpy, plants one fault
and asserts the check reports it (and that the clean output passes).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
from inputs import Mixture, rng_for  # noqa: E402

K = checks.K


@pytest.fixture(scope="module")
def corpus():
    mix = Mixture(7)
    base = mix.draw(rng_for(7, "corpus"), 500)
    qs = mix.draw(rng_for(7, "queries"), 20)
    ids = np.arange(500, dtype=np.int64)
    qids = 10_000 + np.arange(20, dtype=np.int64)
    oracle = checks.ExactTopK(ids, base)
    truth = oracle.topk(qids, qs)
    queries = {int(q): v for q, v in zip(qids, qs)}
    return oracle, truth, queries


def exact_result(truth) -> pd.DataFrame:
    rows = [(q, int(i), float(s)) for q, (ids, sc) in truth.items() for i, s in zip(ids, sc)]
    return pd.DataFrame(rows, columns=["query_id", "id", "score"])


def test_clean_outputs_pass(corpus):
    oracle, truth, queries = corpus
    res = exact_result(truth)
    assert checks.check_exact(res, truth, oracle, queries) == []
    assert checks.check_contract(res, oracle, queries) == []
    assert checks.check_recall(res, truth, 0.99) == (1.0, [])


def test_wrong_id_is_flagged(corpus):
    oracle, truth, queries = corpus
    res = exact_result(truth)
    q = res.query_id.iloc[0]
    outside = next(i for i in oracle.ids if i not in set(res[res.query_id == q].id))
    res.loc[0, "id"] = outside
    assert checks.check_exact(res, truth, oracle, queries)
    assert checks.check_contract(res, oracle, queries)  # score no longer matches


def test_id_outside_corpus_is_flagged(corpus):
    oracle, truth, queries = corpus
    res = exact_result(truth)
    res.loc[3, "id"] = 99_999
    assert any("not in the corpus" in f for f in checks.check_contract(res, oracle, queries))


def test_wrong_score_is_flagged(corpus):
    oracle, truth, queries = corpus
    res = exact_result(truth)
    res.loc[4, "score"] += 1e-6  # beyond the exact tier's 1e-9
    assert checks.check_exact(res, truth, oracle, queries)
    res.loc[4, "score"] += 1e-3  # beyond the approximate tiers' 1e-6
    assert checks.check_contract(res, oracle, queries)


def test_wrong_order_is_flagged(corpus):
    oracle, truth, queries = corpus
    res = exact_result(truth)
    res.iloc[[0, K - 1]] = res.iloc[[K - 1, 0]].to_numpy()
    faults = checks.check_contract(res, oracle, queries)
    assert any("not descending" in f for f in faults)


def test_repeated_id_and_too_many_rows_are_flagged(corpus):
    oracle, truth, queries = corpus
    res = exact_result(truth)
    extra = res.iloc[[0]]
    faults = checks.check_contract(pd.concat([extra, res], ignore_index=True), oracle, queries)
    assert any("repeated ids" in f for f in faults)
    assert any("more than k=" in f for f in faults)


def test_recall_drop_is_flagged(corpus):
    oracle, truth, queries = corpus
    res = exact_result(truth)
    # keep only the first 8 of each query's 10 true neighbours: recall 0.8
    res = res.groupby("query_id").head(8)
    recall, faults = checks.check_recall(res, truth, 0.9)
    assert recall == pytest.approx(0.8)
    assert faults
    assert checks.check_contract(res, oracle, queries) == []  # still a valid result


def test_tied_kth_score_may_swap_ids(corpus):
    oracle, _, queries = corpus
    # two corpus rows with identical vectors tie everywhere
    vecs = oracle.unit.copy()
    vecs[1] = vecs[0]
    tied = checks.ExactTopK(oracle.ids, vecs)
    q = {0: vecs[0] + 1e-3 * vecs[2]}
    truth = tied.topk(np.array([0]), q[0][None, :], k=1)
    other = 1 - int(truth[0][0][0])
    res = pd.DataFrame([(0, other, float(truth[0][1][0]))], columns=["query_id", "id", "score"])
    assert checks.check_exact(res, truth, tied, q) == []


def graph_nodes(m: int = 3) -> pd.DataFrame:
    """A small valid two-list node table: a ring of degree 2 in each list."""
    rows = []
    for lid, ids in ((0, [0, 1, 2, 3]), (1, [4, 5, 6])):
        for j, nid in enumerate(ids):
            ring = [ids[(j + 1) % len(ids)], ids[(j - 1) % len(ids)]]
            level = 1 if j == 0 else 0
            adj = [ring] + ([[ids[1]]] if level else [])
            rows.append((lid, nid, level, adj))
    return pd.DataFrame(rows, columns=["list_id", "id", "level", "neighbors"])


def test_clean_graph_passes():
    assert checks.check_graph(graph_nodes(), range(7), m=3) == []


def test_edge_to_missing_node_is_flagged():
    nodes = graph_nodes()
    nodes.at[2, "neighbors"] = [[3, 42]]
    assert any("not in list" in f for f in checks.check_graph(nodes, range(7), m=3))


def test_edge_across_lists_is_flagged():
    nodes = graph_nodes()
    nodes.at[2, "neighbors"] = [[3, 5]]
    assert any("not in list" in f for f in checks.check_graph(nodes, range(7), m=3))


def test_self_loop_degree_and_count_are_flagged():
    nodes = graph_nodes()
    nodes.at[1, "neighbors"] = [[1, 2]]
    assert any("self-loop" in f for f in checks.check_graph(nodes, range(7), m=3))
    nodes = graph_nodes()
    nodes.at[1, "neighbors"] = [[0, 2, 3]]
    assert any("degree" in f for f in checks.check_graph(nodes, range(7), m=2))
    assert checks.check_graph(graph_nodes().iloc[1:], range(7), m=3)


def test_roundtrip_changes_are_flagged():
    nodes = graph_nodes()
    params = {"m": 3, "ef_construction": 32}
    # a reload reads list_id back as a narrower integer: not a change
    reloaded = nodes.astype({"list_id": "int32"}).sample(frac=1, random_state=0)
    assert checks.check_roundtrip(nodes, reloaded, params, dict(params, n_vectors=7)) == []
    lost = nodes.copy()
    lost.at[0, "neighbors"] = [[1], [1]]
    assert checks.check_roundtrip(nodes, lost, params, params)
    assert checks.check_roundtrip(nodes, nodes, params, {"m": 4, "ef_construction": 32})


def oracle_output() -> pd.DataFrame:
    return pd.DataFrame({
        "query_id": np.array([0, 0, 1], dtype=np.int64),
        "id": np.array([5, 7, 2], dtype=np.int64),
        "score": [0.91, 0.87, 0.5],
        "tag": ["a", "b", "c"],
    })


def test_clean_oracle_output_passes():
    want = oracle_output()
    # another row and column order, narrower ints, floats within 1e-9
    got = want.iloc[::-1][["tag", "score", "id", "query_id"]].astype({"id": "int32"})
    got["score"] += 1e-12
    assert checks.check_oracle(got, want) == []


def test_oracle_mismatch_is_flagged():
    want = oracle_output()
    for plant in (
        lambda d: d.assign(score=d.score + np.array([0, 1e-6, 0])),  # float beyond 1e-9
        lambda d: d.assign(id=np.array([5, 8, 2])),                   # wrong value
        lambda d: d.assign(tag=["a", "b", "x"]),                      # wrong string
        lambda d: d.iloc[:2],                                         # lost row
        lambda d: pd.concat([d, d.iloc[:1]]),                         # extra row
        lambda d: d.rename(columns={"tag": "label"}),                 # wrong column
    ):
        assert checks.check_oracle(plant(want.copy()), want)
