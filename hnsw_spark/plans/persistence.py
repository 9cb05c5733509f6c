"""Index persistence: Parquet node table + JSON params sidecar.

Parity targets (reference src/db.ts + src/main.ts:322-362):
- save = whole-index overwrite (IndexedDB single-key put, src/db.ts:54-60)
  → ``mode('overwrite')`` parquet write, partitioned by list_id so probed
  searches prune partitions at scan time.
- load-if-exists: a missing index is a silent no-op and subsequent queries
  return empty results (src/db.ts:72-74 + src/main.ts:258-260) → ``load``
  returns None when nothing was saved; callers treat None as empty.
- deserialization defaults (src/main.ts:349-362): ``metric`` defaults to
  'cosine', search width defaults to the build-time width (efSearch ←
  efConstruction; here default_n_probe ← n_lists // 4).
- delete = drop + recreate-empty (src/db.ts:92-100) → remove the directory.
"""

from __future__ import annotations

import json
import os
import shutil
from urllib.parse import unquote, urlparse

import numpy as np
from pyspark.sql import SparkSession

from hnsw_spark.operators.ann import IVFIndex


def save_index(index, path: str) -> None:
    """Persist an IVFIndex or HNSWIndex: node table partitioned by list_id
    (probe-time partition pruning) + params sidecar with a ``kind`` tag.

    The sidecar is the commit marker: an existing one is removed before the
    node table is overwritten, and the new one is written under a temporary
    name and renamed into place last.  A crash in between leaves no sidecar,
    so ``load_index`` reports the index absent instead of pairing the new
    nodes with stale centroids, ``n_vectors`` or ``sub_ids``.

    A node table that still reads from ``path/nodes`` (a loaded index,
    grown but not checkpointed or cached) is refused up front with a
    ``ValueError``: Spark's overwrite would delete the files it reads, and
    the old index would be lost with the failed write."""
    from hnsw_spark.operators.hnsw_graph import HNSWIndex

    nodes = os.path.join(path, "nodes")
    sidecar = os.path.join(path, "params.json")
    root = os.path.abspath(nodes) + os.sep
    if any(
        os.path.abspath(unquote(urlparse(f).path)).startswith(root)
        for f in index.index_df.inputFiles()
    ):
        raise ValueError(
            f"cannot save over {path}: the node table reads from {nodes}; "
            "localCheckpoint() or cache it first"
        )
    if os.path.exists(sidecar):
        os.remove(sidecar)
    index.index_df.write.mode("overwrite").partitionBy("list_id").parquet(nodes)
    params = {
        "kind": "hnsw" if isinstance(index, HNSWIndex) else "ivf",
        "metric": index.metric,
        "n_lists": int(index.n_lists),
        "centroids": index.centroids.tolist(),
        **{k: v for k, v in index.params.items() if k != "centroids"},
    }
    # PQ codebooks are a numpy tensor — JSON round-trip as nested lists
    if isinstance(params.get("pq_codebooks"), np.ndarray):
        params["pq_codebooks"] = params["pq_codebooks"].tolist()
    if "sub_id" in index.index_df.columns and "sub_ids" not in params:
        # Salted fan-out map computed at publish time: the set of non-empty
        # sub-lists, read from the JUST-WRITTEN files (a column-pruned scan —
        # never a second evaluation of whatever pipeline produced the node
        # table).  Loaded indexes then search without re-deriving the map
        # from the node table (hnsw_graph.HNSWIndex.search's params fast
        # path); a NULL sub_id anywhere disables the map so the search-side
        # distinct fallback keeps grouping those rows exactly as before.
        # Size-capped like add_points' literal split (_TOUCHED_ISIN_CAP,
        # ADVICE r13 #1): a heavily salted index (many lists × many salts)
        # would otherwise embed an unbounded literal map in params.json AND
        # collect it to the driver here; past the cap we skip the map and
        # large indexes use the search-side distinct-derived fallback.
        from hnsw_spark.operators.hnsw_graph import _TOUCHED_ISIN_CAP

        spark = index.index_df.sparkSession
        subs = [
            r["sub_id"]
            for r in spark.read.parquet(nodes)
            .select("sub_id")
            .distinct()
            .limit(_TOUCHED_ISIN_CAP + 1)
            .collect()
        ]
        if len(subs) <= _TOUCHED_ISIN_CAP and all(s is not None for s in subs):
            params["sub_ids"] = sorted(int(s) for s in subs)
    if "n_vectors" not in params:
        # Publish-time corpus size: a count over the just-written files is a
        # parquet-footer metadata job, and it lets a LOADED index route the
        # auto-dispatch crossover without paying a full-index persist+count
        # inside the first search of every serving session
        # (hnsw_graph.HNSWIndex.search sizing memo).
        spark = index.index_df.sparkSession
        params["n_vectors"] = spark.read.parquet(nodes).count()
    tmp = sidecar + ".tmp"
    with open(tmp, "w") as f:
        json.dump(params, f)
    os.replace(tmp, sidecar)


def load_index(spark: SparkSession, path: str):
    """None when absent (load-if-exists semantics, src/db.ts:72-74);
    ``kind`` defaults to 'ivf' for indexes saved before the tag existed."""
    from hnsw_spark.operators.hnsw_graph import HNSWIndex

    sidecar = os.path.join(path, "params.json")
    if not os.path.exists(sidecar):
        return None
    with open(sidecar) as f:
        params = json.load(f)
    centroids = np.asarray(params.pop("centroids"), dtype=np.float64)
    if "pq_codebooks" in params:
        params["pq_codebooks"] = np.asarray(
            params["pq_codebooks"], dtype=np.float64
        )
    metric = params.pop("metric", "cosine")  # back-compat default (main.ts:357)
    kind = params.pop("kind", "ivf")
    index_df = spark.read.parquet(os.path.join(path, "nodes"))
    cls = HNSWIndex if kind == "hnsw" else IVFIndex
    return cls(index_df, centroids, metric, params)


def delete_index(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
