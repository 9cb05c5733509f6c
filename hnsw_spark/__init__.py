"""hnsw_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference ``deepfates/hnsw`` vector-search
library, re-expressed Spark-first.

The reference (see SURVEY.md) is an in-memory HNSW approximate-nearest-neighbor
engine.  This package provides the same capability surface as distributed
DataFrame programs:

- ``functions.similarity``  — dot / cosine / euclidean kernels as Catalyst
  column builders (reference: src/similarity.ts).
- ``operators.knn``         — exact brute-force top-k (the reference's oracle,
  src/bench/metrics.ts:9-24) and batch kNN query semantics (src/main.ts:253-283).
- ``operators.ann``         — the approximate tier: IVF-partitioned index build
  + nProbe-routed search (the Spark-native analogue of the HNSW layer
  hierarchy, src/main.ts:202-229).
- ``operators.hnsw_graph``  — the reference's namesake algorithm itself:
  per-list HNSW graphs built inside applyInPandas (level sampling, diversity
  heuristic, reciprocal pruning), greedy-descent + ef-bounded beam search
  (src/main.ts:71-129, 202-317).
- ``operators.validate``    — ingest guards: dimension consistency and
  duplicate-id rejection (src/main.ts:234-248).
- ``plans.sweep`` / ``plans.layout`` — benchmark grid sweeps with JSON/CSV
  sinks (src/bench/run.ts), bucketed co-located joins, skew salting.
- ``operators.evaluation``  — recall@k, micro-averaged mean recall, floor-index
  percentiles, latency summaries, A/B diff reports (src/bench/metrics.ts,
  src/bench/report.ts).
- ``operators.dedup`` / ``functions.text`` — large-scale training-data pipeline
  operators (exact/MinHash/SimHash/n-gram dedup, language id, quality scores).
- ``operators.curation``    — keep/drop curation pipeline, deterministic
  stratified sampling, vocab/TF-IDF statistics, feature-hashing embeddings.
- ``operators.temporal``    — as-of (backward) join via union+window.
- ``operators.components``  — connected-components closure of the dedup
  ladder (min-label propagation + pointer jumping).
- ``operators.contamination`` / ``operators.packing`` / ``functions.pii`` —
  the write side of a training run: benchmark decontamination, sequence
  packing + deterministic sharding + global shuffle order, PII scrubbing,
  mixture materialization (``operators.curation.apply_mixing``).
- ``operators.retrieval``   — Okapi BM25 and hybrid reciprocal-rank fusion.
- ``operators.upsert`` / ``plans.matview`` — lakehouse maintenance: latest-wins
  CDC merge compaction; materialized-view navigation over mergeable summaries.
- ``sources.jsonl`` / ``sources.metadata`` / ``sources.bucketed`` /
  ``functions.zorder`` — raw-corpus landing (corrupt-record quarantine),
  parquet footer manifests for row-group pruning, bucketed zero-exchange
  joins, Z-order multi-dimensional layout.
- ``streaming.alerts`` / ``streaming.trending`` — hysteresis threshold
  alerting (GroupState) and continuous trending top-N (foreachBatch rank).
- ``operators.pq``          — product quantization (PQ codes, ADC search).
- ``operators.profile``     — single-pass ANALYZE-style dataset profiling
  (exact or HyperLogLog distinct).
- ``operators.multimodal``  — binary media columns: Arrow-batched decode →
  feature vectors, frame sampling, scene-cut detection (codec stubbed,
  plumbing real).
- ``functions.quantize``    — int8 symmetric embedding quantization.
- ``sources``               — fvecs/ivecs decoders, seeded synthetic vectors,
  fixture table loaders (src/bench/dataset.ts).
- ``plans.persistence``     — index save/load with overwrite + load-if-exists
  semantics (src/db.ts).
- ``streaming``             — incremental ingest / windowed aggregation /
  stateful gap sessionization / continuous corpus dedup
  (the streaming scan S4 and addPoint B2 paths, extended).
"""

__version__ = "0.1.0"

from hnsw_spark import zipcache as _zipcache  # noqa: E402

# inside a PySpark worker only: skip the per-task re-read of unchanged zip
# archives (see hnsw_spark/zipcache.py); the driver is left untouched
if _zipcache.in_pyspark_worker():
    _zipcache.install()

from hnsw_spark.functions.similarity import (  # noqa: E402
    cosine_similarity,
    dot_product,
    euclidean_distance,
    euclidean_similarity,
    get_metric,
    l2_norm,
)
from hnsw_spark.operators.ann import IVFIndex, build_ivf_index  # noqa: E402
from hnsw_spark.operators.hnsw_graph import (  # noqa: E402
    HNSWIndex,
    add_points,
    build_hnsw_index,
    merge_hnsw_indexes,
)
from hnsw_spark.streaming.features import (  # noqa: E402
    StreamingTrailingFeatures,
)
from hnsw_spark.operators.curation import (  # noqa: E402
    curation_flags,
    feature_hash_embeddings,
    stratified_sample,
    tfidf_top_terms,
    vocab_stats,
)
from hnsw_spark.operators.components import dedup_clusters  # noqa: E402
from hnsw_spark.operators.contamination import (  # noqa: E402
    contamination_flags,
)
from hnsw_spark.operators.curation import (  # noqa: E402
    apply_mixing,
    mixing_weights,
    pipeline_attrition,
    quality_classifier,
    unigram_logprob,
)
from hnsw_spark.operators.dedup import (  # noqa: E402
    embedding_neardup,
    exact_dedup,
    incremental_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_neardup_pairs,
)
from hnsw_spark.operators.packing import (  # noqa: E402
    assign_shards,
    global_shuffle,
    pack_sequences,
    write_shards,
)
from hnsw_spark.operators.profile import table_profile  # noqa: E402
from hnsw_spark.operators.retrieval import (  # noqa: E402
    bm25_scores,
    rrf_fuse,
)
from hnsw_spark.functions.pii import pii_counts, redact_pii  # noqa: E402
from hnsw_spark.operators.knn import (  # noqa: E402
    knn_exact,
    knn_hamming_rerank,
    mutual_knn_pairs,
)
from hnsw_spark.operators.temporal import (  # noqa: E402
    asof_join,
    interval_join,
    recency_weighted_scores,
)
from hnsw_spark.operators.curation import token_budget_select  # noqa: E402
from hnsw_spark.operators.curation import dsir_select  # noqa: E402
from hnsw_spark.operators.bloom import bloom_build, bloom_prune  # noqa: E402
from hnsw_spark.operators.graph_stats import k_core, triangle_stats  # noqa: E402
from hnsw_spark.operators.sketches import (  # noqa: E402
    hll_estimate,
    hll_estimate_by,
    hll_registers,
)
from hnsw_spark.operators.dedup import jaccard_prefix_pairs  # noqa: E402
from hnsw_spark.operators.sketches import (  # noqa: E402,F811
    count_min_counters,
    count_min_estimate,
)
from hnsw_spark.operators.retrieval import diversify_mmr  # noqa: E402
from hnsw_spark.operators.upsert import upsert_latest  # noqa: E402
from hnsw_spark.operators.profile import skew_report  # noqa: E402
from hnsw_spark.operators.packing import (  # noqa: E402,F811
    sorted_export,
    sorted_export_gate,
)
from hnsw_spark.functions.zorder import write_zordered, z_value  # noqa: E402
from hnsw_spark.functions.quantize import (  # noqa: E402,F811
    binarize,
    hamming_distance,
)
from hnsw_spark.sources.jsonl import read_jsonl, split_corrupt  # noqa: E402
from hnsw_spark.sources.metadata import rowgroup_stats  # noqa: E402
from hnsw_spark.sources.bucketed import bucketed_join, write_bucketed  # noqa: E402
from hnsw_spark.streaming.alerts import (  # noqa: E402
    stream_threshold_alerts,
    threshold_alerts,
)
from hnsw_spark.plans.matview import MatviewCatalog  # noqa: E402
from hnsw_spark.operators.validate import validate_vectors  # noqa: E402
from hnsw_spark.functions.quantize import (  # noqa: E402
    dequantize,
    quant_scale,
    quantize,
)
from hnsw_spark.plans.persistence import (  # noqa: E402
    delete_index,
    load_index,
    save_index,
)
from hnsw_spark.plans.cachereg import release_caches  # noqa: E402

__all__ = [
    "release_caches",
    "dot_product",
    "cosine_similarity",
    "euclidean_distance",
    "euclidean_similarity",
    "l2_norm",
    "get_metric",
    "knn_exact",
    "build_ivf_index",
    "IVFIndex",
    "build_hnsw_index",
    "add_points",
    "merge_hnsw_indexes",
    "StreamingTrailingFeatures",
    "HNSWIndex",
    "validate_vectors",
    "save_index",
    "load_index",
    "delete_index",
    "exact_dedup",
    "incremental_dedup",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "simhash",
    "simhash_neardup_pairs",
    "embedding_neardup",
    "dedup_clusters",
    "curation_flags",
    "stratified_sample",
    "vocab_stats",
    "tfidf_top_terms",
    "feature_hash_embeddings",
    "unigram_logprob",
    "pipeline_attrition",
    "quality_classifier",
    "mixing_weights",
    "apply_mixing",
    "contamination_flags",
    "assign_shards",
    "write_shards",
    "pack_sequences",
    "global_shuffle",
    "table_profile",
    "bm25_scores",
    "rrf_fuse",
    "pii_counts",
    "redact_pii",
    "asof_join",
    "quant_scale",
    "quantize",
    "dequantize",
    "knn_hamming_rerank",
    "mutual_knn_pairs",
    "interval_join",
    "recency_weighted_scores",
    "token_budget_select",
    "dsir_select",
    "bloom_build",
    "bloom_prune",
    "triangle_stats",
    "k_core",
    "hll_estimate",
    "hll_registers",
    "hll_estimate_by",
    "jaccard_prefix_pairs",
    "count_min_counters",
    "count_min_estimate",
    "diversify_mmr",
    "upsert_latest",
    "skew_report",
    "sorted_export",
    "sorted_export_gate",
    "write_zordered",
    "z_value",
    "binarize",
    "hamming_distance",
    "read_jsonl",
    "split_corrupt",
    "rowgroup_stats",
    "bucketed_join",
    "write_bucketed",
    "stream_threshold_alerts",
    "threshold_alerts",
    "MatviewCatalog",
]
