"""Product quantization (PQ): sub-vector codebook compression for the ANN
tier — the memory/IO step between int8 scalar quantization (4×) and raw
float32 that a 100 TB embedding corpus actually needs (m bytes per vector,
e.g. 64-dim float32 256 B → 8 B at m=8, a 32× reduction).

Recipe (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011 — the FAISS ``IVFPQ`` shape):

- **Train**: split the dimension into ``m`` subspaces; per subspace, k-means
  with ``2^nbits`` centers over a bounded driver-side training sample (the
  same deterministic hash sample as the IVF coarse quantizer,
  operators/ann.py:training_sample — sample size is fixed, so training cost
  is corpus-size-independent).
- **Encode**: one vectorized mapInPandas pass; each vector becomes ``m``
  uint8 code indices packed into a BINARY column (Arrow/parquet-friendly;
  no per-element array overhead).  Cosine corpora are L2-normalized BEFORE
  encoding, so the asymmetric inner product against a normalized query IS
  the approximate cosine — no stored norms needed at search time.
- **Search (ADC, asymmetric distance computation)**: per query, one
  ``m × 2^nbits`` table of subspace inner products; each candidate scores as
  ``Σ_j table[j, code_j]`` — table lookups and adds, never a decode back to
  floats.  Tables are built once per (query, Arrow batch) and amortize over
  every candidate row in the batch.

Role in the engine: ``build_ivf_index(store='pq')`` (operators/ann.py) keys
the inverted lists exactly as float32/int8 stores do — the coarse routing,
probe join, partition pruning, and top-k merge are unchanged; only the
payload shrinks from 4·d bytes to m bytes, which is what the probe join
shuffles and the scan reads.  Exactness is NOT the contract here (PQ is
lossy by design); quality is gated the reference's own way — recall@k vs
the exact operator (bench/README.md:108) — via the ``ann_ivfpq_recall``
registered query and the pinned tests.

Sizing m (VERDICT r10 #5, adjudicated by measurement — bench
``pq_adc_agreement_recorded`` and the ``adc_agreement_by_m`` bench axis):
ADC-ONLY serving needs ``m >= d/2`` at 8-bit codes (top-10 agreement vs
exact = 0.55 / 0.725 / 0.925 at m = 8 / 16 / 32 on the 64-dim fixture —
the committed ``adc_agreement_by_m`` axis); for smaller m the ADC pass is
a SHORTLIST, not a ranking — always pair it with
``rerank_with`` (agreement 1.0 at ~2× wall).  There is deliberately no
OPQ rotation knob: both the parametric (Ge et al., CVPR 2013) and the
iterative-Procrustes rotations were measured to improve reconstruction
error only marginally while moving top-k agreement NOWHERE outside noise
at serving shapes — the agreement bottleneck is quantization noise
against the tiny rank-10/11 score gap, which no orthogonal transform can
widen (bench ``pq_adc_agreement_recorded``).

The lever that DOES move agreement on clustered corpora is RESIDUAL
encoding (``build_ivf_index(store='pq', pq_residual=True)`` — the FAISS
IVFADC recipe, Jégou §IV; VERDICT r11 #3): quantize x − centroid[list]
instead of x, and add the exact q·centroid term back during ADC.  A
rotation re-shapes the variance; the residual REMOVES the part the
coarse quantizer already explains, so when n_lists resolves the corpus's
cluster structure the same m bytes quantize a much smaller signal
(measured: bench ``pq_residual_agreement_recorded`` and the pinned
clustered test — full-probe recall 0.735 → 0.870 at m=8 on the
128-cluster fixture;
a wash when n_lists ≪ cluster count, slightly NEGATIVE on uniform
corpora, hence default off).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnsw_spark.operators.ann import (
    _kmeans_numpy,
    _normalize_rows,
    nearest_lists,
    training_sample,
)


def _residual_cents(centroids: np.ndarray) -> np.ndarray:
    """The ONE centroid matrix every residual-PQ site (train subtraction,
    encode subtraction, ADC coarse term) must share: normalized rows, the
    same convention ``nearest_lists`` routes by for cosine — a different
    matrix at any site would silently skew every score."""
    return _normalize_rows(np.asarray(centroids, dtype=np.float64))


def train_pq_codebooks(
    base: DataFrame,
    m: int = 8,
    nbits: int = 8,
    metric: str = "cosine",
    seed: int = 42,
    max_iter: int = 10,
    sample_size: int = 65536,
    id_col: str = "id",
    vec_col: str = "vector",
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Train per-subspace codebooks → array (m, 2^nbits, d/m) float64.

    The dimension must divide evenly into ``m`` subspaces (FAISS requires
    the same).  Cosine training normalizes the sample first so codebooks
    live on the same sphere the encoded vectors will.

    ``centroids`` switches on RESIDUAL training — the actual FAISS IVFADC
    recipe (Jégou et al. 2011 §IV, VERDICT r11 #3): each sample row is
    replaced by its residual against its nearest coarse centroid before
    sub-quantizer training.  On clustered corpora the residual variance is
    far smaller than the raw-vector variance (the coarse quantizer has
    already absorbed the cluster structure), so the same m bytes quantize
    much finer — attacking exactly the quantization-noise-vs-rank-gap
    bottleneck the OPQ probe showed rotations cannot move.  The codebooks
    are shared across lists (standard IVFADC), so ADC search still builds
    ONE table per query plus a per-list additive constant."""
    if centroids is not None and metric != "cosine":
        raise ValueError(
            "residual PQ training requires metric='cosine': residuals are "
            f"taken against normalized centroids (got {metric!r}); mirror "
            "of adc_score's early rejection"
        )
    ksub = 1 << nbits
    raw = training_sample(
        base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector")),
        sample_size,
        seed,
    )
    d = raw.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible into m={m} subspaces")
    x = _normalize_rows(raw) if metric == "cosine" else raw
    if centroids is not None:
        # nearest_lists normalizes ``raw`` exactly as above, so each row's
        # residual is taken against the list assign_lists gives it
        lists = nearest_lists(raw, centroids, metric)[:, 0]
        x = x - _residual_cents(centroids)[lists]
    dsub = d // m
    books = []
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        c = _kmeans_numpy(sub, ksub, seed + j, max_iter, spherical=False)
        if c.shape[0] < ksub:  # tiny sample: pad by repeating (stable codes)
            c = np.vstack([c] * ((ksub + c.shape[0] - 1) // c.shape[0]))[:ksub]
        books.append(c)
    return np.stack(books)  # (m, ksub, dsub)


def _encode_mat(x: np.ndarray, books: np.ndarray, normalize: bool) -> np.ndarray:
    """(n, d) float → (n, m) uint8 code matrix."""
    if normalize:
        with np.errstate(divide="ignore", invalid="ignore"):
            x = np.nan_to_num(
                x / np.linalg.norm(x, axis=1, keepdims=True), nan=0.0
            )
    m, _, dsub = books.shape
    codes = np.empty((x.shape[0], m), dtype=np.uint8)
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        c = books[j]
        # argmin ||sub - c||² = argmax (sub·c − ½|c|²)
        codes[:, j] = np.argmax(sub @ c.T - 0.5 * (c * c).sum(1), axis=1)
    return codes


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "vector",
    extra_cols: tuple[str, ...] = (),
    centroids: np.ndarray | None = None,
    list_col: str = "list_id",
) -> DataFrame:
    """Encode every vector into its m-byte PQ code (BINARY column) in one
    vectorized mapInPandas pass → (id, codes[, extra…]).  Codebooks ride as
    a broadcast, never per-row.

    With ``centroids`` (residual PQ — IVFADC), each normalized vector's
    assigned coarse centroid (``list_col``, already computed by
    ``assign_lists``) is subtracted before encoding: codes quantize the
    residual, and ADC adds the exact ``q·centroid[list]`` term back at
    search time.  The centroid matrix broadcasts with the codebooks; the
    pass stays one Arrow-batched scan."""
    if centroids is not None and metric != "cosine":
        raise ValueError(
            "residual PQ encoding requires metric='cosine': the coarse "
            f"assignment convention is cosine-only (got {metric!r})"
        )
    bcast = df.sparkSession.sparkContext.broadcast(
        (codebooks, _residual_cents(centroids) if centroids is not None else None)
    )
    normalize = metric == "cosine"
    cols = [id_col, vec_col, *extra_cols]
    if centroids is not None and list_col not in cols:
        cols.append(list_col)
    src = df.select(*cols)
    extra_schema = "".join(
        f", {name} {df.schema[name].dataType.simpleString()}"
        for name in extra_cols
    )

    def encode(batches):
        import pandas as pd

        books, cents = bcast.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if cents is not None:
                if normalize:
                    with np.errstate(divide="ignore", invalid="ignore"):
                        x = np.nan_to_num(
                            x / np.linalg.norm(x, axis=1, keepdims=True),
                            nan=0.0,
                        )
                x = x - cents[pdf[list_col].to_numpy().astype(np.int64)]
                codes = _encode_mat(x, books, normalize=False)
            else:
                codes = _encode_mat(x, books, normalize)
            out = {
                id_col: pdf[id_col],
                "codes": [c.tobytes() for c in codes],
            }
            for name in extra_cols:
                out[name] = pdf[name]
            yield pd.DataFrame(out)

    return src.mapInPandas(
        encode, schema=f"{id_col} long, codes binary{extra_schema}"
    )


def pq_reconstruct(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Decode an (n, m) uint8 code matrix back to (n, d) float64 — the
    test/debug path; search never reconstructs (ADC scores via tables)."""
    m, _, dsub = codebooks.shape
    out = np.empty((codes.shape[0], m * dsub))
    for j in range(m):
        out[:, j * dsub : (j + 1) * dsub] = codebooks[j][codes[:, j]]
    return out


def adc_score(
    cand: DataFrame,
    codebooks: np.ndarray,
    metric: str = "cosine",
    query_vec: str = "qvec",
    centroids: np.ndarray | None = None,
    list_col: str = "list_id",
) -> DataFrame:
    """Score (query_id, id, codes, qvec) candidate rows by asymmetric
    distance: per Arrow batch, one inner-product table per distinct query,
    then a fancy-indexed gather per candidate — no reconstruction, no
    per-row Python.  Returns (query_id, id, score); for cosine the score is
    the approximate cosine (query normalized, corpus encoded normalized).

    With ``centroids`` (residual PQ — IVFADC), codes quantize residuals,
    so the score decomposes as q·x ≈ q·centroid[list] + q·residual̂: the
    residual term is the SAME one-table-per-query gather (codebooks are
    shared across lists), and the coarse term is one q·centroids matmul
    per distinct query gathered by each candidate's ``list_col`` — exact,
    so the lossy part of the score is only the residual."""
    if metric != "cosine":
        raise ValueError(f"adc_score supports cosine only, got {metric!r}")
    bcast = cand.sparkSession.sparkContext.broadcast(
        (codebooks, _residual_cents(centroids) if centroids is not None else None)
    )
    sel = ["query_id", "id", "codes", F.col(query_vec).alias("qv")]
    if centroids is not None:
        sel.append(F.col(list_col).alias("_lid"))
    src = cand.select(*sel)

    def score(batches):
        import pandas as pd

        books, cents = bcast.value
        m, ksub, dsub = books.shape
        flat = books.reshape(m * ksub, dsub)
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.frombuffer(
                b"".join(pdf["codes"].to_numpy()), dtype=np.uint8
            ).reshape(len(pdf), m)
            offs = np.arange(m, dtype=np.int64) * ksub
            scores = np.empty(len(pdf))
            # one table per distinct query in the batch, amortized over all
            # of its candidate rows via a single gather+sum
            qids = pdf["query_id"].to_numpy()
            lids = (
                pdf["_lid"].to_numpy().astype(np.int64)
                if cents is not None
                else None
            )
            for qid in np.unique(qids):
                mask = qids == qid
                q = np.asarray(
                    pdf["qv"].to_numpy()[mask.argmax()], dtype=np.float64
                )
                qn = q / max(np.linalg.norm(q), 1e-30)
                # (m*ksub,) table: subspace inner products against every center
                table = (flat * qn.reshape(m, dsub).repeat(ksub, 0)).sum(1)
                scores[mask] = table[codes[mask] + offs].sum(1)
                if cents is not None:
                    # exact coarse term: q·centroid gathered per candidate
                    scores[mask] += (cents @ qn)[lids[mask]]
            yield pd.DataFrame(
                {"query_id": qids, "id": pdf["id"], "score": scores}
            )

    return src.mapInPandas(score, schema="query_id long, id long, score double")
