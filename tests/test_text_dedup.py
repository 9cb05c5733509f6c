"""Unit tests for text-analysis and dedup operators on planted fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hnsw_spark.functions.text import lang_id, shingles, words
from hnsw_spark.operators.dedup import (
    embedding_neardup,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_neardup_pairs,
)

pytestmark = pytest.mark.slow  # heavy parity/property module (see pytest.ini)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([("one two",)], "text string")
    row = df.select(shingles("text", 3).alias("s"), words("text").alias("w")).first()
    assert row.s == []
    assert row.w == ["one", "two"]


def test_exact_dedup_groups_normalized_copies(spark):
    d = _docs(
        spark,
        ["Hello   World", "hello world", "HELLO\tWORLD", "something else"],
    )
    res = {r.canonical_id: r for r in exact_dedup(d).collect()}
    assert res[0].n_copies == 3  # three whitespace/case variants collapse
    assert res[3].n_copies == 1


def test_ngram_jaccard_identical_docs(spark):
    d = _docs(spark, ["a b c d e", "a b c d e", "x y z w q"])
    pairs = ngram_jaccard_pairs(d, n=2).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.id_a, p.id_b) == (0, 1)
    assert p.jaccard == pytest.approx(1.0)


def test_minhash_identical_signatures_and_lsh_recovers_pair(spark):
    near_a = "the quick brown fox jumps over the lazy dog again and again"
    near_b = "the quick brown fox jumps over the lazy dog again and once"
    other = "completely different words about spark engines and columns here"
    d = _docs(spark, [near_a, near_b, other])
    sig = {r.id: r for r in minhash_signatures(d, num_perm=16).collect()}
    same = sum(sig[0][f"m{i}"] == sig[1][f"m{i}"] for i in range(16))
    diff = sum(sig[0][f"m{i}"] == sig[2][f"m{i}"] for i in range(16))
    assert same > diff  # signature similarity tracks Jaccard
    pairs = lsh_candidate_pairs(d, num_perm=16, bands=8).collect()
    assert any((p.id_a, p.id_b) == (0, 1) for p in pairs)
    assert not any({p.id_a, p.id_b} == {0, 2} for p in pairs)


def test_simhash_identical_docs_equal_fingerprint(spark):
    d = _docs(spark, ["alpha beta gamma", "alpha  BETA gamma", "unrelated tokens xyz"])
    s = {r.id: r.simhash for r in simhash(d, bits=16).collect()}
    assert s[0] == s[1]
    assert s[0] != s[2]
    assert 0 <= s[0] < 2**16


def test_embedding_neardup_threshold(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0]),     # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = embedding_neardup(df, threshold=0.9).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def test_simhash_neardup_banding_is_exact(spark):
    """For max_hamming < bands the banded candidate join must reproduce the
    brute-force all-pairs hamming result exactly (pigeonhole guarantee)."""
    texts = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon eta",      # near-dup of 0
        "alpha beta gamma delta epsilon zeta",     # exact dup of 0
        "totally different words appear here now",
        "some other unrelated document text body",
    ]
    d = _docs(spark, texts)
    got = {
        (p.id_a, p.id_b): p.hamming
        for p in simhash_neardup_pairs(
            d, bits=16, bands=4, max_hamming=3, max_bucket=None
        ).collect()
    }
    fps = {r.id: r.simhash for r in simhash(d, bits=16).collect()}
    want = {
        (i, j): bin(fps[i] ^ fps[j]).count("1")
        for i in fps
        for j in fps
        if i < j and bin(fps[i] ^ fps[j]).count("1") <= 3
    }
    assert got == want
    assert got[(0, 2)] == 0  # exact dup

    with pytest.raises(ValueError):
        simhash_neardup_pairs(d, bits=16, bands=4, max_hamming=4)


def test_simhash_neardup_max_bucket_guard(spark):
    """Identical docs all land in the same band buckets; a cap of 1 removes
    those buckets entirely, so no pairs survive — the anti-quadratic guard."""
    d = _docs(spark, ["same words here"] * 6)
    assert (
        simhash_neardup_pairs(d, max_bucket=1).collect() == []
    )
    full = simhash_neardup_pairs(d, max_bucket=None).collect()
    assert len(full) == 15 and all(p.hamming == 0 for p in full)


def test_embedding_neardup_zero_norm_never_pairs(spark):
    """Spark orders NaN above every double, so an unguarded `cosine >= τ`
    would keep zero-norm pairs the IVF BLAS path and the SQL oracle (0/0 →
    NULL) drop.  All paths must agree: a zero vector pairs with nothing."""
    from hnsw_spark.operators.ann import ivf_self_join

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # zero norm: cosine undefined vs everything
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    brute = {
        (p.id_a, p.id_b)
        for p in embedding_neardup(df, threshold=0.9, strategy="brute").collect()
    }
    assert brute == {(1, 2)}
    full = {
        (p.id_a, p.id_b)
        for p in ivf_self_join(df, threshold=0.9, n_lists=2, n_probe=2).collect()
    }
    assert full == brute


def test_ngram_jaccard_asymmetric_probe_with_larger_ids(spark):
    """A probe doc whose id exceeds every corpus id must still match — the
    old `a.id < b.id` predicate silently skipped these (ADVICE r1)."""
    corpus = _docs(spark, ["a b c d e", "p q r s t", "x y z w v"])
    probe = spark.createDataFrame([(10, "a b c d e")], "doc_id bigint, text string")
    pairs = ngram_jaccard_pairs(probe, corpus, n=2).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 10)]
    assert pairs[0].jaccard == pytest.approx(1.0)
    assert (pairs[0].size_a, pairs[0].size_b) == (4, 4)


def test_ngram_jaccard_asymmetric_overlapping_frames_dedupe(spark):
    """When the probe frame is a filter of the corpus, each pair appears
    exactly once (orientation-free) and matches the symmetric result."""
    d = _docs(spark, ["a b c d e", "a b c d e", "a b c x y", "q r s t u"])
    sym = {
        (p.id_a, p.id_b): p.jaccard
        for p in ngram_jaccard_pairs(d, n=2).collect()
    }
    asym = {
        (p.id_a, p.id_b): p.jaccard
        for p in ngram_jaccard_pairs(d.filter(F.col("doc_id") < 3), d, n=2).collect()
    }
    assert asym == sym  # every pair involves a doc_id < 3 in this fixture


def test_ngram_jaccard_max_doc_freq_caps_degenerate_shingles(spark):
    """A stop-shingle shared by every doc reintroduces the quadratic blowup;
    the doc-frequency cap removes it from the set representation, so docs
    sharing ONLY boilerplate produce no candidate pairs at all."""
    n_docs = 12
    texts = [f"common stop phrase unique{i} tail{i}" for i in range(n_docs)]
    d = _docs(spark, texts)
    uncapped = ngram_jaccard_pairs(d, n=2, max_doc_freq=None).collect()
    assert len(uncapped) == n_docs * (n_docs - 1) // 2  # full quadratic
    capped = ngram_jaccard_pairs(d, n=2, max_doc_freq=n_docs - 1).collect()
    assert capped == []  # boilerplate-only overlap generates nothing
    # sizes stay internally consistent: a real near-dup pair keeps jaccard=1
    # on the capped representation
    d2 = _docs(spark, texts + [texts[0]])
    hit = [
        p
        for p in ngram_jaccard_pairs(d2, n=2, max_doc_freq=n_docs - 1).collect()
        if (p.id_a, p.id_b) == (0, n_docs)
    ]
    assert len(hit) == 1 and hit[0].jaccard == pytest.approx(1.0)


def _rand_embeddings(spark, n=60, d=8, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    m = rng.normal(size=(n, d))
    # plant a few near-duplicates
    for i in range(0, n, 10):
        m[i + 1] = m[i] + rng.normal(scale=0.01, size=d)
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id bigint, embedding array<float>",
    )


def test_ivf_self_join_full_probe_matches_brute(spark):
    from hnsw_spark.operators.ann import ivf_self_join

    df = _rand_embeddings(spark)
    brute = {
        (p.id_a, p.id_b, round(p.cosine, 6))
        for p in embedding_neardup(df, threshold=0.5, strategy="brute").collect()
    }
    full = {
        (p.id_a, p.id_b, round(p.cosine, 6))
        for p in ivf_self_join(df, threshold=0.5, n_lists=4, n_probe=4).collect()
    }
    assert full == brute  # n_probe = n_lists degenerates to exact
    partial = {
        (p.id_a, p.id_b)
        for p in ivf_self_join(df, threshold=0.5, n_lists=4, n_probe=2).collect()
    }
    assert partial <= {(a, b) for a, b, _ in brute}  # subset, never spurious
    # planted near-identical pairs always co-bucket even at n_probe=1
    planted = {
        (p.id_a, p.id_b)
        for p in ivf_self_join(df, threshold=0.99, n_lists=4, n_probe=1).collect()
    }
    assert {(i, i + 1) for i in range(0, 60, 10)} <= planted


def test_ivf_self_join_skew_guard_bounds_tasks_and_preserves_pairs(spark):
    """A skewed centroid's mega-list must not serialize one quadratic
    applyInPandas task: the max_list salt splits it into bounded chunk-pair
    tasks whose union scores exactly the same pair set (VERDICT r2 #7)."""
    from hnsw_spark.operators.ann import (
        _salt_oversized_lists,
        assign_lists,
        ivf_self_join,
        train_centroids,
    )

    df = _rand_embeddings(spark)  # 60 rows
    # n_probe = n_lists plants the skew: every list holds the full corpus
    unsplit = {
        (p.id_a, p.id_b, round(p.cosine, 6))
        for p in ivf_self_join(
            df, threshold=0.5, n_lists=2, n_probe=2, max_list=None
        ).collect()
    }
    split = {
        (p.id_a, p.id_b, round(p.cosine, 6))
        for p in ivf_self_join(
            df, threshold=0.5, n_lists=2, n_probe=2, max_list=8
        ).collect()
    }
    assert split == unsplit and len(split) > 0
    # the salted task layout: every 60-row mega-list fans out into chunk-pair
    # tasks, none of which approaches the unsplit 60-row group
    base = df.select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").alias("vector"),
    )
    cents = train_centroids(base, 2, "cosine", 42)
    assigned = assign_lists(base, cents, "cosine", n_probe=2)
    sizes = (
        _salt_oversized_lists(assigned, 8)
        .groupBy("list_id", "ca", "cb")
        .count()
        .collect()
    )
    assert max(r["count"] for r in sizes) < 60  # strictly smaller than unsplit
    assert max(r["count"] for r in sizes) <= 4 * 8  # bounded by ~2·max_list
    assert len({(r.list_id, r.ca, r.cb) for r in sizes}) > 2  # fan-out happened
    # un-oversized lists stay single-task: same fixture, cap above list size
    lazy = _salt_oversized_lists(assigned, 128)
    assert lazy.select("ca", "cb").distinct().collect() == [Row(ca=0, cb=0)]


def test_embedding_neardup_auto_routes_large_to_ivf(spark):
    df = _rand_embeddings(spark, n=30)
    # force the auto threshold below the frame size: the IVF path must run
    # and still find the planted near-dups
    pairs = {
        (p.id_a, p.id_b)
        for p in embedding_neardup(
            df, threshold=0.99, brute_max=5, n_lists=4, n_probe=2
        ).collect()
    }
    assert {(i, i + 1) for i in range(0, 30, 10)} <= pairs


def test_lang_id_lexicons(spark):
    d = _docs(
        spark,
        [
            "the cat and the dog is here with us",
            "el perro y la casa de que con el",
            "der hund und die katze mit das auto",
            "xyzzy qwerty plugh",
        ],
    )
    res = [r.pred for r in d.select(lang_id("text").alias("pred")).orderBy("doc_id").collect()]
    assert res == ["en", "es", "de", "und"]


def test_boilerplate_spans_planted_common_span(spark):
    from hnsw_spark.operators.dedup import boilerplate_spans

    bp = "alpha beta gamma delta"  # one 4-gram shared by 3 docs
    d = _docs(
        spark,
        [
            f"{bp} unique one tail words here",
            f"start {bp} unique two tail",
            f"{bp} third copy closing words",
            "entirely different content with no shared span at all",
            "tiny doc",  # < n tokens -> zero shingles, zero coverage
        ],
    )
    res = {r.doc_id: r for r in boilerplate_spans(d, n=4, min_docs=3).collect()}
    assert len(res) == 5
    for i in (0, 1, 2):
        assert res[i].n_common == 1
        assert res[i].covered_tokens == 4
    assert res[0].boilerplate_ratio == 4 / 9
    assert res[3].n_common == 0 and res[3].boilerplate_ratio == 0.0
    assert res[4].covered_tokens == 0


def test_boilerplate_overlapping_spans_count_positions_once(spark):
    from hnsw_spark.operators.dedup import boilerplate_spans

    # "a b c d e" contains two overlapping common 4-grams (a b c d, b c d e)
    # when all three docs share the full 5-token run: 2 shingle hits but only
    # 5 distinct covered positions, not 8.
    run = "a b c d e"
    d = _docs(spark, [f"{run} x", f"{run} y", f"{run} z"])
    res = {r.doc_id: r for r in boilerplate_spans(d, n=4, min_docs=3).collect()}
    assert res[0].n_common == 2
    assert res[0].covered_tokens == 5


def test_canonical_by_score_prefers_quality_then_id(spark):
    from hnsw_spark.operators.components import canonical_by_score

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)], "doc_id bigint, cluster_id bigint"
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (7, 0.1)], "doc_id bigint, prob double"
    )
    res = {r.doc_id: r for r in canonical_by_score(clusters, scores).collect()}
    # highest prob wins; the 2-vs-3 tie at 0.9 breaks to the smaller id
    assert [res[i].keep for i in (1, 2, 3)] == [0, 1, 0]
    assert res[7].keep == 1  # singleton keeps itself


def test_knn_label_vote_majority_and_tiebreak(spark):
    from hnsw_spark.operators.knn import knn_label_vote

    # 1-D embeddings: cosine of same-sign vectors = 1.0, opposite sign = -1.0
    # query 0 at +1: neighbors are every other +1 vector (4 votes label A=0
    # vs 2 votes label B=1 among top-6)
    rows = [
        (0, [1.0], 0),
        (1, [1.0], 0), (2, [1.0], 0), (3, [1.0], 0), (4, [1.0], 0),
        (5, [1.0], 1), (6, [1.0], 1),
        (7, [-1.0], 1), (8, [-1.0], 1), (9, [-1.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    res = {r.query_id: r for r in knn_label_vote(emb, n_queries=1, k=6).collect()}
    assert res[0].pred_label == 0
    assert res[0].votes == 4
    assert res[0].best_score == 1.0


def test_zipf_stats_ranks_and_cumulative_share(spark):
    from hnsw_spark.operators.curation import zipf_stats

    d = _docs(spark, ["x x x y y z", "x y"])
    res = zipf_stats(d, top_n=2).collect()
    assert [(r.rank, r.token, r.freq) for r in res] == [(1, "x", 4), (2, "y", 3)]
    assert res[0].share == 0.5  # 4 of 8 tokens
    assert res[1].cum_share == round(7 / 8, 6)


def test_doc_shingles_sized_matches_distinct_set(spark):
    # size rides on every row and equals the DISTINCT shingle-set size —
    # the per-row array_distinct must be equivalent to the old post-explode
    # .distinct() (a shingle only ever repeats WITHIN a document)
    from hnsw_spark.operators.dedup import doc_shingles, doc_shingles_sized

    d = _docs(
        spark,
        [
            "a b a b a b",  # heavy within-doc repetition: 2 distinct bigrams
            "x y z x y z",
            "one two",  # 1 bigram
            "solo",  # <n words: empty set, no rows
        ],
    )
    sized = doc_shingles_sized(d, n=2).collect()
    plain = {(r.id, r.shingle) for r in doc_shingles(d, n=2).collect()}
    assert {(r.id, r.shingle) for r in sized} == plain
    assert len(sized) == len(plain)  # explode of a deduped array: no dups
    by_id = {}
    for r in sized:
        by_id.setdefault(r.id, set()).add(r.shingle)
        assert r.size == len([x for x in sized if x.id == r.id])
    assert by_id[0] == {"a b", "b a"}
    assert 3 not in by_id  # short doc yields no rows


def test_ngram_jaccard_length_filter_drops_no_true_pairs(spark):
    # the PPJoin length filter (t*max<=min) is a pure candidate prune:
    # thresholded output must equal the unfiltered output filtered post hoc
    d = _docs(
        spark,
        [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over a lazy dog",
            "the quick brown fox leaps over the lazy dog today",
            "completely different text with no overlap here at all",
            "short one",
        ],
    )
    t = 0.4
    filtered = {
        (r.id_a, r.id_b, r.n_common, r.size_a, r.size_b)
        for r in ngram_jaccard_pairs(d, n=2, threshold=t).collect()
    }
    brute = {
        (r.id_a, r.id_b, r.n_common, r.size_a, r.size_b)
        for r in ngram_jaccard_pairs(d, n=2, threshold=0.0).collect()
        if r.jaccard >= t
    }
    assert filtered == brute
    assert filtered  # fixture plants at least one ≥0.4 pair


def test_staged_ladder_pairs_identical_to_one_job_plan(spark, tmp_path):
    """VERDICT r11 #7: the disk-aware staged ladder (band-partitioned
    parquet + per-band self-joins + released shuffles,
    tools/dedup_ladder_xl.dedup_ladder_staged) must produce the IDENTICAL
    candidate multiset as the one-job lsh_candidate_pairs plan — staging
    changes where shuffle files live, never which pairs band-collide.
    Verified at 30M against the r11 recorded run (3,000,143 pairs,
    pair-identical); this pins the equivalence in the suite at test
    scale — including the r13 sliced signature pass (sig_slices=3 over
    4000 docs exercises uneven id-range slices + the per-band cap): the
    minhash signature is per-document, so slicing must never change which
    pairs band-collide."""
    from pyspark.sql import functions as F

    from hnsw_spark.operators.dedup import lsh_candidate_pairs
    from hnsw_spark.sources.synthetic import synthetic_documents
    from tools.dedup_ladder_xl import dedup_ladder_staged

    n = 4000
    docs = synthetic_documents(spark, n, words_per_doc=30, seed=31)
    one_job = {
        (r.id_a, r.id_b, r.n_bands)
        for r in lsh_candidate_pairs(
            docs, num_perm=32, bands=8, n=3, max_bucket=1000
        ).collect()
    }
    out = dedup_ladder_staged(
        spark, n, n_parts=8, scratch=str(tmp_path / "ladder"),
        sig_slices=3,
    )
    assert out["n_candidate_pairs"] == len(one_job)
    # the generator plants one near-dup per 10 docs; the verified set is
    # exactly the planted pairs on both plans
    assert out["n_verified_ge_080"] == n // 10 - 1


def test_staged_ladder_per_band_cap_matches_global_cap(spark, tmp_path):
    """r13: the staged plan moved the max_bucket cap from the (global)
    signature job into stage 2, applied per band — semantically identical
    because the cap key is (band_idx, band_key).  NON-VACUOUSLY pinned
    (the ADVICE r11 #3 lesson): six identical docs form an over-cap
    bucket in EVERY band at max_bucket=4, so the cap must actually drop
    pairs, and the staged drop must equal the one-job global drop."""
    from pyspark.sql import functions as F

    from hnsw_spark.operators.dedup import lsh_candidate_pairs
    from tools.dedup_ladder_xl import dedup_ladder_staged

    texts = ["identical degenerate boilerplate text repeated verbatim"] * 6
    texts += [
        f"unique filler document number {i} with its own distinct words "
        f"alpha{i} beta{i} gamma{i} delta{i}"
        for i in range(14)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    capped = lsh_candidate_pairs(
        docs, num_perm=32, bands=8, n=3, max_bucket=4
    ).count()
    uncapped = lsh_candidate_pairs(
        docs, num_perm=32, bands=8, n=3, max_bucket=None
    ).count()
    assert uncapped > capped  # the cap genuinely trips on this corpus
    out = dedup_ladder_staged(
        spark, len(texts), n_parts=4, max_bucket=4,
        scratch=str(tmp_path / "ladder_cap"), sig_slices=2,
        docs_df=docs, id_max=len(texts),
    )
    assert out["n_candidate_pairs"] == capped


def test_ngram_jaccard_share_shingles_parity(spark):
    """share_shingles=False (the bounded-window escape hatch) returns the
    identical pair set as the default shared-persist path, with and
    without the max_doc_freq ban."""
    d = _docs(
        spark,
        [
            "a b c d e f g",
            "a b c d e f h",
            "x y z w q r s",
            "x y z w q r t",
            "a b c x y z q",
        ],
    )
    for kw in ({}, {"max_doc_freq": 3}):
        shared = sorted(
            (r.id_a, r.id_b, r.n_common, r.size_a, r.size_b)
            for r in ngram_jaccard_pairs(d, n=2, threshold=0.1, **kw).collect()
        )
        unshared = sorted(
            (r.id_a, r.id_b, r.n_common, r.size_a, r.size_b)
            for r in ngram_jaccard_pairs(
                d, n=2, threshold=0.1, share_shingles=False, **kw
            ).collect()
        )
        assert shared == unshared and shared
