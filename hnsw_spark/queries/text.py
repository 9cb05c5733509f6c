"""Text-analysis query surface over ``documents`` (training-data pipeline:
language ID, quality scoring, token counting, fingerprinting)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hnsw_spark.functions.text import (
    BPE_PATTERN,
    LANG_LEXICON,
    STOPWORDS,
    avg_word_len_w,
    bpe_token_count,
    fingerprint,
    lang_id_w,
    quality_score_w,
    stopword_ratio_w,
    words,
)
from hnsw_spark.operators.evaluation import dquant
from hnsw_spark.plans.cachereg import session_memo
from hnsw_spark.registry import query
from hnsw_spark.sources.tables import load_table

# shared DuckDB snippets (mirror the Catalyst builders in functions.text);
# reused by queries.curation for the composed pipeline oracle
_W = r"string_split_regex(trim(lower(text)), '\s+')"
_NORM = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"
_PUNCT = r"(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) / length(text)"
_AWL = f"list_sum(list_transform({_W}, x -> length(x)))::DOUBLE / len({_W})"
_SW_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)
_SWR = f"len(list_filter({_W}, x -> x IN ({_SW_LIST}))) / len({_W})"
QUALITY_SQL = (
    f"round(0.4 * least(length(text) / 500.0, 1.0)"
    f" + 0.3 * (CASE WHEN {_AWL} >= 3 AND {_AWL} <= 10 THEN 1.0 ELSE 0.5 END)"
    f" + 0.2 * least(({_SWR}) * 5.0, 1.0)"
    f" + 0.1 * (1.0 - ({_PUNCT})), 6)"
)


def lang_case_sql() -> str:
    """The lexicon-argmax language-ID CASE expression (mirrors lang_id_w)."""
    hits = {
        lang: f"len(list_filter({_W}, x -> x IN ({', '.join(repr(w) for w in lex)})))"
        for lang, lex in LANG_LEXICON.items()
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    whens = " ".join(
        f"WHEN {best} > 0 AND {hits[lang]} = {best} THEN '{lang}'"
        for lang in sorted(hits)
    )
    return f"CASE {whens} ELSE 'und' END"


@query(
    "doc_fingerprints",
    f"SELECT doc_id, substr(md5({_NORM}), 1, 16) AS fingerprint FROM documents",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 fingerprint of whitespace-normalized text (document fingerprinting
    tier of the dedup ladder)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fingerprint"))


@query(
    "token_counts",
    f"""
SELECT doc_id,
       len({_W})::INT AS n_words,
       len(list_distinct({_W}))::INT AS n_distinct_words,
       len(regexp_extract_all(lower(text), '{BPE_PATTERN}'))::INT AS n_bpe_tokens
FROM documents
""",
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counting per document
    (tokenize once, count from the shared array)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "text", words("text").alias("w"))
    return base.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.size(F.array_distinct("w")).alias("n_distinct_words"),
        bpe_token_count("text").alias("n_bpe_tokens"),
    )


@query(
    "text_quality",
    f"""
SELECT doc_id,
       length(text)::BIGINT AS n_chars,
       len({_W})::INT AS n_words,
       CAST(floor(({_AWL}) * 1e6 + 0.5) AS BIGINT) AS avg_word_len_fp,
       CAST(floor(({_SWR}) * 1e6 + 0.5) AS BIGINT) AS stopword_ratio_fp,
       {QUALITY_SQL} AS quality
FROM documents
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: length / word shape / stopword presence / punct.

    Tokenizes once into a words column — Catalyst does not CSE the repeated
    split() these metrics would otherwise each re-emit (measured 7× faster)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "text", words("text").alias("w"))
    return base.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size("w").alias("n_words"),
        dquant(avg_word_len_w(F.col("w")), 6).alias("avg_word_len_fp"),
        dquant(stopword_ratio_w(F.col("w")), 6).alias("stopword_ratio_fp"),
        quality_score_w(F.col("text"), F.col("w")).alias("quality"),
    )


_LOGPROB_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_W}) AS token FROM documents),
tok2 AS (SELECT * FROM tok WHERE token != ''),
tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok2 GROUP BY doc_id, token),
cnt AS (SELECT token, sum(tf)::BIGINT AS c FROM tf GROUP BY token),
tot AS (SELECT sum(c)::BIGINT AS t FROM cnt),
per AS (
  SELECT doc_id, tf,
         tf * floor(ln(c::DOUBLE / t::DOUBLE) * 1000000.0 + 0.5)::BIGINT AS tfq
  FROM tf JOIN cnt USING (token) CROSS JOIN tot
),
agg AS (
  SELECT doc_id, sum(tf)::BIGINT AS n_tokens, sum(tfq)::BIGINT AS sq
  FROM per GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
       a.sq::DOUBLE / (a.n_tokens * 1000000.0) AS logprob
FROM documents d LEFT JOIN agg a USING (doc_id)
"""

# registered output: fixed-point; the raw-CTE form above is reused by the
# corpus_attrition oracle whose thresholds compare the RAW value
_LOGPROB_ORACLE = f"""
WITH lp AS ({_LOGPROB_SQL})
SELECT doc_id, n_tokens,
       CAST(floor(logprob * 1e6 + 0.5) AS BIGINT) AS logprob_fp
FROM lp
"""


@query("unigram_logprob", _LOGPROB_ORACLE)
def unigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM fluency score per document (curation signal);
    fixed-point ln accumulation makes the score engine-invariant, so the
    oracle is exact (see operators/curation.py:unigram_logprob)."""
    from hnsw_spark.operators.curation import unigram_logprob

    res = unigram_logprob(load_table(spark, sf_dir, "documents"))
    return res.select(
        "doc_id", "n_tokens", dquant("logprob", 6).alias("logprob_fp")
    )


# DuckDB word-2-gram list (mirror of queries/dedup.py::_shingle_sql(2) and
# functions/text.py::shingles_w)
_GRAM2_SQL = (
    "CASE WHEN len(w) >= 2 THEN "
    "list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1]) "
    "ELSE [] END"
)

_REPETITION_SQL = f"""
WITH docs AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines, {_W} AS w FROM documents
),
grams AS (SELECT doc_id, unnest({_GRAM2_SQL}) AS g FROM docs),
gc AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM grams GROUP BY doc_id, g),
ga AS (
  SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS tf FROM gc GROUP BY doc_id
)
SELECT d.doc_id,
       len(lines)::INT AS n_lines,
       CASE WHEN len(lines) = 0 THEN 0.0
            ELSE 1.0 - len(list_distinct(lines))::DOUBLE / len(lines)
       END AS dup_line_frac,
       CASE WHEN len(w) = 0 THEN 0.0
            ELSE 1.0 - len(list_distinct(w))::DOUBLE / len(w)
       END AS dup_word_frac,
       coalesce(ga.tf, 0.0) AS top_2gram_frac
FROM docs d LEFT JOIN ga USING (doc_id)
"""

_REPETITION_ORACLE = f"""
WITH rep AS ({_REPETITION_SQL})
SELECT doc_id, n_lines,
       CAST(floor(dup_line_frac * 1e6 + 0.5) AS BIGINT) AS dup_line_frac_fp,
       CAST(floor(dup_word_frac * 1e6 + 0.5) AS BIGINT) AS dup_word_frac_fp,
       CAST(floor(top_2gram_frac * 1e6 + 0.5) AS BIGINT) AS top_2gram_frac_fp
FROM rep
"""


@query("repetition_stats", _REPETITION_ORACLE)
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition drop signals (duplicate lines/words, dominant
    2-gram share) — see operators/curation.py:repetition_stats."""
    from hnsw_spark.operators.curation import repetition_stats

    res = repetition_stats(load_table(spark, sf_dir, "documents"))
    return res.select(
        "doc_id", "n_lines",
        dquant("dup_line_frac", 6).alias("dup_line_frac_fp"),
        dquant("dup_word_frac", 6).alias("dup_word_frac_fp"),
        dquant("top_2gram_frac", 6).alias("top_2gram_frac_fp"),
    )


def _lang_sql() -> str:
    return f"""
SELECT doc_id, lang, {lang_case_sql()} AS lang_pred
FROM documents
"""


@query("lang_id_pred", _lang_sql())
def lang_id_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon/n-gram language-ID heuristic vs the labeled ``lang`` column;
    argmax with deterministic alphabetical tie-break, 'und' when no hits."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "lang", words("text").alias("w"))
    return base.select("doc_id", "lang", lang_id_w(F.col("w")).alias("lang_pred"))


def _bigram_logprob_sql() -> str:
    from hnsw_spark.queries.dedup import _shingle_sql

    return f"""
WITH docs AS (SELECT doc_id, {_W} AS w FROM documents),
bg AS (SELECT doc_id, unnest({_shingle_sql(2)}) AS bg FROM docs),
tf AS (SELECT doc_id, bg, count(*)::BIGINT AS tf FROM bg GROUP BY doc_id, bg),
cbg AS (SELECT bg, sum(tf)::BIGINT AS c_bg FROM tf GROUP BY bg),
ctx AS (
  SELECT split_part(bg, ' ', 1) AS ctx, sum(c_bg)::BIGINT AS c_ctx
  FROM cbg GROUP BY 1
),
v AS (
  SELECT count(DISTINCT t)::BIGINT AS v
  FROM (SELECT unnest(w) AS t FROM docs) WHERE t != ''
),
per AS (
  SELECT tf.doc_id, tf.tf,
         tf.tf * floor(
           ln((cbg.c_bg + 1.0) / (ctx.c_ctx + 1.0 * v.v)) * 1000000.0 + 0.5
         )::BIGINT AS tfq
  FROM tf
  JOIN cbg USING (bg)
  JOIN ctx ON split_part(tf.bg, ' ', 1) = ctx.ctx
  CROSS JOIN v
),
agg AS (
  SELECT doc_id, sum(tf)::BIGINT AS n_bigrams, sum(tfq)::BIGINT AS sq
  FROM per GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_bigrams, 0)::BIGINT AS n_bigrams,
       CAST(floor(a.sq::DOUBLE / (a.n_bigrams * 1000000.0) * 1e6 + 0.5)
            AS BIGINT) AS logprob_fp
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@query("bigram_logprob", _bigram_logprob_sql())
def bigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram-LM fluency score per document (add-1 smoothing): the
    transition-probability tier above unigram_logprob — scrambled word
    salad keeps its unigram score but collapses here.  Same fixed-point ln
    recipe, so the oracle is exact
    (operators/curation.py:bigram_logprob)."""
    from hnsw_spark.operators.curation import bigram_logprob

    res = bigram_logprob(load_table(spark, sf_dir, "documents"))
    return res.select(
        "doc_id", "n_bigrams", dquant("logprob", 6).alias("logprob_fp")
    )


# ---- HTML stripping (web-crawl preprocessing) -------------------------------
# documents are plain text, so the query plants a deterministic HTML shell
# (script + style + comment + tags + entities, parameterized by doc_id)
# around each one, then proves the stripper recovers exactly the original
# text plus the decoded literal suffix — pinned by md5, same pattern as
# pii_scrub's planted PII.

_HTML_PREFIX_SQL = (
    "'<html><head><script type=\"text/javascript\">var x = ' || doc_id::VARCHAR"
    " || ';</script><style>.c{color:red}</style></head>"
    "<body><!-- nav --><div class=\"main\"><p>'"
)
_HTML_SUFFIX_SQL = "'</p><br>&amp; footer &lt;end&gt;</div></body></html>'"


def _strip_sql(expr: str) -> str:
    out = f"regexp_replace({expr}, '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g')"
    out = f"regexp_replace({out}, '(?s)<!--.*?-->', ' ', 'g')"
    out = f"regexp_replace({out}, '<[^>]+>', ' ', 'g')"
    for ent, rep in (
        ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "''"),
    ):
        out = f"replace({out}, '{ent}', '{rep}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


_HTML_SQL = f"""
WITH t AS (
  SELECT doc_id,
         {_HTML_PREFIX_SQL} || text || {_HTML_SUFFIX_SQL} AS raw
  FROM documents
),
s AS (SELECT doc_id, raw, {_strip_sql("raw")} AS clean FROM t)
SELECT doc_id,
       length(clean)::BIGINT AS clean_len,
       substr(md5(clean), 1, 16) AS clean_fp,
       CAST(floor((CASE WHEN length(raw) = 0 THEN 0.0
            ELSE 1.0 - length(clean)::DOUBLE / length(raw) END)
            * 1e6 + 0.5) AS BIGINT) AS markup_ratio_fp
FROM s
"""


def html_shell_expr() -> F.Column:
    """The planted deterministic HTML shell (Spark side of
    _HTML_PREFIX_SQL/_HTML_SUFFIX_SQL) — shared by html_strip and the
    crawl composition query."""
    return F.concat(
        F.lit('<html><head><script type="text/javascript">var x = '),
        F.col("doc_id").cast("string"),
        F.lit(';</script><style>.c{color:red}</style></head>'
              '<body><!-- nav --><div class="main"><p>'),
        F.col("text"),
        F.lit("</p><br>&amp; footer &lt;end&gt;</div></body></html>"),
    )


@query("html_strip", _HTML_SQL)
def html_strip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl markup stripping over a planted deterministic HTML shell:
    script/style/comment removal, tag→space word boundaries, entity
    decode, whitespace collapse — every kernel a scan-stage Catalyst
    regexp (functions/html.py).  The stripped text is pinned by md5 and
    the markup_ratio crawl-quality signal rides along."""
    from hnsw_spark.functions.html import markup_ratio, strip_html

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", html_shell_expr().alias("raw"))
    return t.select(
        "doc_id",
        F.length(strip_html("raw")).cast("long").alias("clean_len"),
        F.substring(F.md5(strip_html("raw")), 1, 16).alias("clean_fp"),
        dquant(markup_ratio("raw"), 6).alias("markup_ratio_fp"),
    )


_ZIPF_SQL = f"""
WITH tok AS (
  SELECT unnest({_W}) AS token FROM documents
), tok2 AS (SELECT token FROM tok WHERE token <> ''),
freq AS (SELECT token, count(*)::BIGINT AS freq FROM tok2 GROUP BY token),
tot AS (SELECT sum(freq)::DOUBLE AS total FROM freq),
top AS (SELECT token, freq FROM freq ORDER BY freq DESC, token LIMIT 100)
SELECT row_number() OVER (ORDER BY freq DESC, token)::INT AS rank,
       token, freq,
       CAST(floor(freq / total * 1e6 + 0.5) AS BIGINT) AS share_fp,
       CAST(floor(sum(freq / total) OVER (ORDER BY freq DESC, token
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1e6 + 0.5)
            AS BIGINT) AS cum_share_fp
FROM top, tot
"""


@query("zipf_stats", _ZIPF_SQL)
def zipf_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-frequency (Zipf) vocabulary profile: top-100 tokens with corpus
    share and cumulative head coverage — the tokenizer-design diagnostic
    (operators/curation.py:zipf_stats).  cum_share accumulates in rank
    order on both engines, so the floating sum is reproducible."""
    from hnsw_spark.operators.curation import zipf_stats

    res = zipf_stats(load_table(spark, sf_dir, "documents"), top_n=100)
    return res.select(
        "rank", "token", "freq",
        dquant("share", 6).alias("share_fp"),
        dquant("cum_share", 6).alias("cum_share_fp"),
    )


_PMI_SQL = f"""
WITH tok AS (
  SELECT doc_id, t.token, t.pos
  FROM (SELECT doc_id, {_W} AS ws FROM documents) d,
       LATERAL (SELECT unnest(ws) AS token, generate_subscripts(ws, 1) AS pos) t
), pairs AS (
  SELECT least(x.token, y.token) AS a, greatest(x.token, y.token) AS b
  FROM tok x JOIN tok y
    ON x.doc_id = y.doc_id AND y.pos > x.pos AND y.pos <= x.pos + 3
), pc AS (
  SELECT a, b, count(*)::BIGINT AS pair_count FROM pairs GROUP BY a, b
), uni AS (
  SELECT token, count(*)::BIGINT AS cnt FROM tok GROUP BY token
), tot AS (
  SELECT (SELECT sum(pair_count) FROM pc)::BIGINT AS p_total,
         (SELECT sum(cnt) FROM uni)::BIGINT AS n_total
)
SELECT pc.a, pc.b, pc.pair_count,
       ua.cnt AS count_a, ub.cnt AS count_b,
       floor(ln((pc.pair_count::DOUBLE * n_total::DOUBLE * n_total::DOUBLE)
                / (p_total::DOUBLE * ua.cnt::DOUBLE * ub.cnt::DOUBLE))
             * 1000000.0 + 0.5)::BIGINT AS pmi_q6
FROM pc JOIN uni ua ON pc.a = ua.token
        JOIN uni ub ON pc.b = ub.token
        CROSS JOIN tot
WHERE pc.pair_count >= 25
"""


@query("pmi_cooccurrence", _PMI_SQL)
def pmi_cooccurrence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed (w=3) token co-occurrence with fixed-point PMI association
    scores, min pair frequency 25 (operators/cooccurrence.py — collocation
    mining tier of the text-analysis surface).  Pair generation is
    scan-stage shifted-slice zips; only the two count aggregations
    shuffle."""
    from hnsw_spark.operators.cooccurrence import pmi_pairs

    return pmi_pairs(
        load_table(spark, sf_dir, "documents"), window=3, min_count=25
    )


_HH_GATE_SQL = (
    "SELECT CAST(1 AS BOOLEAN) AS covered_ok, CAST(1 AS BOOLEAN) AS bound_ok,"
    " CAST(1 AS BOOLEAN) AS underestimate_ok, CAST(1 AS BOOLEAN) AS size_ok"
)

_HH_N, _HH_VOCAB, _HH_K, _HH_SEED = 200_000, 10_000, 200, 7


@query("heavy_hitters_gate", _HH_GATE_SQL)
def heavy_hitters_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters (operators/sketches.py), gated against the
    exact groupBy on a seeded Zipf stream (the fixture corpus is flat, so
    the stream generator supplies the skew).  MG theory promises est ≤
    true and true − est ≤ N/(k+1); the gate checks exactly that, plus
    coverage of every true hitter above the bound and the ≤k size cap.
    Same boolean-gate pattern as percentile_sketch_gate: deterministic
    input → stable driver hash."""
    from hnsw_spark.operators.sketches import misra_gries
    from hnsw_spark.sources.synthetic import synthetic_zipf_tokens

    from hnsw_spark.plans.cachereg import owned_persist

    stream = synthetic_zipf_tokens(spark, _HH_N, _HH_VOCAB, seed=_HH_SEED)
    bound = _HH_N / (_HH_K + 1)
    # persisted: the final crossJoin job consumes the sketch from three
    # branches (coverage anti-join, bound join, size) and the exact counts
    # from two — each branch would re-run the full stream pass otherwise
    # (both frames are <= vocab-size rows)
    sk = owned_persist(misra_gries(stream, k=_HH_K))
    exact = owned_persist(
        stream.groupBy("token").agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    hitters = exact.filter(F.col("true_cnt") > bound)
    uncovered = hitters.join(sk, "token", "left_anti").agg(
        (F.count(F.lit(1)) == 0).alias("covered_ok")
    )
    joined = exact.join(sk, "token").agg(
        (F.max(F.col("true_cnt") - F.col("est")) <= bound).alias("bound_ok"),
        (F.min(F.col("true_cnt") - F.col("est")) >= 0).alias(
            "underestimate_ok"
        ),
    )
    size = sk.agg((F.count(F.lit(1)) <= _HH_K).alias("size_ok"))
    return uncovered.crossJoin(joined).crossJoin(size)


_BPE_N_MERGES, _BPE_MIN_PAIR = 20, 2


def _bpe_merges_sql() -> str:
    """Unrolled sequential BPE oracle (the ``mmr_diversified`` unrolled-CTE
    trick, VERDICT r7 #7): one CTE block per merge step over a positions
    table (word, freq, i, sym).  Each step (a) argmaxes the adjacent-pair
    frequency with the (count DESC, left, right) tie-break, (b) resolves
    greedy LEFT-FIRST non-overlapping application — candidate positions in
    a run of consecutive indices (only possible when left==right, e.g.
    'aaaa' under (a,a)) keep every other one via gaps-and-islands, exactly
    the fold semantics of ``operators/bpe._apply_merge`` — and (c) rebuilds
    the re-indexed positions table.  Verified step-for-step against the
    pure-Python sequential reference at sf0.001/0.01/0.1."""
    parts = [
        f"""
WITH vf AS MATERIALIZED (
  SELECT word, count(*)::BIGINT AS freq
  FROM (SELECT unnest({_W}) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
p1 AS MATERIALIZED (
  SELECT word, freq, i, substr(word, i::INT, 1) AS sym
  FROM (SELECT word, freq,
               unnest(generate_series(1, length(word))) AS i
        FROM vf)
)"""
    ]
    for s in range(1, _BPE_N_MERGES + 1):
        parts.append(
            f""", adj{s} AS MATERIALIZED (
  SELECT word, freq, i, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt
  FROM p{s}
), m{s} AS MATERIALIZED (
  SELECT a, b, cnt FROM (
    SELECT sym AS a, nxt AS b, sum(freq) AS cnt
    FROM adj{s} WHERE nxt IS NOT NULL GROUP BY 1, 2)
  WHERE cnt >= {_BPE_MIN_PAIR}
  ORDER BY cnt DESC, a, b LIMIT 1
), k{s} AS (
  SELECT word, i FROM (
    SELECT word, i,
           row_number() OVER (PARTITION BY word, i - rn ORDER BY i) AS rnk
    FROM (SELECT c.word, c.i,
                 row_number() OVER (PARTITION BY c.word ORDER BY c.i) AS rn
          FROM (SELECT adj{s}.word, adj{s}.i
                FROM adj{s}, m{s}
                WHERE adj{s}.sym = m{s}.a AND adj{s}.nxt = m{s}.b) c))
  WHERE rnk % 2 = 1
), p{s + 1} AS MATERIALIZED (
  SELECT p.word, p.freq,
         row_number() OVER (PARTITION BY p.word ORDER BY p.i) AS i,
         CASE WHEN k1.i IS NOT NULL THEN (SELECT a || b FROM m{s})
              ELSE p.sym END AS sym
  FROM p{s} p
  LEFT JOIN k{s} k1 ON k1.word = p.word AND k1.i = p.i
  LEFT JOIN k{s} k2 ON k2.word = p.word AND k2.i = p.i - 1
  WHERE k2.i IS NULL
)"""
        )
    union = " UNION ALL ".join(
        f'SELECT {s}::INT AS merge_rank, a AS "left", b AS "right",'
        f" cnt::BIGINT AS pair_count FROM m{s}"
        for s in range(1, _BPE_N_MERGES + 1)
    )
    parts.append(f"\nSELECT * FROM ({union}) ORDER BY merge_rank")
    return "".join(parts)


# One BPE training per (sf_dir, n_merges) per session: bpe_merges and
# bpe_encode_gate train on the identical corpus with identical knobs, and
# training dominates both rows' wall (VERDICT r11 #6 — bpe_encode_gate
# was 14.8 s at sf0.01, ~10 s of it retraining what bpe_merges already
# computed).  Training is deterministic (ties break count DESC, left,
# right; flat/incremental parity pinned in tests/test_bpe.py), so sharing
# changes no values.
_BPE_SCHEMA = "merge_rank int, left string, right string, pair_count bigint"


def _trained_merges(spark: SparkSession, sf_dir: str, n_merges: int = 20) -> list:
    def _build():
        from hnsw_spark.operators.bpe import bpe_train

        return [
            (r["merge_rank"], r["left"], r["right"], r["pair_count"])
            for r in bpe_train(
                load_table(spark, sf_dir, "documents"),
                n_merges=n_merges,
                incremental=False,
            ).collect()
        ]

    return session_memo(spark, ("bpe_merges", sf_dir, n_merges), _build)


@query("bpe_merges", _bpe_merges_sql())
def bpe_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (operators/bpe.py): the first 20 learned
    merges with their pair counts.  The driver loop's per-step argmax IS
    SQL-expressible once unrolled (VERDICT r7 #7), so since round 8 this
    holds a full hash-checked oracle — ``_bpe_merges_sql()`` replays all
    20 merges sequentially in DuckDB, including greedy left-first merge
    application — in addition to tests/test_bpe.py's pure-Python
    sequential-reference parity pin.

    ``incremental=False``: the fixture vocabulary is ~5k words, squarely
    in the flat re-aggregation's regime per the operator's measured
    guidance (bpe.py docstring; the incremental path wins from ~0.5M-word
    vocabularies and is the 100 TB default).  The training result is
    session-memoized (``_trained_merges``) and shared with
    bpe_encode_gate."""
    return spark.createDataFrame(
        _trained_merges(spark, sf_dir, 20), _BPE_SCHEMA
    )


@query(
    "bpe_encode_gate",
    """
SELECT true AS round_trip_ok, true AS tokens_valid, true AS compressed
""",
)
def bpe_encode_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application gate: train 20 BPE merges on the corpus, then
    encode the distinct word vocabulary with them (operators/bpe.py:
    bpe_encode_words) and assert, frequency-weighted over every word
    occurrence in the corpus, that (a) the segmentation concatenates back
    to the original word for every vocabulary entry, (b) every emitted
    token is a single character or a learned merge product, and (c) the
    merges strictly compress the corpus (fewer tokens than characters).
    The encoder replays training's own greedy fold, so these hold by
    construction — which is exactly what the gate pins; the booleans are
    driver-comparable against the trivial oracle.  Training reuses
    bpe_merges' session-memoized result (``_trained_merges``) — the gate
    measures the ENCODER, not a second identical training run."""
    from hnsw_spark.operators.bpe import bpe_encode_words, word_frequencies

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (left, right)
        for _, left, right, _ in _trained_merges(spark, sf_dir, 20)
    ]
    merged_syms = F.array(*[F.lit(a + b) for a, b in merges])
    vocab = word_frequencies(docs)
    enc = bpe_encode_words(vocab, merges)
    return enc.agg(
        F.bool_and(F.concat_ws("", F.col("tokens")) == F.col("word")).alias(
            "round_trip_ok"
        ),
        F.bool_and(
            F.forall(
                "tokens",
                lambda t: (F.length(t) == 1) | F.array_contains(merged_syms, t),
            )
        ).alias("tokens_valid"),
        (
            F.sum(F.size("tokens") * F.col("freq"))
            < F.sum(F.length("word") * F.col("freq"))
        ).alias("compressed"),
    )


_CM_W, _CM_D, _CM_PROBES = 1024, 4, 20

_CM_SQL = f"""
WITH tok AS (
  SELECT t AS token FROM (SELECT unnest({_W}) AS t FROM documents)
  WHERE t <> ''
),
ex AS (SELECT token, count(*)::BIGINT AS exact FROM tok GROUP BY token),
probes AS (
  SELECT token, exact FROM ex ORDER BY exact DESC, token LIMIT {_CM_PROBES}
),
seeds AS (SELECT unnest([0, 1, 2, 3]) AS r),
cells AS (
  SELECT r,
         ('0x' || substr(md5(token || '@' || r), 1, 8))::BIGINT % {_CM_W}
           AS c,
         count(*)::BIGINT AS cnt
  FROM tok CROSS JOIN seeds GROUP BY 1, 2
),
pe AS (
  SELECT p.token, p.exact, min(coalesce(cells.cnt, 0))::BIGINT AS est
  FROM probes p CROSS JOIN seeds s
  LEFT JOIN cells
    ON cells.r = s.r
   AND cells.c = ('0x' || substr(md5(p.token || '@' || s.r), 1, 8))::BIGINT
                   % {_CM_W}
  GROUP BY 1, 2
)
SELECT token, exact, est, (est >= exact) AS never_undercounts FROM pe
"""


@query("count_min_frequencies", _CM_SQL)
def count_min_frequencies_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point frequencies for the corpus's top-20 tokens
    (operators/sketches.py:count_min_counters/estimate): md5-deterministic
    counters that the oracle rebuilds cell-for-cell — est values are
    hash-compared, not tolerance-gated, and the one-sided never-undercount
    guarantee rides as a checked boolean.  Third member of the mergeable
    sketch family (Misra-Gries heavy hitters, HLL cardinality, CM point
    frequency), all sharing the groupBy-partial-merge one-pass shape."""
    from pyspark.sql import Window
    from hnsw_spark.operators.sketches import count_min_estimate

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(words("text")).alias("token")).filter(
        F.col("token") != ""
    )
    ex = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
    w = Window.orderBy(F.desc("exact"), F.asc("token"))
    probes = (
        ex.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= _CM_PROBES)
        .select("token", "exact")
    )
    est = count_min_estimate(tok, probes, "token", _CM_W, _CM_D)
    return probes.join(est, "token").select(
        "token",
        "exact",
        "est",
        (F.col("est") >= F.col("exact")).alias("never_undercounts"),
    )


_TFIDF_SIM_K = 5
_TFIDF_SIM_PROBES = 50

_TFIDF_SIM_SQL = f"""
WITH tok AS (
  SELECT doc_id, t AS token FROM (
    SELECT doc_id, unnest({_W}) AS t FROM documents) WHERE t <> ''
),
tf AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
),
n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM tf),
idf AS (
  SELECT token,
         floor(ln(n_docs / count(DISTINCT doc_id)) * 1000000.0 + 0.5)::BIGINT
           AS q_idf
  FROM tf, n GROUP BY token, n_docs
),
w AS (
  SELECT tf.doc_id, tf.token, tf.tf * idf.q_idf AS w
  FROM tf JOIN idf USING (token)
),
norms AS (SELECT doc_id, sum(w * w)::BIGINT AS n2 FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS query_doc, b.doc_id AS match_doc,
         sum(a.w * b.w)::BIGINT AS dot
  FROM w a JOIN w b ON a.token = b.token AND a.doc_id <> b.doc_id
  WHERE a.doc_id < {_TFIDF_SIM_PROBES}
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_doc, d.match_doc,
         d.dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cos,
         row_number() OVER (
           PARTITION BY d.query_doc
           ORDER BY d.dot / (sqrt(na.n2) * sqrt(nb.n2)) DESC, d.match_doc
         ) AS rank
  FROM dots d
  JOIN norms na ON na.doc_id = d.query_doc
  JOIN norms nb ON nb.doc_id = d.match_doc
)
SELECT query_doc, match_doc, rank::INT AS rank,
       floor(cos * 1e6 + 0.5)::BIGINT AS cosine_fp
FROM scored WHERE rank <= {_TFIDF_SIM_K}
"""


@query("tfidf_doc_similarity", _TFIDF_SIM_SQL)
def tfidf_doc_similarity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF document-to-document top-5 similarity via the
    inverted-index join — the sparse-retrieval counterpart to the dense
    `embedding_neardup` tier and the query-driven `bm25_search`: pairs are
    generated ONLY where a token is shared (cost Σ df² over tokens, never
    corpus²; the stop-token blowup is the same one `ngram_jaccard_pairs`
    documents, with the same opt-in doc-frequency cap as the scale
    remedy).  Weights are exact integers (tf · fixed-point idf), so dot
    products and squared norms are engine-exact BIGINTs and the cosine is
    a ratio of identical doubles in both engines."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(words("text")).alias("token")
    ).filter(F.col("token") != "")
    from hnsw_spark.plans.cachereg import owned_persist

    # tf feeds THREE consumers (doc count, idf, weights) — persist so the
    # tokenize/explode pipeline runs once, not per consumer; library-owned
    # (release_caches() frees it after the caller's action)
    tf = owned_persist(
        tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    )
    n = tf.select("doc_id").distinct().agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        # tf is one row per (doc_id, token) by construction, so count(*)
        # per token IS the distinct-doc count — count_distinct planned a
        # second aggregation phase for a distinctness the frame already has
        # (same derivation tfidf_top_terms uses)
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n))
        .select(
            "token",
            F.floor(
                F.log(F.col("n_docs") / F.col("df")) * 1000000.0 + 0.5
            )
            .cast("long")
            .alias("q_idf"),
        )
    )
    w = owned_persist(
        tf.join(idf, "token").select(
            "doc_id", "token", (F.col("tf") * F.col("q_idf")).alias("w")
        )
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    probe = w.filter(F.col("doc_id") < _TFIDF_SIM_PROBES).select(
        F.col("doc_id").alias("query_doc"), "token", F.col("w").alias("wa")
    )
    dots = (
        probe.join(
            w.select(
                F.col("doc_id").alias("match_doc"),
                "token",
                F.col("w").alias("wb"),
            ),
            "token",
        )
        .filter(F.col("query_doc") != F.col("match_doc"))
        .groupBy("query_doc", "match_doc")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("query_doc"), F.col("n2").alias("na"))
    nb = norms.select(F.col("doc_id").alias("match_doc"), F.col("n2").alias("nb"))
    cos = F.col("dot") / (F.sqrt("na") * F.sqrt("nb"))
    win = Window.partitionBy("query_doc").orderBy(
        F.desc(cos), F.asc("match_doc")
    )
    return (
        dots.join(F.broadcast(na), "query_doc")
        .join(nb, "match_doc")
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= _TFIDF_SIM_K)
        .select(
            "query_doc",
            "match_doc",
            F.col("rank").cast("int").alias("rank"),
            # fixed-point BIGINT, not round(): the ranking cosine is a
            # ratio of identical exact-integer terms in both engines, but
            # a float ROUND at a half-boundary would ride on engine
            # rounding mode (ADVICE r4) — floor(x*1e6+0.5) never does
            F.floor(cos * 1e6 + F.lit(0.5)).cast("bigint").alias("cosine_fp"),
        )
    )


# ---- per-document keyword extraction ------------------------------------------

_KW_TOP = 3

_DOC_KEYWORDS_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_W}) AS word FROM documents),
tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY 1)
SELECT doc_id, rank, word, tf, df, score_fp FROM (
  SELECT tf.doc_id, tf.word, tf, df,
         ((tf * 1000000) // df)::BIGINT AS score_fp,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY (tf * 1000000) // df DESC, tf.word)
           AS rank
  FROM tf JOIN df USING (word)
) WHERE rank <= {_KW_TOP}
"""


@query("doc_keywords", _DOC_KEYWORDS_SQL)
def doc_keywords_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document by tf/df weighting (term
    frequency damped by corpus document frequency — the same monotone
    ordering as tf·idf without a float logarithm, so the score is a pure
    integer ratio both engines compute identically).  The per-doc tag
    surface a curation UI or a topic-routing mixer reads.

    Scale shape: ONE token explode feeds the (doc, word) tf aggregate;
    document frequency is a count window over that SAME frame partitioned
    by word (tf's rows are already distinct doc-word pairs, so the
    partition size IS df) — no second corpus pass, no self-join, and no
    persist of a corpus-scale intermediate: the plan is explode → tf
    aggregate → word-keyed count window → doc-keyed top-k window, every
    stage a single linear pass.  The count window carries no ORDER BY, so
    even a stopword's fat partition is a streaming count, not a sort."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(words("text")).alias("word")
    )
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("word"))
    ).withColumn("score_fp", F.expr("(tf * 1000000) div df").cast("bigint"))
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("score_fp"), F.asc("word")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= _KW_TOP)
        .select("doc_id", "rank", "word", "tf", "df", "score_fp")
    )
