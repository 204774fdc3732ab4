"""Training-data pipeline queries: decontamination, term ranking,
deterministic sampling/ordering, PII scrubbing, and repetition-based
quality — all oracle-gated (SURVEY.md §7.4).

Planting conventions mirror queries/extensions.py: contamination and
PII are INJECTED deterministically (id-derived) so the operators
demonstrably fire on the otherwise-clean synthetic corpus, and the
oracle replays the identical injection in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extensions import decontam, ranking, text
from ..extensions.sampling import (
    KNUTH,
    SHUFFLE_BUCKETS,
    SPLIT_BUCKETS,
    deterministic_shuffle,
    fraction_buckets,
    stratified_sample,
)
from ..functions.numeric import gate_quantize, quantize_cols
from ..session import configure_for_oracle_parity
from ..sources.parquet import load_table, spread

# test slice: every 20th doc; planted leaks: every 40th (half the test
# slice appears verbatim inside the training corpus under shifted ids)
TEST_MOD = 20
LEAK_MOD = 40
LEAK_OFFSET = 200_000

NORM = "regexp_replace(lower(text), '\\s+', ' ', 'g')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_for_oracle_parity(spark)
    return spread(load_table(spark, sf_dir, "documents"), spark)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_for_oracle_parity(spark)
    return load_table(spark, sf_dir, "events")


def _train_test(spark: SparkSession, sf_dir: str):
    d = _docs(spark, sf_dir)
    test = d.filter(F.col("doc_id") % TEST_MOD == 0)
    leaked = d.filter(F.col("doc_id") % LEAK_MOD == 0).withColumn(
        "doc_id", F.col("doc_id") + LEAK_OFFSET
    )
    train = d.filter(F.col("doc_id") % TEST_MOD != 0).unionByName(leaked)
    return train, test


_TRAIN_TEST_CTE = f"""
test AS (SELECT doc_id, text FROM documents WHERE doc_id % {TEST_MOD} = 0),
train AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {TEST_MOD} <> 0
  UNION ALL
  SELECT doc_id + {LEAK_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % {LEAK_MOD} = 0
)
"""

# word-trigram shingling, identical to extensions/dedup.py shingles(n=3).
# DuckDB list slices are INCLUSIVE of the end index: toks[i:i+2] is the
# 3-element trigram starting at i.
def _shingle_cte(src: str, alias: str) -> str:
    return f"""
{alias} AS (
  SELECT doc_id, unnest(list_distinct(
           [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
         )) AS shingle
  FROM (SELECT doc_id, string_split({NORM}, ' ') AS toks FROM {src})
  WHERE len(toks) >= 3
)"""


# ---------------------------------------------------------------------------
# Decontamination: train/test n-gram overlap
# ---------------------------------------------------------------------------

def q_contamination_check_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Every (train, test) doc pair sharing >= 1 word trigram, with the
    contained-fraction of the test doc. The planted leaks must surface
    at contamination = 1.0."""
    train, test = _train_test(spark, sf_dir)
    return decontam.contamination_check(train, test, n=3)


ORACLE_CONTAMINATION_CHECK_DOCUMENTS = f"""
WITH {_TRAIN_TEST_CTE},
{_shingle_cte("train", "tr")},
{_shingle_cte("test", "te")},
sizes AS (SELECT doc_id AS test_id, count(*) AS test_size FROM te GROUP BY 1),
matched AS (
  SELECT tr.doc_id AS train_id, te.doc_id AS test_id, count(*) AS n_shared
  FROM tr JOIN te ON tr.shingle = te.shingle
  GROUP BY 1, 2
)
SELECT train_id, test_id, n_shared, test_size,
       CAST(n_shared AS DOUBLE) / test_size AS contamination
FROM matched JOIN sizes USING (test_id)
"""


def q_decontaminated_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal side: training docs surviving decontamination at
    threshold 0.8 — exactly the corpus minus the planted leaks (plus
    any organic near-containments)."""
    train, test = _train_test(spark, sf_dir)
    return decontam.decontaminate(train, test, n=3, threshold=0.8).select(
        "doc_id"
    )


ORACLE_DECONTAMINATED_TRAIN_DOCS = f"""
WITH {_TRAIN_TEST_CTE},
{_shingle_cte("train", "tr")},
{_shingle_cte("test", "te")},
sizes AS (SELECT doc_id AS test_id, count(*) AS test_size FROM te GROUP BY 1),
matched AS (
  SELECT tr.doc_id AS train_id, te.doc_id AS test_id, count(*) AS n_shared
  FROM tr JOIN te ON tr.shingle = te.shingle
  GROUP BY 1, 2
),
flagged AS (
  SELECT DISTINCT train_id FROM matched JOIN sizes USING (test_id)
  WHERE CAST(n_shared AS DOUBLE) / test_size >= 0.8
)
SELECT doc_id FROM train
WHERE doc_id NOT IN (SELECT train_id FROM flagged)
"""


# ---------------------------------------------------------------------------
# TF-IDF / BM25 term ranking
# ---------------------------------------------------------------------------

TFIDF_K = 5


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per doc. Scores are quantized BEFORE
    ranking (score_transform=gate_quantize) so a 1-ulp cross-engine
    ``ln`` difference can't flip near-equal ranks; ties break by term."""
    return ranking.tfidf_top_terms(
        _docs(spark, sf_dir), k=TFIDF_K, score_transform=gate_quantize
    )


ORACLE_TFIDF_TOP_TERMS = f"""
WITH tc AS (
  SELECT doc_id, unnest(string_split({NORM}, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tc GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         CAST(CAST(tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0)
              AS REAL) AS DOUBLE) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term) AS INT) AS rank
  FROM scored
) WHERE rank <= {TFIDF_K}
"""


BM25_TERMS = ["spark", "join", "vector"]


def q_bm25_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every doc against a fixed 3-term query. The
    per-doc score sums <= 3 term scores — quantized (sum order and
    cross-engine ln both jitter at the ulp level)."""
    return quantize_cols(
        ranking.bm25_scores(_docs(spark, sf_dir), BM25_TERMS), "bm25"
    )


ORACLE_BM25_DOCUMENTS = f"""
WITH tc AS (
  SELECT doc_id, len(string_split({NORM}, ' ')) AS doc_len,
         unnest(string_split({NORM}, ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf, min(doc_len) AS doc_len
  FROM tc WHERE term IN ('spark', 'join', 'vector') GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
g AS (
  SELECT count(*) AS n_docs,
         avg(len(string_split({NORM}, ' '))) AS avgdl
  FROM documents
),
scored AS (
  SELECT doc_id,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * (1.2 + 1))
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * doc_len / avgdl)) AS term_score
  FROM tf JOIN dfreq USING (term) CROSS JOIN g
)
SELECT doc_id,
       CAST(CAST(sum(term_score) AS REAL) AS DOUBLE) AS bm25,
       count(*) AS n_matched_terms
FROM scored GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Deterministic stratified sampling + corpus shuffle
# ---------------------------------------------------------------------------

STRATA_FRACTIONS = {"click": 0.5, "error": 1.0, "purchase": 0.25}
STRATA_DEFAULT = 0.1


def q_stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type deterministic sampling — sampleBy without RNG
    state (pure id-hash filter, zero shuffles)."""
    return stratified_sample(
        _events(spark, sf_dir),
        strata_col="event_type",
        fractions=STRATA_FRACTIONS,
        default_fraction=STRATA_DEFAULT,
        id_col="event_id",
    ).select("event_id", "user_id", "event_type", "value")


ORACLE_STRATIFIED_SAMPLE_EVENTS = f"""
SELECT event_id, user_id, event_type, value
FROM events
WHERE (event_id * {KNUTH}) % {SPLIT_BUCKETS} <
      CASE event_type
        WHEN 'click' THEN {fraction_buckets(STRATA_FRACTIONS["click"])}
        WHEN 'error' THEN {fraction_buckets(STRATA_FRACTIONS["error"])}
        WHEN 'purchase' THEN {fraction_buckets(STRATA_FRACTIONS["purchase"])}
        ELSE {fraction_buckets(STRATA_DEFAULT)}
      END
"""


def q_corpus_shuffle_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order (epoch-0 salt)."""
    return deterministic_shuffle(_docs(spark, sf_dir)).select(
        "doc_id", "shuffle_pos"
    )


ORACLE_CORPUS_SHUFFLE_DOCUMENTS = f"""
SELECT doc_id,
       CAST(row_number() OVER (
         ORDER BY (doc_id * {KNUTH}) % {SHUFFLE_BUCKETS}, doc_id
       ) - 1 AS BIGINT) AS shuffle_pos
FROM documents
"""


# ---------------------------------------------------------------------------
# PII scrubbing (planted, deterministic)
# ---------------------------------------------------------------------------

def _docs_with_planted_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    email = F.concat(
        F.lit(" contact user"), did.cast("string"), F.lit("@example.com")
    )
    ip = F.concat(
        F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".7")
    )
    phone = F.lit(" call 555-123-4567")
    planted = F.concat(
        F.col("text"),
        F.when(did % 10 == 0, email).otherwise(F.lit("")),
        F.when(did % 10 == 0, ip).otherwise(F.lit("")),
        F.when(did % 15 == 0, phone).otherwise(F.lit("")),
    )
    return d.withColumn("text", planted)


def q_pii_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction counts + scrubbed text over docs with deterministically
    planted emails/IPs/phones (every 10th/10th/15th doc)."""
    return text.scrub_pii(_docs_with_planted_pii(spark, sf_dir)).select(
        "doc_id", "n_email", "n_ip", "n_phone", "scrubbed_text"
    )


_PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PII_IP = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
_PII_PHONE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

ORACLE_PII_SCRUB_DOCUMENTS = f"""
WITH planted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 10 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 10 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                 ELSE '' END
         || CASE WHEN doc_id % 15 = 0 THEN ' call 555-123-4567' ELSE '' END
           AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_email,
       len(regexp_extract_all(text, '{_PII_IP}')) AS n_ip,
       len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phone,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_IP}', '<IP>', 'g'),
         '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed_text
FROM planted
"""


# ---------------------------------------------------------------------------
# Repetition stats + Gopher-rule quality filter
# ---------------------------------------------------------------------------

def q_gopher_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter with its repetition inputs. All ratios
    are single divisions of exact integers — deterministic without
    quantization."""
    return text.gopher_quality_flags(_docs(spark, sf_dir)).select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "dup_sentence_frac",
        "dup_trigram_frac",
        "ok_n_tokens",
        "ok_token_len",
        "ok_repetition",
        "ok_stopwords",
        "passes_gopher",
    )


_STOP7 = "'the', 'a', 'of', 'and', 'is', 'to', 'in'"

ORACLE_GOPHER_QUALITY_DOCUMENTS = f"""
WITH base AS (
  SELECT doc_id,
         string_split(text, ' ') AS raw_toks,
         string_split({NORM}, ' ') AS toks,
         list_filter(string_split(text, '. '), s -> len(s) > 0) AS sents
  FROM documents
),
tri AS (
  SELECT *,
         CASE WHEN len(toks) >= 3
              THEN [array_to_string(toks[i:i+2], ' ')
                    for i in range(1, len(toks) - 1)]
              ELSE [] END AS trigrams
  FROM base
),
stats AS (
  SELECT doc_id,
         len(raw_toks) AS n_tokens,
         CAST(list_sum(list_transform(raw_toks, x -> length(x))) AS DOUBLE)
           / len(raw_toks) AS avg_token_len,
         len(list_filter(raw_toks, x -> x IN ({_STOP7}))) AS n_stopwords,
         CASE WHEN len(toks) > 0
              THEN CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                   / len(toks) ELSE 0.0 END AS dup_token_frac,
         CASE WHEN len(sents) > 0
              THEN CAST(len(sents) - len(list_distinct(sents)) AS DOUBLE)
                   / len(sents) ELSE 0.0 END AS dup_sentence_frac,
         CASE WHEN len(trigrams) > 0
              THEN CAST(len(trigrams) - len(list_distinct(trigrams)) AS DOUBLE)
                   / len(trigrams) ELSE 0.0 END AS dup_trigram_frac
  FROM tri
)
SELECT doc_id, n_tokens, dup_token_frac, dup_sentence_frac, dup_trigram_frac,
       n_tokens >= {text.GOPHER_MIN_TOKENS}
         AND n_tokens <= {text.GOPHER_MAX_TOKENS} AS ok_n_tokens,
       avg_token_len >= {text.GOPHER_TOKEN_LEN_RANGE[0]}
         AND avg_token_len <= {text.GOPHER_TOKEN_LEN_RANGE[1]} AS ok_token_len,
       dup_trigram_frac <= {text.GOPHER_MAX_DUP_TRIGRAM_FRAC} AS ok_repetition,
       n_stopwords >= {text.GOPHER_MIN_STOPWORD_HITS} AS ok_stopwords,
       (n_tokens >= {text.GOPHER_MIN_TOKENS}
         AND n_tokens <= {text.GOPHER_MAX_TOKENS})
         AND (avg_token_len >= {text.GOPHER_TOKEN_LEN_RANGE[0]}
              AND avg_token_len <= {text.GOPHER_TOKEN_LEN_RANGE[1]})
         AND dup_trigram_frac <= {text.GOPHER_MAX_DUP_TRIGRAM_FRAC}
         AND n_stopwords >= {text.GOPHER_MIN_STOPWORD_HITS} AS passes_gopher
FROM stats
"""


CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
_CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 64-token windows, 16-token overlap,
    1:N row-local fan-out (posexplode) — the pre-embedding split."""
    return text.chunk_documents(
        _docs(spark, sf_dir),
        chunk_tokens=CHUNK_TOKENS,
        overlap=CHUNK_OVERLAP,
    )


ORACLE_CHUNK_DOCUMENTS = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
bounded AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) > {CHUNK_TOKENS}
              THEN CAST(ceil((len(toks) - {CHUNK_TOKENS}) / {_CHUNK_STRIDE}.0)
                        AS INT) * {_CHUNK_STRIDE}
              ELSE 0 END AS last_start
  FROM base
),
chunked AS (
  SELECT doc_id,
         unnest([{{'cid': s / {_CHUNK_STRIDE},
                   'chunk': array_to_string(
                       toks[s + 1 : s + {CHUNK_TOKENS}], ' ')}}
                 for s in range(0, last_start + 1, {_CHUNK_STRIDE})]) AS u
  FROM bounded
)
SELECT doc_id,
       CAST(u.cid AS INT) AS chunk_id,
       u.chunk AS chunk_text,
       CAST(len(string_split(u.chunk, ' ')) AS INT) AS n_chunk_tokens
FROM chunked
"""


QUALITY_KEEP_FRAC = 0.25


def q_quality_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based corpus curation: keep the top quarter of documents
    per language by quality score (percent_rank over the (lang)
    partition — one shuffle; at 100 TB the same selection runs as an
    approx_percentile threshold per group, trading the sort for a
    sketch). Ranks tie-break nothing: equal scores share a
    percent_rank, so the kept set is deterministic.

    text_quality is gate-quantized BEFORE ranking (not just on output):
    DuckDB folds the 0.3/0.2 penalty literals in exact DECIMAL while
    Spark chains doubles (1.0-0.3-0.2 = 0.49999999999999994 vs 0.5), so
    a multi-penalty doc would otherwise rank differently per engine and
    flip top-quartile membership."""
    scored = quantize_cols(
        text.add_quality_score(_docs(spark, sf_dir)), "text_quality"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("text_quality").desc())
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= QUALITY_KEEP_FRAC)
        .select("doc_id", "lang", "text_quality", "pr")
    )


ORACLE_QUALITY_TOPK_PER_LANG = f"""
WITH stats AS (
  SELECT doc_id, lang,
         string_split(text, ' ') AS toks,
         length(text) AS n_chars_c
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         1.0
         - (CASE WHEN len(toks) < 10 THEN 0.3 ELSE 0.0 END)
         - (CASE WHEN CAST(len(list_filter(toks, x -> x IN ({_STOP7})))
                       AS DOUBLE) / len(toks) < 0.01 THEN 0.2 ELSE 0.0 END)
         - (CASE WHEN CAST(list_sum(list_transform(toks, x -> length(x)))
                       AS DOUBLE) / len(toks) > 12
                   OR CAST(list_sum(list_transform(toks, x -> length(x)))
                       AS DOUBLE) / len(toks) < 2 THEN 0.2 ELSE 0.0 END)
         - (CASE WHEN n_chars_c < 50 THEN 0.2 ELSE 0.0 END) AS text_quality_r
  FROM stats
),
quantized AS (
  -- rank over the quantized score (mirror of the Spark side): DuckDB's
  -- DECIMAL folding vs Spark's chained doubles differ by 1 ulp on
  -- multi-penalty docs, which would flip rank order
  SELECT doc_id, lang,
         CAST(CAST(text_quality_r AS REAL) AS DOUBLE) AS text_quality
  FROM scored
)
SELECT doc_id, lang, text_quality, pr FROM (
  SELECT *, percent_rank() OVER (PARTITION BY lang
                                 ORDER BY text_quality DESC) AS pr
  FROM quantized
) WHERE pr <= {QUALITY_KEEP_FRAC}
"""


QUALITY_APPROX_ACC = 10_000


def q_quality_topk_approx_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approx-percentile SCALE variant promised by
    ``quality_topk_per_lang``'s docstring, hash-gated by the
    recall-invariant pattern: at 100 TB the per-lang top-quartile cut
    runs as an ``approx_percentile`` threshold (one sketch aggregate —
    no per-partition sort), and this gate proves the sketch-selected
    set still covers a deterministic CORE of the exact selection.

    Scored on the CONTINUOUS stopword ratio (the discrete penalty
    score ties too coarsely for a percentile gate — its whole top
    quartile shares one value). Invariant: per lang, rank docs by
    (score desc, doc_id); cut = floor(0.25·n) is the last rank of the
    exact selection; the GK sketch at accuracy A has rank error
    <= n/A, so the approx threshold is the score at some desc-rank
    within cut ± (n/A + 1). Guard rank = cut − (2 + ceil(n/A)) sits
    strictly above every rank the sketch can return, hence
    t_approx <= score@guard and every doc with score > score@guard
    satisfies score >= t_approx. Spark returns core ∩ approx-selected;
    the oracle returns the full core; one core doc lost to sketch
    drift is a row mismatch."""
    from pyspark.sql import Window

    d = text.add_text_stats(_docs(spark, sf_dir))
    scored = quantize_cols(
        d.select(
            "doc_id", "lang", F.col("stopword_ratio").alias("score")
        ),
        "score",
    )
    w_rn = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    w_n = Window.partitionBy("lang")
    ranked = scored.withColumn("rn", F.row_number().over(w_rn)).withColumn(
        "n", F.count(F.lit(1)).over(w_n)
    )
    guard_rank = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.lit(QUALITY_KEEP_FRAC) * F.col("n")).cast("long")
        - (
            F.lit(2)
            + F.ceil(F.col("n") / F.lit(float(QUALITY_APPROX_ACC)))
        ).cast("long"),
    )
    t_guard = ranked.filter(F.col("rn") == guard_rank).select(
        "lang", F.col("score").alias("t_guard")
    )
    core = scored.join(t_guard, "lang").filter(
        F.col("score") > F.col("t_guard")
    )
    t_approx = scored.groupBy("lang").agg(
        F.percentile_approx(
            "score",
            F.lit(1.0 - QUALITY_KEEP_FRAC),
            F.lit(QUALITY_APPROX_ACC),
        ).alias("t_approx")
    )
    approx_sel = scored.join(t_approx, "lang").filter(
        F.col("score") >= F.col("t_approx")
    )
    return core.select("doc_id", "lang", "score").join(
        approx_sel.select("doc_id"), "doc_id"
    )


ORACLE_QUALITY_TOPK_APPROX_PCT = f"""
WITH s AS (
  SELECT doc_id, lang,
         CAST(CAST(
           CAST(len(list_filter(string_split(text, ' '),
                                x -> x IN ({_STOP7}))) AS DOUBLE)
           / len(string_split(text, ' ')) AS REAL) AS DOUBLE) AS score
  FROM documents
),
r AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY lang
                            ORDER BY score DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM s
),
g AS (
  SELECT lang,
         greatest(CAST(1 AS BIGINT),
                  CAST(floor({QUALITY_KEEP_FRAC} * n) AS BIGINT)
                  - (2 + CAST(ceil(n / {float(QUALITY_APPROX_ACC)})
                              AS BIGINT))) AS guard_rank
  FROM (SELECT DISTINCT lang, n FROM r)
),
t AS (
  SELECT r.lang, r.score AS t_guard
  FROM r JOIN g ON r.lang = g.lang AND r.rn = g.guard_rank
)
SELECT s.doc_id, s.lang, s.score
FROM s JOIN t USING (lang)
WHERE s.score > t.t_guard
"""


BPE_TOP_K = 200
INDEX_MAX_POSTINGS = 20


def q_bpe_pair_counts_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One round of BPE merge-candidate selection
    (extensions/vocab.py:bpe_pair_counts): the corpus's top-200
    adjacent token pairs by frequency. Pair extraction is row-local
    (shifted-zip, no self-join); the only exchange is the count
    aggregation, and the top-k cut is TakeOrderedAndProject with a
    deterministic (n desc, a, b) tiebreak."""
    from ..extensions.vocab import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), top_k=BPE_TOP_K)


ORACLE_BPE_PAIR_COUNTS_DOCUMENTS = rf"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
pairs AS (
  SELECT p[1] AS a, p[2] AS b
  FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
        FROM toks WHERE len(t) >= 2)
)
SELECT a, b, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY a, b
ORDER BY n_pairs DESC, a, b
LIMIT {BPE_TOP_K}
"""


def q_inverted_index_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inverted index (extensions/vocab.py:inverted_index): token ->
    document frequency, total term frequency, and the first 20 doc ids
    of the posting list (ascending, comma-joined so the driver's hash
    compares a canonical string). Per-doc token counts collapse
    map-side before the single token-keyed exchange."""
    from ..extensions.vocab import inverted_index

    return inverted_index(
        _docs(spark, sf_dir), max_postings=INDEX_MAX_POSTINGS
    )


ORACLE_INVERTED_INDEX_DOCUMENTS = rf"""
WITH per_doc AS (
  SELECT tok AS token, doc_id, CAST(count(*) AS BIGINT) AS tf_doc
  FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '')) AS tok
    FROM documents
  )
  GROUP BY tok, doc_id
)
SELECT token,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf_doc) AS BIGINT) AS tf,
       array_to_string(
         list_sort(list(doc_id))[1:{INDEX_MAX_POSTINGS}], ','
       ) AS postings_head
FROM per_doc
GROUP BY token
"""


QUERIES = {
    "contamination_check_documents": q_contamination_check_documents,
    "decontaminated_train_docs": q_decontaminated_train_docs,
    "tfidf_top_terms": q_tfidf_top_terms,
    "bm25_documents": q_bm25_documents,
    "stratified_sample_events": q_stratified_sample_events,
    "corpus_shuffle_documents": q_corpus_shuffle_documents,
    "pii_scrub_documents": q_pii_scrub_documents,
    "gopher_quality_documents": q_gopher_quality_documents,
    "quality_topk_per_lang": q_quality_topk_per_lang,
    "quality_topk_approx_pct": q_quality_topk_approx_pct,
    "chunk_documents": q_chunk_documents,
    "bpe_pair_counts_documents": q_bpe_pair_counts_documents,
    "inverted_index_documents": q_inverted_index_documents,
}

ORACLES = {
    "contamination_check_documents": ORACLE_CONTAMINATION_CHECK_DOCUMENTS,
    "decontaminated_train_docs": ORACLE_DECONTAMINATED_TRAIN_DOCS,
    "tfidf_top_terms": ORACLE_TFIDF_TOP_TERMS,
    "bm25_documents": ORACLE_BM25_DOCUMENTS,
    "stratified_sample_events": ORACLE_STRATIFIED_SAMPLE_EVENTS,
    "corpus_shuffle_documents": ORACLE_CORPUS_SHUFFLE_DOCUMENTS,
    "pii_scrub_documents": ORACLE_PII_SCRUB_DOCUMENTS,
    "gopher_quality_documents": ORACLE_GOPHER_QUALITY_DOCUMENTS,
    "quality_topk_per_lang": ORACLE_QUALITY_TOPK_PER_LANG,
    "quality_topk_approx_pct": ORACLE_QUALITY_TOPK_APPROX_PCT,
    "chunk_documents": ORACLE_CHUNK_DOCUMENTS,
    "bpe_pair_counts_documents": ORACLE_BPE_PAIR_COUNTS_DOCUMENTS,
    "inverted_index_documents": ORACLE_INVERTED_INDEX_DOCUMENTS,
}


def q_source_kl_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix drift diagnostic
    (extensions/profiling.py:token_kl_by_group): KL divergence of each
    source's token distribution from the whole corpus's. The vocab
    join is token-keyed (never broadcast — multi-GB at 100 TB, the
    TF-IDF DF-join reasoning); the corpus total folds in as a 1-row
    broadcast scalar. ln() is libm-ulp accurate, so the summed KL
    ships through float32 quantization."""
    from ..extensions.profiling import token_kl_by_group
    from ..functions.numeric import quantize_cols

    return quantize_cols(
        token_kl_by_group(_docs(spark, sf_dir), group_col="source"), "kl"
    )


ORACLE_SOURCE_KL_DOCUMENTS = r"""
WITH toks AS (
  SELECT source AS grp,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
),
gt AS (
  SELECT grp, token, CAST(count(*) AS BIGINT) AS n_gt
  FROM toks GROUP BY 1, 2
),
g AS (SELECT grp, CAST(sum(n_gt) AS BIGINT) AS n_g FROM gt GROUP BY 1),
t AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_t FROM toks GROUP BY 1
),
tot AS (SELECT CAST(sum(n_t) AS DOUBLE) AS n_total FROM t)
SELECT gt.grp AS source,
       CAST(CAST(sum((n_gt / n_g) * ln((n_gt / n_g) / (n_t / n_total)))
                 AS REAL) AS DOUBLE) AS kl
FROM gt
JOIN g USING (grp)
JOIN t USING (token)
CROSS JOIN tot
GROUP BY gt.grp
"""

QUERIES["source_kl_documents"] = q_source_kl_documents
ORACLES["source_kl_documents"] = ORACLE_SOURCE_KL_DOCUMENTS


def q_span_masks_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption mask table
    (extensions/sampling.py:span_corruption_masks): 3 deterministic
    3-token spans per document from the salted multiplicative hash —
    row-local, zero shuffles; the oracle replays the arithmetic."""
    from ..extensions.sampling import span_corruption_masks

    return span_corruption_masks(_docs(spark, sf_dir))


from ..extensions.sampling import (  # noqa: E402
    SPAN_MASKS_PER_DOC as _NSPANS,
    SPAN_MEAN_LEN as _SPANLEN,
)
from ..extensions.sampling import KNUTH as _KN2  # noqa: E402
from ..extensions.sampling import SALT_STRIDE as _SS2  # noqa: E402

ORACLE_SPAN_MASKS_DOCUMENTS = f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
s AS (
  SELECT doc_id, n_tokens, unnest(range(0, {_NSPANS})) AS span_idx
  FROM d WHERE n_tokens >= {_SPANLEN}
)
SELECT doc_id, CAST(span_idx AS INT) AS span_idx,
       CAST((doc_id * {_KN2} + span_idx * {_SS2})
            % (n_tokens - {_SPANLEN} + 1) AS BIGINT) AS start,
       CAST({_SPANLEN} AS INT) AS length
FROM s
"""

QUERIES["span_masks_documents"] = q_span_masks_documents
ORACLES["span_masks_documents"] = ORACLE_SPAN_MASKS_DOCUMENTS


def q_readability_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring (extensions/text.py:add_readability)
    over the corpus — word/sentence/vowel-group counts and the score,
    all row-local regexp arithmetic; the division chain is replayed
    identically by the oracle and the score ships through float32
    quantization (two divisions + multiplies are order-free, but the
    quantize keeps the gate convention uniform)."""
    from ..extensions.text import add_readability
    from ..functions.numeric import quantize_cols

    out = add_readability(_docs(spark, sf_dir)).select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "flesch"
    )
    return quantize_cols(out, "flesch")


ORACLE_READABILITY_DOCUMENTS = r"""
WITH c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
           AS n_words,
         CAST(greatest(len(regexp_extract_all(lower(text), '[.!?]+')), 1)
              AS BIGINT) AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN
         CAST(CAST(206.835 - 1.015 * (n_words / n_sentences)
                   - 84.6 * (n_syllables / greatest(n_words, 1))
              AS REAL) AS DOUBLE)
       END AS flesch
FROM c
"""

QUERIES["readability_documents"] = q_readability_documents
ORACLES["readability_documents"] = ORACLE_READABILITY_DOCUMENTS


ZIPF_TOP_K = 100


def q_zipf_slope_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health diagnostic: the Zipf rank-frequency slope — OLS
    of ln(freq) on ln(rank) over the top-100 tokens (natural language
    sits near −1; template floods and synthetic spam flatten or
    steepen it). One token count aggregation, one bounded top-k rank
    window, then the JVM ``regr_slope``/``regr_r2`` moments — the
    same regression machinery as the drift detector, pointed at the
    corpus itself. Slope and fit ship through float32 quantization."""
    from pyspark.sql.window import Window

    from ..extensions.vocab import _ws_tokens
    from ..functions.numeric import quantize_cols

    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.explode(_ws_tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # The top-k cut happens BEFORE the rank window: orderBy+limit
    # compiles to TakeOrderedAndProject — each task keeps k rows, the
    # driver merges k — so the unpartitioned row_number only ever
    # sees k rows, not the (multi-billion at 100 TB) full vocab.
    topk = counts.orderBy(
        F.col("freq").desc(), F.col("token")
    ).limit(ZIPF_TOP_K)
    ranked = topk.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("freq").desc(), F.col("token"))
        ),
    )
    out = ranked.agg(
        F.expr("regr_slope(ln(freq), ln(rank))").alias("zipf_slope"),
        F.expr("regr_r2(ln(freq), ln(rank))").alias("fit_r2"),
        F.count(F.lit(1)).alias("k"),
    )
    return quantize_cols(out, "zipf_slope", "fit_r2")


ORACLE_ZIPF_SLOPE_DOCUMENTS = rf"""
WITH counts AS (
  SELECT tok AS token, CAST(count(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '')) AS tok
    FROM documents
  ) GROUP BY tok
),
ranked AS (
  SELECT freq,
         row_number() OVER (ORDER BY freq DESC, token) AS rank
  FROM counts
)
SELECT CAST(CAST(regr_slope(ln(freq), ln(rank)) AS REAL) AS DOUBLE)
         AS zipf_slope,
       CAST(CAST(regr_r2(ln(freq), ln(rank)) AS REAL) AS DOUBLE)
         AS fit_r2,
       CAST(count(*) AS BIGINT) AS k
FROM ranked WHERE rank <= {ZIPF_TOP_K}
"""

QUERIES["zipf_slope_documents"] = q_zipf_slope_documents
ORACLES["zipf_slope_documents"] = ORACLE_ZIPF_SLOPE_DOCUMENTS


FUNNEL_MIN_CHARS = 150


def q_curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline as ONE composed report: per source, how
    many documents survive each stage — length floor, exact dedup
    (min-id keeper per normalized text), decontamination against the
    planted test slice (the _train_test fixture's leak clones MUST
    die here). The operator-level gates prove each stage alone; this
    gate proves the COMPOSITION (counts are stage-cumulative, so an
    ordering bug between stages is a hash mismatch). Three
    aggregations over one scan lineage; the test side broadcasts."""
    d = _docs(spark, sf_dir)
    from pyspark.sql.window import Window

    norm = F.regexp_replace(F.lower("text"), r"\s+", " ")
    test_texts = (
        d.filter(F.col("doc_id") % TEST_MOD == 0)
        .select(norm.alias("_norm"))
        .distinct()
    )
    staged = (
        d.withColumn("_norm", norm)
        .withColumn("len_ok", F.length("text") >= FUNNEL_MIN_CHARS)
        .withColumn(
            "keeper",
            F.row_number().over(
                Window.partitionBy("_norm").orderBy("doc_id")
            )
            == 1,
        )
        .join(
            F.broadcast(test_texts.withColumn("_leak", F.lit(True))),
            "_norm",
            "left",
        )
        .withColumn("clean", F.col("_leak").isNull())
    )
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count(F.when(F.col("len_ok"), 1)).alias("n_len_ok"),
        F.count(F.when(F.col("len_ok") & F.col("keeper"), 1)).alias(
            "n_after_dedup"
        ),
        F.count(
            F.when(
                F.col("len_ok") & F.col("keeper") & F.col("clean"), 1
            )
        ).alias("n_after_decontam"),
    )


ORACLE_CURATION_FUNNEL_REPORT = rf"""
WITH d AS (
  SELECT doc_id, source, text,
         regexp_replace(lower(text), '\s+', ' ', 'g') AS norm,
         length(text) >= {FUNNEL_MIN_CHARS} AS len_ok
  FROM documents
),
k AS (
  SELECT *,
         row_number() OVER (PARTITION BY norm ORDER BY doc_id) = 1
           AS keeper,
         norm IN (
           SELECT regexp_replace(lower(text), '\s+', ' ', 'g')
           FROM documents WHERE doc_id % {TEST_MOD} = 0
         ) AS leaked
  FROM d
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_raw,
       CAST(count(*) FILTER (len_ok) AS BIGINT) AS n_len_ok,
       CAST(count(*) FILTER (len_ok AND keeper) AS BIGINT)
         AS n_after_dedup,
       CAST(count(*) FILTER (len_ok AND keeper AND NOT leaked)
            AS BIGINT) AS n_after_decontam
FROM k GROUP BY source
"""

QUERIES["curation_funnel_report"] = q_curation_funnel_report
ORACLES["curation_funnel_report"] = ORACLE_CURATION_FUNNEL_REPORT


# ---------------------------------------------------------------------------
# BPE merge-rule training (the full iterative loop)
# ---------------------------------------------------------------------------

BPE_TRAIN_MERGES = 3
BPE_WORD_RE = "^[a-z]+$"


def q_bpe_train_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL BPE training loop (extensions/vocab.py:
    bpe_train_segments), not just one candidate round: 3 merge rules
    learned corpus-wide (frequency-weighted over the distinct-word
    table, ties broken (a, b)), each applied as a greedy
    left-to-right fold; the gate returns every distinct word's final
    segmentation, so a wrong rule, a wrong tiebreak, or a wrong
    overlap resolution (greedy must give 'aaa' -> 'aa a') all change
    the hash. The winning pair each round is a 1-row broadcast — no
    collect, corpus never reshuffles after the word count."""
    from ..extensions.vocab import bpe_train_segments

    return bpe_train_segments(
        _docs(spark, sf_dir),
        n_merges=BPE_TRAIN_MERGES,
        word_pattern=BPE_WORD_RE,
    )


def bpe_round_sql(r: int) -> str:
    """One unrolled BPE round as DuckDB CTEs: weighted pair counts
    from seq{r-1}, deterministic argmax, then greedy merge
    application via gaps-and-islands (consecutive match runs keep
    odd offsets — only an a==b rule can ever overlap, and greedy
    takes positions 1,3,5... of each run). Shared with
    tests/test_function_gate_props.py so the tested fragment IS the
    live oracle."""
    p = r - 1
    return f"""
pairs{r} AS (
  SELECT a, b, sum(n_word) AS n_pairs FROM (
    SELECT word, n_word, tok AS a,
           lead(tok) OVER (PARTITION BY word ORDER BY pos) AS b
    FROM seq{p}
  ) WHERE b IS NOT NULL GROUP BY a, b
),
best{r} AS (
  SELECT a, b FROM pairs{r} ORDER BY n_pairs DESC, a, b LIMIT 1
),
m{r} AS (
  SELECT word, n_word, pos, tok,
         coalesce(
           tok = (SELECT a FROM best{r})
           AND lead(tok) OVER (PARTITION BY word ORDER BY pos)
               = (SELECT b FROM best{r}), FALSE) AS m,
         lead(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM seq{p}
),
g{r} AS (
  SELECT *,
         pos - row_number() OVER (PARTITION BY word, m ORDER BY pos)
           AS grp
  FROM m{r}
),
s{r} AS (
  SELECT *,
         m AND row_number()
                 OVER (PARTITION BY word, m, grp ORDER BY pos)
               % 2 = 1 AS start
  FROM g{r}
),
seq{r} AS (
  SELECT word, n_word,
         row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
         CASE WHEN start THEN tok || nxt ELSE tok END AS tok
  FROM (
    SELECT *,
           coalesce(lag(start) OVER (PARTITION BY word ORDER BY pos),
                    FALSE) AS dropped
    FROM s{r}
  ) WHERE NOT dropped
)"""


def bpe_train_oracle_sql(n_merges: int) -> str:
    rounds = ",".join(bpe_round_sql(r) for r in range(1, n_merges + 1))
    return rf"""
WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n_word FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '')) AS word
    FROM documents
  ) WHERE regexp_matches(word, '{BPE_WORD_RE}') GROUP BY word
),
seq0 AS (
  SELECT word, n_word, i AS pos, chars[i] AS tok
  FROM (SELECT word, n_word, string_split(word, '') AS chars
        FROM words),
       unnest(range(1, len(chars) + 1)) AS t(i)
),{rounds}
SELECT word, n_word, string_agg(tok, ' ' ORDER BY pos) AS seg
FROM seq{n_merges} GROUP BY word, n_word
"""


ORACLE_BPE_TRAIN_DOCUMENTS = bpe_train_oracle_sql(BPE_TRAIN_MERGES)


BPE_APPLY_MERGES = 4


def q_bpe_apply_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The INFERENCE half of BPE (extensions/vocab.py:
    bpe_apply_tokens — training alone ships no tokenizer): learn
    4 merge rules on the corpus (bpe_merge_rules, the same loop the
    training gate certifies), then TOKENIZE every document with
    them — per-word greedy rank-ordered folds over the distinct-word
    table, joined back to the positionally exploded corpus, each
    document's full token stream reassembled in word order and
    hashed. The oracle replays training (the proven bpe_round_sql
    rounds) to derive the SAME rules, maps every word of every
    document through the resulting segmentation (non-[a-z]+ words
    pass through as single tokens, the caller-side pre-tokenizer
    contract), and md5s the identically-delimited stream — so a
    wrong rule order, a wrong overlap resolution, a word silently
    unsegmented, or a stream reassembled out of word order all
    hash-fail. Byte-exact end to end: tokens are selections, never
    arithmetic."""
    from ..extensions.vocab import bpe_apply_tokens, bpe_merge_rules

    d = _docs(spark, sf_dir)
    rules = bpe_merge_rules(
        d, n_merges=BPE_APPLY_MERGES, word_pattern=BPE_WORD_RE
    )
    out = bpe_apply_tokens(d, rules, word_pattern=BPE_WORD_RE)
    return out.select(
        "doc_id",
        "n_tokens",
        F.md5(F.col("stream")).alias("stream_md5"),
    )


def bpe_apply_oracle_sql(n_merges: int) -> str:
    rounds = ",".join(bpe_round_sql(r) for r in range(1, n_merges + 1))
    return rf"""
WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n_word FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '')) AS word
    FROM documents
  ) WHERE regexp_matches(word, '{BPE_WORD_RE}') GROUP BY word
),
seq0 AS (
  SELECT word, n_word, i AS pos, chars[i] AS tok
  FROM (SELECT word, n_word, string_split(word, '') AS chars
        FROM words),
       unnest(range(1, len(chars) + 1)) AS t(i)
),{rounds},
seg_map AS (
  SELECT word, string_agg(tok, chr(31) ORDER BY pos) AS seg,
         CAST(count(*) AS BIGINT) AS n
  FROM seq{n_merges} GROUP BY word
),
smap AS (
  SELECT map(list(word), list(seg)) AS ms,
         map(list(word), list(n)) AS mn
  FROM seg_map
)
SELECT d.doc_id,
       CAST(list_sum(
         list_transform(d.ws, w -> coalesce(smap.mn[w][1], 1))
       ) AS BIGINT) AS n_tokens,
       md5(array_to_string(
         list_transform(d.ws, w -> coalesce(smap.ms[w][1], w)),
         chr(30)
       )) AS stream_md5
FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d
CROSS JOIN smap
"""


ORACLE_BPE_APPLY_DOCUMENTS = bpe_apply_oracle_sql(BPE_APPLY_MERGES)

QUERIES["bpe_apply_documents"] = q_bpe_apply_documents
ORACLES["bpe_apply_documents"] = ORACLE_BPE_APPLY_DOCUMENTS


def q_bpe_rankmap_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BPE inference through the RANK-MAP path (extensions/vocab.py:
    bpe_apply_rankmap — the O(1)-plan-depth greedy lowest-rank
    tokenizer that carries real 32k-merge vocabularies where the
    fold path's per-rule driver loop cannot, round-10 measurement):
    train the same rules as bpe_apply_documents, tokenize every
    document via the Arrow-batched mapInPandas segmenter over the
    distinct-word table, and hash the reassembled streams. On a
    TRAINED merge list the greedy algorithm provably coincides with
    the rank-ordered fold (each rule's constituents are built by
    earlier rules, so no lower rank can ever become newly applicable
    after a higher one fires — property-tested in
    tests/test_llm_ops.py), so this gate reuses bpe_apply's
    training-replay oracle VERBATIM: a green row certifies the
    greedy implementation against independent SQL, and equality of
    the two gates' hashes pins fold==greedy on driver data."""
    from ..extensions.vocab import bpe_apply_rankmap, bpe_merge_rules

    d = _docs(spark, sf_dir)
    rules = bpe_merge_rules(
        d, n_merges=BPE_APPLY_MERGES, word_pattern=BPE_WORD_RE
    )
    out = bpe_apply_rankmap(d, rules, word_pattern=BPE_WORD_RE)
    return out.select(
        "doc_id",
        "n_tokens",
        F.md5(F.col("stream")).alias("stream_md5"),
    )


QUERIES["bpe_rankmap_documents"] = q_bpe_rankmap_documents
ORACLES["bpe_rankmap_documents"] = ORACLE_BPE_APPLY_DOCUMENTS

QUERIES["bpe_train_documents"] = q_bpe_train_documents
ORACLES["bpe_train_documents"] = ORACLE_BPE_TRAIN_DOCUMENTS
