"""Corpus-curation queries (SURVEY.md §7.4, second tier): sentence-
level dedup, embedding-space (SemDeDup) dedup, domain balancing,
mixture planning, table profiling, and percentile winsorization.

All six are oracle-gated bit-exact: the only floats are pow()/
percentile chains that go through the float32 gate quantization on
both engines (the same contract every gated query in this package
follows), plus cosine similarity, which is an identical sequential
double fold on both engines (established by the embedding_neardup
gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extensions import profiling, similarity, text
from ..functions.numeric import gate_quantize
from ..session import configure_for_oracle_parity
from ..sources.parquet import load_table, spread
from .extensions import (
    EMB_PLANT_N,
    EMB_PLANT_OFFSET,
    EMB_PLANT_SHIFT,
    NEARDUP_LSH_THRESHOLD,
    _emb_with_planted_neardups,
)

SENT_PLANT_N = 50
SENT_PLANT_OFFSET = 100_000
SOURCE_CAP_K = 10
MIX_ALPHA = 0.5
MIX_TOKEN_BUDGET = 1_000_000
PROFILE_COLUMNS = ["text", "lang", "source", "n_chars"]
WINSOR_LO = 0.05
WINSOR_HI = 0.95


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_for_oracle_parity(spark)
    return spread(load_table(spark, sf_dir, "documents"), spark)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_for_oracle_parity(spark)
    return load_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# Sentence-level dedup (CC-Net / C4 line rule)
# ---------------------------------------------------------------------------

def q_sentence_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document sentence dedup (extensions/text.py:
    sentence_dedup). The synthetic corpus has no sentence separators,
    so the gate plants them: 49 two-sentence docs share doc 0's text
    as a leading "chrome" sentence (df=50 -> stripped everywhere,
    emptying doc 0 itself) while each planted doc's second sentence is
    unique (kept). Base docs are untouched. Exact ints/strings only."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    chrome = F.broadcast(
        d.filter(F.col("doc_id") == 0).select(F.col("text").alias("_chrome"))
    )
    planted = (
        d.filter((F.col("doc_id") >= 1) & (F.col("doc_id") < SENT_PLANT_N))
        .crossJoin(chrome)
        .select(
            (F.col("doc_id") + SENT_PLANT_OFFSET).alias("doc_id"),
            F.concat(
                F.col("_chrome"), F.lit(". "), F.col("text"), F.lit(" tail")
            ).alias("text"),
        )
    )
    return text.sentence_dedup(d.unionByName(planted), min_doc_freq=2)


ORACLE_SENTENCE_DEDUP_DOCUMENTS = f"""
WITH base AS (SELECT doc_id, text FROM documents),
chrome AS (SELECT text AS c FROM documents WHERE doc_id = 0),
docs2 AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + {SENT_PLANT_OFFSET} AS doc_id,
         c || '. ' || text || ' tail' AS text
  FROM base CROSS JOIN chrome
  WHERE doc_id >= 1 AND doc_id < {SENT_PLANT_N}
),
t AS (SELECT doc_id, string_split(text, '. ') AS sents FROM docs2),
e AS (
  SELECT doc_id, unnest(sents) AS sentence,
         unnest(range(1, len(sents) + 1)) AS pos
  FROM t
),
dfreq AS (
  SELECT sentence, count(DISTINCT doc_id) AS sdf FROM e GROUP BY 1
)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(sum(CASE WHEN sdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       coalesce(
         array_to_string(list(e.sentence ORDER BY e.pos)
                           FILTER (WHERE sdf < 2), '. '),
         ''
       ) AS cleaned_text
FROM e JOIN dfreq USING (sentence)
GROUP BY e.doc_id
"""


# ---------------------------------------------------------------------------
# Semantic (embedding-space) dedup — SemDeDup keep-set
# ---------------------------------------------------------------------------

def q_semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-set (extensions/similarity.py:semantic_dedup):
    cosine-threshold pairs -> connected components -> min-id keeper per
    semantic cluster, over the planted near-dup corpus. The gate runs
    the SCALE path (use_lsh=True: banded-LSH candidates + exact
    verify) against a brute-force-pairs recursive-CTE oracle — the
    same LSH-vs-brute-force contract the embedding_neardup_pairs gate
    establishes at this threshold, extended through the component
    closure. The exact-pair baseline (use_lsh=False) stays as the
    unit-test cross-check."""
    emb = _emb_with_planted_neardups(spark, sf_dir)
    return similarity.semantic_dedup(
        emb, threshold=NEARDUP_LSH_THRESHOLD, use_lsh=True
    ).select("vec_id", "group_id", "is_keeper")


ORACLE_SEMANTIC_DEDUP_EMBEDDINGS = f"""
WITH RECURSIVE
e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
e AS (
  SELECT vec_id, v FROM e0
  UNION ALL
  SELECT vec_id + {EMB_PLANT_OFFSET} AS vec_id,
         list_transform(v, x -> x + {EMB_PLANT_SHIFT}) AS v
  FROM e0 WHERE vec_id < {EMB_PLANT_N}
),
p AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v)))
        >= {NEARDUP_LSH_THRESHOLD}
),
edges AS (
  SELECT id1 AS src, id2 AS dst FROM p
  UNION ALL
  SELECT id2 AS src, id1 AS dst FROM p
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, g.dst FROM reach r JOIN edges g ON r.dst = g.src
)
SELECT vec_id, group_id, vec_id = group_id AS is_keeper FROM (
  SELECT v.vec_id,
         CAST(least(v.vec_id, coalesce(min(r.dst), v.vec_id)) AS BIGINT)
           AS group_id
  FROM e v LEFT JOIN reach r ON r.src = v.vec_id
  GROUP BY v.vec_id
)
"""


# ---------------------------------------------------------------------------
# Domain balancing: per-source row cap
# ---------------------------------------------------------------------------

def q_source_cap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (extensions/sampling.py:cap_per_group):
    keep the lowest {SOURCE_CAP_K} doc ids per source — the domain-
    balancing guard against one crawl host dominating the mix."""
    from ..extensions.sampling import cap_per_group

    d = _docs(spark, sf_dir).select("doc_id", "source")
    return cap_per_group(d, "source", SOURCE_CAP_K).select(
        "doc_id", "source", F.col("group_rank").cast("long").alias("group_rank")
    )


ORACLE_SOURCE_CAP_DOCUMENTS = f"""
SELECT doc_id, source, group_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id)
           AS group_rank
  FROM documents
) WHERE group_rank <= {SOURCE_CAP_K}
"""


# ---------------------------------------------------------------------------
# Mixture planning manifest
# ---------------------------------------------------------------------------

def q_mix_manifest_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language training-mix manifest (extensions/sampling.py:
    mix_manifest): observed token mass, temperature-weighted share of
    a 1M-token budget, implied epoch multiplier. One tiny aggregate."""
    from ..extensions.sampling import mix_manifest

    d = _docs(spark, sf_dir).withColumn(
        "n_tok", F.size(F.split(F.col("text"), " ")).cast("long")
    )
    return mix_manifest(
        d, "lang", "n_tok", alpha=MIX_ALPHA, token_budget=MIX_TOKEN_BUDGET
    )


ORACLE_MIX_MANIFEST_DOCUMENTS = f"""
WITH t AS (
  SELECT lang, len(string_split(text, ' ')) AS n_tok FROM documents
),
counts AS (
  SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM t GROUP BY 1
),
tot AS (SELECT sum(pow(n_tokens, {MIX_ALPHA})) AS wsum FROM counts)
SELECT lang, n_docs, n_tokens,
       CAST(CAST(pow(n_tokens, {MIX_ALPHA}) AS REAL) AS DOUBLE) AS weight,
       CAST(floor(CAST(CAST(
         {float(MIX_TOKEN_BUDGET)} * pow(n_tokens, {MIX_ALPHA}) / wsum
       AS REAL) AS DOUBLE)) AS BIGINT) AS target_tokens,
       CAST(floor(CAST(CAST(
         {float(MIX_TOKEN_BUDGET)} * pow(n_tokens, {MIX_ALPHA}) / wsum
       AS REAL) AS DOUBLE)) AS DOUBLE) / n_tokens AS epochs
FROM counts CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# Table profiling (single-pass ANALYZE)
# ---------------------------------------------------------------------------

def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass long-format profile of the documents table
    (extensions/profiling.py:profile_columns): rows / nulls / exact
    distinct / string-ordered min-max per column, one scan total."""
    return profiling.profile_columns(_docs(spark, sf_dir), PROFILE_COLUMNS)


def _profile_col_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS "column",
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_value,
       max(CAST({c} AS VARCHAR)) AS max_value
FROM documents"""


ORACLE_PROFILE_DOCUMENTS = "\nUNION ALL\n".join(
    _profile_col_sql(c) for c in PROFILE_COLUMNS
)


# ---------------------------------------------------------------------------
# Percentile winsorization of event values
# ---------------------------------------------------------------------------

def q_winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize event values to the per-type [p05, p95] band — the
    outlier-trimming step before value aggregation. The percentile
    aggregate is one small per-type row set broadcast back onto the
    events; percentiles are gate-quantized BEFORE the clamp so the
    clip decision is the same on both engines, and the clamped output
    is quantized again (it may equal a percentile)."""
    ev = _events(spark, sf_dir)
    p = ev.groupBy("event_type").agg(
        gate_quantize(F.expr(f"percentile(value, {WINSOR_LO})")).alias("p_lo"),
        gate_quantize(F.expr(f"percentile(value, {WINSOR_HI})")).alias("p_hi"),
    )
    clamped = F.greatest(F.col("p_lo"), F.least(F.col("p_hi"), F.col("value")))
    return (
        ev.join(F.broadcast(p), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            gate_quantize(clamped).alias("value_winsorized"),
            ((F.col("value") < F.col("p_lo"))
             | (F.col("value") > F.col("p_hi"))).alias("is_clipped"),
        )
    )


ORACLE_WINSORIZE_EVENTS = f"""
WITH p AS (
  SELECT event_type,
         CAST(CAST(quantile_cont(value, {WINSOR_LO}) AS REAL) AS DOUBLE)
           AS p_lo,
         CAST(CAST(quantile_cont(value, {WINSOR_HI}) AS REAL) AS DOUBLE)
           AS p_hi
  FROM events GROUP BY 1
)
SELECT event_id, e.event_type, value,
       CAST(CAST(greatest(p_lo, least(p_hi, value)) AS REAL) AS DOUBLE)
         AS value_winsorized,
       (value < p_lo OR value > p_hi) AS is_clipped
FROM events e JOIN p ON e.event_type = p.event_type
"""


# ---------------------------------------------------------------------------
# Vocabulary heavy hitters
# ---------------------------------------------------------------------------

HH_K = 20


def q_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K corpus tokens with occurrence and document counts
    (extensions/text.py:token_heavy_hitters) — exact counts, the
    orderBy+limit runs as TakeOrderedAndProject (per-partition
    partial top-K, never a global sort)."""
    return text.token_heavy_hitters(_docs(spark, sf_dir), k=HH_K)


ORACLE_TOKEN_HEAVY_HITTERS = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT token,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM toks GROUP BY 1
)
SELECT token, n_occurrences, n_docs, rank FROM (
  SELECT *, CAST(row_number()
                   OVER (ORDER BY n_occurrences DESC, token) AS BIGINT)
              AS rank
  FROM counts
) WHERE rank <= {HH_K}
"""


# ---------------------------------------------------------------------------
# Fixed-range value histogram
# ---------------------------------------------------------------------------

HIST_LO = 0.0
HIST_HI = 600.0
HIST_BINS = 30


def q_value_histogram_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-range histogram of event values (extensions/profiling.py:
    value_histogram): 30 bins over [0, 600), under/overflow clamped
    into the edge bins. One |bins|-row aggregate; the bin arithmetic
    is row-level double math on constants — exact on both engines."""
    return profiling.value_histogram(
        _events(spark, sf_dir), "value", HIST_LO, HIST_HI, HIST_BINS
    )


_HIST_WIDTH = (HIST_HI - HIST_LO) / HIST_BINS

ORACLE_VALUE_HISTOGRAM_EVENTS = f"""
SELECT bin, CAST({HIST_LO!r} + bin * {_HIST_WIDTH!r} AS DOUBLE) AS bin_lo,
       CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT least({HIST_BINS - 1}, greatest(0,
           CAST(floor((value - {HIST_LO!r}) / {_HIST_WIDTH!r}) AS BIGINT)
         )) AS bin
  FROM events
) GROUP BY bin
"""


# ---------------------------------------------------------------------------
# Bigram-LM quality scoring (perplexity-filter analog)
# ---------------------------------------------------------------------------

def q_bigram_lm_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram-LM document scoring (extensions/ranking.py:
    bigram_lm_scores): add-one-smoothed mean token log-probability and
    perplexity per document — the model-based quality dimension (the
    CC-Net LM-filter shape) next to the rule-based Gopher gates."""
    from ..extensions.ranking import bigram_lm_scores

    return bigram_lm_scores(_docs(spark, sf_dir))


ORACLE_BIGRAM_LM_DOCUMENTS = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
bi AS (
  SELECT doc_id,
         unnest([array_to_string(toks[i:i+1], ' ')
                 for i in range(1, len(toks))]) AS bigram
  FROM t WHERE len(toks) >= 2
),
model AS (SELECT bigram, count(*) AS c_bi FROM bi GROUP BY 1),
hist AS (
  SELECT string_split(bigram, ' ')[1] AS w1, count(*) AS c_w1
  FROM bi GROUP BY 1
),
vocab AS (
  SELECT count(DISTINCT u.tok) AS v
  FROM (SELECT unnest(toks) AS tok FROM t) u
),
per_doc AS (
  SELECT bi.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(CAST(sum(ln((c_bi + 1.0) / (c_w1 + v))) / count(*)
              AS REAL) AS DOUBLE) AS avg_logprob
  FROM bi
  JOIN model USING (bigram)
  JOIN hist ON hist.w1 = string_split(bi.bigram, ' ')[1]
  CROSS JOIN vocab
  GROUP BY bi.doc_id
)
SELECT doc_id, n_bigrams, avg_logprob,
       CAST(CAST(exp(-avg_logprob) AS REAL) AS DOUBLE) AS ppl
FROM per_doc
"""


# ---------------------------------------------------------------------------
# Content-defined chunking
# ---------------------------------------------------------------------------

def q_cdc_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (extensions/text.py:
    cdc_chunk_documents): boundaries where the md5 of the trailing
    3-token window starts with nibble 0/1 — chunk edges follow
    CONTENT, so edits shift only neighbouring chunks (the shift-robust
    dedup primitive). Row-local, md5/integer-exact."""
    return text.cdc_chunk_documents(
        _docs(spark, sf_dir).select("doc_id", "text")
    )


ORACLE_CDC_CHUNK_DOCUMENTS = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
b AS (
  SELECT doc_id, toks, len(toks) AS n,
         [i for i in range({text.CDC_WINDOW}, len(toks) + 1)
          if substr(md5(array_to_string(
               toks[i - {text.CDC_WINDOW - 1}:i], ' ')), 1, 1)
             IN {text.CDC_BOUNDARY_NIBBLES!r}] AS ends0
  FROM t
),
b2 AS (
  SELECT doc_id, toks,
         CASE WHEN len(ends0) = 0 OR ends0[-1] != n
              THEN list_append(ends0, n) ELSE ends0 END AS ends
  FROM b
),
e AS (
  SELECT doc_id, toks, ends,
         unnest(range(1, len(ends) + 1)) AS j
  FROM b2
)
SELECT doc_id, CAST(j - 1 AS INT) AS chunk_id,
       array_to_string(
         toks[CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END : ends[j]],
         ' '
       ) AS chunk_text
FROM e
"""


# ---------------------------------------------------------------------------
# Skew-safe two-phase top-K per group
# ---------------------------------------------------------------------------

def q_source_cap_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe variant of source_cap_documents (operators/skew.py:
    two_phase_topk): per-(group, salt) partial top-K then a bounded
    merge — gated against the same UNsalted SQL as the plain window,
    proving the physical rewrite is semantics-invariant (the
    salted_join_orders contract)."""
    from ..operators.skew import two_phase_topk

    d = _docs(spark, sf_dir).select("doc_id", "source")
    return two_phase_topk(d, "source", SOURCE_CAP_K).select(
        "doc_id", "source", "group_rank"
    )


# ---------------------------------------------------------------------------
# EWMA smoothing + z-score anomaly flags (sensor analytics pair)
# ---------------------------------------------------------------------------

def q_ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (operators/windows.py:
    ewma_smooth) — the recursive telemetry smoother, folded O(n) per
    key. The oracle replays the identical multiply-add chain with a
    recursive CTE; alpha=0.25 is exactly representable, so both
    engines run literally the same constants."""
    from ..operators.windows import ewma_smooth

    return ewma_smooth(_events(spark, sf_dir))


ORACLE_EWMA_EVENTS = """
WITH RECURSIVE r AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
s(user_id, ts, event_id, value, rn, ewma) AS (
  SELECT user_id, ts, event_id, value, rn, value FROM r WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.ts, r.event_id, r.value, r.rn,
         0.25 * r.value + 0.75 * s.ewma
  FROM r JOIN s ON r.user_id = s.user_id AND r.rn = s.rn + 1
)
SELECT user_id, ts, event_id, value,
       CAST(CAST(ewma AS REAL) AS DOUBLE) AS ewma
FROM s
"""


ZSCORE_THRESHOLD = 3.0


def q_zscore_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly flags: mean/stddev are one small
    aggregate broadcast back (the winsorize shape); both moments are
    quantized BEFORE the z computation so the |z| > 3 decision is
    engine-exact."""
    ev = _events(spark, sf_dir)
    stats = ev.groupBy("event_type").agg(
        gate_quantize(F.avg("value")).alias("t_mean"),
        gate_quantize(F.stddev("value")).alias("t_std"),
    )
    z = gate_quantize(
        (F.col("value") - F.col("t_mean")) / F.col("t_std")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            z.alias("zscore"),
            (F.abs(z) > F.lit(ZSCORE_THRESHOLD)).alias("is_anomaly"),
        )
    )


ORACLE_ZSCORE_ANOMALY_EVENTS = f"""
WITH stats AS (
  SELECT event_type,
         CAST(CAST(avg(value) AS REAL) AS DOUBLE) AS t_mean,
         CAST(CAST(stddev(value) AS REAL) AS DOUBLE) AS t_std
  FROM events GROUP BY 1
)
SELECT event_id, e.event_type, value,
       CAST(CAST((value - t_mean) / t_std AS REAL) AS DOUBLE) AS zscore,
       abs(CAST(CAST((value - t_mean) / t_std AS REAL) AS DOUBLE))
         > {ZSCORE_THRESHOLD} AS is_anomaly
FROM events e JOIN stats USING (event_type)
"""


# ---------------------------------------------------------------------------
# Forward as-of join, per-group hash sampling, quantile normalization
# (registry positions past the driver's 50-query window this round —
# verified by the local exact-gate mirror, certifiable next round)
# ---------------------------------------------------------------------------

def q_click_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/joins.py:asof_join
    direction="forward"): each click gains the user's NEXT purchase
    at-or-after it — the next-event lookup, same single-shuffle union
    form as the backward gate query with the frame flipped."""
    from ..operators.joins import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_event")
    )
    return asof_join(
        clicks,
        purchases,
        on="user_id",
        right_cols=["purchase_event"],
        direction="forward",
    )


ORACLE_CLICK_ASOF_NEXT_PURCHASE = """
WITH c AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, ts, max(event_id) AS purchase_event
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT c.user_id, c.ts, c.event_id, p.purchase_event, p.ts AS ts_asof
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
"""


HASH_SAMPLE_K = 5


def q_hash_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-K uniform deterministic sample per language
    (extensions/sampling.py:hash_sample_per_group): k smallest salted
    multiplicative-hash values win — exact count per group, no
    lowest-id bias, reproducible on any engine."""
    from ..extensions.sampling import hash_sample_per_group

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return hash_sample_per_group(d, "lang", HASH_SAMPLE_K)


ORACLE_HASH_SAMPLE_PER_LANG = f"""
SELECT doc_id, lang, sample_rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY (doc_id * 2654435761) % 1000003, doc_id
         ) AS sample_rank
  FROM documents
) WHERE sample_rank <= {HASH_SAMPLE_K}
"""


QUERIES = {
    "sentence_dedup_documents": q_sentence_dedup_documents,
    "semantic_dedup_embeddings": q_semantic_dedup_embeddings,
    "source_cap_documents": q_source_cap_documents,
    "mix_manifest_documents": q_mix_manifest_documents,
    "profile_documents": q_profile_documents,
    "winsorize_events": q_winsorize_events,
    "token_heavy_hitters": q_token_heavy_hitters,
    "value_histogram_events": q_value_histogram_events,
    "bigram_lm_documents": q_bigram_lm_documents,
    "cdc_chunk_documents": q_cdc_chunk_documents,
    "ewma_events": q_ewma_events,
    "zscore_anomaly_events": q_zscore_anomaly_events,
    "source_cap_two_phase": q_source_cap_two_phase,
    "click_asof_next_purchase": q_click_asof_next_purchase,
    "hash_sample_per_lang": q_hash_sample_per_lang,
}

ORACLES = {
    "sentence_dedup_documents": ORACLE_SENTENCE_DEDUP_DOCUMENTS,
    "semantic_dedup_embeddings": ORACLE_SEMANTIC_DEDUP_EMBEDDINGS,
    "source_cap_documents": ORACLE_SOURCE_CAP_DOCUMENTS,
    "mix_manifest_documents": ORACLE_MIX_MANIFEST_DOCUMENTS,
    "profile_documents": ORACLE_PROFILE_DOCUMENTS,
    "winsorize_events": ORACLE_WINSORIZE_EVENTS,
    "token_heavy_hitters": ORACLE_TOKEN_HEAVY_HITTERS,
    "value_histogram_events": ORACLE_VALUE_HISTOGRAM_EVENTS,
    "bigram_lm_documents": ORACLE_BIGRAM_LM_DOCUMENTS,
    "cdc_chunk_documents": ORACLE_CDC_CHUNK_DOCUMENTS,
    "ewma_events": ORACLE_EWMA_EVENTS,
    "zscore_anomaly_events": ORACLE_ZSCORE_ANOMALY_EVENTS,
    # same UNsalted oracle as the plain window: the rewrite must be
    # physically different but semantically identical
    "source_cap_two_phase": ORACLE_SOURCE_CAP_DOCUMENTS,
    "click_asof_next_purchase": ORACLE_CLICK_ASOF_NEXT_PURCHASE,
    "hash_sample_per_lang": ORACLE_HASH_SAMPLE_PER_LANG,
}


# ---------------------------------------------------------------------------
# End-to-end corpus pipeline composition: quality -> exact dedup ->
# decontamination -> per-source cap -> split assignment, one gate
# ---------------------------------------------------------------------------

PIPE_MIN_TOKENS = 30
PIPE_TEST_MOD = 20
PIPE_DECONTAM_THRESHOLD = 0.8
PIPE_SOURCE_CAP = 120


def q_llm_corpus_pipeline_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The COMPOSITION gate: the five curation stages every
    training-data pipeline chains — quality filter → exact dedup →
    decontamination against the eval set → per-source cap →
    deterministic split assignment — executed end to end through the
    same library functions the individual gates certify
    (extensions/{dedup,decontam,sampling}.py), with the final
    train/val/test manifest per (source, split) on the hash path.
    Stage-by-stage gates prove each operator; THIS gate proves the
    stages compose (column contracts line up, each stage's survivors
    are exactly the next stage's input — the integration bugs
    stagewise testing can't see). Every stage is deterministic
    integer/hash arithmetic, so the oracle replays the whole chain
    as five SQL CTEs with zero quantization. Scale shape: the chain
    adds ONE fingerprint agg + one broadcast anti-join + one
    source-keyed cap window + a projection on top of the corpus scan
    — stages fuse where Catalyst can, and nothing rescans the
    corpus."""
    from ..extensions import decontam as dc
    from ..extensions import dedup as dd
    from ..extensions import sampling as sp

    docs = _docs(spark, sf_dir)
    # 1. quality: minimum whitespace-token count
    q = docs.filter(
        F.size(F.split(F.col("text"), " ")) >= PIPE_MIN_TOKENS
    )
    # 2. exact dedup: keep each fingerprint's lowest doc_id
    keepers = dd.exact_dedup(q).select(
        F.col("keeper_id").alias("doc_id")
    )
    deduped = q.join(keepers, "doc_id")
    # 3. decontamination: the eval slice is doc_id % 20 == 0 (held
    # out of train entirely); training docs sharing >= 80% of a test
    # doc's trigrams are dropped
    train = deduped.filter(F.col("doc_id") % PIPE_TEST_MOD != 0)
    test = docs.filter(F.col("doc_id") % PIPE_TEST_MOD == 0).select(
        "doc_id", "text"
    )
    clean = dc.decontaminate(
        train, test, n=3, threshold=PIPE_DECONTAM_THRESHOLD
    )
    # 4. per-source cap (lowest ids win — stable under growth)
    capped = sp.cap_per_group(
        clean, "source", PIPE_SOURCE_CAP
    ).drop("group_rank")
    # 5. split assignment (multiplicative hash, 90/5/5)
    assigned = sp.deterministic_split(capped)
    return (
        assigned.groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


_PIPE_NORM = "regexp_replace(lower(text), '\\s+', ' ', 'g')"


def _pipe_shingle_cte(src: str, alias: str) -> str:
    # word-trigram shingling, identical to extensions/dedup.shingles
    # (n=3) and the llm_ops decontamination oracles
    return f"""
{alias} AS (
  SELECT doc_id, unnest(list_distinct(
           [array_to_string(toks[i:i+2], ' ')
            for i in range(1, len(toks) - 1)]
         )) AS shingle
  FROM (SELECT doc_id, string_split({_PIPE_NORM}, ' ') AS toks
        FROM {src})
  WHERE len(toks) >= 3
)"""


ORACLE_LLM_CORPUS_PIPELINE_DOCUMENTS = f"""
WITH q AS (
  SELECT doc_id, text, source, n_chars FROM documents
  WHERE len(string_split(text, ' ')) >= {PIPE_MIN_TOKENS}
),
keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM q GROUP BY md5({_PIPE_NORM})
),
dd AS (SELECT q.* FROM q JOIN keepers USING (doc_id)),
train AS (SELECT * FROM dd WHERE doc_id % {PIPE_TEST_MOD} <> 0),
test AS (SELECT doc_id, text FROM documents
         WHERE doc_id % {PIPE_TEST_MOD} = 0),
{_pipe_shingle_cte("train", "tr")},
{_pipe_shingle_cte("test", "te")},
sizes AS (SELECT doc_id AS test_id, count(*) AS test_size
          FROM te GROUP BY 1),
flagged AS (
  SELECT DISTINCT m.train_id AS doc_id FROM (
    SELECT tr.doc_id AS train_id, te.doc_id AS test_id,
           count(*) AS n_shared
    FROM tr JOIN te ON tr.shingle = te.shingle
    GROUP BY 1, 2
  ) m JOIN sizes USING (test_id)
  WHERE CAST(m.n_shared AS DOUBLE) / sizes.test_size
        >= {PIPE_DECONTAM_THRESHOLD}
),
clean AS (
  SELECT t.* FROM train t
  WHERE t.doc_id NOT IN (SELECT doc_id FROM flagged)
),
capped AS (
  SELECT * FROM (
    SELECT c.*, row_number() OVER (
      PARTITION BY source ORDER BY doc_id) AS rnk
    FROM clean c
  ) WHERE rnk <= {PIPE_SOURCE_CAP}
),
assigned AS (
  SELECT *, (doc_id * 2654435761) % 1000 AS b FROM capped
)
SELECT source,
       CASE WHEN b < 900 THEN 'train'
            WHEN b < 950 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM assigned
GROUP BY 1, 2
"""

QUERIES["llm_corpus_pipeline_documents"] = (
    q_llm_corpus_pipeline_documents
)
ORACLES["llm_corpus_pipeline_documents"] = (
    ORACLE_LLM_CORPUS_PIPELINE_DOCUMENTS
)
