"""Vocabulary induction and the inverted index (SURVEY.md §7.4).

Two classic corpus-construction primitives for a training-data
pipeline:

- ``bpe_pair_counts``: count adjacent token pairs across the corpus —
  one full round of byte-pair-encoding merge-candidate selection
  (Sennrich et al. 2016: at each BPE step the most frequent adjacent
  pair becomes the next merge rule). Running this on the raw corpus
  yields the first merge table; iterating it off-engine over the
  heavy-hitter tail is how production tokenizers are trained.
- ``inverted_index``: token -> (document frequency, total term
  frequency, posting list) — the backbone of decontamination lookup,
  BM25 retrieval, and corpus search.

Plan shape at 100 TB:
- pair extraction is row-local (zip the token array against itself
  shifted by one — no self-join, no window): explode then ONE
  count aggregation keyed (a, b) with map-side combine. Candidate
  selection is a TakeOrderedAndProject top-k, never a full sort.
- the inverted index is explode + ONE groupBy(token) aggregation.
  Posting lists are bounded to ``max_postings`` per token BEFORE
  leaving the aggregate (slice after sort_array), so a stopword's
  posting list can never blow an executor; full lists belong in a
  posting-store sink keyed by (token, shard), not in one row.
- everything is built-in expressions (split/slice/arrays_zip/
  explode/sort_array) — zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WS_RE = r"\s+"


def _ws_tokens(text_col: str):
    """Whitespace tokens of lower(text), empties dropped (leading
    whitespace would otherwise inject '' tokens)."""
    toks = F.split(F.lower(F.col(text_col)), WS_RE)
    return F.filter(toks, lambda x: x != F.lit(""))


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_k: int | None = None,
) -> DataFrame:
    """Corpus-wide adjacent-pair counts ``(a, b, n_pairs)`` — the BPE
    merge-candidate table. ``top_k`` keeps the k most frequent pairs
    (ties broken by (a, b) so the cut is deterministic); None returns
    the full table.

    The pair stream is built row-locally by zipping the token array
    with its one-shifted self (``slice(t,1,|t|-1) zip slice(t,2,|t|-1)``),
    so the only exchange is the final count aggregation.
    """
    t = _ws_tokens(text_col)
    pairs = F.arrays_zip(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))).alias("a"),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))).alias("b"),
    )
    out = (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    if top_k is not None:
        # orderBy + limit compiles to TakeOrderedAndProject: each task
        # keeps k rows, the driver merges — no global sort at scale.
        out = out.orderBy(
            F.col("n_pairs").desc(), F.col("a"), F.col("b")
        ).limit(top_k)
    return out


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 20,
) -> DataFrame:
    """Token-keyed inverted index: ``(token, df, tf, postings_head)``
    where ``df`` counts distinct documents, ``tf`` total occurrences,
    and ``postings_head`` is the first ``max_postings`` doc ids in
    ascending order, canonicalized to a comma-joined string (stable
    across engines and safe to hash-compare).

    One explode over per-doc (token, count) pairs and ONE token-keyed
    aggregation; the per-doc pre-count collapses each document's
    repeated tokens map-side, so the exchange carries |vocab x docs|
    rows, not |corpus tokens|.
    """
    t = _ws_tokens(text_col)
    per_doc = (
        df.select(F.col(id_col), F.explode(t).alias("token"))
        .groupBy("token", id_col)
        .agg(F.count(F.lit(1)).alias("tf_doc"))
    )
    return per_doc.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf_doc").alias("tf"),
        F.concat_ws(
            ",",
            F.slice(
                F.sort_array(F.collect_list(id_col)), 1, max_postings
            ),
        ).alias("postings_head"),
    )


def bpe_train_segments(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
    word_pattern: str = "^[a-z]+$",
) -> DataFrame:
    """Train ``n_merges`` BPE merge rules over the corpus and return
    the resulting segmentation of every distinct word:
    ``(word, n_word, seg)`` where ``seg`` joins the word's final
    token sequence with spaces (Sennrich et al. 2016, the training
    loop that ``bpe_pair_counts`` runs one candidate round of).

    Fully distributed — the corpus is collapsed to the DISTINCT-word
    table up front (the production BPE optimization: merge work is
    per-type, pair counts are weighted by token frequency), the
    winning pair each round is a **1-row broadcast** into that table,
    and no row ever reaches the driver. Per round: one explode +
    count aggregation for weighted pair counts, a
    TakeOrderedAndProject top-1 (ties broken by (a, b) so the rule
    sequence is deterministic), and one broadcast cross join applying
    the merge as a sequential ``F.aggregate`` fold. The fold is
    greedy left-to-right — exactly BPE's "merge leftmost
    non-overlapping occurrences" contract, since a merged token
    ``a||b`` is strictly longer than ``a`` and so can never
    accidentally re-trigger the same rule on its own output within a
    round. ``localCheckpoint`` per round keeps lineage flat (same
    hygiene as ``clustering.py:kmeans_lloyd``).

    At 100 TB the distinct-word table is vocabulary-sized (millions
    of rows, not corpus-sized), so every round's cost is O(|vocab|)
    after the single corpus-wide word count — which is why real
    tokenizer training runs on exactly this shape.
    """
    if n_merges < 1:
        raise ValueError("bpe_train_segments needs n_merges >= 1")
    words = (
        df.select(F.explode(_ws_tokens(text_col)).alias("word"))
        .filter(F.col("word").rlike(word_pattern))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_word"))
    )
    chars = F.filter(F.split(F.col("word"), ""), lambda x: x != F.lit(""))
    seqs = words.select(
        "word", "n_word", chars.alias("seq")
    ).localCheckpoint(eager=False)
    for _ in range(n_merges):
        n_1 = F.greatest(F.size("seq") - 1, F.lit(0))
        pair_stream = F.arrays_zip(
            F.slice("seq", 1, n_1).alias("a"),
            F.slice("seq", 2, n_1).alias("b"),
        )
        best = (
            seqs.select(F.explode(pair_stream).alias("p"), "n_word")
            .select(
                F.col("p.a").alias("a"), F.col("p.b").alias("b"), "n_word"
            )
            .groupBy("a", "b")
            .agg(F.sum("n_word").alias("n_pairs"))
            .orderBy(F.col("n_pairs").desc(), "a", "b")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        # No candidate pair left (every word already collapsed to a
        # single token, or a single-char-word corpus): `best` is
        # empty and the broadcast cross join below would annihilate
        # `seqs` — stop merging and return the current segmentation.
        if not best.take(1):
            break
        def _fold(acc, x):
            hit = (
                (F.element_at(acc, -1) == F.col("a"))
                & (x == F.col("b"))
            )
            grown = F.concat(acc, F.array(x))
            return F.when(F.size(acc) == 0, F.array(x)).otherwise(
                F.when(
                    hit,
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.concat(F.element_at(acc, -1), x)),
                    ),
                ).otherwise(grown)
            )

        seqs = (
            seqs.crossJoin(F.broadcast(best.select("a", "b")))
            .select(
                "word",
                "n_word",
                F.aggregate(
                    "seq", F.array().cast("array<string>"), _fold
                ).alias("seq"),
            )
            .localCheckpoint(eager=False)
        )
    return seqs.select(
        "word", "n_word", F.concat_ws(" ", "seq").alias("seg")
    )


def bpe_merge_rules(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
    word_pattern: str = "^[a-z]+$",
) -> list[tuple[str, str]]:
    """The rank-ordered merge-rule LIST a trained tokenizer ships:
    re-runs the :func:`bpe_train_segments` loop but collects the
    winning (a, b) pair per round — n_merges 1-row collects, the same
    bounded driver traffic as the training loop's emptiness probe.
    This is the artifact :func:`bpe_apply_tokens` consumes."""
    if n_merges < 1:
        raise ValueError("bpe_merge_rules needs n_merges >= 1")
    words = (
        df.select(F.explode(_ws_tokens(text_col)).alias("word"))
        .filter(F.col("word").rlike(word_pattern))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_word"))
    )
    chars = F.filter(F.split(F.col("word"), ""), lambda x: x != F.lit(""))
    seqs = words.select(
        "word", "n_word", chars.alias("seq")
    ).localCheckpoint(eager=False)
    rules: list[tuple[str, str]] = []
    for _ in range(n_merges):
        n_1 = F.greatest(F.size("seq") - 1, F.lit(0))
        pair_stream = F.arrays_zip(
            F.slice("seq", 1, n_1).alias("a"),
            F.slice("seq", 2, n_1).alias("b"),
        )
        best = (
            seqs.select(F.explode(pair_stream).alias("p"), "n_word")
            .select(
                F.col("p.a").alias("a"), F.col("p.b").alias("b"), "n_word"
            )
            .groupBy("a", "b")
            .agg(F.sum("n_word").alias("n_pairs"))
            .orderBy(F.col("n_pairs").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        rules.append((a, b))
        seqs = seqs.select(
            "word", "n_word", _merge_fold_expr("seq", a, b).alias("seq")
        ).localCheckpoint(eager=False)
    return rules


def _merge_fold_expr(seq_col: str, a: str, b: str):
    """One BPE merge round as a native sequential fold: greedy
    left-to-right, merging every non-overlapping (a, b) adjacency —
    a merged token ``a||b`` is strictly longer than ``a``, so it can
    never re-trigger the same rule on its own output within the
    round (the training loop's exact fold, parameterized by rule
    LITERALS instead of a broadcast row)."""
    la, lb = F.lit(a), F.lit(b)

    def _fold(acc, x):
        hit = (F.element_at(acc, -1) == la) & (x == lb)
        grown = F.concat(acc, F.array(x))
        return F.when(F.size(acc) == 0, F.array(x)).otherwise(
            F.when(
                hit,
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.element_at(acc, -1), x)),
                ),
            ).otherwise(grown)
        )

    return F.aggregate(
        seq_col, F.array().cast("array<string>"), _fold
    )


def bpe_apply_tokens(
    df: DataFrame,
    rules: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    word_pattern: str = "^[a-z]+$",
) -> DataFrame:
    """Tokenize a corpus with a TRAINED merge-rule list — the
    inference half of the BPE story (:func:`bpe_train_segments` /
    :func:`bpe_merge_rules` are the training half): per document,
    every whitespace word is segmented by applying the rules in rank
    order, words outside ``word_pattern`` pass through as single
    opaque tokens (punctuation/number handling is the caller's
    pre-tokenizer, as in real tokenizers).

    Spark-first and fully JVM-side: the corpus collapses to the
    DISTINCT-word table (per-TYPE work — the same production
    optimization the trainer uses), each rule is one literal
    sequential-fold projection over it (no Python, no UDF; plan
    depth = |rules|, lineage flattened by localCheckpoint every few
    rounds — at real vocabulary sizes this driver-side rule loop is
    the honest cost of BPE's inherent rank-sequential dependency and
    runs over |vocab| rows, not the corpus), and the resulting
    (word -> segmentation) map joins back to the POSITIONALLY
    exploded corpus so each document reassembles its token stream in
    word order.

    Returns ``(id_col, n_tokens, stream)``: the total token count
    and the full stream with tokens joined by ``\\x1f`` within a
    word and words by ``\\x1e`` — byte-exact, so the gate can hash
    it against an independent SQL replay of the same greedy fold.
    """
    # SINGLE-SPACE word split on BOTH the vocab and the positional
    # explode (not the trainer's \s+): the two splits must agree
    # byte-for-byte or a word seen by one and not the other would
    # silently pass through unsegmented
    words = (
        df.select(
            F.explode(F.split(F.col(text_col), " ")).alias("word")
        )
        .filter(F.col("word").rlike(word_pattern))
        .distinct()
    )
    chars = F.filter(F.split(F.col("word"), ""), lambda x: x != F.lit(""))
    seqs = words.select("word", chars.alias("seq"))
    # Rule loop cost envelope (round-10 measurement, in SCALE.md's
    # git history): the cost is DRIVER-side per-rule plan
    # analysis, ~55-60 ms/rule, linear in |rules| and independent of
    # vocab size (50k-word table measured: 1k rules ≈ 60 s, 8k ≈
    # 8 min; a 32k-merge production vocabulary ≈ 30 min of driver
    # loop while executors stay ~idle). Fusing 4 folds per projection
    # and checkpointing every 16 is the measured optimum — deeper
    # fusion (k=16+) makes per-select HOF analysis superlinear and
    # costs MORE, and an executor-side substring guard saves nothing
    # (the fold over the KB-scale vocab table was never the
    # bottleneck). Callers with vocabularies beyond ~10k merges
    # should budget driver minutes accordingly; the per-TYPE design
    # keeps that cost constant in corpus size.
    _FUSE = 4
    _CKPT = 16
    for i in range(0, len(rules), _FUSE):
        col = F.col("seq")
        for a, b in rules[i : i + _FUSE]:
            col = _merge_fold_expr(col, a, b)
        seqs = seqs.select("word", col.alias("seq"))
        if (i + _FUSE) % _CKPT == 0:
            seqs = seqs.localCheckpoint(eager=False)
    return _assemble_streams(df, seqs, text_col, id_col)


def _assemble_streams(
    df: DataFrame, seqs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Shared tail of both BPE inference operators: join the
    (word -> token seq) table back to the POSITIONALLY exploded
    corpus and reassemble each document's token stream in word order
    (tokens joined by \\x1f within a word, words by \\x1e);
    unmatched words (outside the word pattern) pass through as
    single opaque tokens."""
    seg = seqs.select(
        "word",
        F.concat_ws("\x1f", "seq").alias("_seg"),
        F.size("seq").alias("_seg_n"),
    )
    exploded = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    )
    return (
        exploded.join(seg, "word", "left")
        .select(
            id_col,
            "pos",
            F.coalesce(F.col("_seg"), F.col("word")).alias("wseg"),
            F.coalesce(F.col("_seg_n"), F.lit(1)).alias("wn"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("wn").alias("n_tokens"),
            F.concat_ws(
                "\x1e",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "wseg"))
                    ),
                    lambda s: s["wseg"],
                ),
            ).alias("stream"),
        )
    )


def bpe_apply_rankmap(
    df: DataFrame,
    rules: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    word_pattern: str = "^[a-z]+$",
) -> DataFrame:
    """BPE inference via the GREEDY RANK-MAP algorithm — the
    real-vocabulary scale path :func:`bpe_apply_tokens` honestly
    cannot be (its driver loop is linear in |rules|, ~60 ms/rule —
    round-10 measurement): per word, repeatedly merge the
    lowest-ranked adjacent pair present (leftmost on ties) until no
    rule applies — the priority-queue inference every production BPE
    tokenizer runs. Plan depth is O(1) REGARDLESS of |rules|: the
    rank map ships once per worker inside an Arrow-batched
    ``mapInPandas`` over the DISTINCT-WORD table (per-TYPE work, KB
    per executor), so a 32k-merge vocabulary costs the same driver
    time as a 4-merge one. Iterations per word are bounded by word
    length, never by vocabulary size.

    SEMANTICS: on a TRAINED merge list (each rule's constituent
    tokens constructible from earlier rules — what
    :func:`bpe_merge_rules` emits by construction), this equals the
    rank-ordered global fold of :func:`bpe_apply_tokens`
    (property-tested in tests/test_llm_ops.py); on an INCOHERENT
    list (a rule referencing a token no earlier rule builds) the two
    legitimately diverge — the fold never revisits earlier ranks,
    the greedy loop can fire them late. Same output contract as
    bpe_apply_tokens: ``(id_col, n_tokens, stream)``."""
    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
    )

    rank = {tuple(r): i for i, r in enumerate(rules)}
    out_schema = StructType(
        [
            StructField("word", StringType()),
            StructField("seq", ArrayType(StringType())),
        ]
    )

    def _segment(batches):
        import pandas as pd

        for pdf in batches:
            segs = []
            for w in pdf["word"]:
                seq = list(w)
                while len(seq) > 1:
                    best = bi = None
                    for i in range(len(seq) - 1):
                        r = rank.get((seq[i], seq[i + 1]))
                        if r is not None and (best is None or r < best):
                            best, bi = r, i
                    if best is None:
                        break
                    seq[bi : bi + 2] = [seq[bi] + seq[bi + 1]]
                segs.append(seq)
            yield pd.DataFrame({"word": pdf["word"], "seq": segs})

    words = (
        df.select(
            F.explode(F.split(F.col(text_col), " ")).alias("word")
        )
        .filter(F.col("word").rlike(word_pattern))
        .distinct()
    )
    seqs = words.mapInPandas(_segment, schema=out_schema)
    return _assemble_streams(df, seqs, text_col, id_col)
