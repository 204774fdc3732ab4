"""Dataset assembly operators for training pipelines (SURVEY.md §7.4):
deterministic splits and token-budget batch packing.

Both are pure integer column arithmetic — reproducible across runs,
engines, and cluster sizes, with no RNG state to ship. At 100 TB the
split adds zero shuffles (a projection), and packing shuffles once on
the shard key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Knuth's multiplicative-hash constant (2^32 / phi). The bucketing
# computes (id * KNUTH) mod B on residues (see _salted_bucket), so no
# id can overflow the arithmetic.
KNUTH = 2654435761

SPLIT_BUCKETS = 1000
DEFAULT_SPLIT = (("train", 900), ("val", 950), ("test", SPLIT_BUCKETS))

# Per-salt multiplier stride (xxhash's 32-bit prime 2). A salt must
# change the MULTIPLIER, not add a constant: pmod(id*K + salt, M) is the
# salt-0 bucketing rotated by `salt`, so "salted" splits would be
# near-identical rotations (only boundary-crossing ids move) — not
# independent draws. Striding the multiplier picks an unrelated
# multiplicative permutation per salt. _salted_bucket computes the
# product on residues mod the bucket count, so the arithmetic never
# leaves int64 at ANY id or salt (see its docstring).
SALT_STRIDE = 2_246_822_519


def fraction_buckets(fraction: float, buckets: int = SPLIT_BUCKETS) -> int:
    """Bucket bound for a sampling fraction: half-up rounding, so the
    tie at exactly half a bucket goes UP (``int(f*B + 0.5)``), never
    Python ``round()``'s banker's tie-to-even — under which 0.0005
    kept 0 buckets (source silently empty) while 0.0015 kept 2
    (round-10 advice). A positive fraction that still rounds to zero
    buckets is rejected loudly: the caller asked for *some* rows and
    would silently get none — they need a larger fraction or a finer
    ``buckets`` resolution, not an empty source. Oracles replay this
    same helper so the tie rule has exactly one definition."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    n = int(fraction * buckets + 0.5)
    if fraction > 0.0 and n == 0:
        raise ValueError(
            f"fraction {fraction} rounds to 0 of {buckets} buckets — "
            "the source would be silently empty; raise the fraction "
            "or the bucket resolution"
        )
    return n


def _salted_bucket(id_col: str, salt: int, buckets: int) -> Column:
    """Deterministic bucket in [0, buckets) from a multiplicative hash
    of the id; distinct salts yield unrelated bucketings (multiplier
    stride, see SALT_STRIDE). Salt 0 is exactly id*KNUTH mod buckets —
    the oracle-replayable baseline. Note all operators in this module
    share the salt-0 hash BY DESIGN (consistent hashing: a doc's sample
    membership nests inside its split membership, which is what you
    want for leak-free eval slices); pass distinct salts where
    statistically independent draws are required.

    OVERFLOW-FREE BY CONSTRUCTION (round-10 review): mod distributes
    over multiplication — ``(id*mult) mod B == ((id mod B) *
    (mult mod B)) mod B`` — so the product is computed on residues
    (< B each, <= ~1e12 at the largest modulus) and can never leave
    int64, for ANY int64 id. The naive ``id * mult`` overflows at
    id > 2^63/multiplier (≈ 4.1e6 at salt=1000 — reachable by real
    corpus ids), silently wrapping with ANSI off and throwing with
    ANSI on; the factored form yields BIT-IDENTICAL buckets inside
    that envelope and stays correct beyond it. Oracles replaying
    ``(id * K) % B`` in SQL are unaffected at gate-scale ids (DuckDB
    would error loudly on a genuine overflow, not drift)."""
    mult = KNUTH + salt * SALT_STRIDE
    return F.pmod(
        F.pmod(F.col(id_col), F.lit(buckets)) * F.lit(mult % buckets),
        F.lit(buckets),
    )


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    thresholds: tuple[tuple[str, int], ...] = DEFAULT_SPLIT,
    salt: int = 0,
) -> DataFrame:
    """Assign every row a train/val/test split from a multiplicative
    hash of its id — deterministic (same id => same split, any run,
    any engine), stable under corpus growth (new ids don't reshuffle
    old ones), and leak-free across epochs (unlike random() sampling,
    which resamples per run). ``salt`` derives an independent split for
    ablations via a multiplier stride (see ``_salted_bucket`` — an
    additive salt would only rotate bucket ids).

    ``thresholds`` are cumulative bucket bounds out of
    ``SPLIT_BUCKETS`` — the default is a 90/5/5 split.
    """
    bucket = _salted_bucket(id_col, salt, SPLIT_BUCKETS)
    expr = None
    for name, bound in thresholds:
        cond = bucket < bound
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split_bucket", bucket.cast("long")).withColumn(
        "split", expr
    )


def weighted_mix(
    sources: list[tuple[DataFrame, float, str]],
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic weighted mixture of corpora: each source keeps
    rows whose hash bucket falls under ``weight`` (a sampling fraction
    in [0, 1]) and is tagged with its label — the standard pretraining
    recipe ("webtext at 0.7, code at 0.3, …") without RNG state.

    Same id + same salt => same keep decision on every run and engine,
    so a mixture is exactly reproducible and resumable; vary ``salt``
    to draw an independent mixture (multiplier stride — see
    ``_salted_bucket``). Zero shuffles: per-source filter + union-all."""
    parts = []
    for df, weight, label in sources:
        bucket = _salted_bucket(id_col, salt, SPLIT_BUCKETS)
        parts.append(
            df.filter(
                # fraction_buckets, not int(): float products truncate
                # (0.7 * 1000 == 699.999...; int() keeps 699 buckets
                # = 69.9%, a silently excluded bucket per weight) —
                # and not round(): banker's ties (see fraction_buckets)
                bucket < fraction_buckets(weight)
            ).withColumn(
                "source", F.lit(label)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its id-hash
    bucket falls under its stratum's fraction — `sampleBy` without RNG
    state (same id + salt => same decision on every run, engine, and
    cluster size, so a sampled dataset is exactly reproducible and
    incrementally extendable).

    Zero shuffles: the keep decision is a pure projection + filter,
    pushed to the scan. Strata not named in ``fractions`` keep
    ``default_fraction`` of their rows. ``salt`` draws an independent
    sample via a multiplier stride (see ``_salted_bucket``)."""
    bucket = _salted_bucket(id_col, salt, SPLIT_BUCKETS)
    frac = None
    for name, f in sorted(fractions.items()):
        cond = F.col(strata_col) == name
        # fraction_buckets: half-up ties + loud zero-bucket guard
        bound = F.lit(fraction_buckets(f))
        frac = F.when(cond, bound) if frac is None else frac.when(cond, bound)
    _default = fraction_buckets(default_fraction)
    frac = (
        frac.otherwise(F.lit(_default))
        if frac is not None
        else F.lit(_default)
    )
    return df.filter(bucket < frac)


# Modulus for the shuffle ordering hash — larger than SPLIT_BUCKETS so
# the ordering has enough resolution that ties (two ids in one bucket)
# stay rare; ties are broken by id anyway, so this is purely about
# dispersion quality.
SHUFFLE_BUCKETS = 1_000_003  # prime (see _check_shuffle_buckets below)


def _check_shuffle_buckets() -> None:
    """The offsets window in :func:`deterministic_shuffle` is global
    (unpartitioned) over the per-bucket COUNTS — safe only because it
    sees at most SHUFFLE_BUCKETS rows. Guard the constant so a future
    bump can't silently create a mega-partition on one reducer."""
    assert SHUFFLE_BUCKETS <= 4_000_000, (
        "SHUFFLE_BUCKETS feeds an unpartitioned window in "
        "deterministic_shuffle; raising it past a few million rows "
        "funnels that window through one reducer. Re-shard the offsets "
        "computation before raising this constant."
    )


_check_shuffle_buckets()


def deterministic_shuffle(
    df: DataFrame, id_col: str = "doc_id", salt: int = 0
) -> DataFrame:
    """Global pseudo-random training order without RNG state: sort by a
    multiplicative hash of the id (ties by id) and assign a contiguous
    0-based ``shuffle_pos``. Different ``salt`` => independent order per
    epoch; same salt => identical order on every run and engine, so a
    training run is resumable from any step.

    Scale shape: a naive global row_number would funnel the whole
    corpus through ONE window partition. Instead the only global
    window here runs over the per-key-bucket COUNTS — bounded by
    SHUFFLE_BUCKETS (~1M rows) no matter the corpus size — producing
    each bucket's exclusive offset; rows then take
    ``offset + rank-within-bucket`` with a fully partitioned window.
    Total order is identical to the naive definition (and to the SQL
    oracle). Two shuffles + a key join, all bounded.

    The salt enters as a different MULTIPLIER, not an additive term:
    adding a constant mod M merely rotates the key circle (epoch orders
    would be cyclic rotations of each other), and a small multiplier
    perturbation shifts keys by less than their average spacing.
    Striding the multiplier by a large constant per salt yields
    unrelated multiplicative permutations (M is prime, so any
    multiplier not divisible by M is a bijection)."""
    key = _salted_bucket(id_col, salt, SHUFFLE_BUCKETS)
    keyed = df.withColumn("_sk", key)
    counts = keyed.groupBy("_sk").agg(F.count(F.lit(1)).alias("_n"))
    w_off = (
        Window.orderBy("_sk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("_sk", "_off")
    w_in = Window.partitionBy("_sk").orderBy(F.col(id_col))
    return (
        keyed.join(offsets, "_sk")
        .withColumn(
            "shuffle_pos",
            (F.col("_off") + F.row_number().over(w_in) - 1).cast("long"),
        )
        .drop("_sk", "_off")
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    base_frac: float = 0.5,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Temperature-based corpus re-balancing (the multilingual
    pretraining recipe: sample group g with probability ∝ n_g^alpha,
    alpha < 1 up-weighting low-resource groups). Deterministic — the
    keep decision is the same id-hash filter as the other samplers, so
    the mixture is reproducible and resumable with no RNG state.

    Per group: w_g = n_g^alpha, q_g = w_g / Σw, expected sample size
    base_frac·N distributed as q_g, so keep fraction
    f_g = min(1, base_frac·N·q_g / n_g). Scale shape: group counts are
    one tiny aggregate (|groups| rows) broadcast back onto the corpus —
    the corpus itself never shuffles, just scan + filter.

    The f_g -> bucket bound goes through the float32 gate quantization
    before flooring: pow() is not guaranteed correctly rounded, so
    engines can disagree by 1 ulp exactly at a bucket boundary.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    w = F.pow(F.col("_n").cast("double"), F.lit(alpha))
    tot = counts.agg(
        F.sum("_n").alias("_total"), F.sum(w).alias("_wsum")
    )
    fracs = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "_keep_buckets",
            F.floor(
                # min(1, base_frac * N * q_g / n_g) * SPLIT_BUCKETS
                F.least(
                    F.lit(1.0),
                    F.lit(base_frac)
                    * F.col("_total")
                    * (w / F.col("_wsum"))
                    / F.col("_n"),
                )
                .cast("float")
                .cast("double")
                * SPLIT_BUCKETS
            ),
        )
        .select(group_col, "_keep_buckets")
    )
    bucket = _salted_bucket(id_col, salt, SPLIT_BUCKETS)
    return (
        df.join(F.broadcast(fracs), group_col)
        .filter(bucket < F.col("_keep_buckets"))
        .drop("_keep_buckets")
    )


def pack_length_bucketed(
    df: DataFrame,
    token_col: str,
    budget: int,
    bucket_width: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget packing with length bucketing: documents are first
    grouped into ``bucket_width``-sized length buckets, then packed
    within each bucket — so a batch contains only similar-length
    documents and per-batch padding waste (pad-to-max) stays bounded
    by ``bucket_width`` tokens per row instead of the corpus' full
    length spread. The standard efficiency trick for sequence-model
    batch assembly.

    Adds ``length_bucket`` and reuses :func:`pack_token_batches` with
    the bucket as the shard key: one shuffle, and the per-shard window
    is bounded by the bucket's row count."""
    bucketed = df.withColumn(
        "length_bucket",
        F.floor(F.col(token_col) / F.lit(bucket_width)).cast("long"),
    )
    return pack_token_batches(
        bucketed,
        token_col=token_col,
        budget=budget,
        id_col=id_col,
        shard_col="length_bucket",
    )


def _packed_excl_sum(
    df: DataFrame,
    token_col: str,
    budget: int,
    id_col: str,
    shard_col: str | None,
    allow_single_shard: bool,
    caller: str,
) -> DataFrame:
    """The packing core both packers share — shard guard, exclusive
    running token sum, floor-division batch id — so the packing rule
    has exactly ONE definition (a change to the window frame or the
    division can never apply to one packer and not the other).
    Returns the frame with ``_excl_tokens`` and ``batch_id``; callers
    derive their extras and drop the scratch column."""
    if shard_col is None and not allow_single_shard:
        raise ValueError(
            f"{caller} with shard_col=None runs a global "
            "unpartitioned window — the whole corpus on one reducer. "
            "Pass shard_col (e.g. a language or date column), or "
            "allow_single_shard=True for small, known-bounded inputs."
        )
    part = [shard_col] if shard_col else []
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    excl_sum = F.coalesce(F.sum(token_col).over(w), F.lit(0)).cast("long")
    return df.withColumn("_excl_tokens", excl_sum).withColumn(
        "batch_id",
        F.floor(F.col("_excl_tokens") / F.lit(budget)).cast("long"),
    )


def pack_token_batches(
    df: DataFrame,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
    shard_col: str | None = None,
    allow_single_shard: bool = False,
) -> DataFrame:
    """Pack documents into contiguous training batches of roughly
    ``budget`` tokens: order docs by id (within ``shard_col`` when
    given), take the exclusive running token sum, and assign
    ``batch_id = floor(exclusive_sum / budget)``.

    This is the one-pass distributed packing: a document whose tokens
    straddle a budget boundary stays in the earlier batch, so batches
    can overshoot by at most one document's tokens (and never
    undershoot except the last). Exact greedy reset-on-overflow
    packing needs a stateful sequential scan — the streaming
    equivalent belongs in applyInPandasWithState — and buys little
    when budget >> max document length, the normal regime for LLM
    batch assembly. One shuffle on the shard key.

    ``shard_col`` is effectively required: a ``None`` shard funnels the
    WHOLE corpus through one window partition (a single reducer sorts
    and scans everything — the scale-killer shape), so it raises unless
    ``allow_single_shard=True`` is passed explicitly for small inputs.
    """
    return _packed_excl_sum(
        df, token_col, budget, id_col, shard_col, allow_single_shard,
        "pack_token_batches",
    ).drop("_excl_tokens")


def hash_sample_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Exactly-``k`` uniform sample per group, deterministic: rows are
    ranked by a multiplicative hash of their id (salted like the other
    samplers) and the ``k`` smallest hash values win. Unlike a
    keep-fraction filter this guarantees the exact per-group count;
    unlike ``cap_per_group`` the selection is uniform, not
    lowest-id-biased. Same window shape as the cap — one group-key
    shuffle; the skew mitigations in :func:`~..operators.skew.two_phase_topk`
    apply identically (top-K by hash is just as decomposable)."""
    order = _salted_bucket(id_col, salt, SHUFFLE_BUCKETS)
    w = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= F.lit(k))
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    max_rows: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group row cap (domain balancing: at most ``max_rows``
    documents per source/domain, keeping the lowest ids — a
    deterministic, stable-under-growth selection, unlike a random
    sample that reshuffles membership every run).

    One shuffle on the group key; within a group the window sorts only
    that group's rows. A pathologically hot domain makes a hot
    partition — when the cap is small relative to the hot group, the
    cheap pre-filter is a per-partition partial top-``max_rows``
    (AQE's skew split also applies); when deterministic lowest-id
    semantics are not required, :func:`deterministic_split`'s hash
    filter caps a group with zero sorting at all."""
    w = Window.partitionBy(group_col).orderBy(F.col(id_col))
    return (
        df.withColumn("group_rank", F.row_number().over(w))
        .filter(F.col("group_rank") <= F.lit(max_rows))
    )


def mix_manifest(
    df: DataFrame,
    group_col: str,
    token_col: str,
    alpha: float = 0.5,
    token_budget: int = 1_000_000,
) -> DataFrame:
    """Training-mixture planning manifest: per group (language/source),
    the observed token mass, its temperature-weighted share of a token
    budget, and the implied epoch multiplier (share / observed —
    > 1 means the group repeats during training, the standard
    low-resource up-sampling readout).

    The whole manifest is one tiny aggregate (|groups| rows) — the
    plan-side complement to :func:`temperature_mix`, which applies the
    same weighting as a corpus filter. pow() is not correctly-rounded,
    so every float derived from it is float32-quantized (the gate
    contract); epochs is a single division of a quantized value by an
    exact integer."""
    from ..functions.numeric import gate_quantize

    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(token_col)).cast("long").alias("n_tokens"),
    )
    w = F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
    tot = counts.agg(F.sum(w).alias("_wsum"))
    share = gate_quantize(
        F.lit(float(token_budget)) * w / F.col("_wsum")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("weight", gate_quantize(w))
        .withColumn("target_tokens", F.floor(share).cast("long"))
        .withColumn(
            "epochs",
            F.col("target_tokens").cast("double") / F.col("n_tokens"),
        )
        .select(
            group_col, "n_docs", "n_tokens", "weight",
            "target_tokens", "epochs",
        )
    )


def weighted_sample_wor(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Exactly-``k`` weighted sample WITHOUT replacement
    (Efraimidis-Spirakis A-Res): each row draws a deterministic
    uniform u from the salted multiplicative hash of its id and is
    ranked by ``ln(u) / w`` descending — the classic one-pass
    reduction of weighted sampling to a top-K, which is exactly the
    distributed-friendly shape (each partition ships its own top-K;
    ``orderBy + limit`` plans as TakeOrderedAndProject, no global
    sort). Inclusion probability rises with ``weight_col``; the same
    id re-draws the same u every run (reproducible), and a salt picks
    an independent sample (multiplier stride, like every sampler
    here).

    Determinism contract: ``ln`` is not correctly rounded, so the key
    is float32-quantized before ranking and ties break on id — the
    selected SET is then engine-exact (the gate-parity trick
    quality_topk_per_lang uses for pow). Rows with non-positive
    weights never qualify.
    """
    u = (
        _salted_bucket(id_col, salt, SHUFFLE_BUCKETS).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(SHUFFLE_BUCKETS + 1))
    key = F.log(u) / F.col(weight_col).cast("double")
    quantized = key.cast("float").cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("sample_key", quantized)
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(k)
    )


def pack_with_offsets(
    df: DataFrame,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
    shard_col: str | None = None,
    allow_single_shard: bool = False,
) -> DataFrame:
    """:func:`pack_token_batches` plus the per-document position
    INSIDE its batch: ``offset_in_batch`` is where the document's
    tokens start in the packed sequence (exclusive running sum minus
    the batch's base), which is what an actual packed-pretraining
    loader needs to build attention-reset boundaries. Same single
    shuffle — the offset is pure arithmetic on the running sum the
    batch id already paid for. A boundary-straddling document stays in
    the earlier batch (see pack_token_batches), so ``offset_in_batch +
    tokens`` may overshoot ``budget`` by at most that one document."""
    return (
        _packed_excl_sum(
            df, token_col, budget, id_col, shard_col,
            allow_single_shard, "pack_with_offsets",
        )
        .withColumn(
            "offset_in_batch",
            (F.col("_excl_tokens") - F.col("batch_id") * F.lit(budget)).cast(
                "long"
            ),
        )
        .drop("_excl_tokens")
    )


CONTRASTIVE_BUCKETS = 256


def contrastive_triplets(
    corpus: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    buckets: int = CONTRASTIVE_BUCKETS,
) -> DataFrame:
    """(anchor, positive, negative) training triplets for contrastive
    embedding objectives: positives come from any near-dup pair
    generator (jaccard / MinHash / LSH — the dedup family's output),
    negatives are drawn RNG-free by the module's multiplicative-hash
    discipline — each pair hashes to a bucket, and the negative is
    that bucket's minimum-id document. A corpus-random negative is
    overwhelmingly a true negative (the in-batch-negatives assumption
    of SimCLR/CLIP-style training); the rare accidental collision
    with the pair's own ids is filtered deterministically.

    Scale shape: ONE |buckets|-row aggregate over the corpus, a
    broadcast join of that candidate table into the pair stream, zero
    shuffles of the corpus itself. Negatives repeat across pairs by
    design (buckets << pairs) — vary ``buckets`` per epoch for fresh
    negatives, exactly like re-salting the shuffle.
    """
    bucketed = corpus.select(
        F.col(id_col),
        F.pmod(F.col(id_col) * F.lit(KNUTH), F.lit(buckets)).alias("b"),
    )
    # rank the NON-EMPTY buckets densely and hash pairs modulo their
    # count, so a pair can never land in an empty bucket and silently
    # lose its triplet (matters when corpus << buckets, e.g. tests /
    # per-shard runs). The rank window is over <= ``buckets`` rows —
    # bounded by construction, fine unpartitioned.
    from pyspark.sql.window import Window

    cand = (
        bucketed.groupBy("b")
        .agg(F.min(id_col).alias("negative"))
        .withColumn(
            "r", F.row_number().over(Window.orderBy("b")) - F.lit(1)
        )
    )
    m = cand.agg(F.count(F.lit(1)).alias("m"))
    pair_b = pairs.crossJoin(F.broadcast(m)).withColumn(
        "r",
        F.pmod(
            F.col("id1") * F.lit(KNUTH) + F.col("id2") * F.lit(SALT_STRIDE),
            F.col("m"),
        ),
    )
    return (
        pair_b.join(F.broadcast(cand), "r")
        .filter(
            (F.col("negative") != F.col("id1"))
            & (F.col("negative") != F.col("id2"))
        )
        .select(
            F.col("id1").alias("anchor"),
            F.col("id2").alias("positive"),
            "negative",
            "jaccard",
        )
    )


SPAN_MASKS_PER_DOC = 3
SPAN_MEAN_LEN = 3


def span_corruption_masks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_spans: int = SPAN_MASKS_PER_DOC,
    span_len: int = SPAN_MEAN_LEN,
) -> DataFrame:
    """T5/UL2-style span-corruption mask positions, RNG-free: for each
    document, ``n_spans`` fixed-length token spans whose starts derive
    from the module's salted multiplicative hash of (doc id, span
    index) modulo the usable token range — the denoising-objective
    data-prep step (Raffel et al. 2020 §3.1.4) with the same
    determinism contract as the split/shuffle/sample family (same doc
    => same masks, any run, any partitioning).

    Output: (id, span_idx, start, length) token offsets, one row per
    span; docs shorter than ``span_len`` tokens emit no spans.
    Everything is row-local expression work on an exploded
    ``sequence(0, n_spans-1)`` — zero shuffles, zero Python.
    """
    from .text import token_count

    n_tok = token_count(F.col(text_col))
    spans = df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.explode(F.sequence(F.lit(0), F.lit(n_spans - 1))).alias(
            "span_idx"
        ),
    ).filter(F.col("n_tokens") >= span_len)
    start = F.pmod(
        (F.col(id_col) * F.lit(KNUTH))
        + (F.col("span_idx") * F.lit(SALT_STRIDE)),
        F.col("n_tokens") - F.lit(span_len) + F.lit(1),
    )
    return spans.select(
        id_col,
        "span_idx",
        start.alias("start"),
        F.lit(span_len).alias("length"),
    )
