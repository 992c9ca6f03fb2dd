"""Deterministic corpus sampling and mixture weighting.

Training-data pipelines re-weight corpus strata (language, source
domain, quality band) into a target mixture. At 100 TB the sampling
decision must be a pure per-row function — no global shuffle, no RNG
state, reproducible across reruns and engines — so the sampler here is
an md5-threshold rule: a row survives iff
``md5(salt || key) < threshold_hex_prefix``. md5 is identical
everywhere (Spark, DuckDB, Python), the comparison is plain string
ordering on the fixed-width hex digest, and the acceptance probability
is exactly ``int(prefix, 16) / 16**len(prefix)``.

Scale shape: the filter fuses into the parquet scan (whole-stage
codegen) and partition pruning still applies above it — sampling 1% of
100 TB reads the column data once and shuffles nothing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rate_to_threshold(rate: float, digits: int = 8) -> str:
    """Largest ``digits``-hex-char prefix whose acceptance probability
    does not exceed ``rate`` (exact: floor(rate * 16^digits))."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    n = int(rate * (16 ** digits))
    if n >= 16 ** digits:
        # rate == 1.0: every hex digest prefix sorts below 'g' — keep all
        # (a same-width 'ffffffff' threshold would wrongly drop the
        # 1-in-16^digits digests equal to it, and the 9-char '100000000'
        # breaks lexicographic comparison against 8-char prefixes)
        return "g"
    return format(n, f"0{digits}x")


def deterministic_sample(
    df: DataFrame, key_col: str, rate: float, salt: str = ""
) -> DataFrame:
    """Keep each row iff md5(salt || key) sorts below the rate threshold —
    reproducible, engine-portable Bernoulli(rate) keyed on ``key_col``."""
    thr = rate_to_threshold(rate)
    digest = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    return df.filter(F.substring(digest, 1, len(thr)) < F.lit(thr))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixture primitive
    (e.g. keep 100% of en, 25% of de, 10% of everything else). The
    per-row threshold is a CASE over the stratum column; strata not in
    ``rates`` get ``default_rate``."""
    thr_col: Column = F.lit(rate_to_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr_col = F.when(
            F.col(stratum_col) == stratum, F.lit(rate_to_threshold(rate))
        ).otherwise(thr_col)
    digest = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    return df.filter(F.substring(digest, 1, 8) < thr_col)


def rate_threshold_col(rate_col: Column) -> Column:
    """Column form of ``rate_to_threshold`` (8 hex digits): the md5
    acceptance threshold for a PER-ROW rate — enables sampling at rates
    computed in-plan (e.g. from ``mixture_weights``). Engine-portable:
    floor/multiply on doubles and hex formatting are identical in Spark
    and DuckDB, so oracles can mirror the exact kept set. rate >= 1 maps
    to 'g' (keeps every digest, see rate_to_threshold); rate <= 0 keeps
    nothing (clamped — a negative rate would otherwise hex-format a
    negative long into a nonsense threshold). A NULL rate also keeps
    nothing: the `rate >= 1.0` branch is false for NULL and
    greatest(NULL, 0.0) is 0.0 (Spark's greatest skips NULLs), so the
    threshold collapses to '00000000' — the documented convention for
    zero-size strata from ``mixture_weights`` (NULL weight → stratum
    dropped, never silently kept whole)."""
    n = F.floor(F.greatest(rate_col, F.lit(0.0)) * F.lit(float(16 ** 8))).cast("long")
    return F.when(rate_col >= 1.0, F.lit("g")).otherwise(
        F.lpad(F.lower(F.hex(n)), 8, "0")
    )


def sample_by_rate_col(
    df: DataFrame, key_col: str, rate_col: Column, salt: str = ""
) -> DataFrame:
    """Deterministic Bernoulli sampling at a PER-ROW rate (a column,
    typically joined in from a mixture-weight plan): keep each row iff
    md5(salt || key) sorts below that row's threshold. Same md5-prefix
    rule as deterministic_sample — pure per-row function, fuses into the
    scan, reproducible across engines and reruns."""
    digest = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    return df.filter(F.substring(digest, 1, 8) < rate_threshold_col(rate_col))


def mixture_weights(
    df: DataFrame,
    stratum_cols: list[str],
    size_col: "Column | str | None" = None,
    temperature: float | None = None,
) -> DataFrame:
    """Per-stratum mixture statistics and resampling weights — the
    planning step that feeds ``stratified_sample``'s rate map. For each
    stratum: row count, total size (``size_col`` — e.g. a token count —
    or 1 per row), the stratum's share of the corpus, and ``weight`` =
    target_share / share: multiplying each stratum's sampling rate by
    its weight yields the target mixture.

    ``temperature`` selects the target mixture:
    - ``None`` (default): uniform over the NONZERO strata — target
      1/n_nonzero (upsample rare strata, downsample dominant ones; the
      T→∞ limit). Zero-size strata are excluded from the denominator,
      matching the temperature normalizer's pow(0)=0 — both targets
      always form a normalized mixture over the strata that can receive
      mass.
    - ``T > 0``: temperature-scaled — target ∝ share^(1/T), the
      multilingual sampling scheme of mC4/mBERT/PaLM (T≈3 flattens the
      head languages without drowning the corpus in tail noise; T=1 is
      the natural mixture, all weights 1).

    Scale shape: ONE stratum-keyed corpus aggregation (map-side partial
    combine), then the grand totals via an unpartitioned window over the
    per-stratum frame — that frame is strata-sized (hundreds of rows at
    any corpus scale), so the single-partition window is free, and the
    corpus-sized input is scanned exactly once (a crossJoin against a
    1-row aggregate of the same subplan would reference — and re-run —
    the corpus aggregation twice).

    Returns stratum_cols + (n_docs long, total_size long, share double,
    weight double).

    Zero-size convention (explicit, engine-portable): a stratum whose
    ``total_size`` is 0 (e.g. all docs empty with a token-count size_col)
    gets ``weight = NULL`` — it contributes nothing to the mixture, so no
    finite rate multiplier can upsample it, and ``sample_by_rate_col``'s
    rate filter then drops it (NULL rate keeps no rows). CAUTION when
    deriving the rate from the weight: ``least``/``greatest`` SKIP NULLs
    in both Spark and DuckDB, so a ``least(1.0, c * weight)`` rate cap
    silently turns a NULL weight into rate 1.0 (stratum kept WHOLE) —
    guard with ``when(weight.isNotNull(), least(...))`` as
    corpus_rebalance_sample does. Without the explicit CASE here the two
    engines diverge on the raw division itself: Spark (non-ANSI) yields
    NULL, DuckDB IEEE float division yields +inf. ``share`` is likewise NULL
    when the whole corpus has size 0 (0/0). Callers that must not lose
    zero-size strata should filter them out (or assign them a floor size)
    BEFORE planning."""
    from pyspark.sql.window import Window

    if size_col is None:
        size_expr = F.lit(1).cast("long")
    else:
        size_expr = (
            F.col(size_col) if isinstance(size_col, str) else size_col
        ).cast("long")
    per = df.groupBy(*stratum_cols).agg(
        F.count("*").alias("n_docs"),
        F.sum(size_expr).alias("total_size"),
    )
    if temperature is not None and temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    w = Window.partitionBy()  # strata-sized frame: single partition is fine
    grand = F.sum("total_size").over(w)
    raw_share = F.col("total_size").cast("double") / grand
    share = F.when(grand > 0, raw_share)
    if temperature is None:
        # Uniform target = 1/n over the strata that CAN receive mass —
        # zero-size strata are excluded from the denominator exactly as
        # the temperature path excludes them from its normalizer
        # (pow(0)=0 contributes nothing), so the nonzero strata's uniform
        # weights form a normalized mixture and uniform really is the
        # T→∞ limit even with zero-size strata present. F.count over a
        # CASE counts only the non-NULL branch.
        target = F.lit(1.0) / F.count(
            F.when(F.col("total_size") > 0, F.lit(1))
        ).over(w)
    else:
        # share^(1/T) renormalized over the strata frame; zero-size strata
        # contribute pow(0)=0 to the normalizer and keep a NULL weight via
        # the guard below (the window sum skips nothing here — pow of the
        # guarded-NULL share would, so pow runs on the raw ratio).
        powed = F.pow(raw_share, F.lit(1.0 / temperature))
        target = powed / F.sum(powed).over(w)
    # weight guarded on the STRATUM size too: 1/share of a zero-size
    # stratum is an engine-divergent division (NULL vs inf) — see the
    # zero-size convention in the docstring.
    weight = F.when((F.col("total_size") > 0) & (grand > 0), target / raw_share)
    return per.select(
        *stratum_cols,
        "n_docs",
        "total_size",
        share.alias("share"),
        weight.alias("weight"),
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test partitioning: each row is assigned to
    a named split by the same md5-prefix rule as the samplers — pure
    per-row function, reproducible across engines/reruns, and STABLE
    under corpus growth (a doc keeps its split when new docs arrive,
    unlike rank- or random()-based splitting, so eval sets never leak
    into train between pipeline runs). ``fractions`` maps split name →
    fraction; they must be non-negative and sum to 1 (the LAST split
    absorbs the floor rounding of the hex thresholds, ≤ 1/16⁸ per
    boundary). Assignment: the 8-hex-char md5 prefix is compared against
    the cumulative-fraction thresholds in dict order — first band wins.

    NULL keys get a NULL split (explicit convention): md5 of a NULL key
    is NULL, so no band can match, and falling through to the fallback
    band would silently concentrate every unkeyed row in the LAST split
    — typically the eval split, an eval-contamination vector. A NULL
    split value stays visible to any downstream groupBy/filter; the
    caller decides whether to drop, repair, or fail on such rows.

    Scale shape: one whole-stage-codegen CASE fused into the scan; no
    shuffle, no RNG state, no driver participation."""
    if not fractions:
        raise ValueError("fractions must name at least one split")
    if any(v < 0 for v in fractions.values()):
        raise ValueError(f"fractions must be non-negative: {fractions}")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(
            f"fractions must sum to 1 (got {total}): an uncovered tail would "
            "silently drop rows from every split"
        )
    names = list(fractions)
    digest = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8
    )
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += fractions[name]
        # float accumulation can land a hair past 1.0 inside the sum-to-1
        # tolerance (e.g. {'a': 1.0 + 5e-10, 'b': 0.0}); clamp so
        # rate_to_threshold never raises on a valid fractions dict
        thr = rate_to_threshold(min(cum, 1.0))
        cond = digest < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    assigned = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    # NULL-key guard BEFORE the fallback band — see the NULL convention
    # in the docstring (otherwise() would swallow the NULL digest).
    assigned = F.when(F.col(key_col).isNotNull(), assigned)
    return df.withColumn(split_col, assigned)


def shuffle_order(
    df: DataFrame,
    key_col: str = "doc_id",
    salt: str = "",
    out: str = "pos",
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets its
    0-based position in the pseudo-random permutation induced by
    md5(salt || key) — the epoch-shuffle step of a training-data
    pipeline, reproducible across runs/engines and re-seedable per epoch
    via ``salt`` (same portability argument as the md5 sampling rules
    above). Ties on the digest (only possible for duplicate keys) break
    by the key itself, so the permutation is total and stable.

    Scale shape: one range-partitioned sort on the 16-byte digest (a
    PARALLEL global sort — Spark samples range bounds, every partition
    sorts independently) and the two-phase zip_with_index rank assign
    (per-partition counts -> broadcast offsets; parallelism equals the
    partition count). NO single-task row_number window anywhere; the only
    data movement is the range shuffle of (key, payload)."""
    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    from proteus_engine_spark.operators.partitioning import zip_with_index

    ordered = df.withColumn("__h__", h).orderBy("__h__", key_col)
    return zip_with_index(ordered, out=out).drop("__h__")


def _join_null_safe(df: DataFrame, per_group: DataFrame, group_col: str) -> DataFrame:
    """``df`` joined to the broadcast per-group frame on ``group_col`` with
    NULL matching NULL: a plain equi-join would drop NULL-group rows before
    the in-plan coverage guards could name them."""
    g = per_group.withColumnRenamed(group_col, "__grp__")
    return df.join(
        F.broadcast(g), F.col(group_col).eqNullSafe(F.col("__grp__"))
    ).drop("__grp__")


def interleave_by_weight(
    df: DataFrame,
    group_col: str,
    weights: dict,
    key_col: str = "doc_id",
    salt: str = "",
    out: str = "pos",
) -> DataFrame:
    """Deterministic weighted interleave of corpus groups into one global
    training order — the data-mixing sequencer: each group's rows are
    paced by virtual time (rank_in_group + 1) / weight, so a group with
    twice the weight appears twice as densely throughout the stream
    (instead of a block per source, which destroys training mixing).
    Within each group the order is the md5(salt || key) epoch shuffle.
    Returns df's columns + ``out`` (0-based global position).

    Scale shape — two parallel range sorts, ZERO per-group windows (a
    window partitioned by source puts an entire 10 TB source in ONE
    task): rank-in-group comes from a global sort on (group, digest) +
    the two-phase zip_with_index rank, minus broadcast per-group offsets
    (a window over #groups rows — config-bounded); the final position is
    a second global sort on (virtual_time, group, key) + the same
    two-phase rank. Virtual-time ties across groups break by (group,
    key), so the permutation is total and engine-reproducible.

    Weight-coverage validation is IN-PLAN (r18, guide §5 — no driver
    work): a group value with no weight hits the pacing expression's
    ``raise_error`` fallback branch, failing the job with
    "groups without a weight: ['<group>']" at the first offending row.
    The previous implementation pre-scanned the full group column
    (``distinct().collect()``) just to build that message — a whole
    extra corpus pass at 100 TB before any real work; the in-plan guard
    costs zero jobs and still can never emit a mis-paced row. The error
    now surfaces when the pacing expression is first materialized
    (inside this call's final zip_with_index) as a Spark
    USER_RAISED_EXCEPTION rather than a driver ValueError, and names the
    first offending group rather than the full sorted list."""
    from functools import reduce

    from proteus_engine_spark.operators.partitioning import zip_with_index

    for g, w in weights.items():
        if not w > 0:
            raise ValueError(f"weight for group {g!r} must be > 0, got {w}")

    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    ranked = zip_with_index(
        df.withColumn("__h__", h).orderBy(group_col, "__h__", key_col),
        out="__gr__",
    )
    counts = ranked.groupBy(group_col).agg(F.count(F.lit(1)).alias("__cnt__"))
    from pyspark.sql import Window

    w_off = Window.orderBy(group_col).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        group_col,
        F.coalesce(F.sum("__cnt__").over(w_off), F.lit(0)).cast("long").alias("__off__"),
    )
    # in-plan coverage guard: an unweighted (or NULL) group value raises
    # from the executor instead of silently pacing with a NULL weight
    weight_expr = reduce(
        lambda acc, gw: acc.when(F.col(group_col) == gw[0], F.lit(float(gw[1]))),
        weights.items(),
        F.when(F.lit(False), F.lit(0.0)),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("groups without a weight: ['"),
                F.coalesce(F.col(group_col).cast("string"), F.lit("NULL")),
                F.lit("']"),
            )
        ).cast("double")
    )
    vt = ((F.col("__gr__") - F.col("__off__") + 1) / weight_expr).alias("__vt__")
    paced = (
        _join_null_safe(ranked, offsets, group_col)
        .select(*df.columns, "__h__", vt)
    )
    final = zip_with_index(
        paced.orderBy("__vt__", group_col, key_col), out=out
    )
    return final.drop("__vt__", "__h__")


def sample_to_token_budget(
    df: DataFrame,
    group_col: str,
    budgets: dict,
    size_col,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Materialize a mixture by ABSOLUTE per-group token budgets: within
    each group, keep the maximal epoch-shuffled prefix whose cumulative
    size stays within the group's budget (a row is kept iff its inclusive
    within-group running total <= budget — prefix semantics, so the first
    overflowing document and everything after it in the group's shuffle
    order are dropped). This is the third tier of the sampling family:
    mixture_weights PLANS shares, stratified/rebalance sampling applies
    RATES, this applies exact token QUOTAS (how curated mixtures are
    actually cut). Adds ``group_cumsum`` (long, inclusive) to the kept
    rows.

    Scale shape — the pack_sequences prefix-sum discipline, never a
    data-sized window: rows range-partition on (group, digest, key);
    per-partition totals roll into broadcast partition offsets (window
    over #partitions rows); each partition computes its local running
    sum in parallel; the within-GROUP total converts from the global one
    by subtracting broadcast per-group bases (window over #groups rows).
    One range shuffle, everything else map-side.

    Budget-coverage validation is IN-PLAN (r18, guide §5 — no driver
    work): a group value with no budget hits the budget expression's
    ``raise_error`` fallback, failing the job with
    "groups without a budget: ['<group>']" at the first offending row —
    the previous ``distinct().collect()`` pre-scan of the whole group
    column (a full extra corpus pass at 100 TB) is gone. The error now
    surfaces at the caller's first action over the returned frame as a
    Spark USER_RAISED_EXCEPTION rather than a call-time driver
    ValueError, and names the first offending group rather than the
    full sorted list."""
    from pyspark.sql.window import Window

    for g, b in budgets.items():
        if not b >= 0:
            raise ValueError(f"budget for group {g!r} must be >= 0, got {b}")

    size = (F.col(size_col) if isinstance(size_col, str) else size_col).cast("long")
    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    n = df.sparkSession.sparkContext.defaultParallelism
    tagged = (
        df.withColumn("__sz__", size)
        .withColumn("__h__", h)
        .repartitionByRange(n, F.col(group_col), F.col("__h__"), F.col(key_col))
        .withColumn("__pid__", F.spark_partition_id())
        .localCheckpoint(eager=True)  # totals + assign must see ONE layout
    )
    totals = tagged.groupBy("__pid__").agg(F.sum("__sz__").alias("__psum__"))
    w_p = Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
    p_off = totals.select(
        "__pid__",
        F.coalesce(F.sum("__psum__").over(w_p), F.lit(0)).cast("long").alias("__poff__"),
    )
    g_tot = tagged.groupBy(group_col).agg(F.sum("__sz__").alias("__gsum__"))
    w_g = Window.orderBy(group_col).rowsBetween(Window.unboundedPreceding, -1)
    g_base = g_tot.select(
        group_col,
        F.coalesce(F.sum("__gsum__").over(w_g), F.lit(0)).cast("long").alias("__gbase__"),
    )
    w_local = Window.partitionBy("__pid__").orderBy(group_col, "__h__", key_col)
    # in-plan coverage guard: an unbudgeted (or NULL) group value raises
    # from the executor instead of being silently dropped by a NULL cut
    budget_expr = F.raise_error(
        F.concat(
            F.lit("groups without a budget: ['"),
            F.coalesce(F.col(group_col).cast("string"), F.lit("NULL")),
            F.lit("']"),
        )
    ).cast("long")
    for g, b in budgets.items():
        budget_expr = F.when(F.col(group_col) == g, F.lit(int(b))).otherwise(budget_expr)
    out = (
        _join_null_safe(tagged.join(F.broadcast(p_off), "__pid__"), g_base, group_col)
        .withColumn(
            "group_cumsum",
            F.sum("__sz__").over(w_local) + F.col("__poff__") - F.col("__gbase__"),
        )
        .filter(F.col("group_cumsum") <= budget_expr)
    )
    return out.select(*df.columns, "group_cumsum")


def dsir_select(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    frac: float = 0.25,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): score every raw document by the
    log importance weight of its hashed unigram features under a target
    -domain model vs the raw-corpus model, and keep the top ``frac``.

    Feature space: 256 buckets keyed by the first two hex chars of
    md5(token) — the hashed-ngram compression of the paper, made ENGINE
    -PORTABLE by using md5 (identical in Spark / DuckDB / Python) and a
    STRING bucket id, so no integer-hash divergence can exist. Both
    bucket models are add-``alpha`` smoothed over the fixed 256-bucket
    space; the per-document score is the token-count-weighted mean of
    the per-bucket log-likelihood ratios, rounded to 1e-6 BEFORE the
    selection rank so both engines rank identical values (ties break on
    the document id).

    Scale shape (100 TB): ONE corpus tokenization feeding ONE
    (doc, bucket) aggregation — shuffle carries (id, 2-char bucket,
    count), never tokens. The 256-row model and its 1-row totals are
    broadcast; the only other movement is the parallel range sort of the
    per-doc score frame for the two-phase rank (zip_with_index — no
    single-task row_number window; the selection cut-off K rides a
    1-row broadcast, not a driver round-trip)."""
    from proteus_engine_spark.operators.partitioning import zip_with_index

    n_buckets = 256
    c = F.col(text_col)
    tok = (
        docs.filter(F.length(F.trim(c)) > 0)
        .select(
            F.col(id_col),
            target.alias("__t__"),
            F.explode(F.split(F.lower(c), r"\s+")).alias("__tok__"),
        )
        .select(
            id_col, "__t__", F.substring(F.md5("__tok__"), 1, 2).alias("__b__")
        )
    )
    dbc = tok.groupBy(id_col, "__t__", "__b__").agg(
        F.count(F.lit(1)).cast("long").alias("__n__")
    )
    # The (doc, bucket) aggregate is consumed THREE times below — the
    # scoring join, the model aggregate, and (through model) the totals
    # aggregate — and Spark materializes no common subplans, so without
    # pinning, the full corpus tokenize+explode runs 3x per query. The
    # checkpoint holds (id, bool, 2-char bucket, count) rows: bounded by
    # docs x 256, orders of magnitude smaller than the text it replaces
    # (r17 opt round; results identical, tokenize passes 3 -> 1).
    dbc = dbc.localCheckpoint(eager=True)
    model = dbc.groupBy("__b__").agg(
        F.sum("__n__").alias("__cr__"),
        F.sum(F.when(F.col("__t__"), F.col("__n__")).otherwise(F.lit(0))).alias("__ct__"),
    )
    totals = model.agg(
        F.sum("__cr__").alias("__nr__"), F.sum("__ct__").alias("__nt__")
    )
    lr = F.log(
        ((F.col("__ct__") + alpha) / (F.col("__nt__") + alpha * n_buckets))
        / ((F.col("__cr__") + alpha) / (F.col("__nr__") + alpha * n_buckets))
    )
    m2 = model.crossJoin(F.broadcast(totals)).select("__b__", lr.alias("__lr__"))
    scored = (
        dbc.join(F.broadcast(m2), "__b__")
        .groupBy(id_col)
        .agg(
            F.sum("__n__").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("__n__") * F.col("__lr__")) / F.sum("__n__"), 6
            ).alias("dsir_score"),
        )
    )
    ranked = zip_with_index(
        scored.orderBy(F.col("dsir_score").desc(), id_col), out="__rk__"
    )
    # cutoff derived from the frame zip_with_index already checkpointed —
    # counting `scored` itself would re-run the whole tokenize + model
    # pipeline a second time just to size the cut
    k = ranked.agg(F.ceil(F.count(F.lit(1)) * frac).cast("long").alias("__k__"))
    return (
        ranked.crossJoin(F.broadcast(k))
        .filter(F.col("__rk__") + 1 <= F.col("__k__"))
        .select(
            id_col,
            "n_tokens",
            "dsir_score",
            (F.col("__rk__") + 1).alias("sel_rank"),
        )
    )


def bucketed_batches(
    docs: DataFrame,
    batch_size: int,
    bucket_width: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batch assignment (the BucketIterator shape):
    documents are grouped into token-length buckets (bucket =
    n_tokens // bucket_width) and each bucket is cut into fixed-size
    batches in ascending-id order — the padding-efficiency step before
    batched inference/scoring (batching a 10-token doc with a
    10,000-token doc wastes the difference as pad tokens; same-bucket
    batches pad to roughly the bucket width). Returns (id_col, n_tokens
    long, bucket long, batch_id long, pos_in_batch long) — a total,
    deterministic assignment (the LAST batch of each bucket may be
    short, exactly like a training dataloader's remainder batch).

    Scale shape: one scan computes lengths and buckets in the
    projection; ONE range-partitioned global sort on (bucket, id) — a
    PARALLEL sort, range bounds sampled — feeds the two-phase
    zip_with_index rank; per-bucket offsets are a bucket-count-sized
    aggregate BROADCAST back (bucket count = max_len/width, config-
    bounded in practice — clamp pathological outliers upstream), so
    rank-in-bucket is a subtraction, never a per-bucket window."""
    from proteus_engine_spark.datapipe.textstats import token_count
    from proteus_engine_spark.operators.partitioning import zip_with_index

    if batch_size < 1 or bucket_width < 1:
        raise ValueError("batch_size and bucket_width must be >= 1")
    base = docs.select(
        F.col(id_col),
        token_count(text_col).cast("long").alias("n_tokens"),
    ).withColumn("bucket", F.expr(f"n_tokens div {bucket_width}"))
    ordered = base.orderBy("bucket", id_col)
    idx = zip_with_index(ordered, out="__idx__")
    offs = F.broadcast(
        idx.groupBy("bucket").agg(F.min("__idx__").alias("__off__"))
    )
    return (
        idx.join(offs, "bucket")
        .withColumn("__rnk__", F.col("__idx__") - F.col("__off__"))
        .select(
            id_col,
            "n_tokens",
            "bucket",
            F.expr(f"__rnk__ div {batch_size}").alias("batch_id"),
            (F.col("__rnk__") % batch_size).alias("pos_in_batch"),
        )
    )


def fixed_n_sample(
    docs: DataFrame,
    n_per_group: int,
    group_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Exact-N per-group sampling: deterministically keep (up to) N rows
    per group — the "take exactly 10k docs per source" primitive that
    complements rate-based stratified_sample (rates give expected
    counts; audits, eval-set construction, and per-source caps need
    EXACT counts). Selection order inside a group is the md5(salt||key)
    pseudo-random permutation (re-seedable per draw via ``salt``, stable
    under corpus growth for the kept prefix semantics of a FIXED group —
    adding rows can only displace, never reorder, prior ranks). Groups
    smaller than N keep everything. Returns the sampled rows as
    (group_col, key_col, rank_in_group long).

    Scale shape: ONE parallel range sort on (group, digest, key) feeds
    the two-phase zip_with_index rank; per-group offsets are a
    group-enum-sized aggregate BROADCAST back, so rank-in-group is a
    subtraction — never a per-group window (the bucketed_batches
    discipline). The filter rank < N then cuts at scan rate."""
    from proteus_engine_spark.operators.partitioning import zip_with_index

    if n_per_group < 1:
        raise ValueError("n_per_group must be >= 1")
    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    base = docs.select(F.col(group_col), F.col(key_col)).withColumn("__h__", h)
    ordered = base.orderBy(group_col, "__h__", key_col)
    idx = zip_with_index(ordered, out="__idx__")
    offs = F.broadcast(
        idx.groupBy(group_col).agg(F.min("__idx__").alias("__off__"))
    )
    return (
        idx.join(offs, group_col)
        .withColumn("rank_in_group", F.col("__idx__") - F.col("__off__"))
        .filter(F.col("rank_in_group") < n_per_group)
        .select(group_col, key_col, "rank_in_group")
    )


def weighted_sample_es(
    docs: DataFrame,
    n: int,
    weight_col: str = "n_chars",
    key_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis 2006):
    keep the n rows with the largest u^(1/w) keys, where u is a per-row
    uniform and w the row's weight — the one-pass distributed algorithm
    for "sample 10k docs proportional to length/quality" (plain
    Bernoulli can't hit an exact n; naive weighted-with-replacement
    repeats rows). Returns (key_col, weight long, es_micro long),
    the n winners.

    Engine-portable determinism: u derives from an ITERATED Lehmer LCG
    on the key — seed = key mod (M-1) + 1, then u_int = 48271·u mod M
    applied THREE times, with M = 2^31 - 1; exact integer arithmetic in
    ANY engine (md5 is the repo's usual source of portable randomness,
    but hex→integer conversion is not portable SQL). A SINGLE step is
    not enough: 48271·(key+1) only wraps the modulus for keys ≥ ~44,488,
    so for small sequential ids (every gate SF) one step is strictly
    monotone in the key and spans a sliver of (0, 1] — the "random"
    sample would degenerate into a largest-id-biased deterministic
    selection (r13 advice). Iterating fixes it unconditionally: seeds
    ≤ ~44,488 don't wrap in step 1 but then hold u ≥ 48271 (and
    48271·48271 > M), so step 2 wraps them; larger seeds already wrap
    in step 1 and are mixed. The third step adds mixing margin.
    The seed maps into [1, M-1] — the Lehmer domain, closed under the
    step because M is prime — so u_int is NEVER 0: ln(u) stays finite
    everywhere, which matters because DuckDB's ln(0) RAISES while
    Spark's returns NULL. The ES key ln(u)/w quantizes to integer
    micro-units, so the ranking is exact. Zero-weight rows take weight 1
    (greatest guard) rather than dividing by zero.

    Scale shape: the key computes in the scan projection; the global
    top-n runs as orderBy + limit, which Spark executes as TakeOrdered —
    per-partition partial top-n then a driver merge of n·partitions
    rows — NEVER a full sort or an unpartitioned window."""
    if n < 1:
        raise ValueError("n must be >= 1")
    m = 2147483647  # 2^31 - 1, Lehmer modulus; seeds live in [1, m-1]
    u_int = F.pmod(F.col(key_col).cast("long"), F.lit(m - 1)) + 1
    for _ in range(3):  # iterated: step 2 wraps for EVERY seed (see doc)
        u_int = (F.lit(48271) * u_int) % m
    w = F.greatest(F.col(weight_col).cast("long"), F.lit(1))
    es_micro = F.round(
        F.lit(1000000.0) * F.log(u_int.cast("double") / m) / w, 0
    ).cast("long")
    return (
        docs.select(
            F.col(key_col), w.alias("weight"), es_micro.alias("es_micro")
        )
        .orderBy(F.desc("es_micro"), F.asc(key_col))
        .limit(n)
    )
