"""Deterministic sampling operators for training-data curation.

A 100-TB corpus is rarely trained on whole: language/source rebalancing,
held-out splits, and debug subsamples all need sampling that is
(a) exactly reproducible across runs, partitionings, and cluster sizes,
(b) map-only — no shuffle, no per-partition RNG state, and
(c) recomputable by any other engine auditing the pipeline.

``DataFrame.sample()`` fails (a) whenever the partitioning changes
(per-partition XORShift) and (c) always.  Instead we hash the ROW KEY
into [0, 1) with pure integer arithmetic — xor-fold the 63-bit key to
31 bits, then Knuth multiplicative mixing mod 2^32 — so the decision is
a property of the row, not of execution layout, and a DuckDB oracle can
recompute it exactly (q41).  Division by 2^32 is exact in binary
floating point, so the threshold comparison is bit-identical across
engines.  Not cryptographic: adequate avalanche for threshold sampling,
not for adversarial inputs.

The reference has no sampling surface; this is a driver-mandated
LLM-training-data operator (SURVEY §2.7).
"""

from __future__ import annotations

import math
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KNUTH_MULT = 2654435761  # floor(2^32 / golden ratio), Knuth TAOCP 6.4
_M32 = 2**32
_MASK31 = 2**31 - 1


def sample_u_col(key: Column, seed: int = 0) -> Column:
    """Deterministic uniform-ish u in [0, 1) from an integer key column.

    xor-fold to 31 bits keeps the multiply inside bigint range under
    ANSI mode: (2^31 - 1) * KNUTH_MULT ≈ 5.7e18 < 2^63 - 1.

    A NULL key hashes as key 0 rather than propagating NULL: a NULL
    comparison would silently drop the row from every sample AND every
    stratum (even at fraction 1.0) while ``with_split`` routed it to
    'train' — silent, inconsistent row loss.  Coalescing gives all three
    operators one deterministic, auditable decision for null-keyed rows
    (they share key 0's fate); repair ids upstream if NULL keys carry
    real volume."""
    k = (
        F.coalesce(key.cast("bigint"), F.lit(0).cast("bigint"))
        .bitwiseXOR(F.lit(seed).cast("bigint"))
    )
    folded = F.shiftright(k, 31).bitwiseXOR(k).bitwiseAND(F.lit(_MASK31))
    return F.pmod(folded * F.lit(KNUTH_MULT), F.lit(_M32)) / F.lit(float(_M32))


def _check_fraction(fraction: float, name: str = "fraction") -> None:
    if not (0.0 <= fraction <= 1.0):
        raise ValueError(f"{name} must be in [0, 1], got {fraction}")


_INTEGRAL_TYPES = ("byte", "tinyint", "short", "smallint", "int", "integer",
                   "bigint", "long")


def _check_integral_key(df: DataFrame, key_col: str) -> None:
    """Plan-time type gate for every ``sample_u_col`` entry point: the
    key arithmetic casts to bigint, and under ANSI mode (Spark 4
    default) a string/double key would fail with CAST_INVALID_INPUT or
    overflow MID-JOB inside a task — hours into a 10^12-row run — for
    an error that is knowable from the schema before any task launches.
    Raise here, at plan time, like the scrub path's MalformedLabel."""
    dt = df.schema[key_col].dataType.simpleString()
    if dt not in _INTEGRAL_TYPES:
        raise ValueError(
            f"sampling key column {key_col!r} must be an integral type "
            f"(byte/short/int/long), got {dt}: the deterministic key hash "
            "is bigint arithmetic (and its SQL-oracle twin). Hash "
            "non-integral keys first, e.g. F.xxhash64(col)."
        )


def deterministic_sample(
    df: DataFrame, fraction: float, key_col: str = "doc_id", seed: int = 0
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash — same rows every
    run regardless of partitioning.  Different ``seed`` values give
    independent samples over the same corpus."""
    _check_fraction(fraction)
    _check_integral_key(df, key_col)
    return df.filter(sample_u_col(F.col(key_col), seed) < F.lit(fraction))


def stratified_sample(
    df: DataFrame,
    fractions: Mapping[str, float],
    strata_col: str,
    key_col: str = "doc_id",
    default_fraction: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum sampling rates (e.g. downsample an overrepresented
    language) — one map-only filter, no shuffle: the per-row threshold
    is a CASE over ``strata_col``, compiled at plan time."""
    for k, v in fractions.items():
        _check_fraction(v, f"fractions[{k!r}]")
    _check_fraction(default_fraction, "default_fraction")
    thresh = F.lit(default_fraction)
    for value, fr in sorted(fractions.items()):
        thresh = F.when(F.col(strata_col) == F.lit(value), F.lit(fr)).otherwise(
            thresh
        )
    _check_integral_key(df, key_col)
    return df.filter(sample_u_col(F.col(key_col), seed) < thresh)


# Keep rates are floor-quantized to this grid so an engine recomputing
# them (DuckDB oracle, an audit job in another stack) agrees on the
# threshold comparison in the overwhelmingly common case where two
# libm pow() implementations differ by a few ulp: both floors collapse
# to the same 1e-6 multiple unless pow() lands WITHIN those few ulp of
# a quantum boundary (probability ~1e-10 per stratum) — quantization
# shrinks the cross-engine disagreement surface by ~10 orders of
# magnitude; it does not make it exactly zero.
RATE_QUANTUM = 1_000_000

# Above this many strata the per-stratum rates stop being a plan-time
# CASE chain (whose nested-CaseWhen depth would stack-overflow Catalyst
# tree traversal somewhere in the thousands) and become a broadcast
# join against the tiny rates table — same decisions, one
# BroadcastExchange of the rates instead of a deeper expression tree,
# still zero shuffles of the corpus.
CASE_STRATA_MAX = 128


def temperature_fractions(counts: Mapping, alpha: float) -> dict:
    """Per-stratum keep rates for temperature rebalancing — the
    multilingual-LM alpha-sampling rule (XLM-R / mT5 style): after
    sampling, stratum mass is proportional to p_i^alpha, flattening the
    head (alpha < 1) or sharpening it (alpha > 1).

    rate_i = (n_i / n_ref)^(alpha-1), n_ref chosen so the largest rate
    is exactly 1.0 (the smallest stratum for alpha < 1, the largest for
    alpha > 1) — pure downsampling rebalance, nothing is oversampled,
    so a map-only hash filter implements it without row duplication.
    """
    if not (alpha >= 0.0):
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if any(n <= 0 for n in counts.values()):
        raise ValueError("stratum counts must be positive")
    if not counts:
        return {}
    ref = min(counts.values()) if alpha <= 1.0 else max(counts.values())
    return {
        k: math.floor((n / ref) ** (alpha - 1.0) * RATE_QUANTUM) / RATE_QUANTUM
        for k, n in counts.items()
    }


def temperature_sample(
    df: DataFrame,
    strata_col: str,
    alpha: float = 0.7,
    key_col: str = "doc_id",
    seed: int = 0,
    max_strata: int = 100_000,
) -> DataFrame:
    """Rebalance a corpus so stratum mass ∝ p_i^alpha — ONE
    groupBy(strata) count (a bounded shuffle of (stratum, long) pairs),
    then the same deterministic key-hash decision as
    ``stratified_sample``.  Rates compile to a plan-time CASE threshold
    (pure Filter-above-Scan) up to ``CASE_STRATA_MAX`` strata, and to a
    broadcast join against the tiny rates table beyond that — the
    corpus never shuffles either way.

    The per-stratum counts are collected to the driver; that collect is
    bounded by the number of DISTINCT strata, guarded by ``max_strata``
    (the ``batch_scrub.max_global_values`` discipline: count first,
    raise with guidance instead of OOMing the driver).  NULL strata are
    matched null-safely so null-keyed rows get their own computed rate
    instead of silently vanishing through a ``==`` comparison.
    """
    cnt = df.groupBy(strata_col).count().limit(max_strata + 1).collect()
    if len(cnt) > max_strata:
        raise ValueError(
            f"temperature_sample: more than {max_strata} distinct "
            f"{strata_col!r} strata — a stratum column this granular is "
            "a key, not a class; pick a coarser column or raise "
            "max_strata explicitly"
        )
    rates = temperature_fractions({r[0]: r["count"] for r in cnt}, alpha)
    return _rate_threshold_sample(df, strata_col, rates, key_col, seed)


def _rate_threshold_sample(
    df: DataFrame,
    strata_col: str,
    rates: Mapping,
    key_col: str,
    seed: int,
) -> DataFrame:
    """Shared tail of every per-stratum-rate sampler: compile the rates
    into a plan-time CASE threshold (pure Filter-above-Scan, zero
    exchanges) up to ``CASE_STRATA_MAX`` strata, or a broadcast join
    against the tiny rates table beyond that — the corpus never
    shuffles either way.  NULL strata are matched null-safely."""
    if not rates:
        return df
    _check_integral_key(df, key_col)
    u = sample_u_col(F.col(key_col), seed)
    if len(rates) <= CASE_STRATA_MAX:
        # small stratum sets (languages, codecs): plan-time CASE keeps
        # the sample a pure Filter-above-Scan, zero exchanges
        thresh = F.lit(0.0)
        for value, fr in sorted(
            rates.items(), key=lambda kv: (kv[0] is None, str(kv[0]))
        ):
            cond = (
                F.col(strata_col).isNull()
                if value is None
                else F.col(strata_col) == F.lit(value)
            )
            thresh = F.when(cond, F.lit(fr)).otherwise(thresh)
        return df.filter(u < thresh)
    # large stratum sets: a depth-N nested CaseWhen would overflow the
    # Catalyst analyzer stack; broadcast-join the rates instead (null
    # strata matched null-safely; every observed stratum has a rate)
    from pyspark.sql.types import DoubleType, StructField, StructType

    rates_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(k, float(v)) for k, v in rates.items()],
            StructType([
                StructField("_stratum", df.schema[strata_col].dataType, True),
                StructField("_rate", DoubleType(), False),
            ]),
        )
    )
    joined = df.join(
        rates_df, F.col(strata_col).eqNullSafe(F.col("_stratum")), "left"
    )
    return joined.filter(u < F.coalesce(F.col("_rate"), F.lit(0.0))).drop(
        "_stratum", "_rate"
    )


def mixture_fractions(
    counts: Mapping,
    proportions: Mapping,
    budget_rows: int | None = None,
) -> dict:
    """Per-stratum keep rates that downsample a corpus to an EXPLICIT
    target mixture (the "50% web / 30% code / 20% books" step of a
    training-data recipe), as large as pure downsampling allows.

    With observed masses m_i and target weights p_i, the largest
    feasible output with mass_i ∝ p_i is B* = min over p_i>0 of
    m_i / p_i (the binding stratum keeps rate 1.0); rate_i =
    p_i · B / m_i with B = min(B*, budget_rows / Σp) when a budget is
    given.  Only weight RATIOS matter (B scales inversely with any
    common factor), so weights need not sum to 1 — except for the
    budget, which is interpreted as total output rows and therefore
    normalized by Σp.  Strata absent from ``proportions`` get rate 0.0
    (dropped); a stratum with positive weight but NO rows makes the
    mixture infeasible and raises.  Rates floor-quantize to the
    ``RATE_QUANTUM`` grid for cross-engine agreement (see
    ``temperature_fractions``)."""
    if not proportions:
        raise ValueError("proportions must name at least one stratum")
    for k, p in proportions.items():
        if not (p >= 0.0):
            raise ValueError(f"proportions[{k!r}] must be >= 0, got {p}")
    p_sum = float(sum(proportions.values()))
    if p_sum <= 0.0:
        raise ValueError("at least one proportion must be positive")
    missing = [
        k for k, p in proportions.items() if p > 0 and not counts.get(k)
    ]
    if missing:
        raise ValueError(
            f"mixture infeasible: strata {missing!r} have positive target "
            "weight but no rows in the corpus"
        )
    b = min(
        counts[k] / p for k, p in proportions.items() if p > 0
    )
    if budget_rows is not None:
        if budget_rows <= 0:
            raise ValueError(f"budget_rows must be > 0, got {budget_rows}")
        b = min(b, budget_rows / p_sum)
    rates = {k: 0.0 for k in counts}
    for k, p in proportions.items():
        if p > 0 and k in counts:
            rates[k] = (
                math.floor(p * b / counts[k] * RATE_QUANTUM) / RATE_QUANTUM
            )
    return rates


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    proportions: Mapping,
    key_col: str = "doc_id",
    budget_rows: int | None = None,
    seed: int = 0,
    max_strata: int = 100_000,
) -> DataFrame:
    """Downsample to an explicit target mixture over ``strata_col`` —
    the dataset-recipe twin of ``temperature_sample`` (that one flattens
    the observed distribution; this one hits stated proportions).  Same
    scale shape: ONE bounded (stratum, count) shuffle, driver collect
    guarded by ``max_strata``, rates compiled into a plan-time CASE (or
    broadcast rates join past ``CASE_STRATA_MAX``), then the map-only
    deterministic key-hash filter — the corpus never shuffles and the
    kept set is independent of physical layout."""
    cnt = df.groupBy(strata_col).count().limit(max_strata + 1).collect()
    if len(cnt) > max_strata:
        raise ValueError(
            f"mixture_sample: more than {max_strata} distinct "
            f"{strata_col!r} strata — pick a coarser column or raise "
            "max_strata explicitly"
        )
    rates = mixture_fractions(
        {r[0]: r["count"] for r in cnt}, proportions, budget_rows
    )
    return _rate_threshold_sample(df, strata_col, rates, key_col, seed)


def with_split(
    df: DataFrame,
    holdout_fraction: float = 0.01,
    key_col: str = "doc_id",
    seed: int = 0,
    col_name: str = "split",
) -> DataFrame:
    """Disjoint train/holdout assignment as a column: every row gets
    exactly one of 'train'/'holdout', stable across runs — the property
    an eval split must have so no holdout document ever leaks into a
    later training run."""
    _check_fraction(holdout_fraction, "holdout_fraction")
    _check_integral_key(df, key_col)
    u = sample_u_col(F.col(key_col), seed)
    return df.withColumn(
        col_name,
        F.when(u < F.lit(holdout_fraction), F.lit("holdout")).otherwise(
            F.lit("train")
        ),
    )


def select_until_budget(
    df: DataFrame,
    budget: int,
    value_col: str,
    priority_cols: list,
    id_col: str = "doc_id",
    out_col: str = "budget_cum",
) -> DataFrame:
    """Select the highest-priority rows whose cumulative ``value_col``
    fits a hard ``budget`` — the "best docs under a token budget" step
    every fixed-compute training run ends curation with.

    Rows are ordered ASCENDING by ``priority_cols`` (list of column
    names or Columns — e.g. ``[F.col("symbol_ppm"), "doc_id"]`` selects
    the cleanest docs first; for a DESCENDING priority negate the
    expression, e.g. ``[-F.col("importance"), "doc_id"]`` — sort-order
    modifiers like ``.desc()`` are not orderable inside the struct key;
    the combined order MUST be total/unique or the cumsum is
    nondeterministic), and a row is kept iff it fits
    WHOLE: exclusive-cumsum(value) + value <= budget.  No straddling
    row — a hard budget is hard.  Appends ``out_col`` (the exclusive
    cumulative value before the row) to the survivors.

    Scale: the ordering rides the same two-phase distributed prefix sum
    as ``pack_sequences`` (range partition by the priority struct →
    per-partition window → per-partition totals broadcast) — no global
    single-partition window, no driver collect of data rows.  The
    selection itself is then one Catalyst filter.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if not priority_cols:
        raise ValueError("priority_cols must name at least one column")
    from .packing import with_global_offset

    # The prefix sum needs only (order, value, id): project NARROW
    # before the range shuffle + eager localCheckpoint inside
    # with_global_offset, then join offsets back on the 8-byte id —
    # document payloads must never ride a shuffle (or a checkpoint) to
    # compute a bigint.  ``id_col`` must be unique (it is the join key).
    ordc = "_sel_ord"
    cols = [F.col(c) if isinstance(c, str) else c for c in priority_cols]
    # Degenerate-input posture (both auditable in plain SQL):
    #  - NULL-id rows can never come back through the id join, so they
    #    must not enter the prefix sum either — otherwise they silently
    #    EAT budget and vanish;
    #  - NULL / negative values clamp to 0 in the SAME projection the
    #    cumsum reads, so the running total and the fits-whole filter
    #    always agree (a negative "size" must not refund budget).
    val_clamped = F.greatest(
        F.lit(0).cast("bigint"),
        F.coalesce(F.col(value_col).cast("bigint"), F.lit(0).cast("bigint")),
    )
    narrow = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col), val_clamped.alias(value_col),
        F.struct(*cols).alias(ordc),
    )
    offs = with_global_offset(narrow, ordc, value_col, out_col=out_col)
    val = F.col(value_col).cast("bigint")
    kept = offs.where(F.col(out_col) + val <= F.lit(int(budget))).select(
        id_col, out_col
    )
    return df.join(kept, id_col)


def repeat_epochs(
    df: DataFrame,
    epochs,
    strata_col: str | None = None,
    key_col: str = "doc_id",
    seed: int = 0,
    default_epochs: float = 1.0,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Materialize a dataset recipe's REPEAT factors: each row is
    emitted ``floor(e)`` times plus one more with probability
    ``frac(e)`` — so a source marked 3.5 epochs contributes every doc 3
    times and half the docs (deterministically chosen) a 4th time,
    while 0.25 downsamples to a quarter.  This is the upsampling twin
    of ``mixture_sample`` (which can only keep/drop); together they
    express any published data-mixture table (e.g. the Llama/GPT-3
    per-source epoch columns).

    ``epochs`` is a single float, or a ``{stratum: epochs}`` mapping
    applied via ``strata_col`` (unmapped strata get
    ``default_epochs``).  The fractional coin is the same xor-fold +
    Knuth-multiply hash as every sampler here (``sample_u_col`` on
    ``key_col``) — per-row decisions are deterministic, partitioning-
    independent, and recomputable by an auditor or a SQL oracle.
    Appends ``epoch_col`` (0-based copy index) so downstream sharding
    can tell copies apart; (key, epoch) is unique.

    Scale: map-only — one Catalyst ``explode(sequence(...))``, ZERO
    shuffle, no Python; output size is exactly the recipe's blow-up
    factor and nothing else."""
    if isinstance(epochs, Mapping):
        if strata_col is None:
            raise ValueError(
                "repeat_epochs: a per-stratum mapping needs strata_col")
        for k, v in epochs.items():
            if float(v) < 0:
                raise ValueError(f"epochs must be >= 0, got {k}={v}")
        if float(default_epochs) < 0:
            raise ValueError("default_epochs must be >= 0")
        m = F.create_map(
            *[x for k, v in sorted(epochs.items())
              for x in (F.lit(k), F.lit(float(v)))]
        )
        ep = F.coalesce(
            m[F.col(strata_col)], F.lit(float(default_epochs))
        )
    else:
        if float(epochs) < 0:
            raise ValueError(f"epochs must be >= 0, got {epochs}")
        ep = F.lit(float(epochs))
    flo = F.floor(ep).cast("long")
    _check_integral_key(df, key_col)
    u = sample_u_col(F.col(key_col), seed)
    n = flo + (u < (ep - flo)).cast("long")
    copies = F.when(
        n > 0, F.sequence(F.lit(0).cast("long"), n - 1)
    ).otherwise(F.array().cast("array<long>"))
    return df.withColumn(epoch_col, F.explode(copies))


def cap_per_key(
    df: DataFrame,
    key_cols,
    n: int,
    order_cols,
    id_col: str = "doc_id",
    salt_mod: int = 16,
) -> DataFrame:
    """Keep at most ``n`` rows per key — the C4/RefinedWeb-style domain
    cap (no single host may dominate the corpus), generalized from the
    pipeline's ``per_codec_top_k``.

    ``key_cols`` is a list of column names; ``order_cols`` a list of
    column names or Columns (e.g. ``[F.desc("n_chars"), "doc_id"]``)
    whose combined order must be total — include a unique tiebreak or
    the survivors are nondeterministic.  Appends ``rank`` (1..n).

    SKEW-SAFE two-phase: a plain ``Window.partitionBy(key)`` funnels
    every row of a hot key (one domain with 10^9 pages) through ONE
    task.  Phase 1 ranks within (key, salt-of-id) — the hot key splits
    across ``salt_mod`` window tasks, each keeping n — so phase 2 ranks
    only ≤ salt_mod·n survivors per key.  Result is EXACTLY the
    unsalted window's."""
    from pyspark.sql import Window

    if n < 1:
        raise ValueError(f"cap_per_key: n must be >= 1, got {n}")
    if not key_cols or not order_cols:
        raise ValueError("cap_per_key: key_cols and order_cols required")
    order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_mod))
    w1 = Window.partitionBy(*key_cols, "_salt").orderBy(*order)
    survivors = (
        df.withColumn("_salt", salt)
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= n)
        .drop("_r", "_salt")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= n)
    )


def split_by_cluster(
    df: DataFrame,
    pairs: DataFrame,
    holdout_fraction: float = 0.01,
    id_col: str = "doc_id",
    seed: int = 0,
    col_name: str = "split",
) -> DataFrame:
    """Leakage-safe train/holdout split: every member of a near-dup
    cluster lands on the SAME side.  Splitting by row id leaks — a
    paraphrase or re-encode of a holdout document in the training set
    inflates eval exactly where dedup was supposed to protect it — so
    the split key is the cluster survivor id (connected components
    over ``pairs``, min-id rule, ``dedup.near_duplicate_clusters``),
    and unpaired rows are their own singleton clusters.

    Same deterministic u as ``with_split`` (``sample_u_col``) keyed on
    the cluster id: stable across runs, recomputable in plain SQL, and
    holdout_fraction applies at CLUSTER granularity (big families move
    as one — the price of no leakage).  Adds ``split_key`` (the
    cluster id the decision hashed) and ``col_name``.

    Scale: clusters are (node, cluster_id) longs; one join on the
    8-byte id against the corpus, then a codegen'd hash CASE — the
    corpus row (text, payloads) is never shuffled by this operator
    beyond that id join; pairs volume is the LSH output, not O(n^2).
    """
    _check_fraction(holdout_fraction, "holdout_fraction")
    _check_integral_key(df, id_col)
    from .dedup import near_duplicate_clusters

    clusters = near_duplicate_clusters(pairs).withColumnRenamed(
        "node", id_col
    )
    keyed = df.join(clusters, id_col, "left")
    group_key = F.coalesce(F.col("cluster_id"), F.col(id_col))
    u = sample_u_col(group_key, seed)
    return (
        keyed.withColumn("split_key", group_key.cast("bigint"))
        .withColumn(
            col_name,
            F.when(u < F.lit(holdout_fraction), F.lit("holdout")).otherwise(
                F.lit("train")
            ),
        )
        .drop("cluster_id")
    )


def with_dedup_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    col_name: str = "dedup_weight",
) -> DataFrame:
    """Soft dedup: instead of DROPPING near-duplicates, weight every
    member of a near-dup cluster by 1/cluster_size — each distinct
    content contributes exactly one effective sample (per-cluster
    weights sum to 1.0), but the natural variation across members
    (re-encodes, paraphrases, different speakers of one prompt) stays
    available to training.  The standard soft alternative when hard
    dedup would destroy diversity the variants carry; compose with
    ``temperature_sample``/``select_until_budget`` by using the weight
    as the value column.

    Cluster sizes are counted over members PRESENT IN ``df``, not over
    the pairs graph: when ``df`` is a filtered subset of the corpus the
    pairs were mined on (the usual case — quality gates run between
    mining and weighting), the survivors of a cluster still sum to
    exactly 1.0; sizing from the graph would silently undercount the
    corpus's effective size by every filtered-out member's share.

    Same scale shape as ``split_by_cluster``: clusters are
    (node, cluster_id) longs, cluster sizes one groupBy on the 8-byte
    cluster id over a narrow (id, cluster) projection of the joined
    frame, one id join back against the corpus — text/payloads never
    shuffle.  Unpaired rows are singletons with weight 1.0."""
    from .dedup import near_duplicate_clusters

    clusters = near_duplicate_clusters(pairs).withColumnRenamed(
        "node", id_col
    )
    member = df.select(id_col).join(clusters, id_col, "inner")
    sizes = member.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("__csize")
    )
    keyed = df.join(clusters, id_col, "left").join(
        sizes, "cluster_id", "left"
    )
    return keyed.withColumn(
        col_name,
        F.lit(1.0) / F.coalesce(F.col("__csize"), F.lit(1)).cast("double"),
    ).drop("cluster_id", "__csize")
