"""Stratum-balanced corpus sampling — the generic form of the
declared ``sample_balanced_lang`` query (plans/llm_ops.py), usable
with ANY stratum column: language, source domain, or the cluster ids
produced by ``operators/cluster.py`` (cluster-then-balance is the
standard recipe for flattening topic skew in a pretraining mixture).

Scale shape (same as the declared query, pinned there): stratum sizes
come from a tiny groupBy aggregate broadcast back onto the corpus —
never a global or per-stratum window (a ``min() over ()`` would
funnel every row through one partition; a per-stratum window still
sorts the corpus). Acceptance is a deterministic per-row hash
threshold — stable across engines, partitionings, and corpus appends
(an id keeps or loses its slot only if its OWN stratum's count
changes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from solana_snapshot_etl_tools_spark.functions.hashing import _2_32, knuth_hash32
from solana_snapshot_etl_tools_spark.session import checkpoint_for_session


def balanced_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str = "doc_id",
    target: int | None = None,
) -> DataFrame:
    """Downsample every stratum to ~``target`` rows (expectation;
    strata already below target pass through whole). ``target=None``
    equalizes to the SMALLEST stratum — the ``sample_balanced_lang``
    semantics. Returns the input rows that survive, all columns
    intact. A NULL stratum is a stratum like any other (the count join
    is null-safe — a plain equi-join would silently drop every
    NULL-stratum row from the corpus)."""
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_cnt"))
    counts = counts.withColumnRenamed(stratum_col, "_stratum")
    h = knuth_hash32(F.col(id_col)).cast("double")
    out = df.join(
        F.broadcast(counts),
        F.col(stratum_col).eqNullSafe(F.col("_stratum")),
    )
    if target is None:
        tgt = counts.agg(F.min("_cnt").alias("_tgt"))
        out = out.crossJoin(F.broadcast(tgt))
    else:
        out = out.withColumn("_tgt", F.lit(int(target)))
    # accept iff h/2^32 < tgt/cnt, spelled in double to survive
    # cnt > 2^31 strata (see the declared query's overflow note)
    return out.filter(
        h * F.col("_cnt") < F.col("_tgt").cast("double") * F.lit(float(_2_32))
    ).select(*df.columns)


def mix_corpora(
    sources: list[tuple[str, DataFrame, float]],
    id_col: str = "doc_id",
    total: int | None = None,
    allow_shortfall: bool = False,
) -> DataFrame:
    """Deterministic multi-source pretraining mixture: source ``i``
    contributes ``~ total * w_i / sum(w)`` rows, sampled by a
    per-source-salted hash (``xxhash64(id, source_name)`` — salting is
    REQUIRED: reusing one unsalted hash would select the same id tail
    from every source, correlating the mixture with any other
    hash-keyed stage). ``total`` defaults to the largest size at which
    no source needs more rows than it has (this operator never
    replicates; upsample by replicating survivors downstream). Output
    adds a ``source`` column; all sources must share the input schema.

    An explicit ``total`` that asks some source for more rows than it
    has raises with the per-source shortfall (a silent cap would skew
    the realized proportions away from the requested weights with no
    signal); pass ``allow_shortfall=True`` to accept capped sources —
    the over-asked sources are then included whole and the mixture is
    deliberately off-weight.

    Scale shape: one count per source (driver-side scalars), then a
    narrow per-row filter and a union — no shuffle, no window,
    append-stable per source."""
    if not sources:
        raise ValueError("mix_corpora needs at least one source")
    names = [name for name, _, _ in sources]
    if len(set(names)) != len(names):
        # duplicate names would share a salt (re-correlating selection)
        # and clobber each other's counts
        raise ValueError(f"duplicate source names: {sorted(names)}")
    cols = sources[0][1].columns
    if "source" in cols:
        raise ValueError(
            "inputs already carry a 'source' column — rename it; the "
            "mixture output adds its own"
        )
    for name, df, w in sources:
        if df.columns != cols:
            raise ValueError(
                f"source {name!r} schema {df.columns} != {cols}"
            )
        if w < 0:
            raise ValueError(f"source {name!r} has negative weight {w}")
    wsum = sum(w for _, _, w in sources)
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    counts = {name: df.count() for name, df, _ in sources}
    if total is None:
        total = int(
            min(counts[n] * wsum / w for n, _, w in sources if w > 0)
        )
    else:
        short = {
            n: (int(total * w / wsum), counts[n])
            for n, _, w in sources
            if w > 0 and total * w / wsum > counts[n]
        }
        if short and not allow_shortfall:
            detail = ", ".join(
                f"{n}: wants {want} has {have}"
                for n, (want, have) in sorted(short.items())
            )
            raise ValueError(
                f"mix_corpora: total={total} is infeasible without "
                f"replication ({detail}); lower total, or pass "
                "allow_shortfall=True to include the over-asked "
                "sources whole (off-weight mixture)"
            )
    out = None
    for name, df, w in sources:
        if w <= 0:
            continue
        target = min(float(counts[name]), total * w / wsum)
        u = F.pmod(F.xxhash64(F.col(id_col), F.lit(name)), F.lit(_2_32))
        part = df.filter(
            u.cast("double") * counts[name] < target * float(_2_32)
        ).select(*cols, F.lit(name).alias("source"))
        out = part if out is None else out.unionByName(part)
    return out


# temperature_sample collects the stratum list driver-side (the p_i
# exponentiation isn't worth pushing to the cluster for the intended
# language/domain/cluster strata). The cap turns a caller passing a
# high-cardinality column (doc ids, urls, ...) into a loud error
# instead of a silent driver OOM; the probe is a LIMIT count, not a
# full aggregation.
TEMPERATURE_MAX_STRATA = 1_000_000


def temperature_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str = "doc_id",
    alpha: float = 0.7,
    total: int | None = None,
    max_strata: int = TEMPERATURE_MAX_STRATA,
) -> DataFrame:
    """Temperature-flattened mixture sampling (the multilingual
    pretraining recipe — mBERT / XLM-R): stratum i is drawn with
    probability ``p_i ∝ n_i^alpha``, so ``alpha = 1`` keeps natural
    proportions, ``alpha = 0`` is uniform over strata, and the usual
    0.3-0.7 range upweights the tail without drowning the head.
    ``total`` is the expected output size (default: the largest size
    at which no stratum needs MORE rows than it has — pure
    downsampling; this operator never repeats rows, so callers wanting
    upsampling replicate survivors downstream).

    Same machinery as ``balanced_sample``: driver-free broadcast
    counts, deterministic null-safe hash acceptance, append-stable per
    stratum."""
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_cnt"))
    counts = counts.withColumnRenamed(stratum_col, "_stratum")
    # p_i and the feasibility cap involve one tiny driver-side pass
    # over the STRATUM LIST (not the corpus) — #strata rows. Guard
    # driver memory by collecting AT MOST cap+1 rows: the limit bounds
    # what reaches the driver, and one aggregation serves both the
    # guard and the weights (a separate limit().count() probe would
    # run the identical full-corpus groupBy a second time — limits
    # do not short-circuit an aggregation's scan).
    stats = counts.limit(max_strata + 1).collect()
    if len(stats) > max_strata:
        raise ValueError(
            f"temperature_sample: {stratum_col!r} has more than "
            f"{max_strata} distinct strata — the per-stratum weight "
            "table is built driver-side and would not fit. Use a "
            "coarser stratum (language/domain/cluster id), or raise "
            "max_strata deliberately."
        )
    if not stats:  # empty input: empty output, like balanced_sample
        return df
    weights = {r["_stratum"]: float(r["_cnt"]) ** alpha for r in stats}
    wsum = sum(weights.values()) or 1.0
    if total is None:
        # largest total with target_i <= n_i for every stratum
        total = int(
            min(float(r["_cnt"]) * wsum / weights[r["_stratum"]] for r in stats)
        )
    # per-stratum targets go back as a broadcast frame (a literal CASE
    # chain would blow up the plan at high stratum cardinality)
    targets = df.sparkSession.createDataFrame(
        [
            (
                r["_stratum"],
                float(r["_cnt"]),
                min(float(r["_cnt"]), total * weights[r["_stratum"]] / wsum),
            )
            for r in stats
        ],
        df.select(stratum_col).withColumnRenamed(stratum_col, "_stratum").schema.add(
            "_cnt", "double"
        ).add("_tgt", "double"),
    )
    h = knuth_hash32(F.col(id_col)).cast("double")
    return (
        df.join(
            F.broadcast(targets), F.col(stratum_col).eqNullSafe(F.col("_stratum"))
        )
        .filter(h * F.col("_cnt") < F.col("_tgt") * F.lit(float(_2_32)))
        .select(*df.columns)
    )


def upsample_corpus(
    df: DataFrame,
    factor: float,
    id_col: str = "doc_id",
    seed: int = 0,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Deterministic fractional up/down-sampling — the per-source
    epoch weight of a LLaMA-style data recipe (high-quality sources
    run >1 epoch, e.g. Wikipedia 2.45 epochs; bulk crawl <1). Every
    row appears ``floor(factor)`` times plus once more for a
    hash-selected ``frac(factor)`` share, so the realized count is
    within one Bernoulli draw per row of ``factor * n`` and reruns /
    shard appends replicate exactly (same contract as the samplers
    above). ``factor < 1`` degenerates to deterministic downsampling.

    Copies are distinguished by ``epoch_col`` (1-based), keeping
    (id, epoch) unique downstream — shufflers and packers can salt on
    it. The explode is narrow (no shuffle); Spark plans it as a
    generator over the scan, so at 100 TB this costs exactly the
    extra output rows, never a repartition.
    """
    if factor <= 0:
        raise ValueError(f"factor must be > 0, got {factor}")
    base = int(factor)
    frac = factor - base
    u = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(_2_32))
    extra = (u.cast("double") < F.lit(frac * float(_2_32))).cast("int")
    n_copies = F.lit(base) + extra
    # sequence(1, 0) DESCENDS to [1, 0] — zero copies must be an
    # empty array (explode then drops the row), not two epochs
    seqs = F.when(
        n_copies >= 1, F.sequence(F.lit(1), n_copies)
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn(epoch_col, F.explode(seqs))


def stratified_split(
    df: DataFrame,
    stratum_col: str,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
    seed: int = 0,
    num_ranges: int | None = None,
    max_driver_rows: int = TEMPERATURE_MAX_STRATA,
) -> DataFrame:
    """EXACT stratified train/val/test split: every stratum
    contributes ``floor(n_i * pct / 100)`` rows to train and
    ``floor(n_i * (train+val) / 100) - train_i`` to val (the
    remainder is test), so tiny strata keep their held-out share
    instead of losing it to hash variance — the guarantee the plain
    hash split (``split_train_val_test``) provides only in
    expectation. The price is append-INstability: adding documents
    re-ranks a stratum, so a rerun on a grown corpus reassigns some
    rows (the hash split never does). Pick per use case.

    Scale shape (the packing two-pass prefix rank, generalized per
    stratum — NO per-stratum global sort): the decision runs on a
    compact (stratum, id, hash) projection; range-partition by
    (stratum, hash) → per-(range, stratum) counts collected
    driver-side (<= #ranges + #strata rows) → broadcast base offsets
    + per-stratum cut points → within-range window rank. Document
    text touches only the final id equi-join. The ranged frame is
    localCheckpoint-ed (registered with the session cache registry,
    ``session.checkpoint_for_session``) — materialize the result
    before calling ``session.release_session_caches``, same contract
    as ``connected_components``."""
    if not (0 <= train_pct <= 100 and 0 <= val_pct <= 100):
        raise ValueError("each split percentage must be in [0, 100]")
    if train_pct + val_pct > 100:
        raise ValueError("train_pct + val_pct must be <= 100")
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    spark = df.sparkSession
    n_part = num_ranges or spark.sparkContext.defaultParallelism
    d = (
        df.select(F.col(stratum_col).alias("_s"), F.col(id_col).alias("_i"))
        .withColumn("_h", F.xxhash64("_i", F.lit(seed)))
        .repartitionByRange(n_part, "_s", "_h")
        .withColumn("_pid", F.spark_partition_id())
    )
    # MATERIALIZE the ranged frame before the two passes read it: the
    # RangePartitioner's boundaries come from a per-JOB sample on
    # large inputs (Spark documents repartitionByRange output as "may
    # not be consistent"), so without lineage truncation the count job
    # and the rank/join job could assign rows to DIFFERENT ranges and
    # the broadcast base offsets would be silently wrong — on the one
    # operator whose whole contract is exactness. localCheckpoint
    # pins one materialization (or fails loudly); the registry frees
    # the storage at the caller's next release_session_caches().
    d = checkpoint_for_session(d)
    # the driver-side decision table is #ranges x #strata rows — same
    # loud-cap contract as temperature_sample: the limit bounds what
    # reaches the driver, and one aggregation serves both guard and
    # offsets (a separate count() probe would rescan the corpus)
    per_range = (
        d.groupBy("_pid", "_s")
        .agg(F.count(F.lit(1)).alias("_c"))
        .limit(max_driver_rows + 1)
        .collect()
    )
    if len(per_range) > max_driver_rows:
        raise ValueError(
            f"stratified_split: {stratum_col!r} produces more than "
            f"{max_driver_rows} (range, stratum) count rows — the "
            "base-offset table is built driver-side and would not "
            "fit. Use a coarser stratum (language/domain/cluster id), "
            "fewer num_ranges, or raise max_driver_rows deliberately."
        )
    if not per_range:
        return df.withColumn("split", F.lit("train")).limit(0)
    totals: dict = {}
    base_rows = []
    # offsets accumulate in (stratum, range) order — ranges are
    # contiguous in (_s, _h), so range order IS the stratum's
    # hash-rank order
    for r in sorted(
        per_range, key=lambda r: ((r["_s"] is None, r["_s"]), r["_pid"])
    ):
        base_rows.append((r["_pid"], r["_s"], totals.get(r["_s"], 0)))
        totals[r["_s"]] = totals.get(r["_s"], 0) + r["_c"]
    cuts = {
        s: (t * train_pct // 100, t * (train_pct + val_pct) // 100)
        for s, t in totals.items()
    }
    helper = spark.createDataFrame(
        [(pid, s, b, cuts[s][0], cuts[s][1]) for pid, s, b in base_rows],
        T.StructType(
            [
                T.StructField("_hpid", T.IntegerType(), False),
                T.StructField("_hs", df.schema[stratum_col].dataType, True),
                T.StructField("_base", T.LongType(), False),
                T.StructField("_cut1", T.LongType(), False),
                T.StructField("_cut2", T.LongType(), False),
            ]
        ),
    )
    win = W.partitionBy("_pid", "_s").orderBy("_h", "_i")
    rank = F.col("_base") + F.row_number().over(win) - 1
    decision = (
        d.join(
            F.broadcast(helper),
            (F.col("_pid") == F.col("_hpid"))
            & F.col("_s").eqNullSafe(F.col("_hs")),
        )
        .select(
            F.col("_i").alias(id_col),
            F.when(rank < F.col("_cut1"), "train")
            .when(rank < F.col("_cut2"), "val")
            .otherwise("test")
            .alias("split"),
        )
    )
    return df.join(decision, id_col)


def target_mixture_sample(
    df: DataFrame,
    stratum_col: str,
    target: dict,
    id_col: str = "doc_id",
    total: int | None = None,
    allow_shortfall: bool = False,
) -> DataFrame:
    """Downsample strata WITHIN one frame to an explicit mixture —
    the "make code 20%, web 70%, books 10%" knob (the in-frame
    complement of ``mix_corpora``, which composes separate frames;
    ``temperature_sample`` derives its shares from the data, this
    takes them from the recipe). ``target`` maps stratum value →
    weight (normalized to shares; a None key addresses the NULL
    stratum). Strata NOT listed are dropped — an explicit mixture is
    a whitelist.

    ``total`` defaults to the largest output at which no listed
    stratum needs more rows than it has (pure downsampling — the
    scarcest stratum relative to its share sets the scale). An
    explicit infeasible ``total`` raises with the per-stratum
    shortfall unless ``allow_shortfall=True`` (over-asked strata then
    pass whole and the realized mixture is deliberately off-target) —
    the ``mix_corpora`` contract exactly. A listed stratum with ZERO
    corpus rows is always reported this way (silently renormalizing
    around it would hide a broken recipe).

    Scale shape: identical to the samplers above — one partial-agg
    groupBy for stratum counts, a driver-side table of len(target)
    rows, broadcast targets, deterministic per-row hash acceptance.
    Append-stable per stratum, never replicates.

    NB: hash acceptance hits each stratum's quota in EXPECTATION (the
    binomial spread is ~sqrt(n) around it), like ``temperature_sample``.
    Callers needing floor-EXACT per-stratum counts use
    :func:`stratified_split`'s two-pass prefix-rank machinery — that
    exactness costs a per-stratum rank, this sampler stays one scan."""
    if not target:
        raise ValueError("target_mixture_sample needs a non-empty target")
    if any(w < 0 for w in target.values()):
        raise ValueError(f"negative weight in target: {target}")
    wsum = float(sum(target.values()))
    if wsum <= 0:
        raise ValueError("target weights must sum to a positive value")

    # the whitelist filter runs BEFORE the aggregation: the count
    # frame (and the collect) is then bounded by len(target), never by
    # the corpus's stratum cardinality (millions of domains would
    # otherwise reach the driver just to be discarded here)
    keys = [k for k in target if k is not None]
    listed_pred = F.lit(False)
    if keys:
        listed_pred = F.col(stratum_col).isin(keys)
    if None in target:
        listed_pred = listed_pred | F.col(stratum_col).isNull()
    counts = {
        r["_stratum"]: float(r["_cnt"])
        for r in df.filter(listed_pred)
        .groupBy(F.col(stratum_col).alias("_stratum"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .collect()
    }
    listed = {s: w for s, w in target.items() if w > 0}
    have = {s: counts.get(s, 0.0) for s in listed}
    absent = sorted((s for s in listed if have[s] == 0), key=str)
    if absent and not allow_shortfall:
        raise ValueError(
            f"target_mixture_sample: listed strata have no corpus "
            f"rows: {absent} — fix the recipe/column, or pass "
            "allow_shortfall=True to scale the mixture to the "
            "present strata (the absent shares just go unfilled)"
        )
    feasible = [have[s] * wsum / w for s, w in listed.items() if have[s] > 0]
    if total is None:
        # largest output with want_s <= have_s for every PRESENT
        # stratum (under allow_shortfall the absent ones are already
        # acknowledged as unfillable and do not zero the scale)
        total = int(min(feasible)) if feasible else 0
    short = {
        s: (int(total * w / wsum), int(have[s]))
        for s, w in listed.items()
        if total * w / wsum > have[s] and have[s] > 0
    }
    if short and not allow_shortfall:
        detail = ", ".join(
            f"{s!r}: wants {want} has {have}"
            for s, (want, have) in sorted(short.items(), key=lambda kv: str(kv[0]))
        )
        raise ValueError(
            f"target_mixture_sample: total={total} is infeasible "
            f"without replication ({detail}); lower total, fix the "
            "recipe, or pass allow_shortfall=True to take the "
            "over-asked strata whole (off-target mixture)"
        )

    rows = [
        (s, counts.get(s, 0.0), min(counts.get(s, 0.0), total * w / wsum))
        for s, w in listed.items()
        if counts.get(s, 0.0) > 0
    ]
    if not rows:
        return df.filter(F.lit(False))
    targets = df.sparkSession.createDataFrame(
        rows,
        df.select(stratum_col)
        .withColumnRenamed(stratum_col, "_stratum")
        .schema.add("_cnt", "double")
        .add("_tgt", "double"),
    )
    h = knuth_hash32(F.col(id_col)).cast("double")
    return (
        df.join(
            F.broadcast(targets),
            F.col(stratum_col).eqNullSafe(F.col("_stratum")),
        )
        .filter(h * F.col("_cnt") < F.col("_tgt") * F.lit(float(_2_32)))
        .select(*df.columns)
    )


def token_budget_plan(
    docs: DataFrame,
    weights: dict,
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
    max_epochs: float | None = None,
) -> dict:
    """Turn a (mixture recipe, token budget) pair into per-source
    EPOCH FACTORS — the LLaMA-style data-recipe planner: "train on
    B tokens at shares w" becomes, per source, ``factor_s =
    (B * w_s) / available_tokens_s`` (>1 means the source repeats,
    <1 means it downsamples). ``target_mixture_sample`` plans in DOC
    counts and can only shrink; this plans in TOKENS — what loss
    curves are budgeted in — and upsamples scarce high-weight
    sources instead of erroring on them.

    ``weights`` maps source → weight (normalized to shares; a None
    key addresses the NULL source; sources not listed are dropped —
    the whitelist contract). ``max_epochs`` caps any factor (the
    repetition-harms bound, e.g. 4 per Muennighoff et al. 2023);
    capped sources contribute fewer tokens and the plan records the
    shortfall honestly instead of silently renormalizing.

    Tokens are whitespace tokens (``functions.text.token_count`` —
    the data card's rule). Returns a plain dict (JSON-safe): per
    source ``available_tokens / available_docs / share /
    target_tokens / factor / capped``, plus ``planned_tokens``,
    ``shortfall_tokens`` and the realized ``planned_shares``.

    Scale shape: ONE partial-agg groupBy over the whitelisted scan
    (the count frame is bounded by len(weights), the
    ``target_mixture_sample`` discipline); the plan itself is
    driver-side arithmetic over len(weights) rows. Apply it with
    :func:`apply_token_budget_plan` — one more scan, no shuffle."""
    from solana_snapshot_etl_tools_spark.functions.text import token_count

    if not weights:
        raise ValueError("token_budget_plan needs a non-empty weights map")
    if any(w <= 0 for w in weights.values()):
        raise ValueError(f"weights must be > 0: {weights}")
    if budget_tokens < 1:
        raise ValueError(f"budget_tokens must be >= 1, got {budget_tokens}")
    if max_epochs is not None and max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")

    keys = [k for k in weights if k is not None]
    listed = F.lit(False)
    if keys:
        listed = F.col(source_col).isin(keys)
    if None in weights:
        listed = listed | F.col(source_col).isNull()
    counts = (
        docs.filter(listed)
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("_docs"),
            F.sum(
                F.coalesce(token_count(F.col(text_col)), F.lit(0))
            ).alias("_toks"),
        )
        .collect()
    )
    avail = {r[source_col]: (int(r["_docs"]), int(r["_toks"])) for r in counts}
    wsum = float(sum(weights.values()))
    plan_sources: dict = {}
    planned_total = 0
    shortfall = 0
    for src, w in weights.items():
        share = w / wsum
        docs_n, toks = avail.get(src, (0, 0))
        target = share * budget_tokens
        if toks <= 0:
            factor, capped, planned = 0.0, False, 0.0
            shortfall += target
        else:
            factor = target / toks
            capped = max_epochs is not None and factor > max_epochs
            if capped:
                factor = float(max_epochs)
            planned = factor * toks
            shortfall += max(0.0, target - planned)
        planned_total += planned
        plan_sources[src] = {
            "available_docs": docs_n,
            "available_tokens": toks,
            "share": share,
            "target_tokens": int(round(target)),
            "factor": factor,
            "capped": capped,
        }
    planned_shares = {
        src: (
            p["factor"] * p["available_tokens"] / planned_total
            if planned_total > 0
            else 0.0
        )
        for src, p in plan_sources.items()
    }
    return {
        "budget_tokens": int(budget_tokens),
        "sources": plan_sources,
        "planned_tokens": int(round(planned_total)),
        "shortfall_tokens": int(round(shortfall)),
        "planned_shares": planned_shares,
    }


def apply_token_budget_plan(
    docs: DataFrame,
    plan: dict,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Materialize a :func:`token_budget_plan`: every doc of source s
    appears ``floor(factor_s)`` times plus once more for a
    hash-selected ``frac(factor_s)`` share (the ``upsample_corpus``
    arithmetic, with the factor joined per source). Copies carry a
    1-based ``epoch_col``; unlisted sources are dropped. Expected
    kept tokens per source = factor * available (binomial spread);
    deterministic and append-stable per (id, seed).

    Scale shape: the len(plan) factor table is BROADCAST onto the
    scan (map-side join), the copy explode is a narrow generator —
    zero shuffles end to end."""
    spark = docs.sparkSession
    src_type = docs.schema[source_col].dataType.simpleString()
    if src_type != "string":
        # the factor table is string-keyed (plan keys are the JSON
        # recipe's); a silent type-mismatched eqNullSafe join would
        # match NOTHING and drop the whole corpus
        raise ValueError(
            f"apply_token_budget_plan needs a string {source_col!r} "
            f"column, got {src_type}: cast the source key explicitly"
        )
    rows = [
        (src, float(p["factor"])) for src, p in plan["sources"].items()
    ]
    if not rows:
        raise ValueError("plan has no sources")
    ftab = spark.createDataFrame(rows, "_src string, _factor double")
    joined = docs.join(
        F.broadcast(ftab),
        F.col(source_col).eqNullSafe(F.col("_src")),
        "inner",
    )
    base = F.floor(F.col("_factor")).cast("int")
    frac = F.col("_factor") - base.cast("double")
    u = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(_2_32))
    extra = (u.cast("double") < frac * F.lit(float(_2_32))).cast("int")
    n_copies = base + extra
    seqs = F.when(
        n_copies >= 1, F.sequence(F.lit(1), n_copies)
    ).otherwise(F.array().cast("array<int>"))
    return (
        joined.withColumn(epoch_col, F.explode(seqs))
        .drop("_src", "_factor")
    )
