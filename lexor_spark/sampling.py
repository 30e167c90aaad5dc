"""Deterministic sampling & split operators for training-data pipelines.

Every public LLM data pipeline needs (a) a reproducible train/val/test
split and (b) reproducible per-stratum downsampling (e.g. cap English at
30%, upweight low-resource languages — the CCNet/ROOTS-style language
rebalancing step).  Spark's built-ins (``randomSplit``, ``sampleBy``)
are seed-based but NOT portable: the draw depends on partitioning and
the engine's RNG, so a resume or an engine change reshuffles the split.
These operators instead derive the draw from a salted md5 of the row id
— the same bytes land in the same split on any engine, any partitioning,
any retry (md5 is bit-identical across Spark and DuckDB, which is also
what makes the value oracle possible; the integer draw is
``textfns.md5_u32``, the package's one engine-portable hash).

Scale notes (100 TB): both operators are pure per-row Catalyst
expressions — NO shuffle, NO window, nothing per-group beyond a
broadcastable fraction map.  They compose with any scan and keep
predicate pushdown intact (the filter is a deterministic expression on
the id column).  This is deliberately NOT a "exactly n rows per group"
sampler: exact-n needs a per-group top-k by hash (a skewed window at
web scale, since strata are few and huge); the Bernoulli form gives
binomial counts around the target with zero coordination, which is what
published pipelines actually ship.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lexor_spark.textfns import SQL, md5_u32

__all__ = ["mixture_plan", "mixture_plan_sql",
           "hash_fraction", "hash_split", "sample_by",
           "temperature_sample",
           "doremi_weights", "doremi_weights_sql",
           "mixture_apply", "mixture_apply_sql",
           "mixture_coverage", "mixture_coverage_sql",
           "epoch_shuffle", "epoch_shuffle_sql"]

_SCALE = float(1 << 32)


def hash_fraction(id_col: Column, salt: str) -> Column:
    """Deterministic uniform draw in [0, 1): the first 32 bits of
    ``md5(id || salt)`` as a fraction.  Distinct salts give independent
    draws, so a split and a downsample of the same table don't
    correlate."""
    h = md5_u32(F.concat(id_col.cast("string"), F.lit(salt)))
    return h / F.lit(_SCALE)


def _hash_fraction_sql(id_expr: str, salt: str) -> str:
    h = SQL.md5_u32(f"{id_expr}::varchar || '{salt}'")
    return f"({h} / {_SCALE})"


_SPLIT_SALT = "#split"
_SAMPLE_SALT = "#sample"


def hash_split(docs: DataFrame, weights: dict[str, float],
               id_col: str = "doc_id") -> DataFrame:
    """Assign every row to a named split by cumulative weight intervals
    over the hash fraction: ``{"train": .98, "val": .01, "test": .01}``
    puts u∈[0,.98) in train, [.98,.99) in val, [.99,1) in test.
    Output: input columns + ``split``.  Weights must sum to 1 (a
    trailing epsilon is absorbed by the last split)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    u = hash_fraction(F.col(id_col), _SPLIT_SALT)
    names = list(weights)
    expr = F.lit(names[-1])  # last split absorbs the [cum_last, 1) tail
    cum = 0.0
    conds = []
    for name in names[:-1]:
        cum += weights[name]
        conds.append((name, cum))
    for name, bound in reversed(conds):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return docs.withColumn("split", expr)


def hash_split_sql(table: str, weights: dict[str, float],
                   id_col: str = "doc_id") -> str:
    u = _hash_fraction_sql(id_col, _SPLIT_SALT)
    names = list(weights)
    cum = 0.0
    cases = []
    for name in names[:-1]:
        cum += weights[name]
        cases.append(f"when {u} < {cum!r} then '{name}'")
    if cases:  # a single-split config has no WHEN arms — CASE would
        case = ("case " + " ".join(cases)  # not parse, emit the literal
                + f" else '{names[-1]}' end")
    else:
        case = f"'{names[-1]}'"
    return f"select *, {case} as split from {table}"


def sample_by(docs: DataFrame, fractions: dict[str, float],
              group_col: str = "lang", id_col: str = "doc_id",
              default: float = 1.0) -> DataFrame:
    """Deterministic stratified downsample: keep a row iff its hash
    fraction is below its group's quota.  ``fractions`` maps group value
    → keep probability; unlisted groups keep ``default``.  Reproducible
    ``DataFrame.sampleBy``: same rows survive on any engine/partitioning.

    At 100 TB the fraction map is driver-side constants folded into one
    CASE expression — the scan side never shuffles, and a fraction of
    0 for a group prunes like an ordinary filter."""
    u = hash_fraction(F.col(id_col), _SAMPLE_SALT)
    quota = F.lit(float(default))
    for val, frac in reversed(list(fractions.items())):
        quota = (F.when(F.col(group_col) == F.lit(val), F.lit(float(frac)))
                 .otherwise(quota))
    return docs.filter(u < quota)


def sample_by_sql(table: str, fractions: dict[str, float],
                  group_col: str = "lang", id_col: str = "doc_id",
                  default: float = 1.0) -> str:
    u = _hash_fraction_sql(id_col, _SAMPLE_SALT)
    cases = " ".join(
        "when {} = '{}' then {!r}".format(group_col, v.replace("'", "''"),
                                          float(f))
        for v, f in fractions.items())
    quota = (f"case {cases} else {float(default)!r} end" if cases
             else repr(float(default)))
    return f"select * from {table} where {u} < {quota}"


_TEMP_SALT = "#temp"


def temperature_sample(docs: DataFrame, alpha: float = 0.5,
                       group_col: str = "lang", id_col: str = "doc_id"
                       ) -> DataFrame:
    """Temperature-based stratum rebalancing (the multilingual
    upsampling rule of Conneau & Lample 2019 / mC4, applied as a
    downsample-only pass): target share of stratum ``l`` is
    ``n_l^alpha / sum_m n_m^alpha``, achieved without replication by
    keeping each stratum at rate ``(min_m n_m / n_l)^(1 - alpha)`` —
    the smallest stratum keeps everything, big strata shed mass until
    shares match the temperature-flattened distribution.  ``alpha=1``
    keeps everything; ``alpha=0`` equalizes strata.

    Output: (doc_id, group, keep_rate) for surviving rows, the draw
    being the same engine-portable salted-md5 fraction as
    :func:`sample_by` — reproducible across engines, partitionings and
    retries.

    At 100 TB: one map-side-combinable count per stratum (key space =
    #languages, tiny) broadcast back; the scan side filters on a pure
    per-row expression — no shuffle, no window."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"temperature_sample: alpha must be in [0, 1], "
                         f"got {alpha}")
    counts = docs.groupBy(group_col).agg(F.count("*").alias("n"))
    mn = counts.agg(F.min("n").alias("mn"))
    rates = (counts.crossJoin(F.broadcast(mn))
             .select(group_col,
                     F.pow(F.col("mn").cast("double") / F.col("n"),
                           F.lit(1.0 - alpha)).alias("keep_rate")))
    u = hash_fraction(F.col(id_col), _TEMP_SALT)
    return (docs.join(F.broadcast(rates), group_col)
            .filter(u < F.col("keep_rate"))
            .select(F.col(id_col), F.col(group_col),
                    F.round("keep_rate", 6).alias("keep_rate")))


def temperature_sample_sql(table: str, alpha: float = 0.5,
                           group_col: str = "lang",
                           id_col: str = "doc_id") -> str:
    u = _hash_fraction_sql(f"d.{id_col}", _TEMP_SALT)
    return f"""
with c as (select {group_col}, count(*)::bigint as n from {table} group by 1),
m as (select min(n) as mn from c),
r as (select {group_col},
             pow(m.mn::double / c.n, 1.0 - {float(alpha)!r}) as keep_rate
      from c cross join m)
select d.{id_col}, d.{group_col}, round(r.keep_rate, 6) as keep_rate
from {table} d join r using ({group_col})
where {u} < r.keep_rate
"""


# ---------------------------------------------------------------------------
# Corpus mixture planning (data-constrained scaling)
# ---------------------------------------------------------------------------

MIX_MAX_EPOCHS = 4.0  # repeated-data value decays past ~4 epochs
                      # (Muennighoff et al. 2023, "Scaling Data-
                      # Constrained Language Models")


def mixture_plan(docs: DataFrame, budget_tokens: int,
                 stratum_col: str = "source", text_col: str = "text",
                 weight_col: str = "weight",
                 max_epochs: float = MIX_MAX_EPOCHS) -> DataFrame:
    """Pretraining-mixture planner: given per-doc strata with RELATIVE
    mixture weights (a ``weight_col`` the caller derives scan-side)
    and a total token budget, compute per stratum the target token
    share, the repetition factor (epochs) needed to meet it from the
    available tokens, the epoch cap at ``max_epochs`` (past which
    repeated data stops helping — the data-constrained-scaling rule),
    and the resulting planned/deficit tokens.  This is the sizing
    table every mixture decision (how much code vs web vs books, what
    to upsample) is read off.

    Plan shape: token counts are scan-side, ONE stratum-keyed hash
    aggregate (map-side combinable), a 1-row weight-sum broadcast
    joined back — nothing shuffles but S stratum rows.  All arithmetic
    rounds to 6 decimals for the cross-engine oracle."""
    from lexor_spark.textfns import token_count
    per = (docs.select(F.col(stratum_col).alias("stratum"),
                       F.col(weight_col).alias("w"),
                       token_count(F.col(text_col)).alias("tc"))
           .groupBy("stratum")
           .agg(F.count("*").alias("n_docs"),
                F.sum("tc").alias("avail_tokens"),
                F.max("w").alias("w")))  # w constant per stratum; max is order-free
    tot = per.agg(F.sum("w").alias("w_sum"))
    j = per.crossJoin(F.broadcast(tot))
    target = F.round(F.lit(float(budget_tokens)) * F.col("w")
                     / F.col("w_sum"), 6)
    epochs_raw = F.round(target / F.col("avail_tokens"), 6)
    epochs = F.least(epochs_raw, F.lit(float(max_epochs)))
    planned = F.round(F.col("avail_tokens") * epochs, 6)
    return (j.select(
        "stratum", "n_docs", "avail_tokens",
        F.round(F.col("w") / F.col("w_sum"), 6).alias("mix_weight"),
        target.alias("target_tokens"),
        epochs_raw.alias("epochs_raw"),
        epochs.alias("epochs"),
        planned.alias("planned_tokens"),
        F.round(target - planned, 6).alias("deficit_tokens"))
        .orderBy("stratum"))


def mixture_plan_sql(docs_sql: str, budget_tokens: int,
                     stratum_col: str = "source",
                     text_col: str = "text",
                     weight_col: str = "weight",
                     max_epochs: float = MIX_MAX_EPOCHS) -> str:
    """DuckDB mirror of :func:`mixture_plan` over a SELECT producing
    (stratum_col, weight_col, text_col)."""
    from lexor_spark.textfns import SQL
    tc = SQL.TOKEN_COUNT.format(c=text_col)
    return f"""
with mixsrc as ({docs_sql}),
per as (select {stratum_col} as stratum, count(*) as n_docs,
               sum({tc})::bigint as avail_tokens,
               max({weight_col}) as w
        from mixsrc group by 1),
tot as (select sum(w) as w_sum from per),
j as (select per.*, tot.w_sum,
             round({float(budget_tokens)} * w / w_sum, 6) as target
      from per cross join tot),
k as (select *, round(target / avail_tokens, 6) as epochs_raw from j),
l as (select *, least(epochs_raw, {float(max_epochs)}) as epochs from k)
select stratum, n_docs, avail_tokens,
       round(w / w_sum, 6) as mix_weight,
       target as target_tokens, epochs_raw, epochs,
       round(avail_tokens * epochs, 6) as planned_tokens,
       round(target - round(avail_tokens * epochs, 6), 6)
         as deficit_tokens
from l order by stratum
"""


def doremi_weights(doc_losses: DataFrame, domain_col: str = "source",
                   proxy_col: str = "proxy_nll", ref_col: str = "ref_nll",
                   eta: float = 1.0, smoothing: float = 0.01) -> DataFrame:
    """Domain-mixture reweighting by excess loss — the relational core
    of DoReMi (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures
    Speeds Up Language Model Pretraining"): domains where the proxy
    model's loss exceeds the reference model's loss are upweighted by
    multiplicative weights, so the next training mixture spends more
    tokens where the learnable headroom is.

    Input: one row per document — (domain, proxy_nll, ref_nll).  Full
    DoReMi re-trains the proxy under each new mixture; with a fixed
    loss table the T-round multiplicative-weights recursion collapses
    to a single closed-form update (exp(T·η·λ) — fold T into ``eta``),
    so this operator computes the ONE exact update step published
    pipelines replay per proxy checkpoint:

        λ_k  = mean_k( max(proxy_nll − ref_nll, 0) )     (excess loss)
        α_k  ∝ share_k · exp(η · λ_k), normalized
        out  = (1 − smoothing)·α_k + smoothing/K         (§2 step 2)

    Output per domain: (domain, n, share, excess, weight), domain
    ascending.  ``share`` is the baseline mixture (doc counts here;
    token counts upstream if the input carries one row per token-batch).

    Plan shape at 10^12 docs: ONE map-side-combinable groupBy on the
    domain key (K ≈ tens of domains — the combiner state is K rows per
    task), then every remaining step is a window over the K-row domain
    table.  The loss columns arrive from upstream scoring jobs (e.g.
    ``lm_score`` both self-trained and reference-trained), which are
    themselves broadcast-model scans.  Floats: λ rounds to 6 off the
    avg (repo-standard avg-oracle tolerance), exp/multiply are
    per-row fixed-order, and the normalizing sum runs over K rounded
    values."""
    from pyspark.sql import Window

    excess = F.greatest(F.col(proxy_col) - F.col(ref_col), F.lit(0.0))
    per = (doc_losses.groupBy(F.col(domain_col).alias("domain"))
           .agg(F.count("*").alias("n"),
                F.round(F.avg(excess), 6).alias("excess")))
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    share = F.round(F.col("n") / F.sum("n").over(wall), 6)
    per = per.withColumn("share", share)
    score = F.round(F.col("share") * F.exp(F.lit(eta) * F.col("excess")), 6)
    per = per.withColumn("_s", score)
    k = F.count("*").over(wall)
    alpha = F.col("_s") / F.sum("_s").over(wall)
    weight = F.round((1.0 - smoothing) * alpha + smoothing / k, 6)
    return (per.select("domain", "n", "share", "excess",
                       weight.alias("weight"))
            .orderBy("domain"))


def doremi_weights_sql(doc_losses_sql: str, domain_col: str = "source",
                       proxy_col: str = "proxy_nll", ref_col: str = "ref_nll",
                       eta: float = 1.0, smoothing: float = 0.01) -> str:
    """DuckDB mirror of :func:`doremi_weights` over a SELECT producing
    (domain, proxy_nll, ref_nll) — identical rounding ladder."""
    return f"""
with dl as ({doc_losses_sql}),
per as (
  select {domain_col} as domain, count(*)::bigint as n,
         round(avg(greatest({proxy_col} - {ref_col}, 0.0)), 6) as excess
  from dl group by 1
),
sh as (
  select *, round(n / sum(n) over ()::double, 6) as share from per
),
sc as (
  select *, round(share * exp({eta} * excess), 6) as _s from sh
)
select domain, n, share, excess,
       round((1.0 - {smoothing}) * (_s / sum(_s) over ())
             + {smoothing} / count(*) over (), 6) as weight
from sc order by domain
"""


def epoch_shuffle(docs: DataFrame, n_shards: int, epoch: int = 0,
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic global training-order shuffle + shard assignment —
    the step between corpus curation and the training loader: every
    epoch needs a fresh uniform permutation of the corpus, written as
    ``n_shards`` balanced files whose WITHIN-shard order is part of the
    permutation.  Published loaders shuffle with a seeded PRNG over a
    materialized index; the portable relational form derives both
    coordinates from a salted md5 of the row id, so the same epoch
    gives the same order on any engine, any partitioning, any retry —
    and epoch e+1 is a fresh independent permutation (new salt), not a
    rotation.

    Output: (id, shard, pos) — shard in [0, n_shards), pos the 0-based
    rank within the shard by the hash (ties broken by id: md5 prefixes
    can collide at 32 bits, and an unordered tie would break the
    cross-engine value oracle).

    Plan shape at 10^12 docs: shard assignment is a pure scan-side
    expression (zero coordination — binomial shard sizes around N/S,
    which is what production writers ship); the ONLY shuffle is the
    repartition-by-shard the writer needs anyway, and the rank window
    partitions BY SHARD — each task sorts one shard (~N/S rows, sized
    to a training file), never the corpus.  There is deliberately no
    global row_number: a corpus-wide single-ordered window is the
    non-scalable shape this operator exists to avoid.  (The trailing
    orderBy is gate presentation only — the production writer replaces
    it with partitionBy(shard)/sortWithinPartitions(pos), which the
    per-shard exchange already satisfies.)"""
    key = F.concat(F.col(id_col).cast("string"), F.lit(f"#shuffle{epoch}"))
    h = F.md5(key)
    shard = F.pmod(md5_u32(key), F.lit(n_shards)).cast("int")
    from pyspark.sql import Window
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (docs.select(F.col(id_col), shard.alias("shard"), h.alias("h"))
            .withColumn("pos", F.row_number().over(w) - 1)
            .select(id_col, "shard", "pos")
            .orderBy("shard", "pos"))


def epoch_shuffle_sql(table: str, n_shards: int, epoch: int = 0,
                      id_col: str = "doc_id") -> str:
    """DuckDB mirror of :func:`epoch_shuffle` — identical salted md5,
    identical shard/rank derivation."""
    key = f"{id_col}::varchar || '#shuffle{epoch}'"
    h = f"md5({key})"
    return f"""
with s as (
  select {id_col},
         (({SQL.md5_u32(key)} % {n_shards})
          + {n_shards}) % {n_shards} as shard,
         {h} as h
  from {table}
)
select {id_col}, shard::int as shard,
       (row_number() over (partition by shard order by h, {id_col})
        - 1)::int as pos
from s order by shard, pos
"""


def mixture_apply(docs: DataFrame, weights: DataFrame,
                  group_col: str = "source", id_col: str = "doc_id"
                  ) -> DataFrame:
    """Apply a target mixture to the corpus as a downsample-only pass —
    the step that turns a mixture TABLE (from :func:`doremi_weights`,
    :func:`mixture_plan`, or a hand-set policy) into an actual sampled
    corpus.  ``weights`` carries one row per domain with the baseline
    ``share`` and the target ``weight``; the largest corpus keeping the
    target proportions without replication scales every domain by
    ``c = min_k share_k / weight_k``, giving keep rate
    ``f_k = c · weight_k / share_k ≤ 1`` (the binding domain keeps
    everything, every other domain sheds mass until proportions match
    — the same downsample-only construction as
    :func:`temperature_sample`).

    Output: surviving (doc_id, domain, keep_rate) rows under the
    engine-portable salted-md5 draw.

    Missing-domain contract: a document whose ``group_col`` value has
    NO row in ``weights`` gets keep_rate 0 and is dropped — explicitly
    (left join + coalesce-to-zero, not an inner-join accident), so an
    incomplete weights table behaves like a hand policy that zeroes
    the unknown sources.  The drop is OBSERVABLE, not silent: run
    :func:`mixture_coverage` on the same (docs, weights) pair to get
    per-domain doc counts with a ``covered`` flag — the audit a
    production run records next to the sampled corpus (and fails on,
    if unknown mass is unexpected).

    Plan shape at 10^12 docs: the K-row weight table broadcasts, the
    draw is a pure per-row expression — no shuffle, no window;
    composes directly after the scan with pushdown intact.  Floats:
    per-domain ratio rounds to 6, ``c`` is a min over K rounded
    values, the rate one multiply on rounded inputs — deterministic
    cross-engine."""
    from pyspark.sql import Window

    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    # a zero-weight domain (hand policy dropping a source outright)
    # must not bind the scale or divide by zero: its ratio is NULL
    # (min() skips it) and its keep rate is 0
    ratio = F.when(F.col("weight") > 0,
                   F.round(F.col("share") / F.col("weight"), 6))
    rates = (weights.select(F.col("domain"), ratio.alias("ratio"),
                            F.col("weight"), F.col("share"))
             .withColumn("c", F.min("ratio").over(wall))
             .select("domain",
                     F.when(F.col("weight") > 0,
                            F.round(F.col("c") * F.col("weight")
                                    / F.col("share"), 6))
                     .otherwise(F.lit(0.0)).alias("keep_rate")))
    u = hash_fraction(F.col(id_col), "#mix")
    # LEFT join + coalesce: unknown domains get keep_rate 0 by contract
    # (they can never pass the draw), not by inner-join row loss
    return (docs.join(F.broadcast(rates),
                      docs[group_col] == rates.domain, "left")
            .select(F.col(id_col),
                    F.coalesce(rates.domain, docs[group_col])
                     .alias("domain"),
                    F.coalesce(F.col("keep_rate"), F.lit(0.0))
                     .alias("keep_rate"))
            .filter(u < F.col("keep_rate"))
            .orderBy(id_col))


def mixture_coverage(docs: DataFrame, weights: DataFrame,
                     group_col: str = "source") -> DataFrame:
    """(domain, n_docs, covered): per-domain corpus counts against the
    weights table — the audit row :func:`mixture_apply` tells callers
    to record, surfacing exactly how much mass an incomplete weights
    table zeroes out (``covered = false`` rows are the documents that
    draw keep_rate 0).  Plan shape at 10^12 docs: one map-side-
    combinable groupBy on the domain, then a broadcast left join
    against the K-row weights table — the corpus never shuffles."""
    per = (docs.groupBy(F.col(group_col).alias("domain"))
           .agg(F.count("*").alias("n_docs")))
    w = weights.select("domain", F.lit(True).alias("covered"))
    return (per.join(F.broadcast(w), "domain", "left")
            .select("domain", "n_docs",
                    F.coalesce("covered", F.lit(False)).alias("covered"))
            .orderBy("domain"))


def mixture_coverage_sql(table: str, weights_sql: str,
                         group_col: str = "source") -> str:
    """DuckDB mirror of :func:`mixture_coverage`."""
    return f"""
with w as ({weights_sql}),
per as (
  select {group_col} as domain, count(*)::bigint as n_docs
  from {table} group by 1
)
select per.domain, per.n_docs,
       coalesce(w.domain is not null, false) as covered
from per left join w on per.domain = w.domain
order by per.domain
"""


def mixture_apply_sql(table: str, weights_sql: str,
                      group_col: str = "source",
                      id_col: str = "doc_id") -> str:
    """DuckDB mirror of :func:`mixture_apply` over a weights SELECT
    producing (domain, share, weight) — identical rounding ladder, draw
    and missing-domain contract (left join, keep_rate 0)."""
    u = _hash_fraction_sql(f"t.{id_col}", "#mix")
    return f"""
with w as ({weights_sql}),
r as (select domain,
             case when weight > 0 then round(share / weight, 6) end
               as ratio,
             weight, share
      from w),
rates as (
  select domain,
         case when weight > 0
              then round(min(ratio) over () * weight / share, 6)
              else 0.0 end as keep_rate
  from r
)
select t.{id_col}, coalesce(rates.domain, t.{group_col}) as domain,
       coalesce(rates.keep_rate, 0.0) as keep_rate
from {table} t left join rates on t.{group_col} = rates.domain
where {u} < coalesce(rates.keep_rate, 0.0)
order by t.{id_col}
"""
