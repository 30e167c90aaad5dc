"""DSIR-shaped data selection via hashed n-gram importance resampling.

The public method (Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling"): featurize every document as a bag of
hashed word uni+bigrams over ``B`` buckets, fit two bucket
distributions — one on a trusted TARGET slice, one on the RAW pool —
and weight each document by the log importance ratio
``sum_g ln p_target[bucket(g)] - ln p_raw[bucket(g)]``.  Selection is
Gumbel-top-k over the log weights, which samples WITHOUT replacement
proportionally to the (unnormalized) importance weights.

Everything is exactly reproducible so the DuckDB oracle can verify
values: the bucket hash is the first 32 bits of ``md5(gram)`` (the
package's engine-portable ``textfns.md5_u32``), both
distributions use add-one smoothing, and the Gumbel noise is derived
from a salted md5 of the doc id — ``g = -ln(-ln(u))`` with
``u = (h + 0.5) / 2^32`` — instead of an engine RNG.

Plan shape at scale (10^12 docs): the two distributions are map-side
-combinable aggregations over a key space of exactly ``B`` buckets
(paper uses B=10^4 — tiny), so they BROADCAST; the scoring side is
scan → per-row gram explode → two broadcast hash joins → one
map-side-combinable per-doc agg.  No shuffle ever carries more than
(doc_id, bucket); Gumbel-top-k is a TakeOrderedAndProject.  No
reference counterpart (the reference converts documents); method per
the paper above.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lexor_spark.textfns import SQL, _let, md5_u32, normalize_text

__all__ = ["dsir_weights", "dsir_weights_sql", "dsir_sample",
           "dsir_sample_sql"]

_SCALE = float(1 << 32)
_GUMBEL_SALT = "#dsir"


def _grams(col: Column) -> Column:
    """Word uni+bigrams WITH multiplicity (the DSIR featurizer).  The
    token split is let-bound so the bigram lambda doesn't re-split per
    element; an empty/blank text yields the single token ``''`` so
    every document gets a weight."""
    toks = F.split(normalize_text(col), " ")
    return _let(toks, lambda t: F.concat(
        t,
        F.when(F.size(t) < 2, F.array().cast("array<string>"))
        .otherwise(F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(" ", F.slice(t, i, 2))))))


def _grams_sql(c: str) -> str:
    norm = SQL.NORMALIZE.format(c=c)
    toks = f"regexp_split_to_array({norm}, ' ')"
    return (f"list_cat({toks}, case when len({toks}) < 2 "
            f"then []::varchar[] else list_transform("
            f"generate_series(1, len({toks}) - 1), "
            f"i -> {toks}[i] || ' ' || {toks}[i + 1]) end)")


def _bucket(g: Column, n_buckets: int) -> Column:
    """First 32 md5 bits of the gram, mod ``n_buckets`` — bit-identical
    in Spark and DuckDB."""
    return F.pmod(md5_u32(g), F.lit(n_buckets))


def _bucket_sql(g: str, n_buckets: int) -> str:
    return f"({SQL.md5_u32(g)} % {n_buckets})"


def dsir_weights(docs: DataFrame, target: Optional[DataFrame] = None,
                 n_buckets: int = 256, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(doc_id, dsir_logweight, n_grams): per-document log importance
    ratio of the hashed-n-gram bucket distributions, target vs raw.
    ``target`` defaults to ``docs`` itself (degenerate: all weights
    ~0); pass the trusted slice (e.g. ``docs.filter(lang == 'en')``).
    Add-one smoothing: ``p[b] = (count_b + 1) / (total + B)``."""
    target = docs if target is None else target
    tg = (target.select(F.explode(_grams(F.col(text_col))).alias("g"))
          .select(_bucket(F.col("g"), n_buckets).alias("b")))
    bt = tg.groupBy("b").agg(F.count("*").alias("ct"))
    db = (docs.select(F.col(id_col),
                      F.explode(_grams(F.col(text_col))).alias("g"))
          .select(id_col, _bucket(F.col("g"), n_buckets).alias("b")))
    # the raw distribution is derived from the scoring-side explode, so
    # a production run that persists `db` featurizes the raw pool ONCE
    # (the target slice is a second, much smaller pass)
    br = db.groupBy("b").agg(F.count("*").alias("cr"))
    # sum() over an EMPTY target slice is NULL, which would silently
    # null every weight; add-one smoothing is well-defined at total=0
    # (every bucket gets 1/B), so coalesce instead
    tots = (bt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))
            .crossJoin(br.agg(F.coalesce(F.sum("cr"), F.lit(0))
                              .alias("tr"))))
    lr = (F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                / (F.col("tt") + n_buckets))
          - F.log((F.coalesce(F.col("cr"), F.lit(0)) + 1).cast("double")
                  / (F.col("tr") + n_buckets)))
    j = (db.join(F.broadcast(bt), "b", "left")
         .join(F.broadcast(br), "b", "left")
         .crossJoin(F.broadcast(tots)))
    return (j.groupBy(id_col)
            .agg(F.round(F.sum(lr), 4).alias("dsir_logweight"),
                 F.count("*").alias("n_grams")))


def dsir_weights_sql(table: str, target_pred: str = "true",
                     n_buckets: int = 256, text_col: str = "text",
                     id_col: str = "doc_id") -> str:
    g = _grams_sql(text_col)
    b = _bucket_sql("g", n_buckets)
    return f"""
with tg as (select {b} as b from (select unnest({g}) as g
            from {table} where {target_pred})),
rg as (select {b} as b from (select unnest({g}) as g from {table})),
bt as (select b, count(*)::bigint as ct from tg group by 1),
br as (select b, count(*)::bigint as cr from rg group by 1),
tots as (select coalesce((select sum(ct)::bigint from bt), 0) as tt,
                coalesce((select sum(cr)::bigint from br), 0) as tr),
db as (select {id_col}, {b} as b from
       (select {id_col}, unnest({g}) as g from {table})),
j as (
  select {id_col},
         ln((coalesce(bt.ct, 0) + 1)::double / (tots.tt + {n_buckets}))
       - ln((coalesce(br.cr, 0) + 1)::double / (tots.tr + {n_buckets}))
         as lr
  from db left join bt using (b) left join br using (b) cross join tots
)
select {id_col}, round(sum(lr), 4) as dsir_logweight,
       count(*)::bigint as n_grams
from j group by {id_col}
"""


def _gumbel(id_col: Column) -> Column:
    """Deterministic standard Gumbel draw from a salted md5 of the doc
    id: ``-ln(-ln(u))``, ``u = (h + 0.5) / 2^32`` (offset keeps u in
    (0, 1) so both logs are finite)."""
    h = md5_u32(F.concat(id_col.cast("string"), F.lit(_GUMBEL_SALT)))
    u = (h + F.lit(0.5)) / F.lit(_SCALE)
    return -F.log(-F.log(u))


def _gumbel_sql(id_expr: str) -> str:
    h = SQL.md5_u32(f"{id_expr}::varchar || '{_GUMBEL_SALT}'")
    return f"(-ln(-ln(({h} + 0.5) / {_SCALE})))"


def dsir_sample(docs: DataFrame, k: int,
                target: Optional[DataFrame] = None, n_buckets: int = 256,
                text_col: str = "text", id_col: str = "doc_id"
                ) -> DataFrame:
    """Gumbel-top-k selection over the DSIR log weights: keep the ``k``
    documents maximizing ``logweight + Gumbel(doc_id)`` — a without
    -replacement sample proportional to the importance weights.
    Output: (doc_id, dsir_key) — the perturbed key, rounded, which is
    also the (deterministic) tie-break ordering."""
    w = dsir_weights(docs, target=target, n_buckets=n_buckets,
                     text_col=text_col, id_col=id_col)
    key = F.round(F.col("dsir_logweight") + _gumbel(F.col(id_col)), 4)
    return (w.select(F.col(id_col), key.alias("dsir_key"))
            .orderBy(F.desc("dsir_key"), id_col).limit(k))


def dsir_sample_sql(table: str, k: int, target_pred: str = "true",
                    n_buckets: int = 256, text_col: str = "text",
                    id_col: str = "doc_id") -> str:
    inner = dsir_weights_sql(table, target_pred=target_pred,
                             n_buckets=n_buckets, text_col=text_col,
                             id_col=id_col)
    return f"""
select {id_col},
       round(dsir_logweight + {_gumbel_sql(id_col)}, 4) as dsir_key
from ({inner})
order by dsir_key desc, {id_col} limit {k}
"""
