"""Fixed-size frequency sketches for corpus-scale term statistics.

Count-Min sketch (Cormode & Muthukrishnan 2005, "An improved data
stream summary: the count-min sketch and its applications"): ``d``
hash rows × ``w`` counters estimate any item's frequency with
one-sided error (est ≥ true, over-estimate ≤ εN with probability
1−δ for w = e/ε, d = ln 1/δ).  The point at 100 TB: exact term
frequencies need a vocabulary-sized shuffle (billions of distinct
keys on a web corpus), while the sketch's shuffle carries at most
``tasks × d × w`` rows — the partial aggregation state is CAPPED at
d·w counters per task regardless of corpus size, and the merged
sketch (a few thousand longs) broadcasts to wherever frequency
estimates are needed.

Determinism: counters are plain integer sums of md5-derived bucket
hits — order-independent, engine-independent — so the whole sketch
AND every estimate derived from it value-oracle exactly (no float
tolerance anywhere).  The package's one engine-portable integer hash
(``textfns.md5_u32``, which the sampling and dedup families also read)
makes Spark and DuckDB compute bit-identical bucket ids.

No reference counterpart (the reference is a single-document
converter); the method is the published CM sketch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lexor_spark.textfns import SQL, md5_u32, normalize_text

__all__ = ["CM_DEPTH", "CM_WIDTH", "cm_build", "cm_topk", "cm_topk_sql",
           "HLL_M", "hll_distinct", "hll_distinct_sql"]

# d = 4 rows, w = 1024 counters: ε ≈ e/w ≈ 0.27% of the stream length,
# δ ≈ e^-4 ≈ 1.8% — 32 KiB of longs, broadcast-sized.
CM_DEPTH = 4
CM_WIDTH = 1024


def _bucket(term: Column, row: int, width: int) -> Column:
    """Row-``row`` bucket id of a term: first 32 bits of
    md5(term || '#cm<row>') mod width.  Bit-identical in DuckDB (see
    :func:`_bucket_sql`)."""
    h = md5_u32(F.concat(term, F.lit(f"#cm{row}")))
    return (h % width).cast("int")


def _bucket_sql(term: str, row: int, width: int) -> str:
    h = SQL.md5_u32(f"{term} || '#cm{row}'")
    return f"({h} % {width})::int"


def _terms(docs: DataFrame, text_col: str) -> DataFrame:
    """The token stream: one row per token occurrence (normalized)."""
    return docs.select(
        F.explode(F.split(normalize_text(F.col(text_col)), " "))
        .alias("term")).filter(F.col("term") != "")


def _terms_sql(table: str, text_col: str) -> str:
    norm = SQL.NORMALIZE.format(c=text_col)
    return (f"select unnest(regexp_split_to_array({norm}, ' ')) as term "
            f"from {table}")


def cm_build(docs: DataFrame, text_col: str = "text",
             depth: int = CM_DEPTH, width: int = CM_WIDTH) -> DataFrame:
    """The sketch itself: (row, bucket, c) — at most depth×width rows.

    Plan shape: tokenize scan-side, fan each occurrence out to its
    ``depth`` (row, bucket) cells with one array-literal explode, then
    ONE groupBy whose partial state is capped at depth·width counters
    per task (hash aggregate saturates immediately on a hot stream —
    this is the whole point vs a per-term count).  Nothing else
    shuffles."""
    cells = F.array(*[
        F.struct(F.lit(r).alias("row"),
                 _bucket(F.col("term"), r, width).alias("bucket"))
        for r in range(depth)])
    return (_terms(docs, text_col)
            .select(F.explode(cells).alias("cell"))
            .groupBy(F.col("cell.row").alias("row"),
                     F.col("cell.bucket").alias("bucket"))
            .agg(F.count("*").alias("c")))


def cm_topk(docs: DataFrame, text_col: str = "text", k: int = 50,
            min_len: int = 3, depth: int = CM_DEPTH,
            width: int = CM_WIDTH) -> DataFrame:
    """Heavy hitters by Count-Min estimate, with the exact count
    alongside — the sketch-accuracy audit (same pattern as
    ``lsh_recall``: run the approximation AND its ground truth at
    test scale, ship only the approximation at corpus scale).

    Output: (term, est, true_c, overest) for the top ``k`` terms of
    length ≥ ``min_len`` by (est desc, term asc).  ``est`` =
    min over the d rows of the term's counter — the one-sided CM
    estimate, so ``overest = est − true_c ≥ 0`` always (a negative
    value would be a bug; the oracle pins that).

    Plan shape: the candidate set is the distinct-term table (exact at
    gate scale; at 10^12 docs candidates come from a sampled dictionary
    or an incrementally-maintained vocabulary — the sketch itself never
    needs the full distinct set), the sketch side is ≤ d·w rows and
    broadcast, the estimate is a min over d joined counters, and the
    top-k is TakeOrderedAndProject.  Integer arithmetic end to end —
    the oracle is exact."""
    sketch = cm_build(docs, text_col, depth, width)
    cand = (_terms(docs, text_col)
            .filter(F.length("term") >= min_len)
            .groupBy("term").agg(F.count("*").alias("true_c")))
    probes = F.explode(F.array(*[
        F.struct(F.lit(r).alias("row"),
                 _bucket(F.col("term"), r, width).alias("bucket"))
        for r in range(depth)])).alias("cell")
    est = (cand.select("term", "true_c", probes)
           .select("term", "true_c", "cell.row", "cell.bucket")
           .join(F.broadcast(sketch), ["row", "bucket"])
           .groupBy("term", "true_c")
           .agg(F.min("c").alias("est")))
    return (est.select("term", "est", "true_c",
                       (F.col("est") - F.col("true_c")).alias("overest"))
            .orderBy(F.desc("est"), "term").limit(k))


def cm_topk_sql(table: str, text_col: str = "text", k: int = 50,
                min_len: int = 3, depth: int = CM_DEPTH,
                width: int = CM_WIDTH) -> str:
    """DuckDB mirror of :func:`cm_topk` — identical md5 bucket ids,
    identical integer counters, exact value match."""
    stream = _terms_sql(table, text_col)
    cell_rows = " union all ".join(
        f"select term, {r} as row, {_bucket_sql('term', r, width)} as bucket "
        f"from stream" for r in range(depth))
    return f"""
with stream as ({stream}),
cells as ({cell_rows}),
sketch as (
  select row, bucket, count(*)::bigint as c
  from cells group by row, bucket
),
cand as (
  select term, count(*)::bigint as true_c
  from stream where length(term) >= {min_len} group by term
),
probes as (
  select term, true_c, row, bucket from (
    {' union all '.join(
        f"select term, true_c, {r} as row, "
        f"{_bucket_sql('term', r, width)} as bucket from cand"
        for r in range(depth))}
  )
),
est as (
  select term, true_c, min(c) as est
  from probes join sketch using (row, bucket)
  group by term, true_c
)
select term, est, true_c, (est - true_c) as overest
from est order by est desc, term limit {k}
"""


# ---------------------------------------------------------------------------
# HyperLogLog grouped distinct counting
# ---------------------------------------------------------------------------

# m = 16 registers with the matching Flajolet bias constant — the same
# fixture sizing as the HyperBall neighborhood counter in
# `lexor_spark/graph.py`, which uses these register definitions
# (md5 register, bit-length rho, alpha); production uses 2^6..2^14
# registers with the general alpha formula.
HLL_M = 16
_HLL_ALPHA = 0.673


def _hll_pos(item: Column, m: int) -> Column:
    """Register index: first 32 md5 bits of the item, mod m."""
    return (md5_u32(item.cast("string")) % m).cast("int")


def _hll_pos_sql(item: str, m: int) -> str:
    h = SQL.md5_u32(f"{item}::varchar")
    return f"({h} % {m})::int"


def _hll_rho(item: Column) -> Column:
    """rho(w): leading zeros of the next 32 md5 bits plus one, counted
    via length(bin(w)) so both engines count bits exactly (no float
    log2 at power-of-two boundaries)."""
    w = md5_u32(item.cast("string"), at=9)
    return (F.when(w == 0, F.lit(33))
            .otherwise(F.lit(33) - F.length(F.bin(w))).cast("int"))


def _hll_rho_sql(item: str) -> str:
    w = SQL.md5_u32(f"{item}::varchar", at=9)
    return f"(case when {w} = 0 then 33 else 33 - length(bin({w})) end)::int"


def hll_distinct(df: DataFrame, group_col: str = "host",
                 item_col: str = "url", m: int = HLL_M) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate WITH the exact
    audit column (Flajolet et al. 2007, "HyperLogLog: the analysis of
    a near-optimal cardinality estimation algorithm") — "how many
    distinct URLs does each host have" without ever shuffling the
    distinct items.

    The scale argument: exact per-group countDistinct shuffles every
    (group, item) pair — at 10^12 pages that is the whole URL column
    through the exchange.  The HLL form reduces per group to m
    register maxima: the groupBy's partial state is capped at
    groups × m small ints per task, registers merge by max (the same
    map-side-combinable merge HyperBall uses), and a re-crawl's
    registers UNION with last month's by the same max — the sketch is
    mergeable across time as well as tasks.

    Determinism: md5-derived registers, bit-length rho, the raw
    estimator (exact power-of-two sums + one division — zero libm
    calls, deliberately NO linear-counting correction; see
    `graph._hb_estimate` for the full argument) — the DuckDB oracle
    replays it bit-identically.  ``true_d`` is the exact distinct
    count (the gate-scale audit, dropped at production scale), and
    ``err`` the signed relative error of the estimate.

    Output: (group, est, true_d, err), group ascending."""
    base = df.select(F.col(group_col).alias("grp"),
                     F.col(item_col).alias("item"))
    regs = (base.select("grp", _hll_pos(F.col("item"), m).alias("pos"),
                        _hll_rho(F.col("item")).alias("val"))
            .groupBy("grp", "pos").agg(F.max("val").alias("val")))
    g = (regs.groupBy("grp")
         .agg(F.count("*").alias("nz"),
              F.sum(F.pow(F.lit(0.5), F.col("val"))).alias("s_nz")))
    est = F.round(F.lit(_HLL_ALPHA * m * m)
                  / (F.col("s_nz") + (F.lit(m) - F.col("nz"))), 4)
    truth = base.groupBy("grp").agg(
        F.countDistinct("item").alias("true_d"))
    return (g.join(truth, "grp")
            .select(F.col("grp").alias(group_col), est.alias("est"),
                    "true_d",
                    F.round((est - F.col("true_d")) / F.col("true_d"),
                            4).alias("err"))
            .orderBy(group_col))


def hll_distinct_sql(src_sql: str, group_col: str = "host",
                     item_col: str = "url", m: int = HLL_M) -> str:
    """DuckDB mirror of :func:`hll_distinct` over a SELECT producing
    (group_col, item_col) — identical registers, identical estimator
    arithmetic."""
    return f"""
with base as (select {group_col} as grp, {item_col} as item
              from ({src_sql})),
regs as (
  select grp, {_hll_pos_sql("item", m)} as pos,
         max({_hll_rho_sql("item")}) as val
  from base group by 1, 2
),
g as (
  select grp, count(*)::bigint as nz, sum(power(0.5, val)) as s_nz
  from regs group by grp
),
truth as (
  select grp, count(distinct item)::bigint as true_d from base group by grp
),
est as (
  select grp, round({_HLL_ALPHA * m * m} / (s_nz + ({m} - nz)), 4) as e
  from g
)
select est.grp as {group_col}, est.e as est, truth.true_d,
       round((est.e - truth.true_d) / truth.true_d, 4) as err
from est join truth using (grp)
order by {group_col}
"""
