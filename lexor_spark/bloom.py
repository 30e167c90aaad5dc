"""Distributed Bloom-filter membership (crawl-frontier seen-set).

A recrawl pipeline must answer "have we fetched this URL before?" for
billions of candidates without joining the candidate list against the
full multi-terabyte fetch history.  The standard answer is a Bloom
filter over the seen keys: no false negatives, tunable false-positive
rate, size = m bits regardless of key length.

The filter here is a **relational** Bloom filter — an aggregated table
of ``(word_idx, word)`` 63-bit words (63, not 64: bit 63 of a signed
bigint differs between engines — Spark wraps, DuckDB raises on the
shift — so the portable word keeps shifts ≤ 62 and every word value
positive and bit-identical) rather than a driver-side bytearray —
so both build and probe stay fully distributed:

* **build**: one scan over the seen table → k bit positions per key
  (salted md5, deterministic and engine-portable) → ``bit_or``
  aggregation keyed by word index.  Map-side partial aggregation
  collapses almost everything before the shuffle: at most m/63 rows
  ever cross the wire per partition, REGARDLESS of corpus size — for
  the default m = 2^16 that is ~1041 longs (8 KiB) per map task.
* **probe**: candidates explode to k ``(candidate, word_idx, bit)``
  lookups joined against the filter on ``word_idx``.  With a small m
  the filter broadcasts; at frontier scale (10^10 keys × 10 bits/key
  ≈ 12.5 GB) the same plan degrades gracefully to a shuffle join
  CO-PARTITIONED on word_idx — no plan rewrite, just drop the
  broadcast hint.  A candidate is "seen" iff all k bits are set, so
  the verdict is a ``min`` over the k lookups (guaranteed no false
  negative; false positives ≈ (1-e^{-kn/m})^k).

Hashing is the package's one engine-portable integer hash,
``textfns.md5_u32(key || '#b<i>')`` (the first 32 bits of the salted
md5) — bit-identical in Spark and DuckDB, so the whole filter (every
word value) is value-oracled, not just the verdicts.

Reference parity: none — the reference is a single-document converter
(`SURVEY.md §0`); this is part of the crawl-ecosystem layer the Spark
harness adds (public method: Bloom 1970, CACM 13(7)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lexor_spark.textfns import SQL, md5_u32

__all__ = ["BLOOM_M", "BLOOM_K", "bloom_build", "bloom_probe",
           "bloom_build_sql", "bloom_probe_sql"]

# m = 2^16 bits (~1041 longs, 8 KiB) suits the sf0.01 gate corpus
# (~1.5k urls × k=5 → ~11% fill, fp ≈ 1.6e-5); production sizing is
# m ≈ 10 bits/key for ~1% fp — the operators take m/k as parameters.
BLOOM_M = 1 << 16
BLOOM_K = 5


def _pos(key: Column, i: int, m: int) -> Column:
    """Bit position i: first 32 bits of md5(key || '#b<i>') mod m."""
    return F.pmod(md5_u32(F.concat(key, F.lit(f"#b{i}"))), F.lit(m))


def _pos_sql(key: str, i: int, m: int) -> str:
    h = SQL.md5_u32(f"{key} || '#b{i}'")
    return f"({h} % {m})"


def bloom_build(df: DataFrame, key: Column,
                m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """Aggregate the seen-set filter: ``(word_idx, word)``, one row per
    63-bit word that has at least one bit set."""
    pos = F.explode(F.array(*[_pos(key, i, m) for i in range(k)]))
    bits = df.select(pos.alias("pos"))
    return (bits
            .select((F.col("pos") / 63).cast("long").alias("word_idx"),
                    F.expr("shiftleft(cast(1 as bigint), "
                           "cast(pmod(pos, 63) as int))").alias("w"))
            .groupBy("word_idx")
            .agg(F.expr("bit_or(w)").alias("word")))


def bloom_build_sql(table_sql: str, key: str,
                    m: int = BLOOM_M, k: int = BLOOM_K) -> str:
    """DuckDB mirror of :func:`bloom_build` over ``(select … ) table_sql``
    exposing column expression ``key``."""
    pos_list = "[" + ", ".join(_pos_sql(key, i, m) for i in range(k)) + "]"
    return f"""
select pos // 63 as word_idx,
       bit_or((1::bigint << (pos % 63)::int)) as word
from (select unnest({pos_list}) as pos from {table_sql})
group by 1
"""


def bloom_probe(cand: DataFrame, key: Column, bloom: DataFrame,
                m: int = BLOOM_M, k: int = BLOOM_K,
                broadcast: bool = True) -> DataFrame:
    """Membership verdict per candidate row: input columns + ``bloom_hit``.

    ``broadcast=True`` (default) hints the filter side — correct
    whenever m/63 longs fit in one executor; at frontier scale pass
    False and the join co-partitions both sides on ``word_idx``."""
    probes = cand.select(
        "*", F.posexplode(F.array(*[_pos(key, i, m) for i in range(k)]))
        .alias("_i", "_pos"))
    probes = probes.withColumn("_widx", (F.col("_pos") / 63).cast("long"))
    filt = bloom.select(F.col("word_idx").alias("_widx"), "word")
    if broadcast:
        filt = F.broadcast(filt)
    hit = (F.expr("word & shiftleft(cast(1 as bigint), "
                  "cast(pmod(_pos, 63) as int))") != 0)
    joined = (probes.join(filt, "_widx", "left")
              .withColumn("_hit", F.coalesce(hit, F.lit(False))))
    keep = [c for c in cand.columns]
    return (joined.groupBy(*keep)
            .agg(F.min("_hit").alias("bloom_hit")))


def bloom_probe_sql(cand_sql: str, key: str, bloom_sql: str,
                    cand_cols: list[str],
                    m: int = BLOOM_M, k: int = BLOOM_K) -> str:
    """DuckDB mirror of :func:`bloom_probe`; ``cand_cols`` are the
    candidate columns to carry through (the Spark side's groupBy keys)."""
    pos_list = "[" + ", ".join(_pos_sql(key, i, m) for i in range(k)) + "]"
    cols = ", ".join(cand_cols)
    return f"""
with bf as ({bloom_sql}),
probes as (
  select {cols}, unnest({pos_list}) as pos from {cand_sql}
),
looked as (
  select {cols},
         coalesce((bf.word & (1::bigint << (probes.pos % 63)::int)) <> 0,
                  false) as hit
  from probes left join bf on probes.pos // 63 = bf.word_idx
)
select {cols}, min(hit) as bloom_hit from looked group by {cols}
"""
