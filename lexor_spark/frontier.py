"""Crawl-frontier scheduling: politeness-aware fetch dispatch.

After the CDX selection (`cdx.cdx_fetch_list`) and the REP gate
(`robots.robots_filter`), a crawler still must not hammer a host: one
connection per host, ``Crawl-delay`` seconds between requests
(`robots.crawl_delays`).  This module turns a fetch list into a
DISPATCH SCHEDULE that preserves politeness under arbitrary cluster
parallelism:

* every URL of a host goes to the SAME worker — ``worker =
  md5_u32(host) % n_workers`` — so per-host serialization needs no
  cross-executor coordination at all (the only global agreement is the
  hash function);
* within a host, URLs are ordered deterministically (by urlkey) and the
  k-th URL dispatches no earlier than ``k * delay`` seconds into the
  crawl — the per-host token-bucket schedule, precomputed as data;
* hosts without a ``Crawl-delay`` get ``default_delay``.

Plan shape at scale: one window partitioned by host (bounded per host
by the upstream per-host fetch caps — `urlfns.domain_cap` exists for
exactly that), the delay table broadcast (one row per host with a
directive — far smaller than the fetch list).  Everything is
scan-side/JVM expressions; the schedule is value-oracled in DuckDB
(same window, same md5-prefix worker assignment).  No reference
counterpart; politeness semantics per the public crawler literature
(Heritrix/Nutch frontier design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lexor_spark.textfns import SQL, md5_u32

__all__ = ["fetch_schedule", "fetch_schedule_sql",
           "crawl_budget", "crawl_budget_sql",
           "recrawl_schedule", "recrawl_schedule_sql",
           "sitemap_refetch", "sitemap_refetch_sql",
           "frontier_queue", "frontier_queue_sql"]

_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)"


def fetch_schedule(fetch: DataFrame, delays: DataFrame,
                   default_delay: float = 1.0,
                   n_workers: int = 8) -> DataFrame:
    """(host, urlkey, url, worker, slot, dispatch_at_s) for every fetch
    task: ``worker`` pins the host to one executor slot, ``slot`` is
    the per-host sequence number (urlkey order), ``dispatch_at_s`` the
    earliest polite dispatch time."""
    if n_workers <= 0:
        raise ValueError(f"fetch_schedule: n_workers must be positive, "
                         f"got {n_workers}")
    host = F.regexp_extract(F.col("url"), _HOST_RE, 1)
    f = fetch.withColumn("host", host)
    j = f.join(F.broadcast(delays), "host", "left")
    w = Window.partitionBy("host").orderBy("urlkey")
    slot = F.row_number().over(w) - 1
    delay = F.coalesce(F.col("delay_s"), F.lit(float(default_delay)))
    worker = F.pmod(md5_u32(F.col("host")), F.lit(n_workers)).cast("int")
    return j.select(
        "host", "urlkey", "url",
        worker.alias("worker"),
        slot.alias("slot"),
        F.round(slot * delay, 3).alias("dispatch_at_s"))


def fetch_schedule_sql(fetch_sql: str, delays_sql: str,
                       default_delay: float = 1.0,
                       n_workers: int = 8) -> str:
    """DuckDB mirror: same host regex, same md5-prefix worker hash
    (hex prefix → bigint both sides), same per-host window.  NB the
    task CTE must not be named ``fetch`` — reserved in DuckDB's
    FETCH FIRST grammar."""
    return f"""
with fetchq as ({fetch_sql}),
delays as ({delays_sql}),
f as (
  select *, regexp_extract(url, '{_HOST_RE}', 1) as host from fetchq
),
j as (
  select f.*, d.delay_s from f left join delays d using (host)
),
s as (
  select host, urlkey, url,
         ({SQL.md5_u32("host")} % {n_workers})::int as worker,
         (row_number() over (partition by host order by urlkey) - 1)
           ::bigint as slot,
         coalesce(delay_s, {float(default_delay)}) as delay
  from j
)
select host, urlkey, url, worker, slot,
       round(slot * delay, 3) as dispatch_at_s
from s
"""


def recrawl_schedule(captures: DataFrame, base_h: float = 24.0,
                     min_h: float = 6.0, max_h: float = 2160.0,
                     streak_cap: int = 6) -> DataFrame:
    """Adaptive revisit scheduling from capture history — the policy
    loop that decides WHEN each known URL is fetched again (the missing
    piece between `cdx_diff`'s what-changed and `fetch_schedule`'s
    when-politely): per url, digest-change statistics over its capture
    sequence and the next revisit interval

        ``next_interval_h = clamp(min_h, max_h,
            base_h * 2^min(unchanged_streak, streak_cap)
                   / (n_changes + 1))``

    — exponential back-off while a page keeps NOT changing (the
    unchanged streak is the trailing run of identical digests), pulled
    back proportionally by its lifetime change count; the classic
    frequency-adaptive estimator family (Cho & Garcia-Molina, "Effective
    Page Refresh Policies for Web Crawlers", TODS 2003; Heritrix's
    wayback revisit policy).  No reference counterpart (the reference
    converts single documents); crawl-ecosystem operator.

    Input: ``(url, ts timestamp, digest string)`` capture rows.  Output
    per url: n_captures, n_changes, change_rate (null for a single
    capture), unchanged_streak, next_interval_h, next_fetch_ts.

    Plan at scale: ONE url-keyed exchange — the lag window and the
    groupBy share the same partitioning, so Catalyst reuses the
    shuffle; per-url state is bounded by capture count (CDX history
    depth, ~dozens), never corpus-sized.  All arithmetic is
    IEEE-double + integer, reproduced exactly by the DuckDB oracle."""
    w = Window.partitionBy("url").orderBy("ts", "digest")
    idx = F.row_number().over(w) - 1
    changed = ((idx > 0) &
               (F.col("digest") != F.lag("digest").over(w))).cast("int")
    per_cap = captures.select(
        "url", "ts", idx.alias("idx"), changed.alias("changed"))
    g = per_cap.groupBy("url").agg(
        F.count("*").alias("n_captures"),
        F.sum("changed").alias("n_changes"),
        F.max(F.when(F.col("changed") == 1, F.col("idx")))
         .alias("last_change_idx"),
        F.max("ts").alias("last_ts"))
    streak = (F.col("n_captures") - 1
              - F.coalesce(F.col("last_change_idx"), F.lit(0)))
    interval = F.least(
        F.lit(float(max_h)),
        F.greatest(
            F.lit(float(min_h)),
            F.lit(float(base_h))
            * F.pow(F.lit(2.0), F.least(streak, F.lit(streak_cap))
                    .cast("double"))
            / (F.col("n_changes") + 1).cast("double")))
    rate = F.when(
        F.col("n_captures") > 1,
        F.col("n_changes").cast("double")
        / (F.col("n_captures") - 1).cast("double"))
    return g.select(
        "url", "n_captures", "n_changes",
        rate.alias("change_rate"),
        streak.cast("int").alias("unchanged_streak"),
        interval.alias("next_interval_h"),
        F.timestamp_seconds(
            F.unix_timestamp("last_ts")
            + (interval * 3600.0).cast("long")).alias("next_fetch_ts"))


def recrawl_schedule_sql(captures_sql: str, base_h: float = 24.0,
                         min_h: float = 6.0, max_h: float = 2160.0,
                         streak_cap: int = 6) -> str:
    """DuckDB mirror of :func:`recrawl_schedule` — same window, same
    clamp arithmetic, same epoch-seconds timestamp add."""
    return f"""
with caps as ({captures_sql}),
seq as (
  select url, ts,
         row_number() over (partition by url order by ts, digest) - 1 as idx,
         case when row_number() over (partition by url order by ts, digest) > 1
                   and digest <> lag(digest) over
                       (partition by url order by ts, digest)
              then 1 else 0 end as changed
  from caps
),
g as (
  select url, count(*) as n_captures, sum(changed)::bigint as n_changes,
         max(case when changed = 1 then idx end) as last_change_idx,
         max(ts) as last_ts
  from seq group by url
),
s as (
  select *,
         (n_captures - 1 - coalesce(last_change_idx, 0)) as unchanged_streak
  from g
),
i as (
  select *,
         least({float(max_h)}, greatest({float(min_h)},
             {float(base_h)} * pow(2.0, least(unchanged_streak,
                                              {int(streak_cap)})::double)
             / (n_changes + 1)::double)) as next_interval_h
  from s
)
select url, n_captures, n_changes,
       case when n_captures > 1
            then n_changes::double / (n_captures - 1)::double end
           as change_rate,
       unchanged_streak::int as unchanged_streak,
       next_interval_h,
       to_timestamp(epoch(last_ts)::bigint
                    + (next_interval_h * 3600.0)::bigint
                    )::timestamp as next_fetch_ts
from i
"""


# ---------------------------------------------------------------------------
# Sitemap-driven refetch prioritization
# ---------------------------------------------------------------------------

# W3C datetime (the sitemaps protocol's lastmod grammar): full UTC
# datetime or date-only.  Parsed with a two-format chain; anything else
# → NULL (crawlers must not trust malformed lastmod).
_W3C_FULL = "yyyy-MM-dd'T'HH:mm:ss'Z'"
_W3C_DATE = "yyyy-MM-dd"


def sitemap_refetch(entries: DataFrame, captures: DataFrame,
                    loc_col: str = "loc",
                    lastmod_col: str = "lastmod") -> DataFrame:
    """Join sitemap ``(host, loc, lastmod)`` entries against the crawl's
    capture history and decide, per advertised URL, whether a refetch
    is due — the sitemaps protocol's whole point (lastmod is the site's
    own change signal; www.sitemaps.org/protocol.html) and the
    cheapest change-detection channel a 10^12-page recrawl has, ahead
    of :func:`recrawl_schedule`'s behavioral estimator and
    conditional-GET revalidation.

    Output per entry: ``lastmod_ts`` (parsed W3C datetime, NULL when
    absent/malformed), ``last_fetch_ts`` (latest capture, NULL when
    never fetched), ``status`` — ``never_fetched`` /
    ``modified_since_fetch`` / ``fetched_current`` /
    ``unknown_lastmod`` — ``fetch_needed``, and ``priority`` (0 =
    fetch first; drain order ``priority, lastmod desc``).

    Plan at scale: captures collapse to one map-side-combinable
    ``max(ts)`` per url BEFORE the join, so the join's right side is
    one row per known url; both sides hash-partition on the url — one
    co-located exchange each, nothing quadratic, no UDF."""
    lm_raw = F.col(lastmod_col)
    lm = F.coalesce(F.try_to_timestamp(lm_raw, F.lit(_W3C_FULL)),
                    F.try_to_timestamp(lm_raw, F.lit(_W3C_DATE)))
    last = captures.groupBy(F.col("url").alias(loc_col)).agg(
        F.max("ts").alias("last_fetch_ts"))
    e = entries.select("host", loc_col, lm.alias("lastmod_ts"))
    j = e.join(last, loc_col, "left")
    status = (
        F.when(F.col("last_fetch_ts").isNull(), "never_fetched")
        .when(F.col("lastmod_ts").isNull(), "unknown_lastmod")
        .when(F.col("lastmod_ts") > F.col("last_fetch_ts"),
              "modified_since_fetch")
        .otherwise("fetched_current"))
    prio = (F.when(status == "never_fetched", 0)
            .when(status == "modified_since_fetch", 1)
            .when(status == "unknown_lastmod", 2)
            .otherwise(3))
    return j.select(
        "host", F.col(loc_col).alias("loc"), "lastmod_ts",
        "last_fetch_ts", status.alias("status"),
        status.isin("never_fetched", "modified_since_fetch")
              .alias("fetch_needed"),
        prio.cast("int").alias("priority"),
    ).orderBy("loc")


def sitemap_refetch_sql(entries_sql: str, captures_sql: str,
                        loc_col: str = "loc",
                        lastmod_col: str = "lastmod") -> str:
    """DuckDB mirror of :func:`sitemap_refetch` (same two-format
    lastmod parse chain, same status/priority ladder)."""
    return f"""
with smentries as ({entries_sql}),
smcaps as ({captures_sql}),
last as (
  select url as {loc_col}, max(ts)::timestamp as last_fetch_ts
  from smcaps group by url
),
e as (
  select host, {loc_col},
         coalesce(try_strptime({lastmod_col}, '%Y-%m-%dT%H:%M:%SZ'),
                  try_strptime({lastmod_col}, '%Y-%m-%d')) as lastmod_ts
  from smentries
),
j as (
  select e.host, e.{loc_col}, e.lastmod_ts, last.last_fetch_ts,
    case
      when last.last_fetch_ts is null then 'never_fetched'
      when e.lastmod_ts is null then 'unknown_lastmod'
      when e.lastmod_ts > last.last_fetch_ts then 'modified_since_fetch'
      else 'fetched_current'
    end as status
  from e left join last using ({loc_col})
)
select host, {loc_col} as loc, lastmod_ts, last_fetch_ts, status,
  status in ('never_fetched', 'modified_since_fetch') as fetch_needed,
  (case status
     when 'never_fetched' then 0
     when 'modified_since_fetch' then 1
     when 'unknown_lastmod' then 2
     else 3
   end)::int as priority
from j order by loc
"""


# ---------------------------------------------------------------------------
# The assembled frontier: one ranked per-host queue from all signals
# ---------------------------------------------------------------------------

def frontier_queue(refetch: DataFrame, recrawl: DataFrame,
                   now: str) -> DataFrame:
    """Assemble the crawl frontier: merge the sitemap change signal
    (:func:`sitemap_refetch` rows with ``fetch_needed``) with the
    behavioral recrawl estimator (:func:`recrawl_schedule` rows whose
    ``next_fetch_ts`` has arrived by ``now``) into ONE deduplicated,
    per-host-ranked fetch queue — the queue
    :func:`fetch_schedule` then dispatches under Crawl-delay
    politeness.  Sitemap-driven entries outrank estimator-driven ones
    (priority 0-3 vs 4): the site said it changed; the estimator only
    guesses.

    Output: ``(host, url, priority, source, host_rank)`` — drain each
    host's queue in ``host_rank`` order.

    Plan at scale: two filtered projections union (no shuffle), one
    url-keyed dedup window, one host-keyed ranking window — both
    windows bounded by per-key row counts (a url appears ≤ 2×; a
    host's queue is its due-url count), never corpus-wide."""
    sm = (refetch.filter(F.col("fetch_needed"))
          .select("host", F.col("loc").alias("url"), "priority",
                  F.lit("sitemap").alias("source")))
    rc = (recrawl
          .filter(F.col("next_fetch_ts") <= F.lit(now).cast("timestamp"))
          .select(F.regexp_extract("url", _HOST_RE, 1).alias("host"),
                  "url", F.lit(4).alias("priority"),
                  F.lit("recrawl").alias("source")))
    merged = sm.unionByName(rc)
    pick = Window.partitionBy("url").orderBy("priority", "source")
    best = (merged.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1).drop("rn"))
    rank = Window.partitionBy("host").orderBy("priority", "url")
    return (best.withColumn("host_rank",
                            F.row_number().over(rank).cast("int"))
            .orderBy("host", "host_rank"))


def frontier_queue_sql(refetch_sql: str, recrawl_sql: str,
                       now: str) -> str:
    """DuckDB mirror of :func:`frontier_queue`."""
    return f"""
with fq_refetch as ({refetch_sql}),
fq_recrawl as ({recrawl_sql}),
merged as (
  select host, loc as url, priority, 'sitemap' as source
  from fq_refetch where fetch_needed
  union all
  select regexp_extract(url, '{_HOST_RE}', 1) as host, url,
         4 as priority, 'recrawl' as source
  from fq_recrawl
  where next_fetch_ts <= timestamp '{now}'
),
best as (
  select * from (
    select *, row_number() over
        (partition by url order by priority, source) as rn
    from merged
  ) where rn = 1
)
select host, url, priority, source,
       row_number() over (partition by host order by priority, url)::int
         as host_rank
from best
order by host, host_rank
"""

def crawl_budget(hosts: DataFrame, budget_pages: int,
                 score_col: str = "score", urls_col: str = "n_urls",
                 min_alloc: int = 1) -> DataFrame:
    """Per-host crawl-budget allocation — the sizing decision a crawl
    round makes after quality scoring and before frontier assembly
    (Cho & Garcia-Molina's page-selection problem in its operational
    form): split ``budget_pages`` across hosts proportionally to a
    caller-derived quality ``score``, cap each host at its known URL
    count (you cannot fetch pages you have not discovered), floor
    positive-score hosts at ``min_alloc`` (starving a host forever
    means never re-learning its quality), and report the spare budget
    the caps freed (the next round's re-allocation input, mirroring
    ``sampling.mixture_plan``'s deficit accounting).

    Input: one row per host carrying ``score`` (>= 0) and ``n_urls``.
    Output: (host, n_urls, score, share, alloc_raw, alloc, spare).

    Plan shape at scale: the input is already host-sized (one
    map-side-combinable aggregate upstream, e.g.
    ``urlfns.host_quality``); here only a 1-row score-sum broadcast
    joins back — nothing shuffles but H host rows.  Arithmetic rounds
    to 6 for the cross-engine oracle; allocation is floor-integer so
    sum(alloc) <= budget always holds."""
    tot = hosts.agg(F.sum(F.col(score_col)).alias("s_sum"))
    j = hosts.crossJoin(F.broadcast(tot))
    share = F.round(F.col(score_col) / F.col("s_sum"), 6)
    raw = F.round(share * F.lit(float(budget_pages)), 6)
    alloc = F.least(
        F.greatest(F.floor(raw),
                   F.when(F.col(score_col) > 0, F.lit(min_alloc))
                    .otherwise(F.lit(0))),
        F.col(urls_col).cast("long"))
    return (j.select(
        "host", F.col(urls_col).cast("long").alias("n_urls"),
        F.round(F.col(score_col), 6).alias("score"),
        share.alias("share"),
        raw.alias("alloc_raw"),
        alloc.alias("alloc"),
        (F.floor(raw) - alloc).cast("long").alias("spare"))
        .orderBy("host"))


def crawl_budget_sql(hosts_sql: str, budget_pages: int,
                     min_alloc: int = 1) -> str:
    """DuckDB mirror of :func:`crawl_budget` (``hosts_sql`` yields
    (host, score, n_urls))."""
    return f"""
with h as ({hosts_sql}),
t as (select sum(score) as s_sum from h),
j as (
  select h.host, h.n_urls::bigint as n_urls,
         round(h.score, 6) as score,
         round(h.score / t.s_sum, 6) as share,
         round(round(h.score / t.s_sum, 6) * {float(budget_pages)}, 6)
           as alloc_raw
  from h cross join t
),
a as (
  select *, least(greatest(floor(alloc_raw),
                           case when score > 0 then {min_alloc}
                                else 0 end),
                  n_urls)::bigint as alloc
  from j
)
select host, n_urls, score, share, alloc_raw, alloc,
       (floor(alloc_raw) - alloc)::bigint as spare
from a order by host
"""
