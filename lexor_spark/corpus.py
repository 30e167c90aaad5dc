"""End-to-end training-corpus pipeline: the composition every other
module exists for.

    pages ──robots (optional REP decision, pre-extraction)──▶
          ──extract──▶ text ──quality──▶ ──repetition──▶
          ──exact-dedup──▶ ──domain-cap──▶ ──near-dup (minhash/LSH
          pairs → connected-component clusters, one canonical url kept
          per cluster)──▶ ──decontaminate (vs eval n-grams)──▶
          canonical corpus + reject ledger

The domain cap runs AFTER exact dedup so duplicate pages can't consume
a domain's cap budget and crowd out unique pages; the cap itself is
two-phase ((domain, salt) then domain — identical result, no hot-domain
single-task window, see ``urlfns.domain_cap``).

Every stage is one of this engine's first-class operators; this module
only composes them.  At 100 TB each arrow (``──▶``) is a materialization
boundary in practice (write + snapshot), which is exactly what
``job.run_job``'s group commits provide; here the composition is a single
lazy plan so tests and the driver can run it end-to-end.

Rejects are data, not discards: the ledger records WHY each url left the
corpus (error row / quality floor / exact dup / near dup) — at training
scale the reject distribution is the first thing a data audit asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lexor_spark import dedup, textfns
from lexor_spark.job import extract_pages
from lexor_spark.pages import pages_df

__all__ = ["build_corpus", "corpus_summary"]


def build_corpus(pages: DataFrame, min_quality: float = 0.3,
                 min_chars: int = 100, jaccard_threshold: float = 0.9,
                 max_dup_line_frac: float = 0.5,
                 max_top_bigram_frac: float = 0.3,
                 domain_cap: int = None,
                 eval_docs: DataFrame = None,
                 decontam_n: int = 4,
                 decontam_min_shared: int = 1,
                 split_weights: dict = None,
                 robots_df: DataFrame = None
                 ) -> tuple[DataFrame, DataFrame]:
    """Returns (corpus, rejects).

    corpus:  url, text, title, lang_attr, n_tokens, quality
             (+ ``split`` when ``split_weights`` is given)
    rejects: url, stage, reason

    Stages beyond round 1: the Gopher repetition filter
    (duplicate-line / top-bigram fractions), the per-domain cap
    (``domain_cap`` pages per registrable domain, off when None),
    n-gram decontamination against ``eval_docs`` (a DataFrame with a
    ``text`` column; off when None), and a final deterministic
    train/val/test assignment (``split_weights`` e.g.
    ``{"train": .98, "val": .01, "test": .01}`` — `sampling.hash_split`
    on the url, so the split survives resumes and engine changes).

    ``robots_df`` (a (host, robots_txt) table; off when None) applies
    the REP decision FIRST — before extraction, the cheapest point to
    drop a disallowed page — rejecting with stage='robots'."""
    if robots_df is not None:
        from lexor_spark import robots as _rep
        dec = _rep.robots_filter(pages.select("url"), robots_df)
        denied = (dec.filter(~F.col("allowed"))
                  .select("url", F.lit("robots").alias("stage"),
                          F.concat(F.lit("rule="),
                                   F.coalesce("matched_path", F.lit("")))
                          .alias("reason")))
        pages = pages.join(dec.filter(F.col("allowed")).select("url"),
                           "url")
    else:
        denied = None
    extracted = extract_pages(pages).select(
        "url", "text", "title", "lang_attr", "ok", "err", "n_chars_out")

    err = extracted.filter(~F.col("ok")).select(
        "url", F.lit("extract").alias("stage"),
        F.coalesce("err", F.lit("error")).alias("reason"))
    good = extracted.filter(F.col("ok"))

    scored = good.select(
        "url", "text", "title", "lang_attr",
        textfns.token_count(F.col("text")).alias("n_tokens"),
        textfns.quality_score(F.col("text")).alias("quality"),
        "n_chars_out")
    low = scored.filter((F.col("quality") < min_quality)
                        | (F.col("n_chars_out") < min_chars)).select(
        "url", F.lit("quality").alias("stage"),
        F.concat(F.lit("quality="), F.col("quality").cast("string"),
                 F.lit(" chars="), F.col("n_chars_out").cast("string"))
        .alias("reason"))
    kept = scored.filter((F.col("quality") >= min_quality)
                         & (F.col("n_chars_out") >= min_chars))

    # Gopher repetition filter (per-row expressions, no shuffle)
    dlf = textfns.dup_line_fraction(F.col("text"))
    tbf = textfns.top_bigram_fraction(F.col("text"))
    rep_scored = kept.withColumn("_dlf", dlf).withColumn("_tbf", tbf)
    repetitive = rep_scored.filter(
        (F.col("_dlf") > max_dup_line_frac)
        | (F.col("_tbf") > max_top_bigram_frac)).select(
        "url", F.lit("repetition").alias("stage"),
        F.concat(F.lit("dup_line_frac="), F.col("_dlf").cast("string"),
                 F.lit(" top_bigram_frac="), F.col("_tbf").cast("string"))
        .alias("reason"))
    kept = rep_scored.filter(
        (F.col("_dlf") <= max_dup_line_frac)
        & (F.col("_tbf") <= max_top_bigram_frac)).drop("_dlf", "_tbf")

    # exact dedup: keep the lexicographically-first url per fingerprint
    # (deterministic keeper — min() is order-insensitive)
    fp = kept.select("url", textfns.fingerprint(F.col("text")).alias("fp"))
    keepers = fp.groupBy("fp").agg(F.min("url").alias("keep_url"))
    exact_dups = (fp.join(keepers, "fp")
                  .filter(F.col("url") != F.col("keep_url"))
                  .select("url", F.lit("exact_dup").alias("stage"),
                          F.concat(F.lit("dup_of="), F.col("keep_url"))
                          .alias("reason")))
    uniq = (fp.join(keepers, "fp")
            .filter(F.col("url") == F.col("keep_url"))
            .select("url").join(kept, "url"))

    # per-domain cap (anti-monoculture sampling) — AFTER exact dedup so
    # the K kept pages per domain are distinct documents (duplicates
    # must not consume a domain's budget).  Two-phase against hot-domain
    # skew: rank within (domain, url-hash salt) first, then re-rank the
    # <= K*S survivors within domain; identical keep-set to the single
    # window (see urlfns.domain_cap), but rejects surface from either
    # phase (phase-1 rejects report their bucket rank — the global rank
    # is deliberately never computed for them).
    if domain_cap is not None:
        from pyspark.sql import Window

        from lexor_spark import urlfns
        salted = (uniq.withColumn("_dom", urlfns.domain_of(F.col("url")))
                  .withColumn("_salt", F.pmod(F.xxhash64("url"),
                                              F.lit(64))))
        w1 = Window.partitionBy("_dom", "_salt").orderBy("url")
        r1 = salted.withColumn("_rn1", F.row_number().over(w1))
        cap1 = r1.filter(F.col("_rn1") > domain_cap).select(
            "url", F.lit("domain_cap").alias("stage"),
            F.concat(F.lit("bucket_rank="), F.col("_rn1").cast("string"),
                     F.lit(" domain="), F.col("_dom")).alias("reason"))
        w2 = Window.partitionBy("_dom").orderBy("url")
        r2 = (r1.filter(F.col("_rn1") <= domain_cap).drop("_salt", "_rn1")
              .withColumn("_rn", F.row_number().over(w2)))
        cap2 = r2.filter(F.col("_rn") > domain_cap).select(
            "url", F.lit("domain_cap").alias("stage"),
            F.concat(F.lit("rank="), F.col("_rn").cast("string"),
                     F.lit(" domain="), F.col("_dom")).alias("reason"))
        capped = cap1.unionByName(cap2)
        uniq = r2.filter(F.col("_rn") <= domain_cap).drop("_dom", "_rn")
    else:
        capped = None

    # near-dup: CLUSTER the LSH pair graph and keep one canonical url
    # per cluster.  Pair-based rejection ("drop the b of every pair")
    # over-keeps on transitive chains — urls 1~3 and 2~3 with no direct
    # 1~2 pair would both survive although they are one duplicate
    # cluster; connected components make the keep-set well defined.
    clusters = dedup.dup_clusters(uniq.withColumnRenamed("url", "doc_id"),
                                  text_col="text", id_col="doc_id",
                                  threshold=jaccard_threshold)
    near = (clusters.filter(~F.col("is_canonical"))
            .select(F.col("doc_id").alias("url"),
                    F.lit("near_dup").alias("stage"),
                    F.concat(F.lit("dup_of="), F.col("cluster_id"),
                             F.lit(" cluster_size="),
                             F.col("cluster_size").cast("string"))
                    .alias("reason")))

    corpus = uniq.join(near.select("url"), "url", "left_anti").select(
        "url", "text", "title", "lang_attr", "n_tokens", "quality")

    # benchmark decontamination: drop training docs overlapping the eval
    # set on >= min_shared distinct n-grams (eval side broadcasts)
    if eval_docs is not None:
        hits = dedup.decontam_overlap(
            corpus.withColumnRenamed("url", "doc_id"),
            eval_docs.select(F.monotonically_increasing_id().alias("doc_id"),
                             "text"),
            n=decontam_n, min_shared=decontam_min_shared)
        contaminated = (hits.groupBy("train_id")
                        .agg(F.sum("n_shared").alias("n_shared"))
                        .select(F.col("train_id").alias("url"),
                                F.lit("decontam").alias("stage"),
                                F.concat(F.lit("shared_ngrams="),
                                         F.col("n_shared").cast("string"))
                                .alias("reason")))
        corpus = corpus.join(contaminated.select("url"), "url", "left_anti")
    else:
        contaminated = None

    if split_weights is not None:
        from lexor_spark.sampling import hash_split
        corpus = hash_split(corpus, split_weights, id_col="url")

    rejects = err.unionByName(low).unionByName(repetitive) \
        .unionByName(exact_dups).unionByName(near)
    if denied is not None:
        rejects = rejects.unionByName(denied)
    if capped is not None:
        rejects = rejects.unionByName(capped)
    if contaminated is not None:
        rejects = rejects.unionByName(contaminated)
    return corpus, rejects


def corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing: per-stage accounting of the full pipeline.
    Thresholds sit inside the synthetic corpus's quality/length
    distribution (5th pct quality 0.5, median length 385) so every
    pipeline stage visibly fires."""
    pages = pages_df(spark, sf_dir)
    # deterministic stand-in eval set: a slice of the documents table
    evals = (spark.read.parquet(f"{sf_dir}/documents.parquet")
             .filter(F.pmod("doc_id", F.lit(41)) == 0).select("text"))
    corpus, rejects = build_corpus(pages, min_quality=0.7, min_chars=250,
                                   jaccard_threshold=0.5,
                                   max_top_bigram_frac=0.06,
                                   domain_cap=4, eval_docs=evals,
                                   decontam_n=3, decontam_min_shared=8)
    kept = corpus.select(F.lit("corpus").alias("stage"),
                         F.lit("kept").alias("outcome"))
    rej = rejects.select("stage", F.lit("rejected").alias("outcome"))
    return (kept.unionByName(rej)
            .groupBy("stage", "outcome").agg(F.count("*").alias("n"))
            .orderBy("stage", "outcome"))
