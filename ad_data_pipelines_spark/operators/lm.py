"""Count-based bigram language model: train on the corpus, score every
document's average log-likelihood under it (beyond-reference; the
KenLM-style "perplexity filter" quality signal CCNet/RedPajama pipelines
use — a doc whose token transitions are improbable under the corpus LM
is boilerplate, spam, or the wrong language).

Scale shapes:
  * Bigrams are built ARRAY-SIDE with `zip_with` over two slices of the
    split-token array — no posexplode + window, so bigram extraction is
    a narrow map stage (same trick as the lead-window-free n-grams in
    textstats.repetition_signals).
  * Training is two partial/final-combinable counts (unigram, bigram)
    plus a 1-row vocabulary-size aggregate that joins back via
    broadcast — never a driver collect.
  * Scoring joins doc-bigram occurrences to the LM on the bigram key:
    the shuffle carries (doc_id, bigram) pairs, never document text.
    Production swaps the string key for `portable_hash64(bigram)` so
    the exchange moves longs; the oracle-facing form keeps the string
    key so the DuckDB twin is byte-identical without hash emulation.
  * Add-k smoothing: logp(w2|w1) = ln((c(w1 w2) + k) / (c(w1) + k·V)).
    Every doc bigram exists in the corpus LM (trained on the same
    corpus), so the smoothing term only shapes probabilities — held-out
    scoring of unseen bigrams would left-join and fall back to
    ln(k / (c(w1) + k·V)) with the same algebra.

Docs with fewer than two tokens have no bigrams and drop from the
scored output (inner-join semantics, mirrored by the oracle).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# the registry-wide tokenizer contract lives in ONE place — a split-
# pattern change must hit LM scoring and token counting together
from ad_data_pipelines_spark.operators.textstats import TOKEN_SEP as _TOKEN_SPLIT


def _token_arrays(docs: DataFrame) -> DataFrame:
    arr = F.filter(
        F.split(F.trim("text"), _TOKEN_SPLIT), lambda x: x != F.lit("")
    )
    return docs.select("doc_id", arr.alias("toks"))


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, bg) — one row per bigram occurrence; bg = 'w1 w2'
    (whitespace tokens cannot contain the separator)."""
    base = _token_arrays(docs).filter(F.size("toks") >= 2)
    n = F.size("toks")
    bigrams = F.zip_with(
        F.slice("toks", 1, n - 1),
        F.slice("toks", 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return base.select("doc_id", F.explode(bigrams).alias("bg"))


def bigram_lm_score(
    docs: DataFrame, k: float = 0.5, round_dp: int = 4
) -> DataFrame:
    """(doc_id, n_bigrams, avg_ll): average add-k-smoothed bigram
    log-likelihood of each doc under the LM trained on `docs` itself —
    ranking ascending gives the "most improbable" docs to inspect/drop.
    """
    toks = _token_arrays(docs).select(F.explode("toks").alias("token"))
    uni = toks.groupBy("token").agg(F.count("*").alias("cu"))
    vocab = uni.agg(F.count("*").cast("double").alias("v"))

    docbg = _doc_bigrams(docs)
    big = docbg.groupBy("bg").agg(F.count("*").alias("cb"))
    lm = (
        big.withColumn("w1", F.split("bg", " ")[0])
        .join(uni.withColumnRenamed("token", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.log(
                (F.col("cb") + F.lit(k))
                / (F.col("cu") + F.lit(k) * F.col("v"))
            ).alias("logp"),
        )
    )
    return (
        docbg.join(lm, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.sum("logp") / F.count("*"), round_dp).alias("avg_ll"),
        )
    )


def bigram_lm_score_held_out(
    train_docs: DataFrame,
    score_docs: DataFrame,
    k: float = 0.5,
    round_dp: int = 4,
) -> DataFrame:
    """(doc_id, n_bigrams, avg_ll) of `score_docs` under the LM trained
    on `train_docs` — the full CCNet/KenLM perplexity-filter shape:
    train the count LM on a curated reference corpus, score candidate
    docs against it, drop (or bucket) the improbable tail. Unlike
    `bigram_lm_score` (self-scoring, every bigram present by
    construction), held-out scoring hits the smoothing fallbacks:
    an unseen bigram scores ln(k / (c(w1) + k·V)) and an unseen
    context word ln(1/V) — same add-k algebra, coalesced counts.

    Scale shape: the LM is two combinable count aggregates over the
    TRAIN corpus; scoring left-joins (doc_id, bigram) occurrence pairs
    to the bigram and unigram tables on their keys — the shuffle moves
    key strings and counts, never document text; V broadcasts as one
    row. Production interns the bigram key via portable_hash64; the
    string form keeps the DuckDB twin byte-identical.
    """
    toks = _token_arrays(train_docs).select(F.explode("toks").alias("token"))
    uni = toks.groupBy("token").agg(F.count("*").alias("cu"))
    vocab = uni.agg(F.count("*").cast("double").alias("v"))
    big = _doc_bigrams(train_docs).groupBy("bg").agg(
        F.count("*").alias("cb")
    )
    docbg = _doc_bigrams(score_docs).withColumn(
        "w1", F.split("bg", " ")[0]
    )
    scored = (
        docbg.join(big, "bg", "left")
        .join(uni.withColumnRenamed("token", "w1"), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(k))
                / (
                    F.coalesce(F.col("cu"), F.lit(0))
                    + F.lit(k) * F.col("v")
                )
            ).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.sum("logp") / F.count("*"), round_dp).alias("avg_ll"),
    )


def bigram_lm_heldout_sql(
    train_where: str,
    score_where: str,
    k: float = 0.5,
    round_dp: int = 4,
) -> str:
    """DuckDB twin of `bigram_lm_score_held_out` over the documents
    table; `train_where` / `score_where` are SQL predicates selecting
    the two corpora."""
    return f"""
        WITH base AS (
            SELECT doc_id, lang, source,
                   list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '') AS toks
            FROM documents
        ),
        tdocs AS (SELECT * FROM base WHERE {train_where}),
        sdocs AS (SELECT * FROM base WHERE {score_where}),
        cu AS (
            SELECT token, COUNT(*) AS cu FROM (
                SELECT unnest(toks) AS token FROM tdocs
            ) GROUP BY token
        ),
        vocab AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM cu
        ),
        cb AS (
            SELECT bg, COUNT(*) AS cb FROM (
                SELECT unnest(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])) AS bg
                FROM tdocs WHERE len(toks) >= 2
            ) GROUP BY bg
        ),
        docbg AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1])) AS bg
            FROM sdocs WHERE len(toks) >= 2
        ),
        scored AS (
            SELECT d.doc_id,
                   ln((COALESCE(cb.cb, 0) + {k})
                      / (COALESCE(cu.cu, 0) + {k} * v)) AS logp
            FROM docbg d
            LEFT JOIN cb ON cb.bg = d.bg
            LEFT JOIN cu ON cu.token = split_part(d.bg, ' ', 1)
            CROSS JOIN vocab
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(SUM(logp) / COUNT(*), {round_dp}) AS avg_ll
        FROM scored
        GROUP BY doc_id
    """


def bigram_lm_score_sql(k: float = 0.5, round_dp: int = 4) -> str:
    """DuckDB twin of `bigram_lm_score` over the documents table."""
    return f"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '') AS toks
            FROM documents
        ),
        docbg AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1])) AS bg
            FROM base WHERE len(toks) >= 2
        ),
        uni AS (
            SELECT unnest(toks) AS token FROM base
        ),
        cu AS (
            SELECT token, COUNT(*) AS cu FROM uni GROUP BY token
        ),
        vocab AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM cu
        ),
        cb AS (
            SELECT bg, COUNT(*) AS cb FROM docbg GROUP BY bg
        ),
        lm AS (
            SELECT bg,
                   ln((cb + {k}) / (cu + {k} * v)) AS logp
            FROM cb
            JOIN cu ON split_part(bg, ' ', 1) = cu.token
            CROSS JOIN vocab
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(SUM(logp) / COUNT(*), {round_dp}) AS avg_ll
        FROM docbg JOIN lm USING (bg)
        GROUP BY doc_id
    """

def perplexity_buckets(
    docs: DataFrame,
    k: float = 0.5,
    lo: float = 0.3333333333333333,
    hi: float = 0.6666666666666666,
    round_dp: int = 4,
    scored: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style head/middle/tail bucketing: score every doc's
    average bigram log-likelihood under the corpus LM, then split each
    language at exact per-language quantile thresholds (head = most
    probable third — the slice CCNet keeps outright; tail = the
    improbable third a pipeline drops or down-weights). Returns the
    bucket report (lang, bucket, n_docs, mean_ll).

    Scale shape: scoring is `bigram_lm_score` (combinable counts,
    keyed joins, text never shuffles); thresholds are one per-language
    rank selection broadcast back (production swaps the exact rank for
    approx_percentile, the documented llm_quality_quantile
    divergence); bucketing is a map-side CASE; the report is a
    languages×3-row aggregate. No global window anywhere.

    Determinism (r15 hardening — the r14 driver flagged a value-level
    hash flip): every float-order-sensitive term is restated exactly.
    Thresholds are RANK-EXACT — the k-th smallest already-rounded
    avg_ll per language (k = floor((n-1)·q)+1, the lower anchor of the
    interpolated percentile) — instead of rounding an interpolated
    percentile whose float sum can flip a 4-dp boundary between
    engines. mean_ll sums the 10^round_dp-scaled scores as exact
    integers (order-insensitive) and rounds the integer mean half away
    from zero, so no engine- or partition-order-dependent float sum
    survives to the output.

    ``scored`` injects a precomputed (typically persisted)
    `bigram_lm_score` output shared with the standalone scoring query
    — the `quality_verdicts(quality=…)` contract: at corpus scale the
    LM scoring pass runs once per corpus generation, not once per
    consumer. It must have been scored with this call's `round_dp` (or
    a coarser one): a sample of its avg_ll values is checked to sit on
    the 10^-round_dp grid, and a finer-rounded frame raises instead of
    silently mis-scaling the integer mean.
    """
    scale = 10**round_dp
    if scored is None:
        scored = bigram_lm_score(docs, k=k, round_dp=round_dp)
    else:
        for (v,) in scored.select("avg_ll").limit(32).collect():
            if v is not None and not math.isclose(
                v * scale, round(v * scale), rel_tol=1e-12, abs_tol=1e-6
            ):
                raise ValueError(
                    f"injected scored avg_ll {v!r} is not rounded to "
                    f"round_dp={round_dp} places — score it with the "
                    "same round_dp as perplexity_buckets"
                )
    langd = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "doc_id",
        "avg_ll",
        F.round(F.col("avg_ll") * scale).cast("bigint").alias("ll_s"),
    )
    w_rank = Window.partitionBy("lang").orderBy("avg_ll", "doc_id")
    w_all = Window.partitionBy("lang")
    ranked = langd.select(
        "lang",
        "avg_ll",
        F.row_number().over(w_rank).alias("rn"),
        (F.floor((F.count("*").over(w_all) - 1) * F.lit(lo)) + 1).alias(
            "k_lo"
        ),
        (F.floor((F.count("*").over(w_all) - 1) * F.lit(hi)) + 1).alias(
            "k_hi"
        ),
    )
    pct = (
        ranked.filter(
            (F.col("rn") == F.col("k_lo")) | (F.col("rn") == F.col("k_hi"))
        )
        .groupBy("lang")
        .agg(
            F.max(
                F.when(F.col("rn") == F.col("k_lo"), F.col("avg_ll"))
            ).alias("p_lo"),
            F.max(
                F.when(F.col("rn") == F.col("k_hi"), F.col("avg_ll"))
            ).alias("p_hi"),
        )
    )
    bucketed = langd.join(F.broadcast(pct), "lang").select(
        "lang",
        "ll_s",
        F.when(F.col("avg_ll") >= F.col("p_hi"), F.lit("head"))
        .when(F.col("avg_ll") >= F.col("p_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ll_s").alias("s"),
        )
        .select(
            "lang",
            "bucket",
            "n_docs",
            (
                F.expr(
                    "CAST(SIGN(s) AS BIGINT)"
                    " * ((2 * ABS(s) + n_docs) DIV (2 * n_docs))"
                )
                / F.lit(float(scale))
            ).alias("mean_ll"),
        )
    )


def perplexity_buckets_sql(
    k: float = 0.5,
    lo: float = 0.3333333333333333,
    hi: float = 0.6666666666666666,
    round_dp: int = 4,
) -> str:
    """DuckDB twin of `perplexity_buckets` over the documents table
    (rank-exact thresholds on the already-rounded scores; mean_ll via
    exact integer sums — the same order-insensitive restatement as the
    Spark side)."""
    scale = 10**round_dp
    return f"""
        WITH scored AS ({bigram_lm_score_sql(k=k, round_dp=round_dp)}),
        langd AS (
            SELECT s.doc_id, s.avg_ll, d.lang,
                   CAST(ROUND(s.avg_ll * {scale}) AS BIGINT) AS ll_s
            FROM scored s JOIN documents d USING (doc_id)
        ),
        ranked AS (
            SELECT lang, avg_ll,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY avg_ll, doc_id
                   ) AS rn,
                   -- CAST AS DOUBLE: a bare float literal parses as
                   -- DECIMAL in DuckDB and floors differently than
                   -- Spark's IEEE double product (69 * 1/3 is exactly
                   -- 23.0 in doubles, 22.99… in decimal)
                   CAST(FLOOR((COUNT(*) OVER (PARTITION BY lang) - 1)
                              * CAST({lo!r} AS DOUBLE)) AS BIGINT) + 1
                       AS k_lo,
                   CAST(FLOOR((COUNT(*) OVER (PARTITION BY lang) - 1)
                              * CAST({hi!r} AS DOUBLE)) AS BIGINT) + 1
                       AS k_hi
            FROM langd
        ),
        pct AS (
            SELECT lang,
                   MAX(CASE WHEN rn = k_lo THEN avg_ll END) AS p_lo,
                   MAX(CASE WHEN rn = k_hi THEN avg_ll END) AS p_hi
            FROM ranked
            WHERE rn = k_lo OR rn = k_hi
            GROUP BY lang
        ),
        bucketed AS (
            SELECT l.lang,
                   l.ll_s,
                   CASE WHEN l.avg_ll >= p.p_hi THEN 'head'
                        WHEN l.avg_ll >= p.p_lo THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM langd l JOIN pct p USING (lang)
        )
        SELECT lang, bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SIGN(SUM(ll_s)) AS BIGINT)
                 * ((2 * ABS(SUM(ll_s)) + COUNT(*)) // (2 * COUNT(*)))
                 / {scale}.0 AS mean_ll
        FROM bucketed
        GROUP BY 1, 2
    """
