"""Lexical retrieval and hybrid rank fusion: Okapi BM25 top-k and
reciprocal-rank fusion (RRF).

Beyond-reference (SURVEY.md north star). Query-targeted data selection
— "give me the corpus slice most relevant to THIS query/domain" — is
how retrieval-augmented curation pipelines pick fine-tuning and eval
material, and hybrid lexical+vector retrieval (BM25 fused with
embedding cosine by reciprocal rank) is the standard recipe when
neither signal alone is trusted. RRF (Cormack et al., SIGIR 2009)
needs only ranks, so wildly different score scales fuse without
calibration.

Scale shapes:
  * BM25 featurization is a narrow map stage: tokenize array-side,
    keep ONLY the query's terms (a literal in-list filter on the
    exploded tokens — the filter runs map-side, so the exchange to
    the (doc_id, term) aggregate carries just matching occurrences,
    never document text). Document length comes from the same token
    array before the filter (one pass).
  * Corpus stats (N, avgdl) are ONE 1-row aggregate broadcast back;
    per-term document frequencies are a ≤|terms|-row aggregate
    broadcast to the scoring join. Nothing driver-side.
  * The top-k is orderBy + limit — Spark plans TakeOrdered
    (per-partition heaps + k-row driver merge), never a global sort.
  * RRF unions the (doc_id, rank) lists — rank tables are k-row
    inputs, so fusion cost is O(Σ list length) regardless of corpus
    size; the expensive part is producing the lists, which each
    ranker already bounds.

Cross-engine contract: scores are rounded doubles (registry
convention); every ORDER/ROW_NUMBER breaks ties on doc_id so both
engines pick identical top-k sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# the registry-wide tokenizer contract lives in ONE place
from ad_data_pipelines_spark.operators.textstats import TOKEN_SEP as _TOKEN_SPLIT
from ad_data_pipelines_spark.sources.local import local_frame


def _validate_bm25(terms, k1: float, b: float) -> list[str]:
    tl = list(dict.fromkeys(terms))
    if not tl:
        raise ValueError("bm25: terms must be a non-empty list")
    if any((not t) or t != t.lower() or " " in t for t in tl):
        raise ValueError(
            "bm25: terms must be non-empty lowercase single tokens "
            f"(got {tl!r})"
        )
    if k1 <= 0 or not (0.0 <= b <= 1.0):
        raise ValueError(f"bm25: need k1 > 0 and 0 <= b <= 1 (got {k1}, {b})")
    return tl


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 score of every matching document against a bag of
    query terms:

        score(d) = Σ_t idf(t) · tf(t,d)·(k1+1)
                         / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))

    with the Lucene-style always-positive idf
    ln(1 + (N − df + 0.5)/(df + 0.5)). Returns
    (doc_id, n_terms, score) for docs matching ≥1 term, score rounded
    to `round_dp`; N/avgdl count EVERY corpus doc (zero-token docs
    included), the retrieval norm.
    """
    tl = _validate_bm25(terms, k1, b)
    toks = F.filter(
        F.split(F.lower(F.trim(text_col)), _TOKEN_SPLIT),
        lambda x: x != F.lit(""),
    )
    base = docs.select("doc_id", toks.alias("__toks")).select(
        "doc_id",
        F.size("__toks").alias("dl"),
        F.filter(
            "__toks", lambda x: x.isin(tl)
        ).alias("__hits"),
    )
    stats = base.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        base.select("doc_id", "dl", F.explode("__hits").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("w"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.round(F.sum("w"), round_dp).alias("score"),
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 retrieval: `bm25_scores` + TakeOrdered on
    (score DESC, doc_id) — the unique tie-break keeps engines and
    partitionings agreeing on the boundary rows."""
    if k <= 0:
        raise ValueError(f"bm25_topk: k must be positive, got {k}")
    return (
        bm25_scores(docs, terms, k1, b, round_dp, text_col)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def bm25_scores_sql(
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 4,
    where: str = "TRUE",
) -> str:
    """DuckDB twin of `bm25_scores` over the documents table (same
    tokenizer, same always-positive idf, same rounding)."""
    tl = _validate_bm25(terms, k1, b)
    in_list = ", ".join(f"'{t}'" for t in tl)
    return f"""
        WITH bm_base AS (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS toks
            FROM documents WHERE {where}
        ),
        bm_stats AS (
            SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl
            FROM bm_base
        ),
        bm_tf AS (
            SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
                SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
                FROM bm_base
            ) WHERE term IN ({in_list})
            GROUP BY doc_id, dl, term
        ),
        bm_idf AS (
            SELECT term,
                   ln(1.0 + (n_docs - COUNT(*) + 0.5) / (COUNT(*) + 0.5))
                       AS idf
            FROM bm_tf CROSS JOIN bm_stats
            GROUP BY term, n_docs
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               ROUND(SUM(
                   idf * (tf * ({k1} + 1.0))
                   / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))
               ), {round_dp}) AS score
        FROM bm_tf JOIN bm_idf USING (term) CROSS JOIN bm_stats
        GROUP BY doc_id
    """


def bm25_batch_topk(
    docs: DataFrame,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Batch BM25: top-k retrieval for MANY queries in one corpus
    pass — the shape of a retrieval-evaluation run or a
    multi-domain targeted-selection sweep. `queries` is a list of
    (query_id, terms). Returns (query_id, doc_id, n_terms, score,
    rk), rk 1-based per query on (score DESC, doc_id).

    Scale shape: the corpus tokenizes ONCE for the union of all query
    terms (map-side in-list filter — document text never shuffles);
    tf/df/idf are term-global so they are computed once and shared by
    every query touching that term; the per-query expansion joins the
    ≤(queries×terms)-row literal frame BROADCAST on term, so the only
    corpus-scale exchange carries (query_id, doc_id) partial scores.
    The per-query cut is a window partitioned by query_id — at any
    corpus size each query's candidate set is already bounded by its
    matching docs.
    """
    if not queries:
        raise ValueError("bm25_batch_topk: queries must be non-empty")
    if k <= 0:
        raise ValueError(f"bm25_batch_topk: k must be positive, got {k}")
    qids = [q for q, _ in queries]
    if len(set(qids)) != len(qids):
        raise ValueError("bm25_batch_topk: duplicate query_id")
    all_terms = sorted({t for _, ts in queries for t in ts})
    _validate_bm25(all_terms, k1, b)
    qt = local_frame(
        docs.sparkSession,
        [(q, t) for q, ts in queries for t in dict.fromkeys(ts)],
        "query_id bigint, term string",
    )
    # same stages as `bm25_scores` but keeping the term grain, which
    # the single-query path collapses before its per-doc sum
    toks = F.filter(
        F.split(F.lower(F.trim(text_col)), _TOKEN_SPLIT),
        lambda x: x != F.lit(""),
    )
    base = docs.select("doc_id", toks.alias("__toks")).select(
        "doc_id",
        F.size("__toks").alias("dl"),
        F.filter("__toks", lambda x: x.isin(all_terms)).alias("__hits"),
    )
    stats = base.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        base.select("doc_id", "dl", F.explode("__hits").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("w"),
        )
    )
    per_query = (
        contrib.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.round(F.sum("w"), round_dp).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        per_query.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "n_terms", "score", "rk")
    )


def bm25_batch_topk_sql(
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 4,
    where: str = "TRUE",
) -> str:
    """DuckDB twin of `bm25_batch_topk` over the documents table."""
    all_terms = sorted({t for _, ts in queries for t in ts})
    in_list = ", ".join(f"'{t}'" for t in all_terms)
    qvals = ", ".join(
        f"({q}, '{t}')" for q, ts in queries for t in dict.fromkeys(ts)
    )
    return f"""
        WITH bq_base AS (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS toks
            FROM documents WHERE {where}
        ),
        bq_stats AS (
            SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl
            FROM bq_base
        ),
        bq_tf AS (
            SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
                SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
                FROM bq_base
            ) WHERE term IN ({in_list})
            GROUP BY doc_id, dl, term
        ),
        bq_idf AS (
            SELECT term,
                   ln(1.0 + (n_docs - COUNT(*) + 0.5) / (COUNT(*) + 0.5))
                       AS idf
            FROM bq_tf CROSS JOIN bq_stats
            GROUP BY term, n_docs
        ),
        bq_queries (query_id, term) AS (VALUES {qvals}),
        bq_scored AS (
            SELECT query_id, doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_terms,
                   ROUND(SUM(
                       idf * (tf * ({k1} + 1.0))
                       / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))
                   ), {round_dp}) AS score
            FROM bq_tf
            JOIN bq_idf USING (term)
            JOIN bq_queries USING (term)
            CROSS JOIN bq_stats
            GROUP BY query_id, doc_id
        )
        SELECT query_id, doc_id, n_terms, score, rk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, doc_id
            ) AS rk FROM bq_scored
        ) WHERE rk <= {k}
    """


def rrf_fuse(
    rankings: dict[str, DataFrame],
    k0: int = 60,
    round_dp: int = 4,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of ≥2 ranked
    lists, each a DataFrame with (doc_id, rank) where rank is 1-based:

        rrf(d) = Σ_lists 1 / (k0 + rank_list(d))

    Docs missing from a list simply contribute nothing for it (the
    standard formulation). Returns (doc_id, n_lists, rrf) — fuse then
    `orderBy(rrf DESC, doc_id).limit(k)` for the final cut. k0=60 is
    the paper's constant; it damps the gap between adjacent ranks so
    one ranker's top hit cannot single-handedly outvote agreement
    lower down."""
    if len(rankings) < 2:
        raise ValueError("rrf_fuse: need at least two rankings")
    if k0 <= 0:
        raise ValueError(f"rrf_fuse: k0 must be positive, got {k0}")
    parts = [
        df.select("doc_id", F.col("rank").cast("bigint").alias("rank"))
        for df in rankings.values()
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lists"),
        F.round(
            F.sum(F.lit(1.0) / (F.lit(float(k0)) + F.col("rank"))), round_dp
        ).alias("rrf"),
    )


def rank_by(
    df: DataFrame, score_col: str, k: int, ascending: bool = False
) -> DataFrame:
    """(doc_id, rank): 1-based ranking of a score table's top-k, ties
    broken on doc_id — the adapter that turns any scored output into
    an `rrf_fuse` input. The cut happens FIRST (orderBy + limit →
    TakeOrdered, per-partition heaps); the row_number window then
    ranks the already-k-row list, so the global window never sees
    corpus-scale input."""
    if k <= 0:
        raise ValueError(f"rank_by: k must be positive, got {k}")
    order = (
        F.col(score_col).asc() if ascending else F.col(score_col).desc()
    )
    w = Window.orderBy(order, F.col("doc_id").asc())
    return (
        df.select("doc_id", score_col)
        .orderBy(order, F.col("doc_id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "rank")
    )
