"""Vocabulary building and corpus encoding — the tokenize-for-training
step of an LLM data pipeline (beyond-reference; BASELINE.json north
star): derive a frequency-ranked token vocabulary from the corpus, then
encode every document to an id sequence against it.

Scale shapes:
  * `build_vocab` is explode → count (partial/final combinable) →
    `orderBy().limit(max_size)`, which Spark plans as TakeOrdered —
    distributed heap-select, NOT a global sort. The only
    single-partition window assigns ids over the ≤ max_size surviving
    rows (kilobytes) — the same bounded-window discipline as
    `pack_sequences`' shard offsets.
  * `encode_docs` broadcasts the vocabulary (a vocab is ≤ a few
    hundred thousand rows — megabytes) so the corpus never shuffles
    for the lookup; the id sequence reassembles per doc with
    array_sort over (position, id) structs — one aggregation shuffle
    on doc_id, order-correct under any partitioning.

Whitespace tokens keep the registry-wide tokenizer contract
(operators/textstats.token_count); swap the split pattern for the
BPE-ish regex where subword budgets matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: id reserved for out-of-vocabulary tokens in encoded sequences.
OOV_ID = 0

# the registry-wide tokenizer contract lives in ONE place — a split-
# pattern change must hit vocab/encode and token counting together
from ad_data_pipelines_spark.operators.textstats import (  # noqa: E402
    TOKEN_SEP as _TOKEN_SPLIT,
)
from ad_data_pipelines_spark.sources.local import local_frame  # noqa: E402


def _tokens(docs: DataFrame, with_pos: bool = False) -> DataFrame:
    split = F.split(F.trim("text"), _TOKEN_SPLIT)
    if with_pos:
        out = docs.select(
            "doc_id", F.posexplode(split).alias("pos", "token")
        )
    else:
        out = docs.select(F.explode(split).alias("token"))
    return out.filter(F.col("token") != "")


def build_vocab(docs: DataFrame, max_size: int = 1000) -> DataFrame:
    """Frequency-ranked vocabulary: (token, token_id, n_occurrences)
    for the `max_size` most frequent tokens; ids start at 1 in
    (count DESC, token ASC) order — deterministic under ties — with 0
    reserved for OOV."""
    counts = _tokens(docs).groupBy("token").agg(
        F.count("*").alias("n_occurrences")
    )
    top = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(max_size)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return top.withColumn(
        "token_id", F.row_number().over(w).cast("bigint")
    ).select("token", "token_id", F.col("n_occurrences").cast("bigint"))


def build_vocab_sql(max_size: int = 1000) -> str:
    """DuckDB twin of `build_vocab` over the documents table."""
    return f"""
        WITH toks AS (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
            FROM documents
        ),
        counts AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM toks WHERE token <> '' GROUP BY 1
        )
        SELECT token, token_id, n_occurrences FROM (
            SELECT token, n_occurrences,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY n_occurrences DESC, token
                   ) AS BIGINT) AS token_id
            FROM counts
        ) WHERE token_id <= {max_size}
    """


def vocab_coverage(
    docs: DataFrame, sizes: tuple[int, ...] = (100, 1000, 10000)
) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-sizing diagnostic:
    for each candidate vocab size K, the fraction of corpus token
    OCCURRENCES covered by the K most frequent types (same
    (count DESC, token ASC) rank as `build_vocab`, so coverage(K) is
    exactly the non-OOV occurrence share a K-sized `build_vocab`
    would achieve). Returns (vocab_size, n_types, coverage) with
    n_types = min(K, |V|) — coverage 1.0 once K exhausts the
    vocabulary.

    Scale shape: ONE token explode into a combinable (token, count)
    aggregate; the rank/running-sum window runs over the AGGREGATED
    vocabulary (post-aggregate single partition — the w8 pattern, and
    vocabulary size, not corpus size); sizes broadcast; the final
    aggregate groups len(sizes) keys."""
    if not sizes or any(s < 1 for s in sizes):
        raise ValueError(f"sizes must be positive, got {sizes}")
    counts = _tokens(docs).groupBy("token").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    ranked = counts.select(
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.sum("n")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    total = counts.agg(F.sum("n").alias("t"))
    sizes_df = local_frame(
        docs.sparkSession,
        [(int(s),) for s in sorted(set(sizes))],
        "vocab_size bigint",
    )
    return (
        ranked.join(
            F.broadcast(sizes_df), F.col("rk") <= F.col("vocab_size")
        )
        .groupBy("vocab_size")
        .agg(
            F.max("rk").alias("n_types"),
            F.max("cum").alias("cov_n"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "vocab_size",
            "n_types",
            F.round(F.col("cov_n") / F.col("t"), 6).alias("coverage"),
        )
    )


def vocab_coverage_sql(sizes: tuple[int, ...] = (100, 1000, 10000)) -> str:
    """DuckDB twin of `vocab_coverage` over the documents table."""
    size_list = ", ".join(str(int(s)) for s in sorted(set(sizes)))
    return f"""
        WITH toks AS (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
            FROM documents
        ),
        counts AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n
            FROM toks WHERE token <> '' GROUP BY 1
        ),
        ranked AS (
            SELECT CAST(ROW_NUMBER() OVER (
                       ORDER BY n DESC, token
                   ) AS BIGINT) AS rk,
                   SUM(n) OVER (
                       ORDER BY n DESC, token
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM counts
        ),
        total AS (SELECT SUM(n) AS t FROM counts),
        sizes AS (
            SELECT CAST(unnest([{size_list}]) AS BIGINT) AS vocab_size
        )
        SELECT vocab_size,
               CAST(MAX(rk) AS BIGINT) AS n_types,
               ROUND(CAST(MAX(cum) AS DOUBLE) / t, 6) AS coverage
        FROM ranked
        JOIN sizes ON rk <= vocab_size
        CROSS JOIN total
        GROUP BY vocab_size, t
    """


def encode_docs(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Encode each document against a `build_vocab` table: one row per
    doc with `token_ids` (array<bigint>, OOV → 0, original token
    order), `n_tokens`, and `n_oov`. Docs with no tokens get an empty
    sequence, never a missing row."""
    toks = _tokens(docs, with_pos=True)
    joined = toks.join(
        F.broadcast(vocab.select("token", "token_id")), "token", "left"
    ).select(
        "doc_id",
        "pos",
        F.coalesce("token_id", F.lit(OOV_ID)).alias("tid"),
    )
    seqs = joined.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))),
            lambda s: s["tid"],
        ).alias("token_ids"),
        F.count("*").cast("bigint").alias("n_tokens"),
        F.count(F.when(F.col("tid") == OOV_ID, 1)).cast("bigint").alias("n_oov"),
    )
    return (
        docs.select("doc_id")
        .join(seqs, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("token_ids", F.array().cast("array<bigint>")).alias(
                "token_ids"
            ),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        )
    )


def encode_docs_sql(max_size: int = 1000) -> str:
    """DuckDB twin of `encode_docs` against the `build_vocab` vocab,
    with token_ids rendered as a space-joined string (engine-neutral
    value hashing; the Spark registry query renders the same way)."""
    return f"""
        WITH vocab AS ({build_vocab_sql(max_size)}),
        d AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
            FROM documents
        ),
        exploded AS (
            SELECT doc_id, i AS pos, arr[i] AS token
            FROM d, LATERAL unnest(generate_series(1, len(arr))) AS t(i)
            WHERE arr[i] <> ''
        ),
        ids AS (
            SELECT e.doc_id,
                   COALESCE(v.token_id, {OOV_ID}) AS tid,
                   e.pos
            FROM exploded e LEFT JOIN vocab v USING (token)
        ),
        seqs AS (
            SELECT doc_id,
                   array_to_string(list(tid ORDER BY pos), ' ') AS token_ids,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(COUNT(CASE WHEN tid = {OOV_ID} THEN 1 END) AS BIGINT)
                       AS n_oov
            FROM ids GROUP BY 1
        )
        SELECT doc_id,
               COALESCE(s.token_ids, '') AS token_ids,
               COALESCE(s.n_tokens, 0) AS n_tokens,
               COALESCE(s.n_oov, 0) AS n_oov
        FROM d LEFT JOIN seqs s USING (doc_id)
    """


def word_symbol_table(docs: DataFrame) -> DataFrame:
    """(word, count, syms): distinct corpus words with frequencies,
    each split into single-character symbols — BPE's working table.
    The corpus-sized pass happens HERE, once; every merge iteration
    afterwards runs on this |distinct words| table."""
    words = _tokens(docs).groupBy("token").agg(F.count("*").alias("count"))
    # NB: Spark's split keeps trailing empty strings (limit=-1
    # semantics), so the zero-width char split needs the empty filter
    syms = F.filter(
        F.split(F.col("token"), "(?!^)"), lambda x: x != F.lit("")
    )
    return words.select(
        F.col("token").alias("word"), "count", syms.alias("syms")
    )


def _pair_counts(word_syms: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the word table: one narrow
    zip_with over two array slices (no posexplode+window), then a
    combinable aggregate."""
    n = F.size("syms")
    pairs = F.zip_with(
        F.slice("syms", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("syms", 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return (
        word_syms.filter(n >= 2)
        .select("count", F.explode(pairs).alias("p"))
        .groupBy("p.a", "p.b")
        .agg(F.sum("count").alias("n"))
    )


def _merge_pair(word_syms: DataFrame, a: str, b: str) -> DataFrame:
    """Left-to-right non-overlapping merge of the (a, b) symbol pair in
    every word — a map-only fold over each symbol array."""
    la, lb = F.lit(a), F.lit(b)
    merged = F.aggregate(
        "syms",
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == la)
            & (x == lb),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(la, lb)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return word_syms.select("word", "count", merged.alias("syms"))


def train_bpe(
    docs: DataFrame, n_merges: int = 20
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Byte-pair-encoding trainer (Sennrich et al. 2016, the subword
    algorithm behind GPT/Llama tokenizers), Spark-shaped: returns the
    ordered merge list and the final (word, count, syms) table.

    Scale contract: the corpus is touched ONCE (word-count aggregate);
    each of the `n_merges` iterations runs a combinable pair-count
    over the |distinct words| table, collects exactly ONE argmax row
    to the driver (the same legitimate iterative-coordination shape
    as KMeans / the connected-components convergence counter), and
    applies the merge map-side. The working table persists per round
    and unpersists its predecessor, so lineage stays one round deep.
    Ties break deterministically on (count desc, a asc, b asc) —
    engine- and partitioning-independent merge sequences.

    Stops early when no adjacent pair remains (fully merged corpus).
    """
    table = word_symbol_table(docs).persist()
    table.count()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = (
            _pair_counts(table)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b = best[0].a, best[0].b
        merges.append((a, b))
        nxt = _merge_pair(table, a, b).persist()
        nxt.count()
        table.unpersist()
        table = nxt
    return merges, table


def bpe_symbol_vocab(word_syms: DataFrame) -> DataFrame:
    """(symbol, n_occurrences) over the trained word table — the
    subword vocabulary the merge list induces (weighted by word
    frequency, one explode + combinable count)."""
    return (
        word_syms.select("count", F.explode("syms").alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("count").cast("bigint").alias("n_occurrences"))
    )


def _apply_merges_word(word: str, ranks: dict) -> list[str]:
    """Rank-priority BPE encoding of one word (the GPT-2 `bpe()` loop):
    repeatedly merge every left-to-right non-overlapping occurrence of
    the lowest-ranked adjacent pair present. Equivalent to replaying
    the merge list in order (`_merge_pair` per merge) because a merge
    can only create adjacencies involving its NEW symbol — and any
    trained merge referencing that symbol necessarily ranks later —
    so applying a later merge never re-enables an earlier one. Cost is
    O(len(word)^2) regardless of merge-list size, vs O(n_merges)
    Catalyst passes for the expression path."""
    syms = list(word)
    while len(syms) >= 2:
        best = None
        best_rank = None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, pair
        if best is None:
            break
        a, b = best
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _word_pieces_arrow(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """(token, word_pieces) for every distinct word via ONE Arrow
    `mapInPandas` pass — the production path for vocabulary-scale
    merge lists (30k+ merges), where chaining one Catalyst fold per
    merge would build an unplannable expression tree. The merge-rank
    dict ships once per task in the serialized closure (a 30k-merge
    list is ~1 MB — broadcast-variable territory on a real cluster,
    closure capture is the same mechanics here)."""
    import pandas as pd  # deferred: Arrow path only

    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_batches(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "token": pdf["word"],
                    "word_pieces": [
                        _apply_merges_word(w, ranks) for w in pdf["word"]
                    ],
                }
            )

    return words.select("word").mapInPandas(
        encode_batches, "token string, word_pieces array<string>"
    )


#: merge-list size above which `bpe_encode` switches from per-merge
#: Catalyst folds to the single-pass Arrow encoder. 64 chained folds
#: plan fine; a real 30k-merge tokenizer vocabulary does not.
ARROW_ENCODE_THRESHOLD = 64


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    engine: str | None = None,
) -> DataFrame:
    """(doc_id, pieces): each document's whitespace words split to
    subword pieces by replaying the trained merge list IN ORDER —
    tokenization-side BPE (the trainer's counterpart; exact on words
    never seen in training, which simply merge as far as the list
    allows).

    Plan shape: merges replay over the DISTINCT-WORD table, then the
    word→pieces map broadcast-joins back onto the token stream, and
    documents reassemble with one aggregate on doc_id. The corpus
    itself is touched by exactly one tokenize pass and one shuffle —
    the same contract as `encode_docs`.

    Two equivalent replay engines (`engine`, default auto by
    `ARROW_ENCODE_THRESHOLD`):
      * 'expr'  — one narrow Catalyst fold per merge (`_merge_pair`,
        the trainer's own operator); all-JVM, ideal for short lists.
      * 'arrow' — ONE `mapInPandas` pass running the rank-priority
        loop per word (`_apply_merges_word`); O(1) plan depth, the
        production path for vocabulary-scale merge lists.
    Both run on |distinct words| rows, never the corpus.

    Engine-equivalence precondition: the two engines replay merges in
    different orders ('expr' strictly in list order, 'arrow' by rank
    priority wherever applicable), so they are only guaranteed to
    agree on TRAINED merge lists — each merge's operands buildable
    from single characters and STRICTLY EARLIER merges, which is what
    `bpe_train` emits by construction. A hand-crafted list that
    violates this (e.g. [('ab','c'), ('a','b')]) tokenizes differently
    per engine; auto-selection would silently switch semantics at the
    threshold, so `engine=None` VALIDATES buildability and raises on
    violation — pass an explicit engine to opt into that engine's
    replay order for such lists.
    """
    if engine is None:
        # Divergence requires a FORWARD reference: a multi-char operand
        # produced only by a LATER merge ('expr' replays past it before
        # it exists; 'arrow' rank-priority applies it after). An operand
        # no merge ever produces is inert under both engines (the
        # symbol can never exist), so it's allowed — the trainer's
        # in-order-buildable lists trivially pass.
        outputs = [a + b for a, b in merges]
        produced = set(outputs)
        built: set[str] = set()
        for i, (a, b) in enumerate(merges):
            for operand in (a, b):
                if (
                    len(operand) > 1
                    and operand not in built
                    and operand in produced
                ):
                    raise ValueError(
                        f"bpe_encode: merge {i} {(a, b)!r} references "
                        f"symbol {operand!r} produced only by a later "
                        "merge — the 'expr' and 'arrow' engines diverge "
                        "on such lists; pass engine='expr' or "
                        "engine='arrow' explicitly"
                    )
            built.add(outputs[i])
        engine = (
            "arrow" if len(merges) > ARROW_ENCODE_THRESHOLD else "expr"
        )
    toks = _tokens(docs, with_pos=True)
    distinct_words = toks.select(
        F.col("token").alias("word")
    ).distinct()
    if engine == "arrow":
        pieces_map = _word_pieces_arrow(distinct_words, merges)
    elif engine == "expr":
        syms = F.filter(
            F.split(F.col("word"), "(?!^)"), lambda x: x != F.lit("")
        )
        words = distinct_words.select(
            "word", F.lit(1).alias("count"), syms.alias("syms")
        )
        for a, b in merges:
            words = _merge_pair(words, a, b)
        pieces_map = words.select(
            F.col("word").alias("token"),
            F.col("syms").alias("word_pieces"),
        )
    else:
        raise ValueError(f"unknown bpe_encode engine: {engine!r}")
    return (
        toks.join(F.broadcast(pieces_map), "token")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("pos", "word_pieces"))
                ).word_pieces
            ).alias("pieces")
        )
    )
