"""Behavioral tests that the oracle harness can't express: approximation
accuracy (HLL, ANN recall) and property-style invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ad_data_pipelines_spark.operators import dedup, similarity
from tests.conftest import SF_MEDIUM, SF_SMALL


def test_hll_within_rsd(spark):
    """approx_count_distinct(rsd=0.01) must sit within ~5σ of exact —
    mirrors the reference's HyperLogLog(0.01) accuracy contract."""
    li = spark.read.parquet(f"{SF_MEDIUM}/lineitem.parquet")
    exact = li.agg(F.countDistinct("l_suppkey")).first()[0]
    approx = li.agg(F.approx_count_distinct("l_suppkey", 0.01)).first()[0]
    assert abs(approx - exact) / exact < 0.05


def test_ann_recall_floor(spark):
    """LSH-bucketed ANN must recover a reasonable fraction of brute-force
    neighbors. 8 hyperplanes/256 buckets on 64-dim unit vectors: recall
    is modest by design (single-probe), assert a floor not perfection."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(emb, queries, k=5)
    approx = similarity.lsh_topk(emb, queries, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.2, f"ANN recall collapsed: {recall}"


def test_kmeans_fp_planted_blobs_and_guards(spark):
    """Deterministic fixed-point Lloyd: (a) two planted tight blobs
    (around +e1 and +e2) separate perfectly with blob-mean centroids
    regardless of which blob the seeds start in; (b) an emptied cell
    carries its previous centroid (duplicate seed vectors: all ties go
    to the lowest cell, the other empties); (c) de-quantized
    `kmeans_centroids` matches centroid_fp/2^20 − 1 exactly;
    (d) degenerate parameters raise."""
    import pytest

    dim = 8

    def vec(axis, eps):
        v = [0.0] * dim
        v[axis] = 1.0 - abs(eps)
        v[(axis + 1) % dim] = eps
        return v

    rows = []
    for i in range(10):  # blob A around e0
        rows.append((i, vec(0, 0.01 * (i % 3))))
    for i in range(10, 20):  # blob B around e2
        rows.append((i, vec(2, 0.01 * (i % 3))))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    out = {
        r.cell_id: (r.n_members, list(r.centroid_fp))
        for r in similarity.kmeans_fp(emb, n_cells=2, iterations=3).collect()
    }
    # seeds 0 and 1 both start in blob A, but one Lloyd update pulls a
    # centroid to each blob (blob B's points all assign to the nearer
    # seed and drag it over) — 10/10 split
    assert sorted(v[0] for v in out.values()) == [10, 10]
    s = 1 << 20
    cents = {j: [f / s - 1.0 for f in v[1]] for j, v in out.items()}
    # one centroid lives on axis 0, the other on axis 2
    axes = sorted(max(range(dim), key=lambda d: c[d]) for c in cents.values())
    assert axes == [0, 2]

    # (b) duplicate seeds: in update 1 every point ties to the LOWEST
    # cell (cell 1 empties and CARRIES its seed centroid bit-exact);
    # the final assignment then runs under (mean-of-all, seed) — the
    # two exact-seed points snap back to the carried centroid (dist
    # 0) and the off-seed point stays with the dragged mean
    dup = spark.createDataFrame(
        [(0, vec(0, 0.0)), (1, vec(0, 0.0)), (2, vec(0, 0.01))],
        "vec_id bigint, embedding array<double>",
    )
    dout = {
        r.cell_id: (r.n_members, list(r.centroid_fp))
        for r in similarity.kmeans_fp(dup, n_cells=2, iterations=1).collect()
    }
    assert dout[0][0] == 1 and dout[1][0] == 2
    seed1_fp = [int((x + 1.0) * s) for x in vec(0, 0.0)]
    assert dout[1][1] == seed1_fp  # the carried centroid, bit-exact

    # (c) the de-quantized contract
    dq = {
        r.cell_id: list(r.cent_emb)
        for r in similarity.kmeans_centroids(
            emb, n_cells=2, iterations=3
        ).collect()
    }
    for j in dq:
        assert dq[j] == cents[j]

    # (d) guards
    with pytest.raises(ValueError, match="n_cells"):
        similarity.kmeans_fp(emb, n_cells=0)
    with pytest.raises(ValueError, match="iterations"):
        similarity.kmeans_fp(emb, iterations=0)
    with pytest.raises(ValueError, match="seeds must be exactly"):
        similarity.kmeans_fp(emb.filter(F.col("vec_id") >= 19), n_cells=2)
    # duplicate ids below n_cells would seed phantom cells whose sums
    # the rebuild silently drops — must refuse (ADVICE r13)
    dup_ids = spark.createDataFrame(
        [(0, vec(0, 0.0)), (0, vec(2, 0.0)), (1, vec(0, 0.01))],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="seeds must be exactly"):
        similarity.kmeans_fp(dup_ids, n_cells=2)
    neg_ids = spark.createDataFrame(
        [(-1, vec(0, 0.0)), (0, vec(2, 0.0)), (1, vec(0, 0.01))],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="seeds must be exactly"):
        similarity.kmeans_fp(neg_ids, n_cells=2)
    # literal-embedded centroids cap: large codebooks belong to Spark ML
    with pytest.raises(ValueError, match="ivf_train_centroids"):
        similarity.kmeans_fp(emb, n_cells=257)


def test_ivf_recall_floor(spark):
    """IVF cell-probe ANN (4 cells, nprobe=2 → ~half the corpus probed)
    must recover a healthy fraction of brute-force neighbors."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(emb, queries, k=5)
    approx = similarity.ivf_topk(emb, queries, k=5, n_cells=4, nprobe=2)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"


def test_hard_negatives_excludes_query_cluster(spark):
    """Planted scenario where the near-dup exclusion MUST bite (the
    sf0.01 gate run exercises the agreement with DuckDB but its query
    set happens to have no clustered top-5 neighbors): query 0's
    nearest vector by cosine is its own dup-cluster partner 1 — a
    FALSE negative for contrastive training — so hard_negatives must
    skip it and return the next-best vectors 2 and 3; singleton
    vectors exclude only themselves; ranks re-pack densely."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9999, 0.0141]),  # near-identical to 0, same cluster
            (2, [0.95, 0.3122]),
            (3, [0.80, 0.60]),
            (4, [0.0, 1.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0)], "doc_id bigint, component bigint"
    )
    out = similarity.hard_negatives(
        emb, F.col("vec_id") < 1, clusters, k=2
    ).collect()
    got = [(r.neighbor_id, r.rk) for r in sorted(out, key=lambda r: r.rk)]
    assert got == [(2, 1), (3, 2)]  # partner 1 excluded, ranks dense
    # without the cluster table entry, 1 would have been rank 1
    plain = similarity.hard_negatives(
        emb, F.col("vec_id") < 1,
        spark.createDataFrame([], "doc_id bigint, component bigint"),
        k=2,
    ).collect()
    assert [(r.neighbor_id, r.rk)
            for r in sorted(plain, key=lambda r: r.rk)] == [(1, 1), (2, 2)]


def test_lsh_candidates_superset_of_high_jaccard(spark):
    """Property: every pair with high estimated signature agreement must
    have been produced by the band join (banding can only *miss* pairs
    whose bands all differ — 16/16 agreement implies all bands equal)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    sigs = dedup.minhash_signatures(docs).cache()
    pairs = dedup.lsh_candidate_pairs(sigs)
    full_agree = pairs.filter(F.col("n_eq") == 16).count()
    # all 16-equal pairs are trivially in the candidate set; sanity only
    assert pairs.count() >= full_agree


def test_minhash_estimates_track_true_jaccard(spark):
    """MinHash n_eq/16 should correlate with true Jaccard on candidate
    pairs: mean absolute error under ~2/sqrt(16)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(
        F.col("doc_id") < 100
    )
    true_pairs = {
        (r.doc_a, r.doc_b): r.jac
        for r in dedup.ngram_jaccard_pairs(docs, min_jaccard=0.15).collect()
    }
    sigs = dedup.minhash_signatures(docs)
    est_pairs = {
        (r.doc_a, r.doc_b): r.n_eq / 16.0
        for r in dedup.lsh_candidate_pairs(sigs).collect()
    }
    common = set(true_pairs) & set(est_pairs)
    if common:
        mae = sum(abs(true_pairs[p] - est_pairs[p]) for p in common) / len(common)
        assert mae < 0.5


def test_simhash_identical_docs_equal(spark):
    """Identical texts must produce identical simhash values."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(5)
    doubled = docs.union(docs)
    out = dedup.simhash(doubled)
    # union collapses per doc_id into the same hash → one distinct hash/doc
    assert out.select("doc_id", "simhash").distinct().count() == 5


@pytest.mark.parametrize(
    "driver_threshold, algo",
    [(5_000_000, "star"), (0, "star"), (0, "jump")],
)
def test_connected_components_shapes(spark, driver_threshold, algo):
    """Chain, triangle, and disjoint pair must each collapse to min-id
    components — identically on the driver union-find path (default),
    the distributed large-star/small-star path, and the distributed
    pointer-jumping path (threshold=0)."""
    edges = spark.createDataFrame(
        # chain 1-2-3-4-5, triangle 10-11-12 (+ redundant edge), pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "doc_a INT, doc_b INT",
    )
    got = {
        (r.doc_id, r.component)
        for r in dedup.connected_components(
            edges, driver_threshold=driver_threshold,
            distributed_algo=algo,
        ).collect()
    }
    want = {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
            (10, 10), (11, 10), (12, 10),
            (20, 20), (21, 20)}
    assert got == want


def test_dup_components_partitions_cluster_docs(spark):
    """Every doc in the output belongs to exactly one cluster, the keeper
    is the min doc_id of its cluster, and clusters are closed under the
    strong-pair edge set."""
    docs = spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
    comp = dedup.dup_components(docs, min_eq=8).collect()
    by_comp: dict[int, list[int]] = {}
    for r in comp:
        by_comp.setdefault(r.component, []).append(r.doc_id)
        assert r.is_keeper == (1 if r.doc_id == r.component else 0)
    for c, members in by_comp.items():
        assert min(members) == c
    # doc appears once
    ids = [r.doc_id for r in comp]
    assert len(ids) == len(set(ids))


def test_hash_split_deterministic_across_partitioning(spark):
    """Split assignment must be identical regardless of partition layout
    (the property df.sample() lacks), and fractions must land near the
    requested 80/10/10."""
    from ad_data_pipelines_spark.operators.sampling import hash_split

    docs = spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
    a = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    b = hash_split(
        docs.repartition(17, "lang"),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    ma = {r.doc_id: r.split for r in a.select("doc_id", "split").collect()}
    mb = {r.doc_id: r.split for r in b.select("doc_id", "split").collect()}
    assert ma == mb
    n = len(ma)
    from collections import Counter

    frac = {k: v / n for k, v in Counter(ma.values()).items()}
    assert abs(frac.get("train", 0) - 0.8) < 0.08
    assert set(frac) == {"train", "val", "test"}


def test_approx_percentile_near_exact(spark):
    """approx_percentile(…, 10000) must land within 2% of the exact
    percentile on the token-count distribution (the accuracy contract
    behind llm_quality_quantile_approx)."""
    from ad_data_pipelines_spark.operators import textstats as ts

    docs = spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
    tok = docs.select(ts.token_count("text").alias("n"))
    row = tok.agg(
        F.expr("percentile(n, 0.5)").alias("exact"),
        F.expr("approx_percentile(n, 0.5, 10000)").alias("approx"),
    ).first()
    assert abs(row.approx - row.exact) / max(row.exact, 1) < 0.02


def test_asof_join_semantics(spark):
    """Backward match at-or-before, NULL-payload rows still match (the
    struct carries the match, not the bare column), tolerance nulls out
    stale matches, and right-name collisions are rejected."""
    import datetime as dt

    import pytest

    from ad_data_pipelines_spark.operators.asof import asof_join

    T = dt.datetime
    left = spark.createDataFrame(
        [(1, T(2025, 1, 1, 10, 0), "a"),
         (1, T(2025, 1, 1, 12, 0), "b"),
         (2, T(2025, 1, 1, 9, 0), "c")],
        "k int, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, T(2025, 1, 1, 9, 30), 10.0),
         (1, T(2025, 1, 1, 11, 0), None),   # NULL payload must still win
         (1, T(2025, 1, 1, 12, 0), 30.0)],  # tie with left @12:00 matches
        "k int, rts timestamp, v double",
    )
    out = {
        (r.k, r.ts): (r.asof_ts, r.v)
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts",
            right_cols=["v"],
        ).collect()
    }
    assert out[(1, T(2025, 1, 1, 10, 0))] == (T(2025, 1, 1, 9, 30), 10.0)
    # 11:00 row matched even though its payload is NULL — not skipped to 9:30
    assert out[(1, T(2025, 1, 1, 12, 0))] == (T(2025, 1, 1, 12, 0), 30.0)
    assert out[(2, T(2025, 1, 1, 9, 0))] == (None, None)

    tol = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="rts",
        right_cols=["v"], tolerance=F.expr("INTERVAL 20 MINUTES"),
    )
    got = {(r.k, r.ts): r.asof_ts for r in tol.collect()}
    assert got[(1, T(2025, 1, 1, 10, 0))] is None  # 9:30 is 30 min stale
    assert got[(1, T(2025, 1, 1, 12, 0))] == T(2025, 1, 1, 12, 0)

    with pytest.raises(ValueError, match="collide"):
        asof_join(
            left, right.withColumnRenamed("v", "tag"),
            on=["k"], left_ts="ts", right_ts="rts", right_cols=["tag"],
        )


def test_chunk_documents_window_math(spark):
    """Chunk boundaries: overlap honored, last chunk short, tiny/empty
    docs yield exactly one chunk, ids deterministic."""
    import pytest

    from ad_data_pipelines_spark.operators import chunking

    docs = spark.createDataFrame(
        [(1, "a" * 500), (2, "b" * 10), (3, ""), (4, None)],
        "doc_id bigint, text string",
    )
    out = chunking.chunk_documents(docs, chunk_chars=256, overlap=64)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    # doc 1: ceil((500-64)/192) = 3 chunks at starts 1, 193, 385
    assert {k[1] for k in rows if k[0] == 1} == {0, 1, 2}
    assert len(rows[(1, 0)].chunk_text) == 256
    assert len(rows[(1, 1)].chunk_text) == 256
    assert len(rows[(1, 2)].chunk_text) == 500 - 384  # short tail
    # consecutive chunks overlap by 64 chars
    assert rows[(1, 0)].chunk_text[-64:] == rows[(1, 1)].chunk_text[:64]
    # tiny/empty/null docs: exactly one chunk each
    assert {k[1] for k in rows if k[0] == 2} == {0}
    assert rows[(3, 0)].chunk_text == ""
    assert rows[(4, 0)].chunk_text is None
    # deterministic id
    a = chunking.chunk_documents(docs).select("chunk_id").collect()
    b = chunking.chunk_documents(docs.repartition(7)).select("chunk_id").collect()
    assert sorted(r.chunk_id for r in a) == sorted(r.chunk_id for r in b)
    with pytest.raises(ValueError, match="overlap"):
        chunking.chunk_documents(docs, chunk_chars=64, overlap=64)


def test_stratified_sample_properties(spark):
    """Nested fractions are supersets (same salt), assignment is
    partition-independent, and unknown strata use the default."""
    from ad_data_pipelines_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
    s10 = sampling.stratified_sample(
        docs, "lang", {"en": 0.1}, key="doc_id", default=0.0
    )
    s20 = sampling.stratified_sample(
        docs, "lang", {"en": 0.2}, key="doc_id", default=0.0
    )
    ids10 = {r.doc_id for r in s10.select("doc_id").collect()}
    ids20 = {r.doc_id for r in s20.select("doc_id").collect()}
    assert ids10 <= ids20 and len(ids10) < len(ids20)
    # only the named stratum survives with default=0
    assert {r.lang for r in s10.select("lang").distinct().collect()} == {"en"}
    # partition-layout independence
    ids10b = {
        r.doc_id
        for r in sampling.stratified_sample(
            docs.repartition(13, "lang"), "lang", {"en": 0.1},
            key="doc_id", default=0.0,
        ).select("doc_id").collect()
    }
    assert ids10b == ids10


def test_stratified_topk_exact_counts(spark):
    """Exactly min(k, |stratum|) rows per stratum; deterministic."""
    from ad_data_pipelines_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    out = sampling.stratified_topk(docs, ["lang"], 50, key="doc_id")
    got = {r.lang: r.n for r in out.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    assert got == {lang: min(50, n) for lang, n in sizes.items()}
    a = sorted(r.doc_id for r in out.select("doc_id").collect())
    b = sorted(
        r.doc_id
        for r in sampling.stratified_topk(
            docs.repartition(7), ["lang"], 50, key="doc_id"
        ).select("doc_id").collect()
    )
    assert a == b


def test_scd2_history_intervals(spark):
    """Runs collapse to right-open intervals, NULL<->value transitions
    open new intervals, last interval stays open (valid_to NULL)."""
    import datetime as dt

    from ad_data_pipelines_spark.operators.scd import scd2_history

    D = dt.date
    snaps = spark.createDataFrame(
        [(1, D(2025, 1, 1), "gold"),
         (1, D(2025, 1, 2), "gold"),
         (1, D(2025, 1, 3), "silver"),
         (1, D(2025, 1, 4), None),
         (1, D(2025, 1, 5), None),
         (1, D(2025, 1, 6), "gold"),
         (2, D(2025, 1, 1), "basic")],
        "k int, snap date, tier string",
    )
    out = sorted(
        (r.k, r.valid_from, r.valid_to, r.tier)
        for r in scd2_history(
            snaps.repartition(F.col("k")), keys=["k"], attrs=["tier"],
            order_col="snap",
        ).collect()
    )
    assert out == [
        (1, D(2025, 1, 1), D(2025, 1, 3), "gold"),
        (1, D(2025, 1, 3), D(2025, 1, 4), "silver"),
        (1, D(2025, 1, 4), D(2025, 1, 6), None),
        (1, D(2025, 1, 6), None, "gold"),
        (2, D(2025, 1, 1), None, "basic"),
    ]


def test_pii_scrub_cross_engine(spark, duck):
    """The PII patterns live in the Java-regex ∩ RE2 common subset:
    counts and redacted text must agree byte-for-byte between Spark and
    DuckDB on crafted rows (the synthetic corpus is PII-free, so the
    registry entry alone can't prove the regexes agree)."""
    import pandas as pd

    from ad_data_pipelines_spark.operators import scrub

    texts = [
        "contact john.doe+spam@example.co.uk or visit https://a.b/c?x=1 now",
        "server at 192.168.0.1 and 10.0.0.255, card 1234567890123456",
        "no pii here, just words and short numbers 12345678",
        "two mails: a@b.io c.d@e-f.org and http://plain.example",
        "",
    ]
    sdf = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                "doc_id long, text string")
    flagged = {r.doc_id: r for r in scrub.flag_pii(sdf).collect()}

    duck.register("pii_docs", pd.DataFrame({"doc_id": range(len(texts)),
                                            "text": texts}))
    counts_sql = scrub.pii_counts_sql("text")
    sel = ", ".join(f"{expr} AS n_{k}" for k, expr in counts_sql.items())
    drows = duck.execute(
        f"SELECT doc_id, {sel}, {scrub.pii_redact_sql('text')} AS red "
        "FROM pii_docs"
    ).fetchall()
    for doc_id, n_email, n_url, n_ipv4, n_longnum, red in drows:
        s = flagged[doc_id]
        assert (s.n_email, s.n_url, s.n_ipv4, s.n_longnum) == (
            n_email, n_url, n_ipv4, n_longnum), (doc_id, s)
        assert s.text_redacted == red, (doc_id, s.text_redacted, red)
    # sanity: the crafted rows actually exercise every pattern
    assert flagged[0].n_email == 1 and flagged[0].n_url == 1
    assert flagged[1].n_ipv4 == 2 and flagged[1].n_longnum == 1
    assert flagged[2].has_pii == 0 and flagged[3].n_email == 2
    assert "<EMAIL>" in flagged[0].text_redacted
    assert "<IPV4>" in flagged[1].text_redacted


def test_word_ngram_hashes_short_doc_guard(spark):
    """Docs with fewer than n words emit NO grams (Spark's
    sequence(1,0) is descending, not empty — the operator must guard),
    and gram hashes are position-distinct within a doc."""
    from ad_data_pipelines_spark.operators.dedup import word_ngram_hashes

    docs = spark.createDataFrame(
        [(1, "only three words"),
         (2, "a b c d e f g h i"),   # 9 words → 2 distinct 8-grams
         (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = word_ngram_hashes(docs, n=8).collect()
    by_doc: dict[int, int] = {}
    for r in rows:
        by_doc[r.doc_id] = by_doc.get(r.doc_id, 0) + 1
    assert by_doc == {2: 2}


def test_sketch_rollup_matches_exact_distinct(spark, tmp_path):
    """Daily HLL sketches merged to month/overall estimate the exact
    distinct counts within HLL error, INCLUDING after a parquet
    round-trip — the property that makes sketches materializable state
    (per-day sketches stored once, any coarser rollup without
    rescanning the facts)."""
    from ad_data_pipelines_spark.operators.agg import (
        merge_sketches,
        sketch_distinct,
    )

    orders = spark.read.parquet(f"{SF_MEDIUM}/orders.parquet").select(
        F.col("o_custkey").alias("user"),
        F.date_trunc("day", "o_orderdate").alias("day"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    )
    daily = sketch_distinct(orders, "user", ["month", "day"])
    daily.write.mode("overwrite").parquet(str(tmp_path / "sketches"))
    stored = spark.read.parquet(str(tmp_path / "sketches"))

    monthly = {
        r.month: r.distinct_est
        for r in merge_sketches(stored, ["month"]).collect()
    }
    exact = {
        r.month: r.n
        for r in orders.groupBy("month")
        .agg(F.countDistinct("user").alias("n"))
        .collect()
    }
    assert set(monthly) == set(exact)
    for m, n in exact.items():
        assert abs(monthly[m] - n) / n < 0.05, (m, monthly[m], n)
    # overall rollup from the same stored sketches
    overall = merge_sketches(
        stored.withColumn("all", F.lit(1)), ["all"]
    ).collect()[0].distinct_est
    exact_all = orders.select("user").distinct().count()
    assert abs(overall - exact_all) / exact_all < 0.05


def test_chunk_by_tokens_window_math(spark):
    """Token windows: overlap in tokens, short tail, guard rejects
    overlap >= chunk size, token counts exact."""
    import pytest

    from ad_data_pipelines_spark.operators import chunking

    text = " ".join(f"w{i}" for i in range(100))  # 100 tokens
    docs = spark.createDataFrame(
        [(1, text), (2, "a b c"), (3, ""), (4, None)],
        "doc_id bigint, text string",
    )
    out = chunking.chunk_by_tokens(docs, chunk_tokens=64, overlap=16)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    # doc 1: ceil((100-16)/48) = 2 chunks; tokens 1-64 then 49-100
    assert {k[1] for k in rows if k[0] == 1} == {0, 1}
    assert rows[(1, 0)].n_chunk_tokens == 64
    assert rows[(1, 1)].n_chunk_tokens == 100 - 48
    w0 = rows[(1, 0)].chunk_text.split(" ")
    w1 = rows[(1, 1)].chunk_text.split(" ")
    assert w0[-16:] == w1[:16]  # 16-token overlap
    assert w0[0] == "w0" and w1[-1] == "w99"
    assert rows[(2, 0)].n_chunk_tokens == 3
    assert rows[(3, 0)].n_chunk_tokens == 0
    assert rows[(4, 0)].chunk_text == ""
    with pytest.raises(ValueError, match="overlap"):
        chunking.chunk_by_tokens(docs, chunk_tokens=16, overlap=16)


def test_char_entropy_known_values(spark):
    """Entropy anchors: single repeated char = 0 bits, uniform 4-char
    alphabet = 2 bits, empty/null docs emit no row."""
    import math

    from ad_data_pipelines_spark.operators.textstats import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abcdabcd"), (3, "ab"), (4, ""), (5, None)],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r.char_entropy for r in char_entropy(docs).collect()}
    assert got[1] == 0.0
    assert got[2] == 2.0
    assert math.isclose(got[3], 1.0)
    assert set(got) == {1, 2, 3}


def test_bpe_token_count_segmentation(spark, duck):
    """BPE-ish pre-tokens: letters/digits/punct split apart, leading
    space absorbed; counts agree with DuckDB on mixed text."""
    import pandas as pd

    from ad_data_pipelines_spark.operators.textstats import (
        bpe_token_count,
        bpe_token_count_sql,
    )

    texts = [
        "hello world",        # 2
        "it's 2024!",         # it + ' + s + 2024 + ! = 5
        "a1b2",               # a 1 b 2 = 4
        "  spaced  out ",     # spaced, out = 2
        "中文 text",           # 中文, text = 2
    ]
    sdf = spark.createDataFrame([(i, s) for i, s in enumerate(texts)],
                                "i long, text string")
    got = {r.i: r.n for r in sdf.select(
        "i", bpe_token_count("text").alias("n")).collect()}
    assert got == {0: 2, 1: 5, 2: 4, 3: 2, 4: 2}
    duck.register("bpe_docs", pd.DataFrame({"i": range(len(texts)),
                                            "text": texts}))
    drows = dict(duck.execute(
        f"SELECT i, {bpe_token_count_sql('text')} FROM bpe_docs"
    ).fetchall())
    assert drows == got


def test_repetition_signals_known_values(spark):
    """Gopher repetition anchors: alternating bigram text maxes top2,
    3-gram ties break lexicographically, heavy 5-gram repeats cap at
    1.0, short docs score 0.0 everywhere."""
    from ad_data_pipelines_spark.operators.textstats import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b", 11),
            (2, "x y z w v x y z w v x y z w v", 29),
            (3, "hello", 5),
        ],
        "doc_id bigint, text string, n_chars bigint",
    )
    rows = {r.doc_id: r for r in repetition_signals(docs).collect()}
    # "a b" occurs 3x, len 3, 11 chars -> 0.8182
    assert rows[1].top2_frac == pytest.approx(0.8182)
    # 3-grams "a b a"(2) and "b a b"(2) tie -> lexicographic "a b a"
    assert rows[1].top3_frac == pytest.approx(0.9091)
    assert rows[1].dup5_frac == 0.0  # both 5-grams unique
    # 3*9 + 4*2*9 = 99 chars of duplicated 5-grams > 29 -> capped
    assert rows[2].dup5_frac == 1.0
    assert (rows[3].top2_frac, rows[3].top3_frac, rows[3].dup5_frac) == (
        0.0, 0.0, 0.0,
    )


def test_pack_sequences_contiguous_offsets(spark):
    """Concat-and-chunk invariants: offsets are the exclusive prefix sum
    in canonical doc_id order regardless of partitioning/shard span, and
    [first_seq, last_seq] is the floor-range of the doc's token span."""
    from ad_data_pipelines_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(3 + (i * 7) % 13)))
         for i in range(200)],
        "doc_id bigint, text string",
    ).repartition(7)
    rows = sorted(
        pack_sequences(docs, seq_tokens=16, shard_span=25).collect(),
        key=lambda r: r.doc_id,
    )
    off = 0
    for r in rows:
        assert r.tok_offset == off
        assert r.first_seq == off // 16
        assert r.last_seq == (off + r.n_tokens - 1) // 16
        off += r.n_tokens
    # shard span must not change the assignment, only window sizing
    alt = sorted(
        pack_sequences(docs, seq_tokens=16, shard_span=3).collect(),
        key=lambda r: r.doc_id,
    )
    assert [tuple(r) for r in alt] == [tuple(r) for r in rows]


def test_deterministic_shuffle_stability(spark):
    """The (bucket, rank) pair is a pure function of the key: identical
    across partition layouts, and ranks are dense 1..n per bucket."""
    from ad_data_pipelines_spark.operators.sampling import deterministic_shuffle

    docs = spark.range(500).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: (r.shuffle_bucket, r.shuffle_rank)
         for r in deterministic_shuffle(docs, "doc_id", n_buckets=8).collect()}
    b = {r.doc_id: (r.shuffle_bucket, r.shuffle_rank)
         for r in deterministic_shuffle(
             docs.repartition(13), "doc_id", n_buckets=8).collect()}
    assert a == b
    from collections import Counter
    per_bucket = Counter(bu for bu, _ in a.values())
    ranks = Counter()
    for bu, rk in a.values():
        ranks[bu] = max(ranks[bu], rk)
    assert ranks == per_bucket  # dense 1..n


def test_ivf_trained_centroids_recall(spark):
    """KMeans-trained centroids plug into the same ivf_cells/ivf_topk
    contract as the seed centroids and must beat a recall floor vs
    brute-force cosine top-5 (trained cells separate the corpus better
    than arbitrary seed vectors, so probing 2 of 4 cells keeps most
    true neighbors)."""
    from ad_data_pipelines_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(emb, queries, k=5).collect()
    }
    cent = sim.ivf_train_centroids(emb, n_cells=4, seed=7)
    got = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(
            emb, queries, k=5, n_cells=4, nprobe=2, centroids=cent
        ).collect()
    }
    assert len(got & truth) / len(truth) >= 0.5


def test_simhash_candidates_complete_vs_brute_force(spark):
    """Banded Hamming blocking is COMPLETE for distance <= n_bands-1:
    the candidate pairs equal an all-pairs bit_count(xor) scan on a
    corpus with planted near-dups (identical docs -> hamming 0, one
    token swapped -> small distance)."""
    base = "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),                               # exact dup
            (2, base.replace("lazy", "sleepy", 1)),  # near dup
            (3, "completely different content about spark engines"),
            (4, "unrelated words everywhere nothing shared here at all"),
        ],
        "doc_id bigint, text string",
    )
    sims = dedup.simhash(docs)
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_candidates(sims, max_hamming=3).collect()
    }
    sig = {r.doc_id: r.simhash for r in sims.collect()}
    brute = {
        (a, b, bin(sig[a] ^ sig[b]).count("1"))
        for a in sig
        for b in sig
        if a < b and bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    assert got == brute
    assert (0, 1, 0) in got  # exact dup found at distance 0


def test_weighted_sample_monotone_and_calibrated(spark):
    """Keep probability equals the row's own weight: weight 1 keeps
    everything, 0 keeps nothing, raising weights only ADDS rows (same
    salt), and the realized rate tracks the weight within sampling
    noise."""
    from ad_data_pipelines_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_MEDIUM}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    n = docs.count()
    assert sampling.weighted_sample(docs, F.lit(1.0), "doc_id").count() == n
    assert sampling.weighted_sample(docs, F.lit(0.0), "doc_id").count() == 0
    # out-of-range weights clamp instead of misbehaving
    assert sampling.weighted_sample(docs, F.lit(7.5), "doc_id").count() == n
    assert sampling.weighted_sample(docs, F.lit(-3.0), "doc_id").count() == 0

    lo = {
        r.doc_id
        for r in sampling.weighted_sample(docs, F.lit(0.3), "doc_id").collect()
    }
    hi = {
        r.doc_id
        for r in sampling.weighted_sample(docs, F.lit(0.6), "doc_id").collect()
    }
    assert lo <= hi  # monotone: a kept row stays kept as its weight grows
    assert abs(len(lo) / n - 0.3) < 0.05 and abs(len(hi) / n - 0.6) < 0.05

    # per-row weight: longer docs survive more often than shorter ones
    w = F.least(F.col("n_chars") / 500.0, F.lit(1.0))
    kept = sampling.weighted_sample(docs, w, "doc_id")
    rates = dict(
        kept.groupBy((F.col("n_chars") > 300).alias("long"))
        .count()
        .join(
            docs.groupBy((F.col("n_chars") > 300).alias("long"))
            .agg(F.count("*").alias("tot")),
            "long",
        )
        .select("long", (F.col("count") / F.col("tot")).alias("rate"))
        .collect()
    )
    assert rates[True] > rates[False]


def test_dsir_weights_target_likeness_and_guards(spark):
    """Raw docs that look like the target domain outscore off-domain
    raw docs; n_grams = unigrams + bigrams; zero-token docs drop; bad
    knobs raise."""
    import pytest

    from ad_data_pipelines_spark.operators import classify

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma") for i in range(5)],
        "doc_id bigint, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),  # exactly target-like
            (2, "alpha beta zeta"),  # partially target-like
            (3, "qq rr ss"),  # off-domain
            (4, "   "),  # zero tokens -> no gram rows -> absent
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r.doc_id: r
        for r in classify.dsir_weights(raw, target, n_features=64).collect()
    }
    assert set(rows) == {1, 2, 3}
    # 3 tokens -> 3 unigrams + 2 bigrams
    assert rows[1].n_grams == 5
    assert rows[1].log_w > rows[2].log_w > rows[3].log_w

    with pytest.raises(ValueError, match="n_features"):
        classify.dsir_weights(raw, target, n_features=0)
    with pytest.raises(ValueError, match="alpha"):
        classify.dsir_weights(raw, target, alpha=0.0)


def test_gumbel_topk_sample_fixed_size_weighted(spark):
    """Exactly k rows come back; with weight gaps far above the Gumbel
    noise scale the top-weight rows win; the pick is deterministic
    across calls; k >= n returns everything; k <= 0 raises."""
    import pytest

    from ad_data_pipelines_spark.operators import sampling

    # weights 0/1000: Gumbel noise spans a few units, never 1000
    df = spark.createDataFrame(
        [(i, 1000.0 if i < 5 else 0.0) for i in range(50)],
        "doc_id bigint, lw double",
    )
    got = sampling.gumbel_topk_sample(df, F.col("lw"), k=5, key="doc_id")
    picked = {r.doc_id for r in got.collect()}
    assert picked == {0, 1, 2, 3, 4}
    assert "gumbel_key" in got.columns

    again = {
        r.doc_id
        for r in sampling.gumbel_topk_sample(
            df, F.col("lw"), k=5, key="doc_id"
        ).collect()
    }
    assert again == picked  # deterministic — keyed noise, not random()

    assert (
        sampling.gumbel_topk_sample(df, F.col("lw"), k=99, key="doc_id")
        .count()
        == 50
    )
    with pytest.raises(ValueError, match="k must be positive"):
        sampling.gumbel_topk_sample(df, F.col("lw"), k=0, key="doc_id")

    # equal weights: the sample is a uniform k-subset driven ONLY by
    # the keyed noise — different salts pick different subsets
    flat = spark.createDataFrame(
        [(i, 0.0) for i in range(200)], "doc_id bigint, lw double"
    )
    a = {
        r.doc_id
        for r in sampling.gumbel_topk_sample(
            flat, F.col("lw"), k=20, key="doc_id", salt="s1"
        ).collect()
    }
    b = {
        r.doc_id
        for r in sampling.gumbel_topk_sample(
            flat, F.col("lw"), k=20, key="doc_id", salt="s2"
        ).collect()
    }
    assert len(a) == len(b) == 20 and a != b


def test_bm25_hand_computed_and_guards(spark):
    """BM25 scores match a hand-computed Okapi formula on a 3-doc
    corpus (always-positive Lucene idf, k1=1.2, b=0.75); docs with no
    query term drop; bad knobs raise."""
    import math

    import pytest

    from ad_data_pipelines_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "apple cherry"),
            (3, "kiwi kiwi kiwi kiwi"),
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r.doc_id: r
        for r in retrieval.bm25_scores(docs, ["apple", "banana"]).collect()
    }
    assert set(rows) == {1, 2}
    # N=3, avgdl=3; df(apple)=2 -> idf=ln(1+1.5/2.5); df(banana)=1 ->
    # idf=ln(1+2.5/1.5)
    idf_a, idf_b = math.log(1 + 1.5 / 2.5), math.log(1 + 2.5 / 1.5)
    d1 = idf_a * (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * 3 / 3)) + idf_b * (
        1 * 2.2
    ) / (1 + 1.2 * (0.25 + 0.75 * 3 / 3))
    d2 = idf_a * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 2 / 3))
    assert rows[1].score == round(d1, 4)
    assert rows[2].score == round(d2, 4)
    assert rows[1].n_terms == 2 and rows[2].n_terms == 1

    top = retrieval.bm25_topk(docs, ["apple", "banana"], k=1).collect()
    assert [r.doc_id for r in top] == [1]

    with pytest.raises(ValueError, match="non-empty"):
        retrieval.bm25_scores(docs, [])
    with pytest.raises(ValueError, match="lowercase single tokens"):
        retrieval.bm25_scores(docs, ["Apple"])
    with pytest.raises(ValueError, match="lowercase single tokens"):
        retrieval.bm25_scores(docs, ["two words"])
    with pytest.raises(ValueError, match="k1"):
        retrieval.bm25_scores(docs, ["apple"], k1=0.0)
    with pytest.raises(ValueError, match="k must be positive"):
        retrieval.bm25_topk(docs, ["apple"], k=0)


def test_rrf_fuse_and_rank_by(spark):
    """rrf = Σ 1/(k0+rank) exactly; docs on both lists carry
    n_lists=2; rank_by cuts to k with 1-based ranks on
    (score DESC, doc_id); guards raise."""
    import pytest

    from ad_data_pipelines_spark.operators import retrieval

    a = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id bigint, rank bigint"
    )
    b = spark.createDataFrame(
        [(20, 1), (40, 2)], "doc_id bigint, rank bigint"
    )
    fused = {
        r.doc_id: r for r in retrieval.rrf_fuse({"a": a, "b": b}).collect()
    }
    assert fused[20].n_lists == 2
    assert fused[20].rrf == round(1 / 62 + 1 / 61, 4)
    assert fused[10].n_lists == 1 and fused[10].rrf == round(1 / 61, 4)
    assert set(fused) == {10, 20, 30, 40}

    scored = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (4, 1.0)],
        "doc_id bigint, score double",
    )
    ranked = {
        r.doc_id: r.rank
        for r in retrieval.rank_by(scored, "score", k=3).collect()
    }
    # ties on score break on doc_id: 2 before 3
    assert ranked == {2: 1, 3: 2, 1: 3}
    asc = {
        r.doc_id: r.rank
        for r in retrieval.rank_by(scored, "score", k=2, ascending=True).collect()
    }
    assert asc == {4: 1, 1: 2}

    with pytest.raises(ValueError, match="at least two"):
        retrieval.rrf_fuse({"a": a})
    with pytest.raises(ValueError, match="k0"):
        retrieval.rrf_fuse({"a": a, "b": b}, k0=0)
    with pytest.raises(ValueError, match="k must be positive"):
        retrieval.rank_by(scored, "score", k=0)


def test_hashed_doc_embedding_python_replay_and_guards(spark):
    """The JL sketch equals a pure-python replay of the md5 bucket +
    md5-parity sign algebra; zero-token docs drop; knob guards raise."""
    import hashlib

    import pytest

    from ad_data_pipelines_spark.operators import classify

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha alpha"), (3, "   ")],
        "doc_id bigint, text string",
    )
    B, D = 64, 4

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def grams(text):
        ts = [w for w in text.strip().lower().split() if w]
        return ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]

    expected = {}
    for doc_id, text in [(1, "alpha beta"), (2, "alpha alpha")]:
        counts = {}
        for g in grams(text):
            b = h(g) % B
            counts[b] = counts.get(b, 0) + 1
        for d in range(D):
            expected[(doc_id, d)] = sum(
                c * ((h(f"0:{b}:{d}") % 2) * 2 - 1)
                for b, c in counts.items()
            )

    got = {
        (r.doc_id, r.dim): r.val
        for r in classify.hashed_doc_embedding(
            docs, n_features=B, dim=D
        ).collect()
    }
    assert got == expected  # doc 3 absent: no tokens -> no rows

    with pytest.raises(ValueError, match="n_features and dim"):
        classify.hashed_doc_embedding(docs, n_features=0)
    with pytest.raises(ValueError, match="n_features and dim"):
        classify.hashed_doc_embedding(docs, dim=0)


def test_bm25_batch_matches_single_query_path(spark):
    """A one-query batch reproduces the single-query bm25_scores +
    rank_by result exactly (same scores, same ranks); n_terms counts
    distinct matched terms; guards raise."""
    import pytest

    from ad_data_pipelines_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "apple cherry"),
            (3, "banana banana cherry kiwi"),
            (4, "kiwi kiwi"),
        ],
        "doc_id bigint, text string",
    )
    terms = ["apple", "banana"]
    batch = {
        (r.doc_id, r.rk): (r.score, r.n_terms)
        for r in retrieval.bm25_batch_topk(
            docs, [(7, terms)], k=3
        ).collect()
    }
    single = {
        r.doc_id: r.score
        for r in retrieval.bm25_scores(docs, terms).collect()
    }
    ranks = {
        r.doc_id: r.rank
        for r in retrieval.rank_by(
            spark.createDataFrame(
                [(d, s) for d, s in single.items()],
                "doc_id bigint, score double",
            ),
            "score",
            k=3,
        ).collect()
    }
    assert {(d, rk) for d, rk in ranks.items()} == set(
        (d, rk) for (d, rk) in batch
    )
    for (d, rk), (score, n_terms) in batch.items():
        assert score == single[d]
    # doc 1 matched both terms, doc 3 one term set {banana}
    n_by_doc = {d: nt for (d, _), (_, nt) in batch.items()}
    assert n_by_doc[1] == 2 and n_by_doc[3] == 1

    with pytest.raises(ValueError, match="non-empty"):
        retrieval.bm25_batch_topk(docs, [])
    with pytest.raises(ValueError, match="duplicate query_id"):
        retrieval.bm25_batch_topk(docs, [(1, ["apple"]), (1, ["kiwi"])])
    with pytest.raises(ValueError, match="k must be positive"):
        retrieval.bm25_batch_topk(docs, [(1, ["apple"])], k=0)


def test_semantic_decontam_planted_geometry(spark):
    """Planted 2-d vectors: max-sim and flags are exact; eval members
    are excluded from the corpus side; sim ties pick the LOWEST
    eval_id."""
    rows = [
        (0, [1.0, 0.0]),  # eval
        (1, [0.0, 1.0]),  # eval
        (10, [1.0, 0.0]),  # sim 1.0 to eval 0 -> flagged
        (11, [0.0, -1.0]),  # sim -1/0 -> nearest eval 0 (tie? no: 0 vs -1)
        (12, [0.8, 0.6]),  # sim .8 to e0, .6 to e1 -> flagged at .75
        (13, [0.7071, 0.7071]),  # equal sim to both -> eval_id 0
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    got = {
        r.vec_id: r
        for r in similarity.semantic_decontam(
            emb, emb.filter(F.col("vec_id") < 2), threshold=0.75
        ).collect()
    }
    assert set(got) == {10, 11, 12, 13}  # 0/1 excluded (eval members)
    assert got[10].eval_id == 0 and got[10].max_sim == 1.0 and got[10].flagged
    assert got[11].eval_id == 0 and got[11].max_sim == 0.0
    assert not got[11].flagged
    assert got[12].eval_id == 0 and got[12].max_sim == 0.8 and got[12].flagged
    assert got[13].eval_id == 0 and got[13].max_sim == 0.7071  # tie -> low id


def test_semantic_decontam_ivf_subset_and_full_probe_equality(spark):
    """IVF decontam flags are always a SUBSET of the exact flags
    (candidate sims are exact sims); probing every cell
    (nprobe = n_cells) makes the two paths identical on a planted
    corpus."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        v = [rng.gauss(0, 1) for _ in range(4)]
        n = sum(x * x for x in v) ** 0.5
        rows.append((i, [x / n for x in v]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    ev = emb.filter(F.col("vec_id") < 5)
    cents = similarity.ivf_centroids(emb, n_cells=3)

    exact_flags = {
        r.vec_id
        for r in similarity.semantic_decontam(emb, ev, threshold=0.5)
        .filter(F.col("flagged"))
        .collect()
    }
    ivf1 = {
        r.vec_id
        for r in similarity.semantic_decontam_ivf(
            emb, ev, cents, threshold=0.5, nprobe=1
        )
        .filter(F.col("flagged"))
        .collect()
    }
    assert ivf1 <= exact_flags  # never a false flag
    full = {
        r.vec_id
        for r in similarity.semantic_decontam_ivf(
            emb, ev, cents, threshold=0.5, nprobe=3
        )
        .filter(F.col("flagged"))
        .collect()
    }
    assert full == exact_flags  # all cells probed -> exact
    assert exact_flags  # the planted corpus actually flags something


def test_mixture_balance_exact_counts_and_stability(spark):
    """Exactly min(target, |stratum|) rows per stratum, untargeted
    strata dropped; a stratum's pick is independent of OTHER strata's
    contents and of partition layout."""
    from ad_data_pipelines_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_MEDIUM}/documents.parquet").select(
        "doc_id", "lang"
    )
    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    targets = {"en": 100, "de": 30, "zh": sizes["zh"] + 50}  # zh under-full
    out = sampling.mixture_balance(docs, "lang", targets, "doc_id")
    got = {r.lang: r.n for r in out.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    assert got == {
        lang: min(k, sizes[lang]) for lang, k in targets.items()
    }
    # stratum-local stability: en's pick is identical when every other
    # stratum is removed from the input
    en_only = sampling.mixture_balance(
        docs.filter(F.col("lang") == "en"), "lang", targets, "doc_id"
    )
    assert {r.doc_id for r in out.filter(F.col("lang") == "en").collect()} == {
        r.doc_id for r in en_only.collect()
    }
    # partition-layout independence
    again = sampling.mixture_balance(
        docs.repartition(7), "lang", targets, "doc_id"
    )
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_sq_quantization_codes_and_recall(spark):
    """int8 scalar quantization: (a) codes are BIGINTs bounded by
    ±127 (the per-dim max|x| scale guarantees it — floor(±127.0)
    stays in range); (b) scores are exact integer dot products,
    layout-independent; (c) recall of the SQ top-5 against the
    brute-force cosine truth clears a floor (measured 0.85 mean /
    0.60 min at sf0.01 — floor quantization trades a little recall
    for a zero-rounding cross-engine contract); (d) the scales row
    floors constant-zero dimensions so encoding never divides by
    zero."""
    from ad_data_pipelines_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_MEDIUM}/embeddings.parquet")
    codes = similarity.sq_encode(emb)
    row = codes.selectExpr(
        "max(array_max(code)) AS mx",
        "min(array_min(code)) AS mn",
        "count(*) AS n",
    ).collect()[0]
    assert row.n == emb.count()
    assert -127 <= row.mn <= row.mx <= 127

    top = similarity.sq_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    rows = top.collect()
    assert len(rows) == 50 and all(isinstance(r.qscore, int) for r in rows)
    assert all(r.query_id != r.neighbor_id for r in rows)
    again = similarity.sq_topk(
        emb.repartition(7), emb.filter(F.col("vec_id") < 10), k=5
    )
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))

    truth = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 25), k=5
    ).select("query_id", "neighbor_id")
    ann = similarity.sq_topk(
        emb, emb.filter(F.col("vec_id") < 25), k=5
    ).select("query_id", "neighbor_id")
    from ad_data_pipelines_spark.plans.testdata_queries import _recall_report

    rep = _recall_report(truth, ann).collect()[0]
    assert rep.mean_recall >= 0.75, rep
    assert rep.min_recall >= 0.4, rep

    # zero dimension: scale floors at 1e-30, codes come out 0
    zero = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [0.0, -1.0])],
        "vec_id bigint, embedding array<float>",
    )
    zcodes = {r.vec_id: r.code for r in similarity.sq_encode(zero).collect()}
    assert zcodes[0] == [0, 127] and zcodes[1] == [0, -127]


def test_cluster_balanced_sample_exact_counts_per_cell(spark):
    """Per-stratum EXACT counts: every stratum yields min(k, |stratum|)
    rows — including strata the caller never enumerated (the operator
    exists because discovered cluster ids can't be listed up front);
    a cell's pick is independent of other cells' contents and of
    partition layout; per_stratum < 1 is refused."""
    import pytest

    from ad_data_pipelines_spark.operators import sampling, similarity

    # real strata: nearest-centroid cells over the sf0.01 embeddings —
    # the registry query's exact composition
    emb = spark.read.parquet(f"{SF_MEDIUM}/embeddings.parquet")
    cells = similarity.ivf_cells(
        emb, similarity.ivf_centroids(emb, n_cells=4), "doc_id", "emb", 1
    ).select("doc_id", "cell_id")
    sizes = {r.cell_id: r.n for r in cells.groupBy("cell_id").agg(
        F.count("*").alias("n")).collect()}
    assert len(sizes) >= 2  # the balance claim needs >1 stratum
    for k in (1, 40, max(sizes.values()) + 10):
        out = sampling.cluster_balanced_sample(cells, "cell_id", k, "doc_id")
        got = {r.cell_id: r.n for r in out.groupBy("cell_id").agg(
            F.count("*").alias("n")).collect()}
        assert got == {c: min(k, n) for c, n in sizes.items()}, f"k={k}"

    out = sampling.cluster_balanced_sample(cells, "cell_id", 40, "doc_id")
    picked = sorted(tuple(r) for r in out.collect())
    # cell-local stability: one cell's pick is identical when every
    # other cell is removed from the input
    some_cell = next(iter(sizes))
    alone = sampling.cluster_balanced_sample(
        cells.filter(F.col("cell_id") == some_cell), "cell_id", 40, "doc_id"
    )
    assert sorted(tuple(r) for r in alone.collect()) == [
        p for p in picked if p[1] == some_cell
    ]
    # partition-layout independence
    again = sampling.cluster_balanced_sample(
        cells.repartition(7), "cell_id", 40, "doc_id"
    )
    assert sorted(tuple(r) for r in again.collect()) == picked

    with pytest.raises(ValueError, match="per_stratum"):
        sampling.cluster_balanced_sample(cells, "cell_id", 0, "doc_id")


def test_semantic_dedup_matches_brute_force_within_cells(spark):
    """kept == vectors with NO same-cell smaller-id neighbor at
    sim >= threshold, verified against a brute-force recomputation;
    planted exact duplicates always lose to their smaller-id twin."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    # plant exact duplicates of vectors 10 and 11 at high ids
    dup = emb.filter(F.col("vec_id").isin(10, 11)).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    out = similarity.semantic_dedup(corpus, threshold=0.9, n_cells=4)
    rows = out.collect()
    assert len(rows) == corpus.count()  # one verdict per vector

    cells = {r.vec_id: r.cell_id for r in rows}
    kept = {r.vec_id: r.kept for r in rows}
    vecs = {r.vec_id: list(r.embedding) for r in corpus.collect()}

    def sim(a, b):
        return round(sum(float(x) * float(y) for x, y in zip(a, b)), 4)

    for v, cell in cells.items():
        has_smaller_neighbor = any(
            u < v and cu == cell and sim(vecs[u], vecs[v]) >= 0.9
            for u, cu in cells.items()
        )
        assert kept[v] == (not has_smaller_neighbor), v
    # the planted exact dups share a cell with their twin and are dropped
    assert kept[100_010] is False and kept[100_011] is False


def test_budget_select_matches_global_prefix_rule(spark):
    """Two-phase sharded selection == the single-ordering prefix rule
    (brute force over a collected copy), at several shard widths —
    shard boundaries must never change results; empty input keeps the
    schema."""
    from ad_data_pipelines_spark.operators import packing
    from ad_data_pipelines_spark.operators.textstats import token_count

    docs = spark.read.parquet(f"{SF_MEDIUM}/documents.parquet").select(
        "doc_id",
        F.col("n_chars").alias("score"),
        token_count("text").cast("bigint").alias("n_tokens"),
    )
    rows = docs.collect()
    budget = 15_000
    cum, expect = 0, {}
    for r in sorted(rows, key=lambda r: (-r.score, r.doc_id)):
        cum += r.n_tokens
        if cum > budget:
            break
        expect[r.doc_id] = cum
    for buckets in (1, 7, 64):
        got = {
            r.doc_id: r.cum_tokens
            for r in packing.budget_select(
                docs, budget, shard_buckets=buckets
            ).collect()
        }
        assert got == expect, f"shard_buckets={buckets}"

    empty = packing.budget_select(docs.limit(0), budget)
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "score", "n_tokens", "cum_tokens"]


def test_profile_approx_twin_and_single_pass(spark):
    """The production (approx) profile agrees with the exact one on
    counts/min/max and keeps distinct within HLL tolerance; both run as
    ONE aggregate pass (a single pair of hash-aggregate stages, no
    per-column scans)."""
    from ad_data_pipelines_spark.operators import profile as prof

    docs = spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
    cols = ["doc_id", "lang", "n_chars"]
    exact = {r.col_name: r for r in prof.profile(docs, cols, exact=True).collect()}
    approx = {r.col_name: r for r in prof.profile(docs, cols).collect()}
    for c in cols:
        e, a = exact[c], approx[c]
        assert (a.n_rows, a.n_nulls, a.min_value, a.max_value) == (
            e.n_rows, e.n_nulls, e.min_value, e.max_value,
        )
        assert abs(a.n_distinct - e.n_distinct) <= max(0.05 * e.n_distinct, 2)
    # single scan: exactly one FileScan in the physical plan
    plan = (
        prof.profile(docs, cols)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan") == 1, plan


def test_dedup_against_corpus_verdicts(spark):
    """A new doc near-identical to history is dropped with the min
    matching historical id as evidence; novel docs are kept; every new
    doc gets exactly one verdict; history is never verdicted."""
    base = "the quick brown fox jumps over the lazy dog " * 4
    history = spark.createDataFrame(
        [(100, base), (101, base), (102, "completely unrelated history")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(1, base + "tail"), (2, "novel content nothing shared with any")],
        "doc_id bigint, text string",
    )
    out = dedup.dedup_against_corpus(
        dedup.minhash_signatures(new),
        dedup.minhash_signatures(history),
        min_eq=8,
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].kept is False and rows[1].matched_doc == 100  # min id
    assert rows[2].kept is True and rows[2].matched_doc is None


def test_vocab_and_encode_roundtrip(spark):
    """Vocabulary ids are deterministic (count DESC, token) from 1;
    encoding preserves token order, maps OOV to 0, and keeps empty
    docs as empty sequences; the top-N select plans as TakeOrdered,
    not a global sort."""
    from ad_data_pipelines_spark.operators import vocab as vb

    docs = spark.createDataFrame(
        [
            (1, "b a a c b a"),
            (2, "a zzz b"),
            (3, "   "),
        ],
        "doc_id bigint, text string",
    )
    v = vb.build_vocab(docs, max_size=3)
    rows = {r.token: (r.token_id, r.n_occurrences) for r in v.collect()}
    # counts: a=4, b=3, c=1, zzz=1 → top-3 by (count desc, token asc)
    assert rows == {"a": (1, 4), "b": (2, 3), "c": (3, 1)}

    enc = {r.doc_id: r for r in vb.encode_docs(docs, v).collect()}
    assert list(enc[1].token_ids) == [2, 1, 1, 3, 2, 1]
    assert list(enc[2].token_ids) == [1, 0, 2]  # zzz is OOV
    assert enc[2].n_oov == 1 and enc[2].n_tokens == 3
    assert list(enc[3].token_ids) == [] and enc[3].n_tokens == 0

    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan

    # coverage curve on the same corpus: 9 occurrences over 4 types
    # ranked a(4) b(3) c(1) zzz(1); K clamps to |V| once exhausted
    cov = {
        r.vocab_size: (r.n_types, r.coverage)
        for r in vb.vocab_coverage(docs, sizes=(1, 2, 10)).collect()
    }
    assert cov == {
        1: (1, round(4 / 9, 6)),
        2: (2, round(7 / 9, 6)),
        10: (4, 1.0),
    }
    import pytest

    with pytest.raises(ValueError, match="sizes"):
        vb.vocab_coverage(docs, sizes=())
    with pytest.raises(ValueError, match="sizes"):
        vb.vocab_coverage(docs, sizes=(0,))


def test_remove_boilerplate_lines_crafted(spark):
    """Line mode: a footer line shared by most docs is removed
    everywhere, unique lines and blank lines survive with original
    order and spacing; an all-boilerplate doc comes back empty, not
    missing; absolute and fractional thresholds agree."""
    from ad_data_pipelines_spark.operators import scrub

    footer = "unsubscribe here"
    docs = spark.createDataFrame(
        [
            (1, f"alpha content\n\n{footer}"),
            (2, f"beta text\n{footer}"),
            (3, f"gamma words\n{footer}"),
            (4, footer),
            (5, "entirely unique document"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in scrub.remove_boilerplate_spans(
            docs, sep="\n", max_df=3
        ).collect()
    }
    assert out[1].clean_text == "alpha content\n" and out[1].n_removed == 1
    assert out[2].clean_text == "beta text"
    assert out[4].clean_text == "" and out[4].n_removed == 1
    assert out[5].clean_text == "entirely unique document"
    assert out[5].n_removed == 0

    frac = {
        r.doc_id: r.clean_text
        for r in scrub.remove_boilerplate_spans(
            docs, sep="\n", max_df_frac=3 / 5
        ).collect()
    }
    assert frac == {d: out[d].clean_text for d in out}

    import pytest

    with pytest.raises(ValueError, match="exactly one"):
        scrub.remove_boilerplate_spans(docs)
    with pytest.raises(ValueError, match="exactly one"):
        scrub.remove_boilerplate_spans(docs, max_df=1, max_df_frac=0.5)


def test_snapshot_diff_statuses(spark):
    """Every status class lands correctly; keys from either side all
    appear exactly once; summary counts reconcile."""
    from ad_data_pipelines_spark.operators import snapshot

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, "brand new")],
        "doc_id bigint, text string",
    )
    diff = snapshot.snapshot_diff(old, new)
    by_id = {r.doc_id: r.status for r in diff.collect()}
    assert by_id == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    summary = {
        r.status: r.n_keys
        for r in snapshot.snapshot_diff_summary(diff).collect()
    }
    assert summary == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}


def test_bigram_lm_score_known_values(spark):
    """Hand-computed add-k logprobs on a 3-doc corpus; docs with <2
    tokens drop; a doc full of common transitions outscores one built
    of rare transitions."""
    import math

    from ad_data_pipelines_spark.operators import lm

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),
            (2, "a b"),
            (3, "c a"),
            (4, "x"),
            (5, ""),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in lm.bigram_lm_score(docs, k=0.5).collect()}
    assert set(out) == {1, 2, 3}  # 4 and 5 have no bigrams
    # corpus: unigrams a=4 b=3 c=1 x=1 -> V=4
    # bigrams: 'a b'=3, 'b a'=1, 'c a'=1
    k, v = 0.5, 4
    lp_ab = math.log((3 + k) / (4 + k * v))
    lp_ba = math.log((1 + k) / (3 + k * v))
    lp_ca = math.log((1 + k) / (1 + k * v))
    assert out[1].n_bigrams == 3
    assert out[1].avg_ll == round((2 * lp_ab + lp_ba) / 3, 4)
    assert out[2].avg_ll == round(lp_ab, 4)
    assert out[3].avg_ll == round(lp_ca, 4)
    # common-transition doc scores higher than rare-transition doc
    assert out[2].avg_ll > out[3].avg_ll


def test_kcenter_seeds_greedy_geometry_and_seed_ids(spark):
    """Farthest-point picks on a planted 1-d line follow the greedy
    exactly (seed 0 = lowest id, then the far end, then the midpoint);
    kmeans_fp(seed_ids=) reproduces the default when handed [0..K-1]
    and refuses duplicate/missing ids."""
    import pytest

    from ad_data_pipelines_spark.operators import similarity

    line = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [0.1, 0.0]),
            (2, [0.5, 0.0]),
            (3, [1.0, 0.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    picks = {
        int(r.cell_id): int(r.vec_id)
        for r in similarity.kcenter_seeds(line, n_cells=3).collect()
    }
    assert picks == {0: 0, 1: 3, 2: 2}  # start, far end, midpoint
    with pytest.raises(ValueError, match="n_cells"):
        similarity.kcenter_seeds(line, n_cells=0)
    with pytest.raises(ValueError, match="ivf_train_centroids"):
        similarity.kcenter_seeds(line, n_cells=257)
    with pytest.raises(ValueError, match="empty input"):
        similarity.kcenter_seeds(
            line.filter(F.col("vec_id") < 0), n_cells=2
        )
    # identical-vector corpus: chosen ids are excluded from later
    # picks, so seeds stay DISTINCT ids (all at distance 0) instead of
    # re-picking seed 0 and crashing the trainer downstream
    dup_corpus = spark.createDataFrame(
        [(i, [0.5, 0.5]) for i in range(4)],
        "vec_id bigint, embedding array<double>",
    )
    dpicks = {
        int(r.cell_id): (int(r.vec_id), int(r.min_dist_fp))
        for r in similarity.kcenter_seeds(dup_corpus, n_cells=3).collect()
    }
    assert dpicks == {0: (0, 0), 1: (1, 0), 2: (2, 0)}
    with pytest.raises(ValueError, match="only 2 vectors"):
        similarity.kcenter_seeds(
            line.filter(F.col("vec_id") < 2), n_cells=3
        )

    # explicit seed_ids [0, 1] == the lowest-id default, bit-exact
    a = sorted(
        map(tuple, similarity.kmeans_fp(line, 2, 2).collect())
    )
    b = sorted(
        map(
            tuple,
            similarity.kmeans_fp(line, 2, 2, seed_ids=[0, 1]).collect(),
        )
    )
    assert a == b
    with pytest.raises(ValueError, match="distinct"):
        similarity.kmeans_fp(line, 2, 1, seed_ids=[3, 3])
    with pytest.raises(ValueError, match="one row each"):
        similarity.kmeans_fp(line, 2, 1, seed_ids=[0, 99])


def test_truncate_renorm_prefix_space(spark):
    """MRL truncation: output is the L2-renormalized first-d prefix
    (hand-checked), an all-zero prefix stays finite via the norm
    guard, and d<1 raises."""
    import math

    import pytest

    from ad_data_pipelines_spark.operators import similarity

    emb = spark.createDataFrame(
        [
            (0, [3.0, 4.0, 100.0, -7.0]),
            (1, [0.0, 0.0, 1.0, 0.0]),  # zero prefix at d=2
        ],
        "vec_id bigint, embedding array<double>",
    )
    out = {
        r.vec_id: list(r.embedding)
        for r in similarity.truncate_renorm(emb, d=2).collect()
    }
    assert out[0] == [3.0 / 5.0, 4.0 / 5.0]
    assert all(math.isfinite(x) for x in out[1])  # guarded, no NaN/inf
    assert out[1] == [0.0, 0.0]
    with pytest.raises(ValueError, match="d must be"):
        similarity.truncate_renorm(emb, d=0)


def test_bigram_lm_heldout_fallbacks(spark):
    """Held-out scoring against a disjoint train corpus pins all three
    smoothing branches: seen bigram (full counts), unseen bigram with a
    seen context word (ln(k/(cu+kV))), and unseen context word
    (ln(k/(kV)) = ln(1/V)). An off-distribution doc lands below the
    in-distribution one — the filter's drop rule."""
    import math

    from ad_data_pipelines_spark.operators import lm

    train = spark.createDataFrame(
        [(100, "a b a b"), (101, "a c")],
        "doc_id bigint, text string",
    )
    score = spark.createDataFrame(
        [
            (1, "a b"),    # seen bigram
            (2, "a z"),    # unseen bigram, seen context 'a'
            (3, "q z"),    # unseen context word entirely
            (4, "x"),      # no bigrams -> drops
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in lm.bigram_lm_score_held_out(train, score, k=0.5).collect()
    }
    assert set(out) == {1, 2, 3}
    # train: unigrams a=3 b=2 c=1 -> V=3; bigrams 'a b'=2 'b a'=1 'a c'=1
    k, v = 0.5, 3
    assert out[1].avg_ll == round(math.log((2 + k) / (3 + k * v)), 4)
    assert out[2].avg_ll == round(math.log(k / (3 + k * v)), 4)
    assert out[3].avg_ll == round(math.log(k / (k * v)), 4)
    # the seen transition outranks both fallbacks; among fallbacks the
    # unseen continuation of a FREQUENT context ('a z') is the most
    # surprising — its denominator carries c('a') — while a fully
    # novel context ('q z') gets the flat ln(1/V)
    assert out[1].avg_ll > out[3].avg_ll > out[2].avg_ll


def test_perplexity_buckets_structure(spark):
    """Bucket report invariants on a two-language corpus: per language
    the counts cover all scoreable docs, head mean >= middle mean >=
    tail mean (buckets order by likelihood), and a language whose docs
    all score identically lands entirely in 'head' (>= threshold).
    Thresholds are rank-exact (k-th smallest rounded score), so the en
    fixture keeps six DISTINCT scores — if the minimum tied the
    rank-k_lo value the tail bucket would legitimately be empty."""
    from ad_data_pipelines_spark.operators import lm

    docs = spark.createDataFrame(
        [
            # six 'en' docs with spread, distinct likelihoods (common
            # vs rare transitions)
            (1, "a b a b a b", "en"),
            (2, "a b a b", "en"),
            (3, "a b c d", "en"),
            (4, "c d c d", "en"),
            (5, "e f g h", "en"),
            (6, "e f g h e f", "en"),
            # identical 'zz' docs -> one avg_ll value
            (7, "x y x y", "zz"),
            (8, "x y x y", "zz"),
            (9, "x y x y", "zz"),
        ],
        "doc_id bigint, text string, lang string",
    )
    rows = lm.perplexity_buckets(docs, k=0.5).collect()
    by = {(r.lang, r.bucket): r for r in rows}
    assert sum(r.n_docs for r in rows if r.lang == "en") == 6
    means = {b: by[("en", b)].mean_ll for b in ("head", "middle", "tail")}
    assert means["head"] >= means["middle"] >= means["tail"]
    zz = [r for r in rows if r.lang == "zz"]
    assert len(zz) == 1 and zz[0].bucket == "head" and zz[0].n_docs == 3


def test_perplexity_buckets_rejects_scores_at_another_round_dp(spark):
    """An injected `scored=` frame must be on the call's round_dp grid:
    scores from the same round_dp are accepted and match the
    self-scored report, scores rounded to more places raise instead of
    silently mis-scaling the exact-integer mean."""
    import pytest

    from ad_data_pipelines_spark.operators import lm

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b", "en"),
            (2, "a b c d", "en"),
            (3, "e f g h e f", "en"),
            (4, "x y x y", "zz"),
        ],
        "doc_id bigint, text string, lang string",
    )
    own = sorted(map(tuple, lm.perplexity_buckets(docs).collect()))
    same_dp = lm.bigram_lm_score(docs, round_dp=4)
    assert own == sorted(
        map(tuple, lm.perplexity_buckets(docs, scored=same_dp).collect())
    )
    finer = lm.bigram_lm_score(docs, round_dp=6)
    with pytest.raises(ValueError, match="round_dp=4"):
        lm.perplexity_buckets(docs, round_dp=4, scored=finer)


def test_tfidf_keywords_discriminative_terms(spark):
    """A term unique to one group gets idf=ln(n_groups); a term in all
    groups gets tfidf 0; top-k and deterministic tie order hold."""
    import math

    from ad_data_pipelines_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (1, "shared apple apple", "g1"),
            (2, "shared banana", "g2"),
            (3, "shared banana cherry", "g2"),
        ],
        "doc_id bigint, text string, source string",
    )
    out = textstats.tfidf_keywords(docs, "source", k=2).collect()
    rows = {(r.source, r.token): r for r in out}
    assert rows[("g1", "apple")].tfidf == round(2 * math.log(2 / 1), 6)
    assert rows[("g2", "banana")].tfidf == round(2 * math.log(2 / 1), 6)
    # 'shared' appears in both groups -> idf 0 -> ranked below uniques
    assert rows[("g1", "apple")].rk == 1
    g1 = sorted(
        [r for r in out if r.source == "g1"], key=lambda r: r.rk
    )
    assert [r.token for r in g1] == ["apple", "shared"]
    assert all(r.rk <= 2 for r in out)


def test_random_project_preserves_structure(spark):
    """Deterministic matrix; a zero vector projects to zeros; scaling a
    vector scales its projection linearly; projections match a NumPy
    reference of the same signs matrix."""
    import numpy as np

    from ad_data_pipelines_spark.operators import similarity

    d, k = 16, 4
    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.normal(size=d)]) for i in range(5)]
    vecs.append((5, [0.0] * d))
    vecs.append((6, [2 * x for x in vecs[0][1]]))
    emb = spark.createDataFrame(
        vecs, "vec_id bigint, embedding array<float>"
    )
    out = {
        r.vec_id: [r.p0, r.p1, r.p2, r.p3]
        for r in similarity.random_project(
            emb, out_dim=k, in_dim=d
        ).collect()
    }
    signs = np.array(similarity.projection_signs(d, k))
    # float32 storage means the reference must also round-trip float32
    ref = signs @ np.array(vecs[0][1], dtype=np.float32).astype(
        np.float64
    ) / np.sqrt(k)
    assert out[0] == [round(float(x), 5) for x in ref]
    assert out[5] == [0.0] * k
    assert np.allclose(np.array(out[6]), 2 * np.array(out[0]), atol=2e-4)


def test_constraint_audit_and_fk(spark):
    """Violation counts per rule; NULL predicate results count as
    violations; fk_audit counts orphans including null keys."""
    from ad_data_pipelines_spark.operators import audit

    df = spark.createDataFrame(
        [(1, 10.0), (2, 60.0), (3, None), (4, 5.0)],
        "id bigint, qty double",
    )
    report = {
        r.rule_name: r
        for r in audit.constraint_audit(
            df, {"qty_le_50": "qty <= 50", "id_positive": "id > 0"}
        ).collect()
    }
    # qty: 60 violates, NULL violates -> 2
    assert report["qty_le_50"].n_violations == 2
    assert report["qty_le_50"].n_rows == 4
    assert report["qty_le_50"].violation_rate == 0.5
    assert report["id_positive"].n_violations == 0

    child = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 999), (4, None)],
        "id bigint, fk bigint",
    )
    parent = spark.createDataFrame([(100,), (200,)], "pk bigint")
    fk = audit.fk_audit(child, parent, "fk", "pk", "fk_rule").collect()[0]
    assert fk.n_rows == 4
    assert fk.n_violations == 2  # 999 orphan + NULL unresolvable
    assert fk.violation_rate == 0.5


def test_table_checksum_properties(spark):
    """Layout/order independence; sensitivity to a single cell edit;
    NULL is distinct from empty string."""
    from ad_data_pipelines_spark.operators import audit

    rows = [(i, f"name{i}", None if i % 3 == 0 else "x") for i in range(50)]
    df = spark.createDataFrame(rows, "id bigint, name string, tag string")
    base = audit.table_checksum(df, ["id", "name", "tag"]).collect()[0]
    assert base.n_rows == 50

    shuffled = audit.table_checksum(
        df.repartition(7, "name"), ["id", "name", "tag"]
    ).collect()[0]
    assert shuffled.checksum == base.checksum

    edited = spark.createDataFrame(
        [(i, f"name{i}", ("EDIT" if i == 17 else (None if i % 3 == 0 else "x"))) for i in range(50)],
        "id bigint, name string, tag string",
    )
    assert (
        audit.table_checksum(edited, ["id", "name", "tag"]).collect()[0].checksum
        != base.checksum
    )

    empties = spark.createDataFrame(
        [(i, f"name{i}", "" if i % 3 == 0 else "x") for i in range(50)],
        "id bigint, name string, tag string",
    )
    assert (
        audit.table_checksum(empties, ["id", "name", "tag"]).collect()[0].checksum
        != base.checksum
    )


def test_winsorized_stats_hand_computed(spark):
    """Exact interpolated quantiles on a known 11-value group; means
    clamp correctly; approx twin lands within tolerance."""
    from ad_data_pipelines_spark.operators import agg as agg_ops

    vals = [float(x) for x in range(11)]  # 0..10: p05=0.5, p95=9.5
    df = spark.createDataFrame(
        [("g", v) for v in vals] + [("h", 100.0), ("h", 200.0)],
        "grp string, value double",
    )
    out = {
        r.grp: r
        for r in agg_ops.winsorized_stats(
            df, "value", ["grp"], 0.05, 0.95, exact=True
        ).collect()
    }
    g = out["g"]
    assert (g.q_lo, g.q_hi) == (0.5, 9.5)
    clamped = [min(max(v, 0.5), 9.5) for v in vals]
    assert g.avg_winsorized == round(sum(clamped) / len(vals), 4)
    assert g.avg_raw == round(sum(vals) / len(vals), 4)
    # two-value group: p05 interpolates between the two
    assert out["h"].q_lo == round(100 + 0.05 * 100, 4)

    approx = {
        r.grp: r
        for r in agg_ops.winsorized_stats(
            df, "value", ["grp"], 0.05, 0.95, exact=False
        ).collect()
    }
    assert abs(approx["g"].avg_winsorized - g.avg_winsorized) < 1.0


def test_normalize_text_canonicalization(spark):
    """Case folds, control chars and whitespace runs collapse, exact
    already-normal text passes through unchanged."""
    from ad_data_pipelines_spark.operators import scrub

    docs = spark.createDataFrame(
        [
            (1, "Hello\tWorld\x07!"),
            (2, "  many   spaces  "),
            (3, "already normal"),
            (4, "MiXeD Case"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in scrub.normalize_text(docs).collect()}
    assert out[1].norm_text == "hello world !"
    assert out[1].changed
    assert out[2].norm_text == "many spaces"
    assert out[2].n_chars_saved == len("  many   spaces  ") - len(
        "many spaces"
    )
    assert out[3].norm_text == "already normal" and not out[3].changed
    assert out[4].norm_text == "mixed case" and out[4].changed


def test_interval_join_semantics_and_plan(spark):
    """Half-open containment, multi-day intervals, key matching,
    degenerate intervals dropped — and the physical plan is a hash
    equi-join, never a nested-loop inequality join."""
    import datetime as dt

    from ad_data_pipelines_spark.operators import intervals

    T = dt.datetime
    points = spark.createDataFrame(
        [
            (1, "a", T(2024, 1, 1, 12, 0)),
            (2, "a", T(2024, 1, 2, 3, 0)),   # next day, inside window w1
            (3, "a", T(2024, 1, 1, 6, 0)),   # == w1 start -> inside
            (4, "a", T(2024, 1, 2, 6, 0)),   # == w1 end -> outside
            (5, "b", T(2024, 1, 1, 12, 0)),  # wrong key for w1
        ],
        "point_id bigint, k string, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            ("w1", "a", T(2024, 1, 1, 6, 0), T(2024, 1, 2, 6, 0)),
            ("w2", "b", T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 0)),  # empty
        ],
        "iv_id string, k string, w_start timestamp, w_end timestamp",
    )
    out = intervals.interval_join(points, ivs, keys=["k"])
    got = sorted((r.point_id, r.iv_id) for r in out.collect())
    assert got == [(1, "w1"), (2, "w1"), (3, "w1")]

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_join_bucket_width_hook(spark):
    """Any bucket width returns the identical join result (blocking
    never changes semantics), and the interval explode factor respects
    the documented ceil(span/width)+1 bound per width."""
    import datetime as dt
    import math

    from ad_data_pipelines_spark.operators import intervals

    T = dt.datetime
    points = spark.createDataFrame(
        [(i, T(2024, 1, 1) + dt.timedelta(hours=7 * i)) for i in range(40)],
        "point_id bigint, ts timestamp",
    )
    ivs_rows = [
        ("short", T(2024, 1, 1, 3, 0), T(2024, 1, 1, 4, 30)),
        ("day", T(2024, 1, 2, 0, 0), T(2024, 1, 3, 0, 0)),
        ("multi", T(2024, 1, 4, 12, 0), T(2024, 1, 9, 1, 0)),
        ("exact_wk", T(2024, 1, 1, 0, 0), T(2024, 1, 8, 0, 0)),
    ]
    ivs = spark.createDataFrame(
        ivs_rows, "iv_id string, w_start timestamp, w_end timestamp"
    )

    results = {}
    for width in ("1 minute", "6 hours", "1 day", "1 week"):
        out = intervals.interval_join(points, ivs, bucket_width=width)
        results[width] = sorted(
            (r.point_id, r.iv_id) for r in out.collect()
        )
    assert len({tuple(v) for v in results.values()}) == 1
    assert results["1 day"]  # non-empty: the equivalence is non-vacuous

    for width in ("6 hours", "1 day", "1 week"):
        w_us = intervals.width_micros(width)
        exploded = intervals.bucketed_intervals(
            ivs, bucket_width=width
        ).count()
        bound = sum(
            math.ceil(((e - s) / dt.timedelta(microseconds=1)) / w_us) + 1
            for _, s, e in ivs_rows
        )
        assert exploded <= bound

    # hostile widths fail loudly, not with a silent wrong bucketing
    for bad in ("0 days", "-1 hour", "1 fortnight", "day"):
        try:
            intervals.width_micros(bad)
            raise AssertionError(f"accepted bad width {bad!r}")
        except ValueError:
            pass


def test_embedding_group_stats_hand_computed(spark):
    """Two-vector group: centroid is the midpoint, cosines follow by
    hand; singleton group: cos-to-centroid is exactly 1."""
    import math

    from ad_data_pipelines_spark.operators import similarity

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.0, 1.0], 0),
            (3, [3.0, 4.0], 1),
        ],
        "vec_id bigint, embedding array<float>, label int",
    )
    out = {
        r.label: r
        for r in similarity.embedding_group_stats(emb, "label").collect()
    }
    a = out[0]
    assert a.n_vectors == 2 and a.avg_norm == 1.0
    # cos((1,0), (0.5,0.5)) = 0.5 / (1 * sqrt(0.5)) for both vectors
    assert a.avg_cos_to_centroid == round(0.5 / math.sqrt(0.5), 4)
    b = out[1]
    assert b.n_vectors == 1 and b.avg_norm == 5.0
    assert b.avg_cos_to_centroid == 1.0


def test_contamination_and_novelty_shared_grams_equivalent(spark):
    """The precomputed-grams path must produce results identical to the
    self-tokenizing path for both gram consumers."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(
        F.col("doc_id") < 120
    )
    grams = dedup.word_ngram_hashes(docs, 8)
    pred = F.col("doc_id") < 25

    direct = {
        r.doc_id: r.n_shared_ngrams
        for r in dedup.contamination_check(docs, pred, 8).collect()
    }
    shared = {
        r.doc_id: r.n_shared_ngrams
        for r in dedup.contamination_check(
            docs, pred, 8, grams=grams
        ).collect()
    }
    assert direct == shared

    nov_direct = {
        r.doc_id: (r.n_grams, r.n_novel, r.novelty_rate)
        for r in dedup.novelty_scores(docs, 8).collect()
    }
    nov_shared = {
        r.doc_id: (r.n_grams, r.n_novel, r.novelty_rate)
        for r in dedup.novelty_scores(docs, 8, grams=grams).collect()
    }
    assert nov_direct == nov_shared


def test_lang_id_argmax_tie_and_zero_semantics(spark):
    """The array_max argmax keeps the when-chain contract: earliest
    language in dict order wins ties, all-zero scores give 'und', and
    each language's score is evaluated unconditionally (single pass)."""
    from ad_data_pipelines_spark.operators import textstats as ts

    docs = spark.createDataFrame(
        [
            (1, "x the y der w"),         # en=1 (" the "), de=1 (" der ") tie
            (2, "nothing matching here"),
            (3, "aa le bb et cc"),        # fr markers only
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r.pred
        for r in docs.select(
            "doc_id", ts.lang_id("text").alias("pred")
        ).collect()
    }
    assert out[1] == "en"   # tie en/de -> earlier dict entry wins
    assert out[2] == "und"
    assert out[3] == "fr"


def test_robust_outlier_stats_hand_computed(spark):
    """Median and MAD on a known group; a gross outlier is flagged and
    does NOT drag the statistics (the property a mean/sigma z lacks)."""
    from ad_data_pipelines_spark.operators import agg as agg_ops

    # g: values 1..9 plus a gross outlier 1000
    vals = [float(x) for x in range(1, 10)] + [1000.0]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "grp string, value double"
    )
    r = agg_ops.robust_outlier_stats(df, "value", ["grp"], k=3.5).collect()[0]
    # med of [1..9,1000] = 5.5; deviations [4.5,3.5,...,0.5,0.5,...,994.5]
    # -> MAD = 2.5; only 1000 exceeds 5.5 + 3.5*2.5 = 14.25
    assert (r.med, r.mad) == (5.5, 2.5)
    assert r.n == 10 and r.n_outliers == 1


def test_snapshot_diff_null_payload_semantics(spark):
    """Presence is decided by the key: NULL payloads report changed/
    unchanged, never added/removed."""
    from ad_data_pipelines_spark.operators import snapshot

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [(1, "now set"), (2, None), (3, None)],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: r.status
        for r in snapshot.snapshot_diff(old, new).collect()
    }
    assert got == {1: "changed", 2: "unchanged", 3: "changed"}


def test_budget_select_rejects_null_scores_and_keeps_schema(spark):
    """NULL scores fail loudly instead of silently vanishing; the
    empty-input branch matches the normal branch's schema."""
    import pytest as _pytest

    from ad_data_pipelines_spark.operators import packing

    bad = spark.createDataFrame(
        [(1, None, 10), (2, 5.0, 10)],
        "doc_id bigint, score double, n_tokens int",
    )
    with _pytest.raises(ValueError, match="NULL"):
        packing.budget_select(bad, budget=100)

    empty = spark.createDataFrame(
        [], "doc_id bigint, score double, n_tokens int"
    )
    full = spark.createDataFrame(
        [(1, 5.0, 10)], "doc_id bigint, score double, n_tokens int"
    )
    s_empty = packing.budget_select(empty, budget=100).schema
    s_full = packing.budget_select(full, budget=100).schema
    assert s_empty == s_full


def test_empty_config_guards(spark):
    """Empty rule/target mappings raise clear errors instead of
    producing invalid SQL or AttributeError."""
    import pytest as _pytest

    from ad_data_pipelines_spark.operators import audit, sampling

    df = spark.createDataFrame([(1,)], "id bigint")
    with _pytest.raises(ValueError, match="non-empty"):
        audit.constraint_audit(df, {})
    docs = spark.createDataFrame([(1, "s")], "doc_id bigint, src string")
    with _pytest.raises(ValueError, match="non-empty"):
        sampling.mixture_balance(docs, "src", {}, key="doc_id")


def test_contamination_grams_path_null_predicate_parity(spark):
    """A predicate that evaluates NULL for some docs must exclude them
    from both sides in the shared-grams path, exactly like the direct
    path."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i", True),    # eval
            (2, "a b c d e f g h z", False),   # corpus, shares 8-gram? no
            (3, "a b c d e f g h i j", False), # corpus, shares the eval 8-gram
            (4, "a b c d e f g h i k", None),  # NULL flag: in neither side
        ],
        "doc_id bigint, text string, is_eval boolean",
    )
    pred = F.col("is_eval")
    direct = {
        r.doc_id: r.n_shared_ngrams
        for r in dedup.contamination_check(docs, pred, 8).collect()
    }
    grams = dedup.word_ngram_hashes(docs, 8)
    shared = {
        r.doc_id: r.n_shared_ngrams
        for r in dedup.contamination_check(
            docs, pred, 8, grams=grams
        ).collect()
    }
    assert direct == shared
    assert 4 not in shared  # NULL-predicate doc on neither side


def test_ks_and_psi_drift_known_distributions(spark):
    """Identical samples score ~0 on both monitors; disjoint samples
    hit the KS maximum (1.0) and a large PSI; the KS statistic matches
    scipy-style hand computation on a small case."""
    from ad_data_pipelines_spark.operators import agg as agg_ops

    same = [("g", float(v), f) for v in range(20) for f in (True, False)]
    df_same = spark.createDataFrame(
        same, "grp string, value double, flag boolean"
    )
    ks0 = agg_ops.ks_drift(
        df_same, "value", ["grp"], F.col("flag")
    ).collect()[0]
    assert ks0.ks_stat == 0.0 and ks0.n_a == 20 and ks0.n_b == 20
    psi0 = agg_ops.psi_drift(
        df_same, "value", ["grp"], F.col("flag"), lo=0.0, hi=20.0
    ).collect()[0]
    assert psi0.psi == 0.0

    disjoint = [("g", float(v), True) for v in range(10)] + [
        ("g", float(v + 100), False) for v in range(10)
    ]
    df_dis = spark.createDataFrame(
        disjoint, "grp string, value double, flag boolean"
    )
    ks1 = agg_ops.ks_drift(
        df_dis, "value", ["grp"], F.col("flag")
    ).collect()[0]
    assert ks1.ks_stat == 1.0
    psi1 = agg_ops.psi_drift(
        df_dis, "value", ["grp"], F.col("flag"), lo=0.0, hi=110.0
    ).collect()[0]
    assert psi1.psi > 1.0  # way past the 0.25 'shifted' rule of thumb

    # hand case: a={1,2}, b={2,3} -> D at v<2 is |0.5-0| = 0.5
    hand = [("g", 1.0, True), ("g", 2.0, True),
            ("g", 2.0, False), ("g", 3.0, False)]
    df_h = spark.createDataFrame(
        hand, "grp string, value double, flag boolean"
    )
    ksh = agg_ops.ks_drift(
        df_h, "value", ["grp"], F.col("flag")
    ).collect()[0]
    assert ksh.ks_stat == 0.5


def test_pq_topk_self_match_and_recall(spark):
    """PQ asymmetric distance: a query's own codes minimize every LUT
    term, so its own vector always attains the per-query minimum
    approx distance (quantization error) — and compressed-domain top-5
    retains a sane fraction of exact-euclidean top-5."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    out = similarity.pq_topk(emb, queries, k=5).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(20))
    for qid, rows in by_q.items():
        dmin = min(r.approx_dist for r in rows)
        own = [r for r in rows if r.neighbor_id == qid]
        assert own and own[0].approx_dist == dmin

    # exact euclidean reference for recall
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    hits = total = 0
    for qid in range(20):
        q = vecs[qid]
        exact = sorted(
            vecs, key=lambda v: (float(np.sum((vecs[v] - q) ** 2)), v)
        )[:5]
        approx = {r.neighbor_id for r in by_q[qid]}
        hits += len(approx & set(exact))
        total += 5
    recall = hits / total
    assert recall >= 0.15, f"PQ recall collapsed: {recall}"


@pytest.mark.slow
def test_pq_trained_codebooks_beat_seeded_recall(spark):
    """KMeans-trained per-subspace codebooks plug into the same
    encode/search algebra and must NOT lose to the seeded LCG books on
    real data: top-5 recall vs exact euclidean ground truth is at
    least as good, and comfortably above the seeded floor."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }

    def recall(codebooks):
        out = similarity.pq_topk(
            emb, queries, k=5, codebooks=codebooks
        ).collect()
        by_q: dict[int, set] = {}
        for r in out:
            by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = total = 0
        for qid in range(20):
            q = vecs[qid]
            exact = sorted(
                vecs, key=lambda v: (float(np.sum((vecs[v] - q) ** 2)), v)
            )[:5]
            hits += len(by_q[qid] & set(exact))
            total += 5
        return hits / total

    seeded = recall(similarity.pq_codebooks())
    trained = recall(similarity.pq_train_codebooks(emb))
    assert trained >= seeded, (trained, seeded)
    # the synthetic embeddings are near-isotropic, so k=4 training
    # gains little (0.25 vs 0.24 measured) — the real lever is codebook
    # size, and the trained path must expose it: k=16 (4-bit codes)
    # jumps recall well clear of the 2-bit floor (0.35 measured)
    trained16 = recall(similarity.pq_train_codebooks(emb, k=16))
    assert trained16 > trained, (trained16, trained)
    assert trained16 >= 0.3, f"trained k=16 PQ recall too low: {trained16}"


def test_pq_ivf_topk_consistent_with_full_pq(spark):
    """IVFPQ distances agree with full-corpus PQ scoring on the pairs
    it returns (same LUT algebra, candidate set narrowed by cell
    probing); self-pairs are excluded; every query reports."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    ivfpq = similarity.pq_ivf_topk(emb, queries, k=5).collect()
    # full PQ distances for every (query, corpus) pair: rank high so
    # nothing is cut before comparison
    full = {
        (r.query_id, r.neighbor_id): r.approx_dist
        for r in similarity.pq_topk(emb, queries, k=10_000).collect()
    }
    assert {r.query_id for r in ivfpq} == set(range(10))
    for r in ivfpq:
        assert r.query_id != r.neighbor_id
        assert full[(r.query_id, r.neighbor_id)] == r.approx_dist


def test_ngram_containment_asymmetric_subset(spark):
    """A short doc embedded verbatim inside a long one: containment of
    the short side is 1.0 while Jaccard stays below a symmetric dedup
    threshold — the case the operator exists for."""
    from ad_data_pipelines_spark.operators import dedup

    short = "alpha beta gamma delta"
    # varied filler → many distinct 5-grams on the long side
    long = short + " " + " ".join(f"word{i:02d}" for i in range(30))
    docs = spark.createDataFrame(
        [(0, long, len(long)), (1, short, len(short))],
        "doc_id bigint, text string, n_chars bigint",
    )
    out = dedup.ngram_containment_pairs(docs, min_containment=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (0, 1)
    assert r.cont_b == 1.0  # all of short's shingles inside long
    assert r.cont_a < 0.5   # but long is NOT mostly made of short
    jac = dedup.ngram_jaccard_pairs(docs, min_jaccard=0.0).collect()[0].jac
    assert jac < 0.5  # symmetric measure misses the subset relation


def test_remove_dup_spans_owner_keeps_and_rebuild(spark):
    """The removal transform excises foreign duplicated spans and
    rebuilds text exactly: the owner (min doc_id) keeps its copy, a
    doc that is entirely a copy collapses to empty, interior excision
    stitches prefix+suffix, and clean docs pass through untouched."""
    from ad_data_pipelines_spark.operators import dedup

    k = 5
    shared = "ABCDEFGH"  # 8 chars
    texts = {
        0: "xy" + shared + "qz",   # owner of the shared block → intact
        1: shared,                 # pure copy → everything removed
        2: "12345" + shared + "67890",  # interior excision
        3: "no dups here!!",       # untouched
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    out = {r.doc_id: r for r in dedup.remove_dup_spans(docs, k=k).collect()}
    assert out[0].kept_text == texts[0]
    assert out[0].removed_chars == 0
    assert out[1].kept_text == ""
    assert out[1].removed_chars == len(shared)
    # doc 2 shares exactly the 8-char block → islands cover [6, 14)
    assert out[2].kept_text == "12345" + "67890"
    assert out[2].removed_chars == len(shared)
    assert out[3].kept_text == texts[3]
    for d in texts:
        assert out[d].n_chars == len(texts[d])
        assert out[d].kept_chars == len(out[d].kept_text)
        assert out[d].n_chars - out[d].removed_chars == out[d].kept_chars


def test_prefix_jaccard_pairs_complete_vs_brute_force(spark):
    """Prefix filtering must lose NO qualifying pair: compare against a
    Python brute force over all pairs on a corpus designed so some
    qualifying pairs share only ONE common token inside their prefix
    window (the boundary the ⌈t·|S|⌉ arithmetic must get right), and
    near-miss pairs sit just under the threshold."""
    import itertools

    from ad_data_pipelines_spark.operators import dedup

    texts = {
        0: "aa bb cc dd ee",
        1: "aa bb cc dd ff",      # J = 4/6 with doc 0
        2: "aa bb cc dd ee ff gg hh",  # J = 5/8 with 0 (= 0.625)
        3: "zz yy xx ww vv",      # disjoint from 0-2
        4: "zz yy xx ww vv",      # identical to 3 → J = 1
        5: "qq",                  # singleton set
        6: "qq rr",               # J = 1/2 with 5
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    for t_ in (0.5, 0.6, 0.7, 1.0):
        got = {(r.doc_a, r.doc_b): (r.inter_n, r.jac)
               for r in dedup.prefix_jaccard_pairs(
                   docs, threshold=t_).collect()}
        want = {}
        for a, b in itertools.combinations(sorted(texts), 2):
            sa, sb = set(texts[a].split()), set(texts[b].split())
            inter = len(sa & sb)
            jac = inter / len(sa | sb)
            if jac >= t_:
                want[(a, b)] = (inter, round(jac, 6))
        assert got == want, f"threshold {t_}"


def test_grid_knn_join_exact_including_fallback(spark):
    """grid_knn_join equals brute-force nearest for every left point —
    including points whose nearest neighbor is farther than one cell
    (the 3×3 certificate fails and the broadcast-brute fallback must
    engage) and tie distances (smallest right id wins)."""
    from ad_data_pipelines_spark.operators import geo

    # cell=10; right points: a dense pair near origin, one far outlier
    right = [(1, 3, 4), (2, 3, 4), (3, 95, 95)]
    # left: near origin (grid-resolved), equidistant tie to ids 1/2,
    # and a lonely point at (60, 60) whose nearest is ~49 away (>cell)
    left = [(10, 0, 0), (11, 6, 8), (12, 60, 60)]
    ldf = spark.createDataFrame(left, "lid bigint, x bigint, y bigint")
    rdf = spark.createDataFrame(right, "rid bigint, x bigint, y bigint")
    out = {r.lid: (r.nearest_rid, r.dist2)
           for r in geo.grid_knn_join(
               ldf, rdf, "lid", "rid", "x", "y", "x", "y", cell=10
           ).collect()}
    # brute reference
    want = {}
    for lid, lx, ly in left:
        best = min(((rx - lx) ** 2 + (ry - ly) ** 2, rid)
                   for rid, rx, ry in right)
        want[lid] = (best[1], best[0])
    assert out == want
    assert want[10] == (1, 25)    # tie on dist2=25 → min rid
    assert want[12][1] > 10 * 10  # proves the fallback row is exercised


def test_grid_knn_join_guards(spark):
    """An empty right side fails fast instead of silently dropping all
    left rows; max_brute_frac rejects a cell mis-sized for the data
    (every left row would hit the brute fallback) but passes when the
    grid certifies everything."""
    import pytest

    from ad_data_pipelines_spark.operators import geo

    ldf = spark.createDataFrame(
        [(10, 0, 0), (11, 6, 8)], "lid bigint, x bigint, y bigint"
    )
    empty = spark.createDataFrame([], "rid bigint, x bigint, y bigint")
    with pytest.raises(ValueError, match="right side is empty"):
        geo.grid_knn_join(ldf, empty, "lid", "rid", "x", "y", "x", "y", 10)

    far = spark.createDataFrame([(1, 500, 500)], "rid bigint, x bigint, y bigint")
    with pytest.raises(ValueError, match="brute"):
        geo.grid_knn_join(
            ldf, far, "lid", "rid", "x", "y", "x", "y", 10,
            max_brute_frac=0.5,
        )
    near = spark.createDataFrame([(1, 1, 1)], "rid bigint, x bigint, y bigint")
    ok = geo.grid_knn_join(
        ldf, near, "lid", "rid", "x", "y", "x", "y", 100,
        max_brute_frac=0.0,
    )
    assert ok.count() == 2


def test_bpe_encode_auto_rejects_forward_reference_merges(spark):
    """Auto engine selection validates the trained-list precondition:
    a merge whose operand is produced only by a LATER merge replays
    differently under 'expr' (in-order) vs 'arrow' (rank-priority), so
    engine=None raises; an explicit engine opts in, and an operand no
    merge ever produces stays allowed (inert under both engines)."""
    import pytest

    from ad_data_pipelines_spark.operators import vocab

    docs = spark.createDataFrame([(1, "abc")], "doc_id bigint, text string")
    divergent = [("ab", "c"), ("a", "b")]
    with pytest.raises(ValueError, match="later"):
        vocab.bpe_encode(docs, divergent)
    # explicit engines both run (and demonstrably disagree on 'abc')
    expr_pieces = vocab.bpe_encode(docs, divergent, engine="expr").collect()[0].pieces
    arrow_pieces = vocab.bpe_encode(docs, divergent, engine="arrow").collect()[0].pieces
    assert list(expr_pieces) == ["ab", "c"]
    assert list(arrow_pieces) == ["abc"]
    # inert operands (never produced) pass auto validation
    out = vocab.bpe_encode(docs, [("a", "b"), ("q0", "z0")]).collect()
    assert list(out[0].pieces) == ["ab", "c"]


def test_group_ols_matches_numpy_and_guards_degenerate(spark):
    """group_ols reproduces numpy's least-squares fit per group and
    returns NULL (not ±inf) for a constant-x group."""
    import numpy as np

    from ad_data_pipelines_spark.operators import agg

    rows = []
    for g, pts in {
        "a": [(1.0, 2.1), (2.0, 3.9), (3.0, 6.2), (4.0, 7.8)],
        "b": [(10.0, 5.0), (20.0, 4.0), (30.0, 3.5)],
        "c": [(7.0, 1.0), (7.0, 9.0)],  # constant x → no slope
    }.items():
        rows += [(g, x, y) for x, y in pts]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r.g: r for r in agg.group_ols(df, ["g"], "x", "y").collect()}

    for g, pts in {"a": 4, "b": 3}.items():
        xs = np.array([x for gg, x, y in rows if gg == g])
        ys = np.array([y for gg, x, y in rows if gg == g])
        slope, intercept = np.polyfit(xs, ys, 1)
        assert out[g].n == pts
        assert abs(out[g].slope - slope) < 1e-6, g
        assert abs(out[g].intercept - intercept) < 1e-6, g
    assert out["c"].slope is None and out["c"].intercept is None


def test_blocked_levenshtein_pairs_and_block_report(spark):
    """Blocking bounds the candidate set (cross-block near-matches are
    intentionally unseen), distance window [min,max] is honored, exact
    duplicates collapse in the distinct-normalize, and the block-size
    report prices each block at n·(n−1)/2."""
    from ad_data_pipelines_spark.operators import fuzzy

    rows = [
        (0, "small ring"), (1, "smell ring"),   # dist 1, same block
        (2, "small ring"),                      # exact dup → collapses
        (3, "swell ring"),                      # 2 from small, 1 from smell
        (4, "small rings"),                     # different block (rings)
        (5, "blue bolt"),                       # lone block
    ]
    df = spark.createDataFrame(rows, "id bigint, name string")
    out = {(r.text_a, r.text_b): r.dist
           for r in fuzzy.blocked_levenshtein_pairs(
               df, "name", block=fuzzy.last_word("text"), max_dist=3
           ).collect()}
    assert out == {
        ("small ring", "smell ring"): 1,
        ("small ring", "swell ring"): 2,
        ("smell ring", "swell ring"): 1,
    }
    # 'small rings' is 1 edit from 'small ring' but blocked apart — the
    # documented trade; a finer/looser key would surface it
    assert ("small ring", "small rings") not in out

    rep = {r.blk: (r.n_values, r.n_candidate_pairs)
           for r in fuzzy.block_size_report(
               df, "name", block=fuzzy.last_word("text")).collect()}
    assert rep == {"ring": (3, 3), "rings": (1, 0), "bolt": (1, 0)}

    # soundex blocking pairs phonetic variants that last-word blocking
    # scatters: 'john smith' / 'jon smyth' share no literal last word
    # but S530 blocks them together
    ph = spark.createDataFrame(
        [(0, "john smith"), (1, "jon smyth"), (2, "mary jones")],
        "id bigint, name string",
    )
    ph_pairs = {(r.text_a, r.text_b)
                for r in fuzzy.blocked_levenshtein_pairs(
                    ph, "name", block=fuzzy.soundex_last_word("text"),
                    max_dist=3).collect()}
    assert ph_pairs == {("john smith", "jon smyth")}
    literal_pairs = fuzzy.blocked_levenshtein_pairs(
        ph, "name", block=fuzzy.last_word("text"), max_dist=3
    ).count()
    assert literal_pairs == 0  # literal blocking misses the pair

    # entity resolution: the ring variants chain into ONE cluster under
    # the lexicographic-min canonical; unmatched names self-canonicalize
    clusters = {r.name: (r.canonical, r.is_canonical)
                for r in fuzzy.entity_clusters(
                    df, "name", block=fuzzy.last_word("text"), max_dist=3
                ).collect()}
    assert clusters == {
        "small ring": ("small ring", 1),
        "smell ring": ("small ring", 0),
        "swell ring": ("small ring", 0),
        "small rings": ("small rings", 1),
        "blue bolt": ("blue bolt", 1),
    }


def test_dup_span_coverage_interval_merge(spark):
    """Hand-built corpus pins the islands semantics: overlapping spans
    merge (no double count), disjoint repeats form separate islands,
    within-doc-only repeats don't count, and docs shorter than k (or
    with nothing shared) report zeroed rows, never missing ones."""
    from ad_data_pipelines_spark.operators import dedup

    k = 5
    shared = "ABCDEFGH"          # 8 chars → 4 k-grams, one merged island
    texts = {
        0: shared + "xq1zw",     # island [1,9) → 8 dup chars
        1: "r2v" + shared + "t",  # same island shifted
        2: shared + "-" * 6 + shared,  # two disjoint islands → 16
        3: "zzzzzzzzzz",          # within-doc repeats only → 0
        4: "abc",                 # shorter than k → 0
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id bigint, text string"
    )
    out = {r.doc_id: r for r in dedup.dup_span_coverage(docs, k=k).collect()}
    assert set(out) == set(texts)
    assert out[0].dup_chars == 8
    assert out[1].dup_chars == 8
    assert out[2].dup_chars == 16  # two islands, not one 21-char stretch
    assert out[3].dup_chars == 0
    assert out[4].dup_chars == 0 and out[4].n_chars == 3
    assert out[0].dup_frac == round(8 / len(texts[0]), 6)

    # adjacent-but-not-overlapping spans coalesce into one island when
    # they touch exactly end-to-start
    docs2 = spark.createDataFrame(
        [(0, "AAAAABBBBB"), (1, "AAAAA"), (2, "BBBBB")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r.dup_chars
           for r in dedup.dup_span_coverage(docs2, k=5).collect()}
    assert got == {0: 10, 1: 5, 2: 5}


def test_cooccurrence_pmi_matches_brute_force(spark):
    """Every pair/count/PMI value equals a pure-Python brute-force
    reference over the same corpus (window=2), and the strongly glued
    pair outranks a chance pairing."""
    import math
    from collections import Counter

    from ad_data_pipelines_spark.operators import corpusstats

    texts = ["a b c a b", "a b a b", "c d c", "d a b d"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    out = {
        r.pair: r
        for r in corpusstats.cooccurrence_pmi(
            docs, window=2, min_pair=1, top_n=1000
        ).collect()
    }

    cu, cp = Counter(), Counter()
    for txt in texts:
        toks = txt.split()
        cu.update(toks)
        for j in (1, 2):
            for i in range(len(toks) - j):
                cp[f"{toks[i]} {toks[i + j]}"] += 1
    tt, tp = float(sum(cu.values())), float(sum(cp.values()))
    want = {
        pair: (
            n,
            round(
                math.log(
                    (n * tt * tt)
                    / (tp * cu[pair.split()[0]] * cu[pair.split()[1]])
                ),
                4,
            ),
        )
        for pair, n in cp.items()
    }
    got = {pair: (r.n_pair, r.pmi) for pair, r in out.items()}
    assert got == want
    assert out["a b"].pmi > out["c a"].pmi


def test_zipf_slope_matches_numpy_ols(spark):
    """Crafted frequencies (8,4,2,1): the operator's slope equals a
    NumPy polyfit of ln(freq) on ln(rank) to 4dp."""
    import numpy as np

    from ad_data_pipelines_spark.operators import corpusstats

    words = ["w1"] * 8 + ["w2"] * 4 + ["w3"] * 2 + ["w4"]
    docs = spark.createDataFrame(
        [(0, " ".join(words), "en")], "doc_id bigint, text string, lang string"
    )
    out = corpusstats.zipf_slope(docs, top_n=100).collect()
    assert len(out) == 1 and out[0].n_top == 4
    x = np.log(np.arange(1, 5))
    y = np.log(np.array([8.0, 4.0, 2.0, 1.0]))
    want = round(float(np.polyfit(x, y, 1)[0]), 4)
    assert out[0].zipf_slope == want


def test_zipf_rank_ties_break_on_word(spark):
    """Equal-frequency words must rank deterministically (by word) so
    a top_n cutoff inside a tie block is stable across runs/engines."""
    from ad_data_pipelines_spark.operators import corpusstats

    docs = spark.createDataFrame(
        [(0, "zz aa zz aa mm nn", "en")],
        "doc_id bigint, text string, lang string",
    )
    # top_n=3 cuts inside the mm/nn tie (1,1) — mm must win by word order
    out = corpusstats.zipf_slope(docs, top_n=3).collect()[0]
    assert out.n_top == 3
    out4 = corpusstats.zipf_slope(docs, top_n=4).collect()[0]
    assert out4.n_top == 4


def test_train_bpe_matches_python_reference(spark):
    """The distributed BPE trainer reproduces a pure-Python reference
    implementation exactly: same merge sequence (count-desc,
    lexicographic tiebreak) and same induced symbol vocabulary."""
    from collections import Counter

    from ad_data_pipelines_spark.operators import vocab

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "low new low",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )

    # --- pure-Python reference ---
    wc = Counter(w for t in texts for w in t.split())
    words = {w: list(w) for w in wc}

    def ref_merges(n):
        out = []
        for _ in range(n):
            pc = Counter()
            for w, syms in words.items():
                for x, y in zip(syms, syms[1:]):
                    pc[(x, y)] += wc[w]
            if not pc:
                break
            # count desc, then (a, b) asc — the trainer's tiebreak
            (a, b), _n = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            out.append((a, b))
            for w, syms in words.items():
                merged, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == a
                        and syms[i + 1] == b
                    ):
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                words[w] = merged
        return out

    want_merges = ref_merges(8)
    got_merges, table = vocab.train_bpe(docs, n_merges=8)
    assert got_merges == want_merges

    got_syms = {r.word: list(r.syms) for r in table.collect()}
    assert got_syms == words
    table.unpersist()

    want_vocab = Counter()
    for w, syms in words.items():
        for s in syms:
            want_vocab[s] += wc[w]
    got_vocab = {
        r.symbol: r.n_occurrences
        for r in vocab.bpe_symbol_vocab(table).collect()
    }
    assert got_vocab == dict(want_vocab)


def test_train_bpe_stops_when_fully_merged(spark):
    """A corpus whose words merge down to single symbols stops early
    instead of spinning out empty iterations."""
    from ad_data_pipelines_spark.operators import vocab

    docs = spark.createDataFrame(
        [(0, "ab ab ab cd")], "doc_id bigint, text string"
    )
    merges, table = vocab.train_bpe(docs, n_merges=50)
    assert merges == [("a", "b"), ("c", "d")]
    assert {tuple(r.syms) for r in table.collect()} == {("ab",), ("cd",)}
    table.unpersist()


def test_bpe_encode_roundtrip_and_unseen_words(spark):
    """Encoding with the trained merges reproduces the trainer's
    per-word segmentation, concatenating pieces rebuilds the original
    words in order, and unseen words merge as far as the list allows."""
    from ad_data_pipelines_spark.operators import vocab

    train = spark.createDataFrame(
        [(0, "low lower lowest low low new newer newest new low new")],
        "doc_id bigint, text string",
    )
    merges, table = vocab.train_bpe(train, n_merges=6)
    trained = {r.word: list(r.syms) for r in table.collect()}
    table.unpersist()

    test_docs = spark.createDataFrame(
        [(1, "low newest low"), (2, "slower")],  # 'slower' never trained
        "doc_id bigint, text string",
    )
    out = {r.doc_id: list(r.pieces)
           for r in vocab.bpe_encode(test_docs, merges).collect()}
    assert out[1] == trained["low"] + trained["newest"] + trained["low"]
    assert "".join(out[2]) == "slower"
    assert len(out[2]) > 1  # partial merges, not one unseen blob
    assert all(piece for piece in out[2])  # no empty pieces


def test_bpe_encode_arrow_engine_matches_expr(spark):
    """The single-pass Arrow encoder (the production path for 30k-merge
    vocabularies) segments identically to the per-merge Catalyst fold
    replay — trained words, unseen words, and an in-order Python
    replay reference all agree; auto engine selection kicks in above
    ARROW_ENCODE_THRESHOLD."""
    from ad_data_pipelines_spark.operators import vocab

    train = spark.createDataFrame(
        [
            (0, "low lower lowest low low new newer newest new"),
            (1, "widest wider wide wide widest new low"),
            (2, "slow slowest slower slow low low"),
        ],
        "doc_id bigint, text string",
    )
    merges, table = vocab.train_bpe(train, n_merges=12)
    table.unpersist()
    test_docs = spark.createDataFrame(
        [(1, "low newest wide slow low"), (2, "slowest unseenword"),
         (3, "x"), (4, "lowlowlow widestest")],
        "doc_id bigint, text string",
    )
    expr_out = {r.doc_id: list(r.pieces)
                for r in vocab.bpe_encode(
                    test_docs, merges, engine="expr").collect()}
    arrow_out = {r.doc_id: list(r.pieces)
                 for r in vocab.bpe_encode(
                     test_docs, merges, engine="arrow").collect()}
    assert arrow_out == expr_out

    # in-order replay reference (the semantics both engines claim)
    def replay(word):
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    for doc_id, text in [(1, "low newest wide slow low"),
                         (2, "slowest unseenword"), (3, "x"),
                         (4, "lowlowlow widestest")]:
        want = [p for w in text.split() for p in replay(w)]
        assert arrow_out[doc_id] == want, doc_id

    # auto selection: a >threshold merge list (padded with inert merge
    # pairs) routes to arrow and still matches the expr semantics
    padded = merges + [(f"q{i}", f"z{i}") for i in range(
        vocab.ARROW_ENCODE_THRESHOLD)]
    assert len(padded) > vocab.ARROW_ENCODE_THRESHOLD
    auto_out = {r.doc_id: list(r.pieces)
                for r in vocab.bpe_encode(test_docs, padded).collect()}
    assert auto_out == expr_out


def test_psi_vs_reference_rejects_bad_references(spark):
    """Hostile reference histograms fail loudly: empty, negative,
    non-normalized, or an empty value range."""
    import pytest

    from ad_data_pipelines_spark.operators import agg

    df = spark.createDataFrame([(1, "a", 1.0)], "id bigint, g string, v double")
    for bad_ref, lo, hi in [
        ([], 0.0, 1.0),
        ([0.5, -0.1, 0.6], 0.0, 1.0),
        ([0.3, 0.3], 0.0, 1.0),       # sums to 0.6
        ([0.5, 0.5], 1.0, 1.0),       # empty range
    ]:
        with pytest.raises(ValueError):
            agg.psi_vs_reference(df, "v", ["g"], bad_ref, lo, hi)


def test_cooccurrence_and_zipf_degenerate_inputs(spark):
    """Empty corpora and single-token docs produce empty/NULL-safe
    results, never errors — the paths a scoped filter can reach."""
    from ad_data_pipelines_spark.operators import corpusstats

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert corpusstats.cooccurrence_pmi(empty).count() == 0

    single = spark.createDataFrame(
        [(0, "lonely"), (1, "  "), (2, "a b")],
        "doc_id bigint, text string",
    )
    out = corpusstats.cooccurrence_pmi(single, min_pair=1).collect()
    assert [r.pair for r in out] == ["a b"]

    empty_l = spark.createDataFrame([], "doc_id bigint, text string, lang string")
    assert corpusstats.zipf_slope(empty_l).count() == 0
    one_word = spark.createDataFrame(
        [(0, "x x x", "en")], "doc_id bigint, text string, lang string"
    )
    row = corpusstats.zipf_slope(one_word).collect()[0]
    assert row.n_top == 1 and row.zipf_slope is None  # slope undefined


def test_epoch_plan_caps_and_allotments(spark):
    """Hand-computed τ=0.5 token allotments on a two-stratum corpus:
    the small stratum hits the 2-epoch cap (planned = 2·n), the large
    one takes its uncapped temperature share; guards raise."""
    import math

    import pytest

    from ad_data_pipelines_spark.operators import sampling

    docs = spark.createDataFrame(
        # 'big': 16 tokens over 2 docs; 'small': 4 tokens over 1 doc
        [
            (1, "t " * 8, "big"),
            (2, "t " * 8, "big"),
            (3, "t " * 4, "small"),
        ],
        "doc_id bigint, text string, lang string",
    ).select("doc_id", F.trim("text").alias("text"), "lang")
    out = {
        r.lang: r
        for r in sampling.epoch_plan(
            docs, "lang", budget_tokens=40, tau=0.5, max_epochs=2.0
        ).collect()
    }
    wsum = math.sqrt(16) + math.sqrt(4)  # 6.0
    raw_small = 40 * 2 / wsum / 4  # 3.33 -> capped at 2
    raw_big = 40 * 4 / wsum / 16  # 1.667 -> uncapped
    assert out["small"].capped and out["small"].epochs == 2.0
    assert out["small"].planned_tokens == 8  # 2 epochs x 4 tokens
    assert raw_small > 2.0
    assert not out["big"].capped
    assert out["big"].epochs == round(raw_big, 4)
    assert out["big"].planned_tokens == int(16 * raw_big + 1e-9)
    with pytest.raises(ValueError, match="budget_tokens"):
        sampling.epoch_plan(docs, "lang", budget_tokens=-1)
    with pytest.raises(ValueError, match="max_epochs"):
        sampling.epoch_plan(docs, "lang", 10, max_epochs=0)


def test_temperature_mix_budgets_and_determinism(spark):
    """τ shapes the per-stratum budgets exactly — τ=0.5 ∝ sqrt(n),
    τ=1 proportional, τ=0 uniform — capped at stratum size, and the
    picked rows are identical across reruns (hash-rank determinism)."""
    import math

    from ad_data_pipelines_spark.operators import sampling

    sizes = {"a": 400, "b": 100, "c": 25}
    rows = [
        (i + 1000 * j, s)
        for j, (s, n) in enumerate(sorted(sizes.items()))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, src string")

    def got_counts(tau, budget):
        out = sampling.temperature_mix(
            df, "src", "doc_id", budget=budget, tau=tau
        ).collect()
        c = {}
        for r in out:
            c[r.src] = c.get(r.src, 0) + 1
        return c

    # τ=0.5: weights 20/10/5 → shares 4/7, 2/7, 1/7 of 70
    assert got_counts(0.5, 70) == {"a": 40, "b": 20, "c": 10}
    # τ=1: proportional to 400/100/25
    w = sum(sizes.values())
    assert got_counts(1.0, 105) == {
        s: math.floor(105 * n / w + 1e-9) for s, n in sizes.items()
    }
    # τ=0: uniform across strata, capped at the smallest stratum's size
    assert got_counts(0.0, 90) == {"a": 30, "b": 30, "c": 25}

    a = sorted(
        r.doc_id
        for r in sampling.temperature_mix(
            df, "src", "doc_id", budget=70
        ).collect()
    )
    b = sorted(
        r.doc_id
        for r in sampling.temperature_mix(
            df, "src", "doc_id", budget=70
        ).collect()
    )
    assert a == b and len(a) == 70


def test_cms_overestimates_merges_and_bounds(spark):
    """Count-Min estimates never undercount, the hot key's estimate is
    within the eps*N theoretical bound, and merging per-shard sketches
    bucket-wise equals the sketch of the union (mergeability — the
    property that makes it a one-pass monitoring structure)."""
    from ad_data_pipelines_spark.operators import sketch

    # 1k occurrences of 'hot', 10 each of 200 cold keys → N = 3000
    data = spark.range(3000).select(
        F.when(F.col("id") < 1000, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold"), (F.col("id") % 200)))
        .alias("k")
    )
    width, depth = 256, 4
    cms = sketch.count_min_table(data, "k", width=width, depth=depth)
    est = {
        r.k: r.est
        for r in sketch.cms_estimates(
            cms, data, "k", width=width, depth=depth
        ).collect()
    }
    exact = {r.k: r.cnt for r in data.groupBy("k").agg(
        F.count("*").alias("cnt")).collect()}
    n_total = 3000
    eps = 2.718281828 / width
    for k, true in exact.items():
        assert est[k] >= true, (k, est[k], true)
    assert est["hot"] <= exact["hot"] + eps * n_total * 4  # generous slack

    # two deterministic shards re-derived from the same range
    left = spark.range(1500).select(
        F.when(F.col("id") < 1000, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold"), (F.col("id") % 200))).alias("k"))
    right = spark.range(1500, 3000).select(
        F.when(F.col("id") < 1000, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold"), (F.col("id") % 200))).alias("k"))
    merged = sketch.cms_merge([
        sketch.count_min_table(left, "k", width=width, depth=depth),
        sketch.count_min_table(right, "k", width=width, depth=depth),
    ])
    whole = {(r.row, r.bucket): r.cnt for r in cms.collect()}
    got = {(r.row, r.bucket): r.cnt for r in merged.collect()}
    assert got == whole


def test_approx_top_keys_exact_on_planted_heavy_hitters(spark):
    """On a skewed key distribution the sample→candidate→verify path
    returns the TRUE top-k with EXACT counts: heavy keys (100× the
    cold frequency) cannot dodge a 20% sample."""
    from ad_data_pipelines_spark.operators import sketch

    # 10 heavy keys × 500 rows, 500 cold keys × 5 rows
    df = spark.range(7500).select(
        F.col("id"),
        F.when(F.col("id") < 5000, F.concat(F.lit("heavy"), F.col("id") % 10))
        .otherwise(F.concat(F.lit("cold"), F.col("id") % 500))
        .alias("k"),
    )
    got = [
        (r.k, r.n, r.rank)
        for r in sketch.approx_top_keys(
            df, "k", "id", k=10, sample_pct=20
        ).orderBy("rank").collect()
    ]
    want = sorted(
        [(f"heavy{i}", 500) for i in range(10)], key=lambda x: x[0]
    )
    assert [(k, n) for k, n, _ in got] == want
    assert [r for _, _, r in got] == list(range(1, 11))


def test_hll_shard_union_matches_whole_and_bounds_error(spark):
    """Per-shard HLL sketches union to EXACTLY the sketch of the whole
    (same binary algebra), and the estimate lands within the
    DataSketches error envelope of the true distinct count."""
    from ad_data_pipelines_spark.operators import sketch

    df = spark.range(50_000).select(
        (F.col("id") % 3000).alias("k"), (F.col("id") % 10).alias("day")
    )
    shards = sketch.hll_shard_table(df, "k", ["day"], lg_k=12)
    assert shards.count() == 10
    est_union = sketch.hll_union_estimate(shards).collect()[0].n_distinct_est
    est_whole = sketch.hll_union_estimate(
        sketch.hll_shard_table(df.withColumn("one", F.lit(1)), "k", ["one"])
    ).collect()[0].n_distinct_est
    true = 3000
    assert abs(est_union - true) / true < 0.05
    assert abs(est_whole - true) / true < 0.05
    # subset query without re-scanning data: day d holds only keys
    # ≡ d (mod 10) — gcd(10, 3000) = 10 — so days 0-4 hold exactly
    # 1500 distinct keys, and the unioned subset estimate tracks THAT
    sub = sketch.hll_union_estimate(
        shards.filter(F.col("day") < 5)
    ).collect()[0].n_distinct_est
    assert abs(sub - 1500) / 1500 < 0.05


def test_nb_classifier_separates_distinct_vocabularies(spark):
    """Trained on documents with disjoint class vocabularies, the
    hashed-NB scorer classifies a held-out set perfectly, unseen
    tokens get the smoothed unseen weight (not 0 or NULL), and empty
    docs score the bare prior."""
    from ad_data_pipelines_spark.operators import classify

    pos_words = ["alpha", "bravo", "charlie", "delta"]
    neg_words = ["zulu", "yankee", "xray", "whiskey"]
    rows = []
    for i in range(40):
        w = pos_words if i % 2 == 0 else neg_words
        rows.append((i, " ".join(w[(i + j) % 4] for j in range(6)), i % 2 == 0))
    train = spark.createDataFrame(rows, "doc_id bigint, text string, y boolean")
    weights, consts = classify.train_nb(train, F.col("y"), n_features=256)

    held = spark.createDataFrame(
        [
            (100, "alpha delta charlie"),          # pure positive vocab
            (101, "zulu whiskey zulu"),            # pure negative vocab
            (102, ""),                              # empty → prior only
            (103, "neverseenword anotherunknown"),  # all unseen
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: r.score
        for r in classify.nb_score(held, weights, consts, n_features=256).collect()
    }
    assert got[100] > 0 and got[101] < 0
    prior = consts.collect()[0].prior
    assert abs(got[102] - prior) < 1e-12
    w_unseen = consts.collect()[0].w_unseen
    assert abs(got[103] - (prior + 2 * w_unseen)) < 1e-9
    # balanced classes, symmetric vocab → prior ≈ 0, unseen ≈ neutral
    assert abs(prior) < 1e-9 and abs(w_unseen) < 1e-9


def test_scd2_apply_incremental_equals_batch_rebuild(spark):
    """Applying daily change batches one by one to an SCD2 history
    produces exactly the history `scd2_history` rebuilds from the
    full snapshot sequence; unchanged re-sends never fragment
    intervals; re-applying a batch is a no-op; new keys open
    correctly."""
    import datetime as dt

    from ad_data_pipelines_spark.operators import scd

    D = lambda d: dt.datetime(2025, 1, d)
    # per-day snapshots: key 1 changes day 3; key 2 stable; key 3
    # appears day 2; key 1 re-sends the same value day 4 (no-op)
    days = {
        1: [(1, "a"), (2, "x")],
        2: [(1, "a"), (2, "x"), (3, "p")],
        3: [(1, "b"), (2, "x"), (3, "p")],
        4: [(1, "b"), (2, "x"), (3, "q")],
    }
    hist = None
    for d, rows in days.items():
        changes = spark.createDataFrame(
            [(k, v, D(d)) for k, v in rows],
            "k bigint, attr string, effective timestamp",
        )
        if hist is None:
            hist = scd.scd2_apply(
                spark.createDataFrame(
                    [], "k bigint, attr string, valid_from timestamp, "
                        "valid_to timestamp"
                ),
                changes, ["k"], ["attr"],
            )
        else:
            hist = scd.scd2_apply(hist, changes, ["k"], ["attr"])
        hist = spark.createDataFrame(hist.collect(), hist.schema)  # pin

    snapshots = spark.createDataFrame(
        [(k, v, D(d)) for d, rows in days.items() for k, v in rows],
        "k bigint, attr string, snap_ts timestamp",
    )
    want = {
        (r.k, r.attr, r.valid_from, r.valid_to)
        for r in scd.scd2_history(
            snapshots, ["k"], ["attr"], "snap_ts"
        ).collect()
    }
    got = {
        (r.k, r.attr, r.valid_from, r.valid_to) for r in hist.collect()
    }
    assert got == want
    # exactly one open interval per key
    open_rows = [r for r in hist.collect() if r.valid_to is None]
    assert sorted((r.k, r.attr) for r in open_rows) == [
        (1, "b"), (2, "x"), (3, "q")
    ]

    # idempotence: re-applying day 4's batch changes nothing
    again = scd.scd2_apply(
        hist,
        spark.createDataFrame(
            [(k, v, D(4)) for k, v in days[4]],
            "k bigint, attr string, effective timestamp",
        ),
        ["k"], ["attr"],
    )
    assert {
        (r.k, r.attr, r.valid_from, r.valid_to) for r in again.collect()
    } == want


# --------------------------------------------------------------------------
# distributed NTILE (W8 scale-safe form)
# --------------------------------------------------------------------------


def test_distributed_ntile_equals_global_ntile(spark):
    """Row-identical to NTILE(n) OVER (ORDER BY v, id) on tied, signed
    data — including the uneven split (first total%n buckets one row
    larger) and n > N (one row per leading bucket)."""
    import random

    from pyspark.sql import Window

    from ad_data_pipelines_spark.operators import agg

    rng = random.Random(7)
    rows = [
        (i, rng.choice([-4.25, 0.0, 1.5, 2.5, 2.5, 3.0]))
        for i in range(137)
    ]
    df = spark.createDataFrame(rows, "id bigint, v double")
    for n in (1, 3, 10):
        got = {
            r.id: r.d
            for r in agg.distributed_ntile(
                df, n, ["v", "id"], out_col="d"
            ).collect()
        }
        want = {
            r.id: r.d
            for r in df.select(
                "id",
                F.ntile(n)
                .over(Window.orderBy("v", "id"))
                .cast("bigint")
                .alias("d"),
            ).collect()
        }
        assert got == want, n

    tiny = spark.createDataFrame(
        [(i, float(i)) for i in range(4)], "id bigint, v double"
    )
    got4 = sorted(
        (r.id, r.d)
        for r in agg.distributed_ntile(
            tiny, 10, ["v", "id"], out_col="d"
        ).collect()
    )
    assert got4 == [(0, 1), (1, 2), (2, 3), (3, 4)]


def test_distributed_ntile_skew_fallback_balances(spark):
    """The 90%-constant-column degeneracy (r7 verdict watch item):
    value-range sharding puts ~all rows in ONE shard; the fallback must
    (a) keep results row-identical to NTILE and (b) actually re-balance
    — no refined shard holds more than a sub_buckets-th of the heavy
    mass (plus slack). Also: a string tiebreak column exercises the
    monotone byte encoding."""
    import random

    from pyspark.sql import Window

    from ad_data_pipelines_spark.operators import agg

    rng = random.Random(11)
    rows = [
        (i, 0.0 if i % 10 else rng.uniform(1.0, 9.0), f"k{i:06d}")
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "id bigint, v double, k string")

    sharded, counts, total = agg._ntile_shards(
        df, ["v", "k"], 0.0, 9.0, 64, 16
    )
    assert total == 2000
    # unsplit, the v=0.0 shard holds 1800 rows; split on k's byte
    # encoding it must spread across ~16 sub-shards
    assert max(c for _, c in counts) < 0.9 * 2000 / 4, counts
    assert sum(c for _, c in counts) == total

    for n in (7, 10):
        got = {
            r.id: r.d
            for r in agg.distributed_ntile(
                df, n, ["v", "k"], out_col="d"
            ).collect()
        }
        want = {
            r.id: r.d
            for r in df.select(
                "id",
                F.ntile(n)
                .over(Window.orderBy("v", "k"))
                .cast("bigint")
                .alias("d"),
            ).collect()
        }
        assert got == want, n

    # single-order-column degeneracy: heavily skewed but UNIQUE values
    # (mode-1 split on the first column's own sub-range)
    skew = spark.createDataFrame(
        [(i, float(i) if i < 50 else 1000.0 + i * 1e-6) for i in range(1000)],
        "id bigint, v double",
    )
    got1 = {
        r.id: r.d
        for r in agg.distributed_ntile(skew, 4, ["v"], out_col="d").collect()
    }
    want1 = {
        r.id: r.d
        for r in skew.select(
            "id",
            F.ntile(4).over(Window.orderBy("v")).cast("bigint").alias("d"),
        ).collect()
    }
    assert got1 == want1


def test_distributed_ntile_guards_and_empty(spark):
    """NULL order values are unrankable → loud error (the
    budget_select rule); empty input keeps the schema; the plan's only
    single-partition exchange sits above the shard-count aggregate."""
    from ad_data_pipelines_spark.operators import agg
    from tests.test_plan_hygiene import single_partition_collapses

    df = spark.createDataFrame(
        [(1, 1.0), (2, None)], "id bigint, v double"
    )
    with pytest.raises(ValueError, match="NULL"):
        agg.distributed_ntile(df, 4, ["v", "id"])

    empty = df.filter("id < 0")
    out = agg.distributed_ntile(empty, 4, ["v", "id"], out_col="d")
    assert out.count() == 0
    assert out.columns == ["id", "v", "d"]

    clean = spark.createDataFrame(
        [(i, float(i % 13)) for i in range(200)], "id bigint, v double"
    )
    plan = (
        agg.distributed_ntile(clean, 10, ["v", "id"], out_col="d")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not single_partition_collapses(plan), plan


# --------------------------------------------------------------------------
# PSI with trained quantile bin edges
# --------------------------------------------------------------------------


def test_psi_edges_uniform_matches_equal_width_form(spark):
    """With edges placed at the equal-width cut points, the
    trained-edges PSI must equal the [lo, hi) form bin-for-bin —
    same binning, same algebra."""
    from ad_data_pipelines_spark.operators import agg

    rows = [(i % 3, float((i * 37) % 100)) for i in range(600)]
    df = spark.createDataFrame(rows, "g int, v double")
    ref = [0.1] * 10
    lo, hi = 0.0, 100.0
    edges = [lo + (hi - lo) * i / 10 for i in range(1, 10)]
    a = {
        r.g: (r.n_values, r.psi)
        for r in agg.psi_vs_reference(df, "v", ["g"], ref, lo, hi).collect()
    }
    b = {
        r.g: (r.n_values, r.psi)
        for r in agg.psi_vs_reference_edges(
            df, "v", ["g"], ref, edges
        ).collect()
    }
    assert a == b


def test_psi_quantile_trained_edges_and_duckdb_twin(spark, tmp_path):
    """Train decile edges on a heavy-tailed reference (where
    equal-width bins would put ~everything in bin 0), verify the
    reference scores itself ~0 under its own trained bins, a shifted
    sample scores high, and the DuckDB twin reproduces the Spark
    scores exactly from the same literal edges."""
    import duckdb

    from ad_data_pipelines_spark.operators import agg

    # lognormal-ish heavy tail via exp of uniform-ish residues
    ref_rows = [
        (0, float(2.718 ** ((i * 97 % 1000) / 150.0))) for i in range(2000)
    ]
    ref_df = spark.createDataFrame(ref_rows, "g int, v double")
    edges = agg.quantile_bin_edges(ref_df, "v", 10, exact=True)
    assert len(edges) == 9 and edges == sorted(edges)
    # equal-width bins on the same data: the bottom bin swallows >60%
    # (the pathology trained edges exist to fix)
    lo, hi = 0.0, max(v for _, v in ref_rows)
    skew = ref_df.filter(F.col("v") < lo + (hi - lo) / 10).count()
    assert skew > 0.6 * len(ref_rows)

    # train proportions = the reference binned by its own edges
    props = [0.1] * 10
    self_score = agg.psi_vs_reference_edges(
        ref_df, "v", ["g"], props, edges
    ).collect()[0]
    assert abs(self_score.psi) < 0.01  # ~uniform by construction

    shifted = spark.createDataFrame(
        [(0, float(v)) for v in [1.0, 1.1, 1.2] * 300], "g int, v double"
    )
    assert (
        agg.psi_vs_reference_edges(shifted, "v", ["g"], props, edges)
        .collect()[0]
        .psi
        > 0.25
    )

    # cross-engine: identical scores from the same literal edges
    pq = str(tmp_path / "ref.parquet")
    ref_df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW refv AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    want = con.execute(
        agg.psi_vs_reference_edges_sql("refv", "v", ["g"], props, edges)
    ).fetchall()
    got = [
        (r.g, r.n_values, r.psi)
        for r in agg.psi_vs_reference_edges(
            ref_df, "v", ["g"], props, edges
        ).collect()
    ]
    assert sorted(got) == sorted([tuple(r) for r in want])


def test_psi_edges_and_quantile_guards(spark):
    from ad_data_pipelines_spark.operators import agg

    df = spark.createDataFrame([(0, 1.0)], "g int, v double")
    with pytest.raises(ValueError, match="edges"):
        agg.psi_vs_reference_edges(df, "v", ["g"], [0.5, 0.5], [1.0, 2.0])
    with pytest.raises(ValueError, match="non-decreasing"):
        agg.psi_vs_reference_edges(df, "v", ["g"], [0.3, 0.3, 0.4], [2.0, 1.0])
    with pytest.raises(ValueError, match="bins"):
        agg.quantile_bin_edges(df, "v", 1)
    empty = df.filter("g < 0")
    with pytest.raises(ValueError, match="no non-NULL"):
        agg.quantile_bin_edges(empty, "v", 4)
    # approx and exact agree on a small frame
    big = spark.createDataFrame(
        [(0, float(i)) for i in range(1000)], "g int, v double"
    )
    e1 = agg.quantile_bin_edges(big, "v", 4, exact=True)
    e2 = agg.quantile_bin_edges(big, "v", 4, exact=False)
    assert all(abs(a - b) <= 1.0 for a, b in zip(e1, e2))


# --------------------------------------------------------------------------
# Fixed-point PageRank (operators/graph.py)
# --------------------------------------------------------------------------


def test_pagerank_bit_equal_to_duckdb_and_structure(spark):
    """The fixed-point recurrence is BIT-EQUAL between Spark and the
    unrolled DuckDB oracle on a hand-built graph; structurally the hub
    outranks everything, symmetric nodes tie exactly, self-loops and
    duplicate edges are ignored, and total mass stays ≤ scale (floor
    leakage only)."""
    import duckdb

    from ad_data_pipelines_spark.operators import graph

    edges = [
        ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("c", "d"),
        ("d", "c"), ("b", "c"), ("c", "b"), ("e", "c"), ("c", "e"),
        ("a", "a"), ("a", "b"),  # self-loop + duplicate: both ignored
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = sorted(
        (r.node, r.rank_fp) for r in graph.pagerank(df, iterations=10).collect()
    )
    vals = ", ".join(f"('{s}','{d}')" for s, d in edges)
    want = sorted(
        duckdb.connect()
        .execute(
            graph.pagerank_sql(
                f"SELECT * FROM (VALUES {vals}) AS t(src, dst)", iterations=10
            )
        )
        .fetchall()
    )
    assert got == want
    ranks = dict(got)
    assert ranks["c"] == max(ranks.values())        # degree-4 hub
    assert ranks["a"] == ranks["b"]                 # symmetric pair
    assert ranks["d"] == ranks["e"]                 # symmetric leaves
    assert sum(ranks.values()) <= 10**12            # floor leakage only
    assert sum(ranks.values()) > 10**12 - 5 * 10    # ≤1 unit/node/step


def test_pagerank_dangling_partitioning_and_guards(spark):
    """Dangling mass vanishes (a→b only: b still outranks a, no crash),
    results are invariant to input partitioning (determinism contract),
    and bad parameters fail loudly. Empty edge set → empty typed frame."""
    import pytest

    from ad_data_pipelines_spark.operators import graph

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    r = {x.node: x.rank_fp for x in graph.pagerank(df, iterations=5).collect()}
    assert r["b"] > r["a"] > 0

    big = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7) % 40}") for i in range(200)],
        "src string, dst string",
    )
    one = sorted(map(tuple, graph.pagerank(big, iterations=6).collect()))
    other = sorted(
        map(tuple, graph.pagerank(big.repartition(13), iterations=6).collect())
    )
    assert one == other

    with pytest.raises(ValueError, match="damping_pct"):
        graph.pagerank(df, damping_pct=100)
    with pytest.raises(ValueError, match="iteration"):
        graph.pagerank(df, iterations=0)
    with pytest.raises(ValueError, match="scale"):
        graph.pagerank(df, scale=10**17)  # would wrap in Spark, not DuckDB
    with pytest.raises(ValueError, match="floor to 0"):
        graph.pagerank(df, scale=1)  # fewer units of mass than nodes
    with pytest.raises(ValueError, match="checkpoint_every"):
        graph.pagerank(df, checkpoint_every=0)  # was ZeroDivisionError
    empty = graph.pagerank(df.filter("src = 'zzz'"))
    assert empty.columns == ["node", "rank_fp"]
    assert empty.count() == 0


def test_weighted_pagerank_bit_equal_and_guards(spark):
    """Weighted PageRank: bit-equal to the weighted DuckDB twin
    (duplicate edges collapse by SUMMING w — checked via a duplicate
    row), weight=1 on distinct edges reproduces the unweighted
    ranking bit-for-bit, and the three loud guards fire: non-integral
    weight dtype, non-positive weights, int64 headroom."""
    import duckdb
    import pytest

    from pyspark.sql import functions as F

    from ad_data_pipelines_spark.operators import graph

    edges = [
        ("a", "b", 3), ("b", "a", 1), ("a", "c", 1), ("c", "a", 2),
        ("c", "d", 5), ("d", "c", 1), ("b", "c", 2), ("c", "b", 1),
        ("e", "c", 4), ("c", "e", 1),
        ("a", "a", 9), ("a", "b", 2),  # self-loop ignored; dup sums to 5
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w int")
    got = sorted(
        (r.node, r.rank_fp)
        for r in graph.pagerank(df, iterations=10, weight="w").collect()
    )
    vals = ", ".join(f"('{s}','{d}',{w})" for s, d, w in edges)
    want = sorted(
        duckdb.connect()
        .execute(
            graph.pagerank_sql(
                f"SELECT * FROM (VALUES {vals}) t(src, dst, w)",
                iterations=10,
                weighted=True,
            )
        )
        .fetchall()
    )
    assert got == want
    ranks = dict(got)
    assert ranks["c"] == max(ranks.values())  # the weighted hub too

    # weight 1 everywhere on DISTINCT edges == the unweighted ranking
    # (with duplicates it must NOT match: unweighted dedups, weighted
    # sums — that duplicate-summing is asserted by the oracle above)
    dedup = df.select("src", "dst").distinct().withColumn("w", F.lit(1))
    u = sorted(map(tuple, graph.pagerank(df, iterations=8).collect()))
    w1 = sorted(
        map(
            tuple,
            graph.pagerank(dedup, iterations=8, weight="w").collect(),
        )
    )
    assert u == w1

    with pytest.raises(ValueError, match="integral"):
        graph.pagerank(
            df.withColumn("w", F.col("w").cast("double")), weight="w"
        )
    with pytest.raises(ValueError, match="positive"):
        graph.pagerank(df.withColumn("w", F.col("w") - 3), weight="w")
    with pytest.raises(ValueError, match="headroom"):
        graph.pagerank(
            df.withColumn("w", (F.col("w") * 10**6).cast("bigint")),
            weight="w",
            scale=10**16,
        )


def test_label_propagation_bit_equal_structure_and_guards(spark):
    """Semi-synchronous LPA: bit-equal to the unrolled DuckDB twin,
    finds the two bridged clusters, is invariant to input
    partitioning, reaches a fixed point on a complete bipartite graph
    (the oscillation case the half-steps exist for), and bad
    parameters fail loudly."""
    import duckdb
    import pytest

    from ad_data_pipelines_spark.operators import graph

    # two 4-cliques bridged by one edge (mixed-parity ids)
    c1, c2 = [0, 1, 2, 3], [10, 11, 12, 13]
    und = []
    for grp in (c1, c2):
        for a in grp:
            for b in grp:
                if a < b:
                    und += [(a, b), (b, a)]
    und += [(3, 10), (10, 3)]
    df = spark.createDataFrame(und, "src bigint, dst bigint")

    got = sorted(
        map(tuple, graph.label_propagation(df, iterations=5).collect())
    )
    vals = ", ".join(f"({s},{d})" for s, d in und)
    want = sorted(
        duckdb.connect()
        .execute(
            graph.label_propagation_sql(
                f"SELECT * FROM (VALUES {vals}) t(src, dst)", iterations=5
            )
        )
        .fetchall()
    )
    assert got == want
    lab = dict(got)
    assert len({lab[n] for n in c1}) == 1  # one community per clique
    assert len({lab[n] for n in c2}) == 1

    repart = sorted(
        map(
            tuple,
            graph.label_propagation(
                df.repartition(13), iterations=5
            ).collect(),
        )
    )
    assert repart == got

    # complete bipartite K3,3 — fully synchronous sweeps oscillate
    # here; semi-synchronous must reach a FIXED POINT (iters 4 == 5)
    k33 = [
        (a, b) for a in (0, 2, 4) for b in (1, 3, 5)
    ] + [(b, a) for a in (0, 2, 4) for b in (1, 3, 5)]
    kdf = spark.createDataFrame(k33, "src bigint, dst bigint")
    l4 = sorted(
        map(tuple, graph.label_propagation(kdf, iterations=4).collect())
    )
    l5 = sorted(
        map(tuple, graph.label_propagation(kdf, iterations=5).collect())
    )
    assert l4 == l5
    assert len({label for _, label in l5}) == 1  # one component

    with pytest.raises(ValueError, match="iteration"):
        graph.label_propagation(df, iterations=0)
    with pytest.raises(ValueError, match="checkpoint_every"):
        graph.label_propagation(df, checkpoint_every=0)


def test_hits_structure_determinism_and_guards(spark):
    """HITS hubs/authorities: (a) bit-equality with the unrolled
    DuckDB twin on a directed endorsement graph; (b) structure — the
    node endorsed by the strongest hubs is the top authority, equal
    hubs score equally; (c) duplicate edges collapse (endorsing twice
    is not endorsing harder) and partition layout never changes
    scores; (d) loud guards for the int64 headroom and degenerate
    parameters; (e) an edge list that is all self-loops/NULLs returns
    an EMPTY typed frame, not a crash."""
    import duckdb
    import pytest

    from ad_data_pipelines_spark.operators import graph

    edges = [(1, 10), (2, 10), (3, 10), (1, 11), (2, 11), (4, 12), (10, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = sorted(map(tuple, graph.hits(df, iterations=4).collect()))

    con = duckdb.connect()
    esql = (
        "SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in edges)
        + ") AS t(src, dst)"
    )
    twin = sorted(
        (int(n), s, int(v))
        for n, s, v in con.execute(
            graph.hits_sql(esql, iterations=4)
        ).fetchall()
    )
    assert out == twin

    scores = {(n, s): v for n, s, v in out}
    # 10 is endorsed by the three strongest hubs — top authority
    auths = {n: v for (n, s), v in scores.items() if s == "auth"}
    assert max(auths, key=auths.get) == 10
    # hubs 1 and 2 endorse identical sets — identical hub scores
    assert scores[(1, "hub")] == scores[(2, "hub")]
    assert scores[(1, "hub")] > scores[(3, "hub")] > scores[(4, "hub")]

    # duplicate edges collapse; partition layout irrelevant
    dup = spark.createDataFrame(
        edges + edges[:3], "src bigint, dst bigint"
    ).repartition(7)
    assert sorted(map(tuple, graph.hits(dup, iterations=4).collect())) == out

    with pytest.raises(ValueError, match="iteration"):
        graph.hits(df, iterations=0)
    with pytest.raises(ValueError, match="checkpoint_every"):
        graph.hits(df, checkpoint_every=0)
    with pytest.raises(ValueError, match="scale"):
        graph.hits(df, scale=10**10)
    with pytest.raises(ValueError, match="headroom"):
        graph.hits(df, scale=10**9)  # 1e18 * 4 src nodes > 2^62
    # ADVICE r12: the degenerate-flooring regime (scale <= active node
    # count) must raise LOUDLY — below it one L1 normalization can
    # floor every score to 0 and Spark's DIV-by-0 silently NULLs where
    # DuckDB raises. This graph has 7 active nodes (1-4, 10-12), so
    # scale=7 is inside int64 headroom but inside the degenerate
    # regime; scale=8 (the provably-safe boundary) must run clean.
    with pytest.raises(ValueError, match="exceed the active node"):
        graph.hits(df, scale=7)
    ok = graph.hits(df, scale=8, iterations=4).collect()
    assert all(r.score_fp is not None for r in ok)
    with pytest.raises(ValueError, match="types differ"):
        graph.hits(
            spark.createDataFrame([(1, "a")], "src bigint, dst string")
        )

    empty = graph.hits(
        spark.createDataFrame([(5, 5), (None, 3)], "src bigint, dst bigint"),
        iterations=2,
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "node", "side", "score_fp"
    ]


@pytest.mark.slow
def test_label_propagation_frontier_equals_full(spark):
    """frontier=True (delta half-steps + joint-fixpoint bail-out) is
    label-identical to the default full sweep: on a hub-skewed
    pseudo-random graph, a bipartite graph (the oscillation-prone
    shape the half-steps exist for), and a ring, at thresholds that
    force the FULL path always (0.0 — `n_touch > 0` holds every
    half-step, so the full-vote branch fires), the delta path always
    (1.1 — `n_touch > 1.1 * n_nodes` never holds), and the production
    mix (0.25); and with an iteration budget far
    past the fixpoint, where the bail-out must not change the output
    (it only skips provably-no-op half-steps)."""
    from ad_data_pipelines_spark.operators import graph

    pairs = [((i * 13) % 29, (i * 17 + 5) % 29) for i in range(80)]
    pairs += [(0, i) for i in range(1, 12)]
    hub = [(a, b) for a, b in pairs if a != b]
    hub += [(b, a) for a, b in hub]
    bip = [(2 * a, 2 * b + 1) for a in range(10) for b in range(6)
           if (a * 7 + b * 3) % 4 != 0]
    bip += [(b, a) for a, b in bip]
    ring = [(i, (i + 1) % 40) for i in range(40)]
    ring += [(b, a) for a, b in ring]

    for name, rows, iters in [
        ("hub", hub, 5), ("bipartite", bip, 5), ("ring", ring, 7),
    ]:
        df = spark.createDataFrame(rows, "src bigint, dst bigint")
        base = sorted(map(tuple, graph.label_propagation(
            df, iterations=iters
        ).collect()))
        for thr in (0.0, 0.25, 1.1):
            delta = sorted(map(tuple, graph.label_propagation(
                df, iterations=iters, frontier=True,
                frontier_threshold=thr,
            ).collect()))
            assert delta == base, (name, thr)

    # iteration budget far past the fixpoint: bail-out path == default
    df = spark.createDataFrame(bip, "src bigint, dst bigint")
    assert sorted(map(tuple, graph.label_propagation(
        df, iterations=12, frontier=True
    ).collect())) == sorted(map(tuple, graph.label_propagation(
        df, iterations=12
    ).collect()))


def test_pagerank_assume_normalized_bit_equal(spark):
    """A pre-normalized edge artifact (deduped, oriented, with a
    precomputed `od` column — the shared trade-graph stage shape) must
    rank BIT-EQUAL to the self-normalizing path on the same graph,
    with and without seeds."""
    from pyspark.sql import functions as F

    from ad_data_pipelines_spark.operators import graph

    raw = spark.createDataFrame(
        [(i % 23, (i * 11) % 29 + 100) for i in range(300)],
        "src bigint, dst bigint",
    )
    both = raw.unionByName(
        raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    norm = both.distinct()
    with_od = norm.join(
        norm.groupBy("src").agg(F.count("*").alias("od")), "src"
    ).select("src", "dst", "od")

    base = sorted(map(tuple, graph.pagerank(both, iterations=6).collect()))
    fast = sorted(
        map(
            tuple,
            graph.pagerank(
                with_od, iterations=6, assume_normalized=True
            ).collect(),
        )
    )
    assert base == fast

    seeds = spark.createDataFrame([(3,), (104,)], "node bigint")
    base_s = sorted(
        map(tuple, graph.pagerank(both, iterations=6, seeds=seeds).collect())
    )
    fast_s = sorted(
        map(
            tuple,
            graph.pagerank(
                with_od, iterations=6, seeds=seeds, assume_normalized=True
            ).collect(),
        )
    )
    assert base_s == fast_s


def test_pagerank_node_vouch_debug_guard(spark):
    """The nodes=/n_nodes= vouching contract's opt-in re-check
    (debug_vouch=True): a correct vouch ranks bit-equal to the
    self-computed node set; a stale n_nodes, a node frame missing an
    edge endpoint and a node frame holding nodes no edge touches all
    raise loudly instead of silently misranking (teleport mass splits
    by n_nodes)."""
    import pytest
    from pyspark.sql import functions as F

    from ad_data_pipelines_spark.operators import graph

    raw = spark.createDataFrame(
        [(i % 13, (i * 7) % 17 + 100) for i in range(150)],
        "src bigint, dst bigint",
    )
    e = raw.distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    base = sorted(map(tuple, graph.pagerank(e, iterations=4).collect()))
    vouched = sorted(
        map(
            tuple,
            graph.pagerank(
                e, iterations=4, nodes=nodes, n_nodes=n, debug_vouch=True
            ).collect(),
        )
    )
    assert base == vouched
    with pytest.raises(ValueError, match="vouched n_nodes"):
        graph.pagerank(
            e, iterations=4, nodes=nodes, n_nodes=n + 1, debug_vouch=True
        )
    partial = nodes.filter(F.col("node") != 100).localCheckpoint()
    with pytest.raises(ValueError, match="missing from"):
        graph.pagerank(
            e,
            iterations=4,
            nodes=partial,
            n_nodes=partial.count(),
            debug_vouch=True,
        )
    # the g14-style misuse: nodes vouched from the unfiltered edges,
    # passed with a filtered edge list — a strict superset of its
    # endpoints, with a count that matches the frame
    filtered = e.filter(F.col("src") != 0).localCheckpoint()
    with pytest.raises(ValueError, match="not an endpoint"):
        graph.pagerank(
            filtered, iterations=4, nodes=nodes, n_nodes=n, debug_vouch=True
        )


# --------------------------------------------------------------------------
# Mergeable histogram quantile artifact (operators/sketch.py)
# --------------------------------------------------------------------------


def test_histogram_shards_merge_property_and_clamp(spark):
    """The artifact contract: fine-grain shards merged to a coarser
    grain give EXACTLY the quantiles of a direct coarse-grain build
    (count addition is the merge), out-of-bounds values clamp into the
    outer bins instead of dropping, and a shard SUBSET answers its own
    quantiles without touching excluded shards' data."""
    from ad_data_pipelines_spark.operators import sketch

    rows = [
        (i % 2, i % 5, float((i * 37) % 100)) for i in range(4000)
    ] + [(0, 0, 999.0), (1, 1, -7.0)]  # clamp cases
    df = spark.createDataFrame(rows, "g int, day int, v double")
    bounds = [0.0, 20.0, 40.0, 60.0, 80.0, 100.0]
    probs = [0.25, 0.5, 0.99]

    fine = sketch.histogram_shard_table(df, "v", bounds, ["g", "day"])
    coarse = sketch.histogram_shard_table(df, "v", bounds, ["g"])
    via_merge = sorted(
        map(
            tuple,
            sketch.histogram_union_quantiles(fine, bounds, probs, ["g"])
            .collect(),
        )
    )
    direct = sorted(
        map(
            tuple,
            sketch.histogram_union_quantiles(coarse, bounds, probs, ["g"])
            .collect(),
        )
    )
    assert via_merge == direct
    # n_values includes the clamped rows (mass never lost)
    assert all(n == 2001 for _, _, n, _ in via_merge)
    # uniform[0,100): medians land ~50, p99 saturates below the outer
    # bound even with the 999 outlier clamped into the last bin
    med = {g: q for g, p, _, q in via_merge if p == 0.5}
    assert abs(med[0] - 50.0) < 1.5 and abs(med[1] - 50.0) < 1.5

    # subset query: day 0 shards only — uses only those counts
    sub = sketch.histogram_union_quantiles(
        fine.filter("day = 0"), bounds, [0.5], ["g"]
    ).collect()
    assert {r.n_values for r in sub} == {
        df.filter("day = 0 and g = 0").count(),
        df.filter("day = 0 and g = 1").count(),
    }


def test_histogram_quantile_guards_and_global_grain(spark):
    import pytest

    from ad_data_pipelines_spark.operators import sketch

    df = spark.createDataFrame(
        [(1, float(i)) for i in range(100)], "g int, v double"
    )
    bounds = [0.0, 50.0, 100.0]
    with pytest.raises(ValueError, match="strictly increasing"):
        sketch.histogram_shard_table(df, "v", [1.0, 1.0], ["g"])
    shards = sketch.histogram_shard_table(df, "v", bounds, ["g"])
    with pytest.raises(ValueError, match="probs"):
        sketch.histogram_union_quantiles(shards, bounds, [0.0], ["g"])
    with pytest.raises(ValueError, match="probs"):
        sketch.histogram_union_quantiles(shards, bounds, [1.2], ["g"])
    # global grain (no group cols): one row per prob; p=1.0 hits the
    # top of the last non-empty bin
    top = sketch.histogram_union_quantiles(shards, bounds, [1.0]).collect()
    assert len(top) == 1 and top[0].q_est == 100.0


def test_personalized_pagerank_seed_semantics_and_biteq(spark):
    """PPR contract: seeds = all nodes reproduces the uniform ranking
    BIT-FOR-BIT (one loop body, no drift possible), a seeded node
    far outranks its structurally identical unseeded twin, seeds
    outside the graph are ignored, an empty seed intersection raises,
    and the seeded recurrence is bit-equal to its unrolled DuckDB
    twin."""
    import duckdb
    import pytest

    from ad_data_pipelines_spark.operators import graph

    edges = [
        ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("c", "d"),
        ("d", "c"), ("b", "c"), ("c", "b"), ("e", "c"), ("c", "e"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")

    uni = sorted(map(tuple, graph.pagerank(df, iterations=10).collect()))
    allseeds = spark.createDataFrame([(x,) for x in "abcde"], "node string")
    assert uni == sorted(
        map(tuple, graph.pagerank(df, iterations=10, seeds=allseeds).collect())
    )

    # d and e are symmetric leaves of hub c; seeding d must boost it
    # far above e ('zzz' is outside the graph: ignored)
    seed_d = spark.createDataFrame([("d",), ("zzz",)], "node string")
    ppr = dict(graph.pagerank(df, iterations=10, seeds=seed_d).collect())
    assert ppr["d"] > 2 * ppr["e"]
    assert ppr["a"] == ppr["b"]  # symmetry preserved off-seed

    vals = ", ".join(f"('{s}','{d}')" for s, d in edges)
    want = sorted(
        duckdb.connect()
        .execute(
            graph.pagerank_sql(
                f"SELECT * FROM (VALUES {vals}) AS t(src, dst)",
                iterations=10,
                seed_sql="SELECT 'd' AS node UNION ALL SELECT 'zzz'",
            )
        )
        .fetchall()
    )
    assert sorted(ppr.items()) == want

    with pytest.raises(ValueError, match="seed"):
        graph.pagerank(
            df, seeds=spark.createDataFrame([("q",)], "node string")
        )


# --------------------------------------------------------------------------
# k-core peeling (operators/graph.py:k_core)
# --------------------------------------------------------------------------


def _undirected(pairs):
    """Both orientations of an undirected edge list."""
    return [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]


def test_k_core_peeling_known_graph_and_cascade(spark):
    """Peeling semantics on hand-built graphs: a triangle with a pendant
    keeps exactly the triangle at k=2 (deg 2 each); a path graph has an
    EMPTY 2-core but only after the peeling CASCADES (each round exposes
    the next endpoint), so a 1-round call still holds interior nodes —
    the iterative structure is real, not a one-shot degree filter."""
    from ad_data_pipelines_spark.operators import graph

    tri = spark.createDataFrame(
        _undirected([(1, 2), (2, 3), (1, 3), (3, 4)]),
        "src bigint, dst bigint",
    )
    got = sorted(map(tuple, graph.k_core(tri, k=2, rounds=4).collect()))
    assert got == [(1, 2), (2, 2), (3, 2)]  # pendant 4 peeled, deg=2 core

    path = spark.createDataFrame(
        _undirected([(1, 2), (2, 3), (3, 4), (4, 5)]),
        "src bigint, dst bigint",
    )
    one_round = graph.k_core(path, k=2, rounds=1).count()
    assert one_round == 3  # endpoints peeled, interior still deg>=2
    assert graph.k_core(path, k=2, rounds=4).count() == 0  # cascaded away


def test_k_core_bipartite_fixpoint_normalized_and_guards(spark):
    """K3,3 keeps all 6 nodes at k=3 (deg 3) and empties at k=4; the
    fixpoint is stable (rounds and rounds+1 bit-equal); the
    assume_normalized fast path matches the normalizing path on an
    already-clean input; self-loops/duplicates/NULLs are scrubbed on
    the normalizing path; guards fire loudly."""
    import pytest

    from ad_data_pipelines_spark.operators import graph

    k33 = _undirected([(a, b) for a in (0, 2, 4) for b in (1, 3, 5)])
    df = spark.createDataFrame(k33, "src bigint, dst bigint")
    got = sorted(map(tuple, graph.k_core(df, k=3, rounds=3).collect()))
    assert got == [(n, 3) for n in range(6)]
    assert graph.k_core(df, k=4, rounds=3).count() == 0

    r3 = sorted(map(tuple, graph.k_core(df, k=3, rounds=3).collect()))
    r4 = sorted(map(tuple, graph.k_core(df, k=3, rounds=4).collect()))
    assert r3 == r4  # fixpoint

    fast = sorted(
        map(
            tuple,
            graph.k_core(
                df, k=3, rounds=3, assume_normalized=True
            ).collect(),
        )
    )
    assert fast == got

    dirty = spark.createDataFrame(
        k33 + [(0, 0), (0, 1), (None, 3), (2, None)],
        "src bigint, dst bigint",
    )
    assert sorted(
        map(tuple, graph.k_core(dirty, k=3, rounds=3).collect())
    ) == got

    with pytest.raises(ValueError, match="k must"):
        graph.k_core(df, k=0)
    with pytest.raises(ValueError, match="round"):
        graph.k_core(df, rounds=0)


def test_k_core_bit_equal_to_duckdb_twin(spark):
    """The unrolled DuckDB twin (k_core_sql, AS MATERIALIZED CTEs)
    produces bit-equal (node, deg) rows on a graph that genuinely
    cascades: K6 survives k=3 peeling, a 2-node tail (7 hangs off 6,
    6 hangs off the core) peels over TWO rounds — round 1 drops 7
    (deg 2), which drops 6's degree below 3 in round 2."""
    import duckdb

    from ad_data_pipelines_spark.operators import graph

    pairs = [(a, b) for a in range(6) for b in range(a + 1, 6)]  # K6
    pairs += [(0, 6), (1, 6), (6, 7), (2, 7)]  # the cascading tail
    df = spark.createDataFrame(
        _undirected(pairs), "src bigint, dst bigint"
    )
    assert graph.k_core(df, k=3, rounds=1).count() == 7  # 6 not yet peeled
    got = sorted(map(tuple, graph.k_core(df, k=3, rounds=6).collect()))
    assert got == [(n, 5) for n in range(6)]  # exactly the K6 core
    vals = ", ".join(
        f"({a},{b})" for a, b in _undirected(pairs)
    )
    want = sorted(
        duckdb.connect()
        .execute(
            graph.k_core_sql(
                f"SELECT * FROM (VALUES {vals}) t(src, dst)",
                k=3,
                rounds=6,
            )
        )
        .fetchall()
    )
    assert got == want


def test_label_propagation_negative_ids_pmod_parity(spark):
    """Negative-odd node ids hit the pmod(x, 2) parity split: plain %
    returns -1 for them in Spark AND DuckDB, so before the pmod fix
    they matched neither half-step and silently froze their initial
    labels. Bit-equality with the SQL twin plus a structural check
    that a negative-odd node actually re-labels."""
    import duckdb

    from ad_data_pipelines_spark.operators import graph

    # K4 on ids {-3, -2, 2, 4}: -3 is negative-odd; its smallest
    # neighbourhood label (-3 itself is smallest... use -2 < -3? no:
    # -3 < -2) — all nodes converge to the component min, -3.
    pairs = [(-3, -2), (-3, 2), (-3, 4), (-2, 2), (-2, 4), (2, 4)]
    df = spark.createDataFrame(
        _undirected(pairs), "src bigint, dst bigint"
    )
    got = sorted(
        map(tuple, graph.label_propagation(df, iterations=4).collect())
    )
    # the negative-odd node participates: everyone lands on one label
    assert len({lbl for _, lbl in got}) == 1
    vals = ", ".join(f"({a},{b})" for a, b in _undirected(pairs))
    want = sorted(
        duckdb.connect()
        .execute(
            graph.label_propagation_sql(
                f"SELECT * FROM (VALUES {vals}) t(src, dst)",
                iterations=4,
            )
        )
        .fetchall()
    )
    assert got == want


def test_reliable_guard_without_checkpoint_dir(spark):
    """reliable=True fails loudly when no checkpoint dir is set.

    Spark has no API to CLEAR a checkpoint dir once any test set one,
    so the branch is exercised two ways: directly on the shared
    session when it still has no dir (fast path), else in a DEDICATED
    subprocess SparkContext (order-independent — the r10 advice: no
    skip, the guard is always executed)."""
    import os
    import subprocess
    import sys
    import textwrap

    from ad_data_pipelines_spark.operators import graph

    if spark.sparkContext.getCheckpointDir() is None:
        df = spark.createDataFrame(
            _undirected([(1, 2), (2, 3)]), "src bigint, dst bigint"
        )
        with pytest.raises(ValueError, match="checkpoint directory"):
            graph.pagerank(df, iterations=3, reliable=True)
        return

    child = textwrap.dedent(
        """
        from ad_data_pipelines_spark.session import get_spark
        from ad_data_pipelines_spark.operators import graph
        spark = get_spark(app_name="ckpt-guard", master="local[2]")
        assert spark.sparkContext.getCheckpointDir() is None
        df = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 2)], "src bigint, dst bigint"
        )
        try:
            graph.pagerank(df, iterations=2, reliable=True)
        except ValueError as e:
            assert "checkpoint directory" in str(e)
            print("GUARD_RAISED")
        else:
            raise AssertionError("reliable=True ran without a dir")
        """
    )
    p = subprocess.run(
        [sys.executable, "-c", child],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert "GUARD_RAISED" in p.stdout, (
        f"guard branch not exercised:\n{p.stdout[-500:]}\n{p.stderr[-800:]}"
    )


@pytest.mark.slow
def test_reliable_checkpoint_bit_equal(spark, tmp_path_factory):
    """reliable=True with a checkpoint dir set produces bit-identical
    results to the localCheckpoint path for pagerank,
    label_propagation, k_core and the star-contraction connected
    components (a lineage cut never changes values). The dir is a
    SESSION-scoped tmp (not this test's tmp_path) and any dir a prior
    test set is restored afterwards — later tests must not inherit a
    path pointing into this test's workspace."""
    from ad_data_pipelines_spark.operators import dedup, graph

    pairs = [((i * 5) % 17, (i * 3 + 1) % 17) for i in range(40)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(
        _undirected(pairs), "src bigint, dst bigint"
    )

    sc = spark.sparkContext
    had_dir = sc.getCheckpointDir()
    sc.setCheckpointDir(
        str(tmp_path_factory.mktemp("reliable-ckpt"))
    )

    try:
        assert sorted(
            map(
                tuple,
                graph.pagerank(df, iterations=6, reliable=True).collect(),
            )
        ) == sorted(map(tuple, graph.pagerank(df, iterations=6).collect()))
        assert sorted(
            map(
                tuple,
                graph.label_propagation(
                    df, iterations=3, reliable=True
                ).collect(),
            )
        ) == sorted(
            map(tuple, graph.label_propagation(df, iterations=3).collect())
        )
        assert sorted(
            map(
                tuple,
                graph.k_core(df, k=3, rounds=4, reliable=True).collect(),
            )
        ) == sorted(map(tuple, graph.k_core(df, k=3, rounds=4).collect()))

        sssp_seeds = df.sparkSession.createDataFrame(
            [(1,), (4,)], "node bigint"
        )
        assert sorted(
            map(
                tuple,
                graph.sssp(
                    df, sssp_seeds, rounds=4, reliable=True
                ).collect(),
            )
        ) == sorted(
            map(tuple, graph.sssp(df, sssp_seeds, rounds=4).collect())
        )

        cc_edges = spark.createDataFrame(
            [(a, b) for a, b in pairs], "doc_a bigint, doc_b bigint"
        )
        rel = sorted(
            map(
                tuple,
                dedup.connected_components(
                    cc_edges, driver_threshold=0, reliable=True
                ).collect(),
            )
        )
        loc = sorted(
            map(
                tuple,
                dedup.connected_components(
                    cc_edges, driver_threshold=0
                ).collect(),
            )
        )
        assert rel == loc
    finally:
        # Spark cannot CLEAR a checkpoint dir; restore any pre-existing
        # one so later tests never inherit this test's tmp workspace
        if had_dir is not None:
            sc.setCheckpointDir(had_dir)


def test_triangle_count_semantics_and_duckdb_twin(spark):
    """Exact per-node triangle counts: triangle+pendant (1 each, 0 for
    the pendant), K4 (3 each), bipartite K3,3 (all 0 — no odd cycles),
    robustness to direction/duplicates/self-loops (the operator
    canonicalizes), and bit-equality with the DuckDB u<v<w twin on a
    hub-skewed graph (the degree-ordered scheme must not miscount at
    the hub)."""
    import duckdb

    from ad_data_pipelines_spark.operators import graph

    def counts(pairs):
        df = spark.createDataFrame(pairs, "src bigint, dst bigint")
        return dict(
            (r.node, r.triangles)
            for r in graph.triangle_count(df).collect()
        )

    assert counts([(1, 2), (2, 3), (1, 3), (3, 4)]) == {
        1: 1, 2: 1, 3: 1, 4: 0
    }
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert counts(k4) == {n: 3 for n in range(4)}
    k33 = [(a, b) for a in (0, 2, 4) for b in (1, 3, 5)]
    assert counts(k33) == {n: 0 for n in range(6)}
    # single orientation + reversed dup + self-loop: same as canonical
    messy = [(2, 1), (2, 3), (1, 3), (3, 1), (1, 1), (4, 3)]
    assert counts(messy) == {1: 1, 2: 1, 3: 1, 4: 0}

    # hub-skewed graph: node 0 connects to everyone, ring among 1..12
    hub = [(0, i) for i in range(1, 13)] + [
        (i, i % 12 + 1) for i in range(1, 13)
    ]
    df = spark.createDataFrame(hub, "src bigint, dst bigint")
    got = sorted(map(tuple, graph.triangle_count(df).collect()))
    vals = ", ".join(f"({a},{b})" for a, b in hub)
    want = sorted(
        duckdb.connect()
        .execute(
            graph.triangle_count_sql(
                f"SELECT * FROM (VALUES {vals}) t(src, dst)"
            )
        )
        .fetchall()
    )
    assert got == want
    # the hub sits in one triangle per ring edge = 12
    assert dict(got)[0] == 12


def test_coreness_known_graphs_twin_and_kcore_consistency(spark):
    """Full core decomposition via h-index iteration: exact values on
    known graphs (triangle+pendant 2/2/2/1, K3,3 all 3, path all 1,
    K6+tail mixed), robust to single-orientation + duplicate + self-
    loop input (the operator symmetrizes), bit-equal to the unrolled
    DuckDB twin, fixpoint-stable (rounds vs rounds+1), and CONSISTENT
    with k_core: {node : coreness >= k} must equal the k-core survivor
    set — two independent algorithms agreeing on the same
    decomposition."""
    import duckdb
    import pytest

    from ad_data_pipelines_spark.operators import graph

    def cor(pairs, rounds=6):
        df = spark.createDataFrame(pairs, "src bigint, dst bigint")
        return dict(
            (r.node, r.coreness)
            for r in graph.coreness(df, rounds=rounds).collect()
        )

    assert cor([(1, 2), (2, 3), (1, 3), (3, 4)]) == {1: 2, 2: 2, 3: 2, 4: 1}
    assert cor([(a, b) for a in (0, 2, 4) for b in (1, 3, 5)]) == {
        n: 3 for n in range(6)
    }
    assert cor([(1, 2), (2, 3), (3, 4), (4, 5)]) == {n: 1 for n in range(1, 6)}
    # direction/dup/self-loop robustness: symmetrized internally
    assert cor([(2, 1), (2, 3), (1, 3), (3, 1), (1, 1), (4, 3)]) == {
        1: 2, 2: 2, 3: 2, 4: 1
    }

    k6tail = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    k6tail += [(0, 6), (1, 6), (6, 7), (2, 7)]
    got = cor(k6tail)
    assert got == {0: 5, 1: 5, 2: 5, 3: 5, 4: 5, 5: 5, 6: 2, 7: 2}

    # DuckDB twin bit-equality + fixpoint on the mixed graph
    df = spark.createDataFrame(
        _undirected(k6tail), "src bigint, dst bigint"
    )
    r6 = sorted(map(tuple, graph.coreness(df, rounds=6).collect()))
    r7 = sorted(map(tuple, graph.coreness(df, rounds=7).collect()))
    assert r6 == r7  # fixpoint
    vals = ", ".join(f"({a},{b})" for a, b in k6tail)
    want = sorted(
        duckdb.connect()
        .execute(
            graph.coreness_sql(
                f"SELECT * FROM (VALUES {vals}) t(src, dst)", rounds=6
            )
        )
        .fetchall()
    )
    assert r6 == want

    # cross-operator consistency: {coreness >= k} == k-core survivors
    for k in (2, 3, 5):
        from_coreness = {n for n, c in got.items() if c >= k}
        survivors = {
            r.node
            for r in graph.k_core(df, k=k, rounds=6).collect()
        }
        assert from_coreness == survivors, k

    with pytest.raises(ValueError, match="round"):
        graph.coreness(df, rounds=0)
    with pytest.raises(ValueError, match="checkpoint_every"):
        graph.coreness(df, checkpoint_every=0)


def test_basket_pairs_counts_guard_and_cap(spark):
    """Market-basket pair projection (graph.basket_pairs): pair counts
    match the by-hand enumeration, duplicates within a basket collapse,
    an oversized basket FAILS LOUDLY executor-side (the guard the g6
    docstring promises — quadratic pair generation must never blow up
    silently), and on_oversize='cap' keeps the deterministic smallest
    item ids so the capped projection is replayable."""
    import pytest

    from ad_data_pipelines_spark.operators import graph

    rows = [
        # basket 1: {10, 20, 30}; basket 2: {10, 20}; basket 3: {30}
        (1, 10), (1, 20), (1, 30), (1, 20),  # dup collapses
        (2, 10), (2, 20),
        (3, 30),
        (None, 10), (4, None),  # nulls dropped
    ]
    df = spark.createDataFrame(rows, "basket int, item int")
    got = {
        (r.item_a, r.item_b): r.cnt
        for r in graph.basket_pairs(df, max_basket_size=3).collect()
    }
    assert got == {(10, 20): 2, (10, 30): 1, (20, 30): 1}

    # guard: basket 1 has 3 distinct items > bound 2 -> loud failure
    # naming the basket (Spark surfaces assert_true as a runtime error)
    with pytest.raises(Exception, match="max_basket_size"):
        graph.basket_pairs(df, max_basket_size=2).collect()

    # cap: the oversized basket keeps its 2 SMALLEST item ids {10, 20}
    capped = {
        (r.item_a, r.item_b): r.cnt
        for r in graph.basket_pairs(
            df, max_basket_size=2, on_oversize="cap"
        ).collect()
    }
    assert capped == {(10, 20): 2}

    with pytest.raises(ValueError, match="max_basket_size"):
        graph.basket_pairs(df, max_basket_size=1)
    with pytest.raises(ValueError, match="on_oversize"):
        graph.basket_pairs(df, on_oversize="ignore")


def test_validate_edge_weights_vouching(spark):
    """The one-scan artifact-build vouching check behind pagerank's
    assume_normalized fast path: positive bounded weights pass,
    zero/negative weights raise, and int64-headroom violations raise
    with the scale in the message."""
    import pytest

    from ad_data_pipelines_spark.operators import graph

    ok = spark.createDataFrame(
        [(1, 2, 5), (2, 1, 3)], "src bigint, dst bigint, w bigint"
    )
    graph.validate_edge_weights(ok)  # no raise

    bad = spark.createDataFrame(
        [(1, 2, 0)], "src bigint, dst bigint, w bigint"
    )
    with pytest.raises(ValueError, match="positive"):
        graph.validate_edge_weights(bad)

    big = spark.createDataFrame(
        [(1, 2, 2**52)], "src bigint, dst bigint, w bigint"
    )
    with pytest.raises(ValueError, match="headroom"):
        graph.validate_edge_weights(big, scale=10**12)

    # empty edge list: nothing to vouch, no raise
    graph.validate_edge_weights(ok.filter("src < 0"))

    # non-integral weight columns raise loudly instead of being
    # mis-judged through int() truncation (int(0.5) = 0 would have
    # falsely tripped the positivity check) — ADVICE r10
    frac = spark.createDataFrame(
        [(1, 2, 0.5)], "src bigint, dst bigint, w double"
    )
    with pytest.raises(ValueError, match="integral"):
        graph.validate_edge_weights(frac)

    # the vouch is RECORDED: a ws-carrying frame comes back with the
    # max safe scale as ws-column metadata, and pagerank's fast path
    # asserts its scale against it — an over-scale consumer raises
    # instead of wrapping int64 (ADVICE r10: a 1e12 vouch must not be
    # silently spendable at 1e16)
    ws_edges = spark.createDataFrame(
        [(1, 2, 2**50, 1, 2**50), (2, 1, 2**50, 1, 2**50)],
        "src bigint, dst bigint, w bigint, od bigint, ws bigint",
    )
    vouched = graph.validate_edge_weights(ws_edges, scale=10**3)
    rec = vouched.schema["ws"].metadata["vouched_scale"]
    assert 0 < rec < 10**16 and 10**3 <= rec
    assert rec * 2**50 < 2**62 <= (rec + 1) * 2**50
    # within the vouch: runs
    graph.pagerank(
        vouched, iterations=1, weight="w", assume_normalized=True,
        scale=10**3,
    ).collect()
    # over the vouch: loud, with the recorded maximum in the message
    with pytest.raises(ValueError, match="vouched maximum"):
        graph.pagerank(
            vouched, iterations=1, weight="w", assume_normalized=True,
            scale=10**16,
        )
    # no metadata record (caller-constructed artifact): trusted as-is,
    # documented contract — no vouch assert at any accepted scale
    plain_ws = spark.createDataFrame(
        [(1, 2, 5, 1, 5), (2, 1, 3, 1, 3)],
        "src bigint, dst bigint, w bigint, od bigint, ws bigint",
    )
    graph.pagerank(
        plain_ws, iterations=1, weight="w", assume_normalized=True,
        scale=10**12,
    ).collect()


def test_k_truss_known_graphs_twin_and_guards(spark):
    """k-truss semantics on known graphs: K4 is its own 4-truss and
    has no 5-truss; bipartite K3,3 has no triangles so even the
    3-truss is empty; a triangle with a pendant edge peels to the
    triangle at k=3; peeling CASCADES (two triangles sharing an edge
    with one weak wing lose the wing in round 1 and nothing else);
    fixpoint holds (rounds vs rounds+1); results are bit-equal to the
    unrolled AS-MATERIALIZED DuckDB twin on a triangle-rich bridged-
    clique graph; and every k-truss sits inside the (k-1)-core
    (cross-operator consistency). Guards: k < 3, rounds < 1,
    checkpoint_every < 1 raise."""
    import itertools

    import duckdb
    import pytest

    from ad_data_pipelines_spark.operators import graph

    def truss(pairs, k, rounds=4):
        df = spark.createDataFrame(
            _undirected(pairs), "src bigint, dst bigint"
        )
        return sorted(map(tuple, graph.k_truss(df, k=k, rounds=rounds).collect()))

    k4 = list(itertools.combinations([1, 2, 3, 4], 2))
    assert truss(k4, k=4) == sorted(k4)  # every K4 edge in 2 triangles
    assert truss(k4, k=5) == []

    k33 = [(a, b) for a in [1, 2, 3] for b in [4, 5, 6]]
    assert truss(k33, k=3) == []  # bipartite: no triangles at all

    tri_pendant = [(1, 2), (2, 3), (1, 3), (3, 4)]
    assert truss(tri_pendant, k=3) == [(1, 2), (1, 3), (2, 3)]

    # cascade: bowtie (two triangles sharing node 3) at k=4 — no edge
    # has 2 triangles, everything peels; at k=3 both triangles survive
    bowtie = [(1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 5)]
    assert truss(bowtie, k=3) == sorted(bowtie)
    assert truss(bowtie, k=4) == []

    # twin bit-equality on bridged cliques + noise path (triangle-rich)
    cliq = (
        list(itertools.combinations([1, 2, 3, 4, 5], 2))
        + list(itertools.combinations([10, 11, 12, 13], 2))
        + [(5, 10), (13, 20), (20, 21), (21, 22)]
    )
    df = spark.createDataFrame(_undirected(cliq), "src bigint, dst bigint")
    got = sorted(map(tuple, graph.k_truss(df, k=4, rounds=4).collect()))
    vals = ", ".join(f"({a},{b})" for a, b in _undirected(cliq))
    want = sorted(
        duckdb.connect()
        .execute(
            graph.k_truss_sql(
                f"SELECT * FROM (VALUES {vals}) t(src, dst)", k=4, rounds=4
            )
        )
        .fetchall()
    )
    assert got == want
    assert got == sorted(
        map(tuple, graph.k_truss(df, k=4, rounds=5).collect())
    )  # fixpoint
    # truss ⊆ (k-1)-core: the 4-truss's nodes all survive the 3-core
    truss_nodes = {n for e in got for n in e}
    core_nodes = {
        r.node for r in graph.k_core(df, k=3, rounds=6).collect()
    }
    assert truss_nodes <= core_nodes

    with pytest.raises(ValueError, match="k must be >= 3"):
        graph.k_truss(df, k=2)
    with pytest.raises(ValueError, match="round"):
        graph.k_truss(df, rounds=0)
    with pytest.raises(ValueError, match="checkpoint_every"):
        graph.k_truss(df, checkpoint_every=0)


def test_k_truss_delta_maintenance_cascade(spark):
    """The r15 delta triangle maintenance must match full per-round
    re-enumeration (the DuckDB twin) on a MULTI-ROUND cascade — the
    delta-specific risk is the maintained triangle set drifting from
    the survivor graph's true triangles after removals. Triangle chain
    (1,2,3),(2,3,4),(3,4,5),(4,5,6) + a disjoint K4: at k=4 the chain's
    wing edges die in round 0, the shared edges (support from now-dead
    triangles) die in round 1, the K4 survives every round. Checked
    round by round against the unrolled twin, plus the pendant-chain
    fixpoint early-exit (rounds=6 == rounds=2 once the peel stops)."""
    import itertools

    import duckdb

    from ad_data_pipelines_spark.operators import graph

    chain = [
        (1, 2), (1, 3), (2, 3), (2, 4), (3, 4),
        (3, 5), (4, 5), (4, 6), (5, 6),
    ]
    k4 = list(itertools.combinations([10, 11, 12, 13], 2))
    edges = chain + k4
    df = spark.createDataFrame(_undirected(edges), "src bigint, dst bigint")
    vals = ", ".join(f"({a},{b})" for a, b in _undirected(edges))
    esql = f"SELECT * FROM (VALUES {vals}) t(src, dst)"
    for rounds in (1, 2, 6):
        got = sorted(
            map(tuple, graph.k_truss(df, k=4, rounds=rounds).collect())
        )
        want = sorted(
            duckdb.connect()
            .execute(graph.k_truss_sql(esql, k=4, rounds=rounds))
            .fetchall()
        )
        assert got == want, f"rounds={rounds}"
    # after the cascade only the K4 remains
    assert sorted(
        map(tuple, graph.k_truss(df, k=4, rounds=6).collect())
    ) == sorted(k4)


def test_recall_report_join_free_semantics(spark):
    """_recall_report (the join-free union+aggregate restatement of the
    r9 recall joins) matches the LEFT-JOIN formulation it replaced on
    crafted data: per-query k from the truth side only, hits counted
    only for pairs present in BOTH sides, ann-only pairs ignored, a
    query with zero hits still reports (its k rows exist in truth)."""
    from ad_data_pipelines_spark.plans.testdata_queries import _recall_report

    truth = spark.createDataFrame(
        # q0: 3 truth rows; q1: 2; q2: 2 (zero hits)
        [(0, 10), (0, 11), (0, 12), (1, 20), (1, 21), (2, 30), (2, 31)],
        "query_id bigint, neighbor_id bigint",
    )
    ann = spark.createDataFrame(
        # q0 hits 2 of 3 (+1 ann-only pair that must not count);
        # q1 hits 2 of 2; q2 hits none (ann found other neighbors)
        [(0, 10), (0, 12), (0, 99), (1, 20), (1, 21), (2, 98), (2, 97)],
        "query_id bigint, neighbor_id bigint",
    )
    row = _recall_report(truth, ann).collect()[0]
    # recalls: q0 = 2/3, q1 = 1.0, q2 = 0.0
    assert row.n_queries == 3
    assert row.mean_recall == round((2 / 3 + 1.0 + 0.0) / 3, 4)
    assert row.min_recall == 0.0


def test_neighborhood_function_and_bfs_reach(spark):
    """ANF sketch propagation vs exact BFS on known graphs. Small
    neighborhoods sit in the HLL sparse-exact regime, so the estimates
    are EXACT here: path 1-2-3-4-5 at d=2 reaches [3,4,5,4,3]; a star's
    center sees everything at d=1 and its leaves at d=2; K3,3 reaches
    all 6 at d=2. bfs_reach_counts returns rows ONLY for the seeds and
    agrees with the sketch. Guards: d < 1 and checkpoint_every < 1
    raise."""
    import pytest

    from ad_data_pipelines_spark.operators import graph

    def nf(pairs, d):
        df = spark.createDataFrame(
            _undirected(pairs), "src bigint, dst bigint"
        )
        return {
            r.node: r.reach_est
            for r in graph.neighborhood_function(df, d=d).collect()
        }

    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    assert nf(path, 2) == {1: 3, 2: 4, 3: 5, 4: 4, 5: 3}
    assert nf(path, 4) == {n: 5 for n in range(1, 6)}

    star = [(0, i) for i in range(1, 8)]
    got = nf(star, 1)
    assert got[0] == 8 and all(got[i] == 2 for i in range(1, 8))
    assert set(nf(star, 2).values()) == {8}

    k33 = [(a, b) for a in [1, 2, 3] for b in [4, 5, 6]]
    assert set(nf(k33, 2).values()) == {6}

    # exact BFS: seeds-only rows, closed-form counts, sketch agreement
    df = spark.createDataFrame(_undirected(path), "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,), (3,)], "node bigint")
    exact = {
        r.node: r.reach
        for r in graph.bfs_reach_counts(df, seeds, d=2).collect()
    }
    assert exact == {1: 3, 3: 5}

    with pytest.raises(ValueError, match="hop"):
        graph.neighborhood_function(df, d=0)
    with pytest.raises(ValueError, match="checkpoint_every"):
        graph.neighborhood_function(df, checkpoint_every=0)
    with pytest.raises(ValueError, match="hop"):
        graph.bfs_reach_counts(df, seeds, d=0)


def test_sssp_closed_forms_and_guards(spark):
    """Fixed-round SSSP semantics on known graphs: path distances,
    star, bipartite K3,3, multi-source min, truncation at rounds,
    weighted relax where a 2-hop path beats the direct edge, MIN
    duplicate collapse, unreached nodes absent, and the loud guards
    (rounds, non-integral / non-positive weights, int64 headroom)."""
    from ad_data_pipelines_spark.operators import graph

    def dists(pairs, seeds, schema="src bigint, dst bigint", **kw):
        df = spark.createDataFrame(pairs, schema)
        sf = spark.createDataFrame([(s,) for s in seeds], "node bigint")
        return {
            r.node: r.dist for r in graph.sssp(df, sf, **kw).collect()
        }

    path = _undirected([(1, 2), (2, 3), (3, 4), (4, 5)])
    # hop distance from node 1
    assert dists(path, [1], rounds=4) == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    # truncation: rounds=2 ==> nodes beyond 2 hops are ABSENT
    assert dists(path, [1], rounds=2) == {1: 0, 2: 1, 3: 2}
    # multi-source: min over seeds {1, 5}
    assert dists(path, [1, 5], rounds=4) == {
        1: 0, 2: 1, 3: 2, 4: 1, 5: 0,
    }

    star = _undirected([(0, i) for i in range(1, 9)])
    assert dists(star, [0], rounds=1) == {0: 0, **{i: 1 for i in range(1, 9)}}
    # leaf seed: center 1, other leaves 2
    d = dists(star, [1], rounds=3)
    assert d[1] == 0 and d[0] == 1 and all(d[i] == 2 for i in range(2, 9))

    k33 = _undirected([(a, b) for a in [1, 2, 3] for b in [4, 5, 6]])
    d = dists(k33, [1], rounds=3)
    assert d == {1: 0, 4: 1, 5: 1, 6: 1, 2: 2, 3: 2}

    # weighted: 1->3 direct costs 25, via 2 costs 20; duplicate (1,3)
    # edges collapse by MIN
    wschema = "src bigint, dst bigint, c bigint"
    wpath = [(1, 2, 10), (2, 3, 10), (1, 3, 25)]
    assert dists(wpath, [1], schema=wschema, weight="c", rounds=3) == {
        1: 0, 2: 10, 3: 20,
    }
    assert dists(
        wpath + [(1, 3, 5)], [1], schema=wschema, weight="c", rounds=3
    ) == {1: 0, 2: 10, 3: 5}
    # rounds=1: only the direct edge is representable
    assert dists(wpath, [1], schema=wschema, weight="c", rounds=1) == {
        1: 0, 2: 10, 3: 25,
    }

    # guards
    df = spark.createDataFrame(path, "src bigint, dst bigint")
    sf = spark.createDataFrame([(1,)], "node bigint")
    with pytest.raises(ValueError, match="round"):
        graph.sssp(df, sf, rounds=0)
    with pytest.raises(ValueError, match="checkpoint_every"):
        graph.sssp(df, sf, checkpoint_every=0)
    frac = spark.createDataFrame(
        [(1, 2, 0.5)], "src bigint, dst bigint, c double"
    )
    with pytest.raises(ValueError, match="integral"):
        graph.sssp(frac, sf, weight="c")
    zero = spark.createDataFrame(
        [(1, 2, 0)], "src bigint, dst bigint, c bigint"
    )
    with pytest.raises(ValueError, match="positive"):
        graph.sssp(zero, sf, weight="c")
    big = spark.createDataFrame(
        [(1, 2, 2**60)], "src bigint, dst bigint, c bigint"
    )
    with pytest.raises(ValueError, match="headroom"):
        graph.sssp(big, sf, weight="c", rounds=8)

    # assume_normalized fast path == slow path on clean input
    clean = spark.createDataFrame(
        [(a, b, 1) for a, b in path], wschema
    )
    fast = {
        r.node: r.dist
        for r in graph.sssp(
            clean, sf, weight="c", rounds=4, assume_normalized=True
        ).collect()
    }
    assert fast == dists(path, [1], rounds=4)


def test_sssp_duckdb_twin_bit_equal(spark):
    """sssp == the unrolled AS MATERIALIZED DuckDB twin, weighted and
    unweighted, on a hub-skewed pseudo-random graph (the g1-g10
    bit-equality discipline: integer costs + MIN make the fixed-round
    state exactly replayable)."""
    import duckdb

    from ad_data_pipelines_spark.operators import graph

    pairs = [((i * 7) % 23, (i * 11 + 3) % 23) for i in range(60)]
    pairs += [(0, i) for i in range(1, 15)]  # hub
    rows = [
        (a, b, (a * b) % 9 + 1) for a, b in pairs if a != b
    ]
    rows += [(b, a, c) for a, b, c in rows]
    df = spark.createDataFrame(rows, "src bigint, dst bigint, w bigint")
    seeds = spark.createDataFrame([(1,), (2,)], "node bigint")

    values_sql = "SELECT * FROM (VALUES " + ", ".join(
        f"({a}, {b}, {c})" for a, b, c in rows
    ) + ") AS t(src, dst, w)"
    seed_sql = "SELECT 1 AS node UNION ALL SELECT 2"

    con = duckdb.connect()
    for weighted in (False, True):
        got = sorted(
            (r.node, r.dist)
            for r in graph.sssp(
                df, seeds, weight="w" if weighted else None, rounds=5
            ).collect()
        )
        want = sorted(
            (int(n), int(d))
            for n, d in con.execute(
                graph.sssp_sql(
                    values_sql, seed_sql, rounds=5, weighted=weighted
                )
            ).fetchall()
        )
        assert got == want, f"weighted={weighted}"


def test_sssp_frontier_equals_full_relax(spark):
    """frontier=True (delta relaxation + fixpoint bail-out) is
    result-identical to the default full-state relax: on hub-skewed
    pseudo-random weighted graphs for several seed sets and round
    counts (INCLUDING truncating counts, where the equality is the
    subtle part — every prefix of a ≤r-hop shortest path propagated in
    time), and on a path graph whose fixpoint arrives before the
    round budget (the bail-out must not change the output)."""
    from ad_data_pipelines_spark.operators import graph

    pairs = [((i * 13) % 29, (i * 17 + 5) % 29) for i in range(80)]
    pairs += [(0, i) for i in range(1, 12)]  # hub
    rows = [(a, b, (a + 2 * b) % 7 + 1) for a, b in pairs if a != b]
    rows += [(b, a, c) for a, b, c in rows]
    df = spark.createDataFrame(rows, "src bigint, dst bigint, w bigint")

    for seed_ids, rounds, weight in [
        ([1], 2, "w"),       # truncating
        ([1], 4, "w"),
        ([1, 2, 7], 3, "w"),
        ([5], 3, None),      # unweighted
        ([1, 2, 7], 6, None),
    ]:
        seeds = spark.createDataFrame(
            [(s,) for s in seed_ids], "node bigint"
        )
        full = sorted(
            map(tuple, graph.sssp(
                df, seeds, weight=weight, rounds=rounds
            ).collect())
        )
        delta = sorted(
            map(tuple, graph.sssp(
                df, seeds, weight=weight, rounds=rounds, frontier=True
            ).collect())
        )
        assert full == delta, (seed_ids, rounds, weight)

    # early fixpoint: path 1-2-3 with a 10-round budget — frontier
    # bails after round 2 yet returns the identical state
    path = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(1,)], "node bigint")
    assert sorted(
        map(tuple, graph.sssp(path, seeds, rounds=10,
                              frontier=True).collect())
    ) == [(1, 0), (2, 1), (3, 2)]


def test_leakage_safe_split_cluster_atomic(spark):
    """The leakage-safe split's invariant: a near-dup cluster NEVER
    straddles splits (same cluster_id ⇒ same md5 bucket ⇒ same split),
    while the naive row-keyed split demonstrably WOULD leak — on the
    deterministic sf0.01 corpus, 33 multi-doc clusters exist and
    doc_id-keyed splitting strands members of 15 of them across split
    boundaries (train-doc near-dups in val/test: the contamination
    hole the query exists to close)."""
    from pyspark.sql import functions as F

    from ad_data_pipelines_spark.operators import sampling
    from ad_data_pipelines_spark.plans import testdata_queries as tq

    sf = "/root/testdata/sf0.01"
    docs = tq.t(spark, sf, "documents").select("doc_id")
    comp = tq._dup_components_shared(spark, sf, min_eq=8).select(
        "doc_id", "component"
    )
    keyed = docs.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("cluster_id")
    )
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}

    def straddles(split_key):
        return (
            sampling.hash_split(keyed, split_key, fr)
            .groupBy("cluster_id")
            .agg(F.count_distinct("split").alias("k"))
            .filter("k > 1")
            .count()
        )

    n_multi = (
        keyed.groupBy("cluster_id").agg(F.count("*").alias("n"))
        .filter("n > 1").count()
    )
    assert n_multi == 33  # non-vacuous: real multi-doc clusters
    assert straddles("cluster_id") == 0
    assert straddles("doc_id") == 15  # the hole, demonstrated


@pytest.mark.slow
def test_sssp_per_seed_landmark_mode(spark):
    """per_seed=True (landmark mode): one (seed, node, dist) row per
    landmark × reached node. Closed forms on a weighted path, the
    collapse consistency (MIN over per-seed dists == the default
    multi-source output), frontier composition (delta relax diffs on
    the widened key), an ISOLATED landmark contributing only its own
    dist-0 row, and bit-equality with the per-seed DuckDB twin on a
    hub-skewed weighted graph."""
    import duckdb

    from ad_data_pipelines_spark.operators import graph

    # weighted path 1-2-3-4-5, both orientations, cost 7 per hop
    path = [(i, i + 1, 7) for i in range(1, 5)]
    path += [(b, a, c) for a, b, c in path]
    pdf = spark.createDataFrame(path, "src bigint, dst bigint, w bigint")
    seeds = spark.createDataFrame([(1,), (5,)], "node bigint")
    got = sorted(
        map(tuple, graph.sssp(
            pdf, seeds, weight="w", rounds=6, per_seed=True
        ).collect())
    )
    assert got == sorted(
        [(1, n, (n - 1) * 7) for n in range(1, 6)]
        + [(5, n, (5 - n) * 7) for n in range(1, 6)]
    )

    # hub-skewed weighted graph: per-seed MIN-collapse == default mode,
    # and frontier delta == full relax on the widened key (including a
    # truncating round count)
    pairs = [((i * 13) % 29, (i * 17 + 5) % 29) for i in range(80)]
    pairs += [(0, i) for i in range(1, 12)]
    rows = [(a, b, (a + 2 * b) % 7 + 1) for a, b in pairs if a != b]
    rows += [(b, a, c) for a, b, c in rows]
    df = spark.createDataFrame(rows, "src bigint, dst bigint, w bigint")
    hseeds = spark.createDataFrame([(1,), (2,), (7,)], "node bigint")
    for rounds in (2, 4):
        per = graph.sssp(
            df, hseeds, weight="w", rounds=rounds, per_seed=True
        ).collect()
        collapsed = sorted(
            map(tuple, graph.sssp(
                df, hseeds, weight="w", rounds=rounds
            ).collect())
        )
        mins: dict = {}
        for r in per:
            mins[r.node] = min(mins.get(r.node, r.dist), r.dist)
        assert sorted(mins.items()) == collapsed, rounds
        delta = sorted(map(tuple, graph.sssp(
            df, hseeds, weight="w", rounds=rounds,
            per_seed=True, frontier=True,
        ).collect()))
        assert delta == sorted(map(tuple, per)), rounds

    # isolated landmark: node 99 has no edges — it contributes exactly
    # its own (99, 99, 0) row and nothing else
    iso = spark.createDataFrame([(1,), (99,)], "node bigint")
    got = sorted(map(tuple, graph.sssp(
        pdf, iso, weight="w", rounds=3, per_seed=True
    ).collect()))
    assert (99, 99, 0) in got
    assert [r for r in got if r[0] == 99] == [(99, 99, 0)]

    # DuckDB twin bit-equality in landmark mode (weighted + unweighted)
    values_sql = "SELECT * FROM (VALUES " + ", ".join(
        f"({a}, {b}, {c})" for a, b, c in rows
    ) + ") AS t(src, dst, w)"
    seed_sql = "SELECT 1 AS node UNION ALL SELECT 2 UNION ALL SELECT 7"
    con = duckdb.connect()
    for weighted in (False, True):
        got = sorted(
            (r.seed, r.node, r.dist)
            for r in graph.sssp(
                df, hseeds, weight="w" if weighted else None,
                rounds=5, per_seed=True,
            ).collect()
        )
        want = sorted(
            (int(s), int(n), int(d))
            for s, n, d in con.execute(graph.sssp_sql(
                values_sql, seed_sql, rounds=5,
                weighted=weighted, per_seed=True,
            )).fetchall()
        )
        assert got == want, f"weighted={weighted}"


def test_bloom_contamination_superset_and_duckdb_twin(spark):
    """The bloom decontamination pass: (a) NO FALSE NEGATIVES — every
    doc the exact scan flags is bloom-flagged with at least as many
    grams (a bloom can only over-flag); (b) the md5-derived filter is
    EXACTLY reproducible — flagged sets (false positives included)
    bit-equal the DuckDB relational twin; (c) the shared-grams path
    matches the self-tokenizing path; (d) a tiny filter (bits_log2=8,
    64 words for thousands of grams) saturates toward flagging
    everything yet STILL satisfies the superset property — the FP/size
    trade-off behaves like a bloom filter should."""
    import duckdb

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(
        F.col("doc_id") < 120
    )
    pred = F.col("doc_id") < 25
    grams = dedup.word_ngram_hashes(docs, 8)

    exact = {
        r.doc_id: r.n_shared_ngrams
        for r in dedup.contamination_check(docs, pred, 8).collect()
    }
    bloom = {
        r.doc_id: r.n_flagged_ngrams
        for r in dedup.bloom_contamination_filter(docs, pred, 8).collect()
    }
    assert set(exact) <= set(bloom)
    for d, n_exact in exact.items():
        assert bloom[d] >= n_exact

    shared = {
        r.doc_id: r.n_flagged_ngrams
        for r in dedup.bloom_contamination_filter(
            docs, pred, 8, grams=grams
        ).collect()
    }
    assert bloom == shared

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    twin = {
        int(d): int(c)
        for d, c in con.execute(
            dedup.bloom_contamination_sql("doc_id < 25", n=8)
        ).fetchall()
    }
    assert bloom == twin

    tiny = {
        r.doc_id: r.n_flagged_ngrams
        for r in dedup.bloom_contamination_filter(
            docs, pred, 8, bits_log2=8
        ).collect()
    }
    assert set(exact) <= set(tiny)
    # saturation: the 256-bit filter flags (weakly) more than the 256k one
    assert sum(tiny.values()) >= sum(bloom.values())

    # two-phase composition: the bloom PRE-FILTER leaves the exact
    # scan's results bit-identical (phase 2 removes the bloom's false
    # positives) — even under a saturating 256-bit filter
    for blog2 in (18, 8):
        two_phase = {
            r.doc_id: r.n_shared_ngrams
            for r in dedup.contamination_check(
                docs, pred, 8, bloom_prefilter=True,
                bloom_bits_log2=blog2,
            ).collect()
        }
        assert two_phase == exact, f"bits_log2={blog2}"


def test_lsh_plan_parameter_planner():
    """lsh_plan picks the factorization whose S-curve midpoint is
    nearest the target while clearing the at-threshold recall floor;
    the shipped N_BANDS×ROWS_PER_BAND constants are exactly its answer
    for the dedup chain's own regime; the closed-form p_collision
    matches a direct evaluation; impossible regimes raise."""
    import math

    import pytest

    from ad_data_pipelines_spark.operators import dedup

    # the repo's own chain: 16 perms, high-similarity dedup regime
    plan = dedup.lsh_plan(0.8, n_perms=16)
    assert (plan["n_bands"], plan["rows_per_band"]) == (
        dedup.N_BANDS, dedup.ROWS_PER_BAND
    )
    assert plan["p_at_threshold"] >= 0.5
    # closed form sanity at the planted-probe regime (J≈0.93 pairs) —
    # evaluated via the module-level function (ADVICE r12: the plan
    # dict itself is pure data)
    p = lambda j: dedup.lsh_collision_probability(  # noqa: E731
        j, plan["rows_per_band"], plan["n_bands"]
    )
    assert p(0.93) > 0.99
    assert p(0.05) < 1e-4
    # the plan must round-trip as JSON (a persisted banding config)
    import json

    assert json.loads(json.dumps(plan)) == plan

    # midpoint property: the returned factorization's midpoint is the
    # closest among ALL qualifying divisor factorizations
    for tau, n in ((0.5, 16), (0.8, 64), (0.3, 16)):
        got = dedup.lsh_plan(tau, n_perms=n)
        b, r = got["n_bands"], got["rows_per_band"]
        assert b * r == n
        assert math.isclose(got["midpoint"], (1 / b) ** (1 / r),
                            abs_tol=1e-6)  # midpoint rounded to 6dp
        for rr in range(1, n + 1):
            if n % rr:
                continue
            bb = n // rr
            if 1.0 - (1.0 - tau**rr) ** bb < 0.5:
                continue
            assert abs(got["midpoint"] - tau) <= abs(
                (1 / bb) ** (1 / rr) - tau
            ) + 1e-6  # reported midpoint is rounded to 6dp

    with pytest.raises(ValueError, match="threshold"):
        dedup.lsh_plan(1.5)
    with pytest.raises(ValueError, match="n_perms"):
        dedup.lsh_plan(0.5, n_perms=1)
    with pytest.raises(ValueError, match="raise n_perms"):
        # 2 perms cannot clear a 0.5 floor at a 0.999 threshold's
        # complement regime: threshold so low every curve is flat
        dedup.lsh_plan(0.01, n_perms=2)


def test_dedup_threshold_wiring(spark):
    """r12 verdict #2: the dedup chain accepts a target Jaccard
    threshold and derives BOTH knobs (LSH banding, min_eq bar) from
    lsh_plan instead of the shipped constants. Asserts (a) the derived
    banding IS lsh_plan's choice, (b) dup_components(threshold=) is
    row-identical to the explicit-banding composition, (c) a banding
    that doesn't use the full 16-perm signature raises, (d) the
    resolved plan is pure serializable data."""
    import json

    import pytest

    from ad_data_pipelines_spark.operators import dedup

    plan = dedup.dedup_plan_for_threshold(0.5)
    ref = dedup.lsh_plan(0.5, n_perms=16)
    assert plan["n_bands"] == ref["n_bands"]
    assert plan["rows_per_band"] == ref["rows_per_band"]
    # the concrete regime the registry query pins: τ=0.5 → 8 bands of
    # 2 rows (midpoint 0.354, steep enough at 0.5) and min_eq=8
    assert (plan["n_bands"], plan["rows_per_band"]) == (8, 2)
    assert plan["min_eq"] == 8
    assert json.loads(json.dumps(plan)) == plan

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    via_threshold = sorted(
        map(tuple, dedup.dup_components(docs, threshold=0.5).collect())
    )
    pairs = dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(docs), n_bands=8, rows_per_band=2
    ).filter(F.col("n_eq") >= 8)
    composed = sorted(
        map(tuple, dedup.dup_components_from_pairs(pairs).collect())
    )
    assert via_threshold == composed
    # the wider banding can only ADD candidate pairs vs the 4x4
    # default at the same bar (2-row bands collide on any agreeing
    # adjacent pair; 4-row bands need all four): clusters cover at
    # least the default chain's clustered docs
    default_docs = {
        r.doc_id
        for r in dedup.dup_components(docs, min_eq=8).collect()
    }
    threshold_docs = {d for d, _, _ in via_threshold}
    assert default_docs <= threshold_docs

    with pytest.raises(ValueError, match="signature width"):
        dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(docs), n_bands=3, rows_per_band=4
        )

    # the ingest-time gate takes the SAME knob and stays bit-equal to
    # its DuckDB twin under the derived banding
    import duckdb

    sigs = dedup.minhash_signatures(docs).persist()
    new_sigs = sigs.filter(F.col("doc_id") >= 100)
    corpus_sigs = sigs.filter(F.col("doc_id") < 100)
    got = sorted(
        (r.doc_id, r.matched_doc, r.kept)
        for r in dedup.dedup_against_corpus(
            new_sigs, corpus_sigs, threshold=0.5
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/documents.parquet') WHERE doc_id < 200"
    )
    want = sorted(
        (int(a), None if b is None else int(b), bool(k))
        for a, b, k in con.execute(
            dedup.incremental_dedup_sql(
                "doc_id >= 100", "doc_id < 100", threshold=0.5
            )
        ).fetchall()
    )
    assert got == want
    sigs.unpersist()


def test_decontam_blast_radius_planted(spark):
    """Planted cluster-atomicity scenario: docs 0-1 near-dup pair with
    doc 0 sharing an 8-gram with the eval doc 100 → the pair's cluster
    reports (n_members=2, n_direct>=1, n_dragged=n_members-n_direct);
    doc 5 is a flagged SINGLETON (shares the gram, near-dups nothing)
    → (5, 1, 1, 0); doc 7 shares nothing and appears nowhere. Global
    invariants: Σ n_direct == |contamination_check flags| and every
    output row has n_members = n_direct + n_dragged."""
    from ad_data_pipelines_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta"  # the 8-gram
    filler = " ".join(f"w{i}x" for i in range(40))
    pad_a = " ".join(f"pada{i}" for i in range(30))
    pad_b = " ".join(f"padb{i}" for i in range(30))
    rows = [
        (0, f"{base} {filler} tail zero"),        # flagged, in pair
        (1, f"{base} {filler} tail one"),         # near-dup of 0
        (5, f"{base} {pad_a}"),                   # flagged singleton
        (7, f"clean {pad_b}"),                    # untouched
        (100, f"{base} evalpad " + " ".join(f"e{i}" for i in range(30))),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pred = F.col("doc_id") >= 100

    flags = {
        r.doc_id
        for r in dedup.contamination_check(docs, pred, 8).collect()
    }
    assert {0, 1, 5} <= flags or {0, 5} <= flags  # 1 may or may not flag

    out = {
        r.cluster_rep: (r.n_members, r.n_direct, r.n_dragged)
        for r in dedup.decontam_blast_radius(docs, pred, 8).collect()
    }
    assert 7 not in out and 100 not in out
    assert out[5] == (1, 1, 0)
    assert 0 in out  # the pair's min-id representative
    nm, nd, ndr = out[0]
    assert nm == 2 and nd >= 1 and ndr == nm - nd
    assert sum(v[1] for v in out.values()) == len(flags)
    assert all(m == d + g for m, d, g in out.values())

    # flagged= injection (r13: curate reuses its stage-4 engine's own
    # flag set): a precomputed flag frame must reproduce the default
    # path exactly — and lets the caller price a DIFFERENT engine's
    # drops (bloom superset) without re-running the gram scan
    injected = {
        r.cluster_rep: (r.n_members, r.n_direct, r.n_dragged)
        for r in dedup.decontam_blast_radius(
            docs,
            pred,
            8,
            flagged=dedup.contamination_check(docs, pred, 8).select(
                "doc_id"
            ),
        ).collect()
    }
    assert injected == out


def test_bloom_probe_guards(spark):
    """The two latent-divergence guards from the r11 advice: (a) k > 8
    overflows int64 in the h1 + i*h2 position arithmetic — Spark
    (non-ANSI) would wrap to negative positions silently while DuckDB
    raises, so BOTH engines' builders must reject it loudly; (b) a
    words artifact built under a different (scheme, k, bits_log2) than
    the probe silently tests wrong bit positions — `bloom_bits` stamps
    the build parameters into column metadata (parquet round-trip
    preserved) and `bloom_hit_grams_from_words` refuses a mismatch or
    a missing stamp (pre-v2 artifact)."""
    import pytest

    from ad_data_pipelines_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(
        F.col("doc_id") < 40
    )
    grams = dedup.word_ngram_hashes(docs, 8)
    eval_grams = grams.filter(F.col("doc_id") < 10).select("gh").distinct()

    # (a) the k bound, in every k-accepting entry point
    for fail in (
        lambda: dedup.bloom_bits(eval_grams, k=9),
        lambda: dedup.bloom_contamination_filter(docs, F.col("doc_id") < 10, 8, k=9),
        lambda: dedup.bloom_contamination_sql("doc_id < 10", n=8, k=9),
        lambda: dedup._bloom_probe_positions_sql("h1", "h2", 9, 1 << 18),
        lambda: dedup.bloom_bits(eval_grams, k=0),
    ):
        with pytest.raises(ValueError, match="k"):
            fail()
    # k=8 is the last safe value and must still work
    assert dedup.bloom_bits(eval_grams, k=8).count() > 0

    # (b) scheme/parameter stamp asserted at probe time
    words = dedup.bloom_bits(eval_grams, k=5, bits_log2=12)
    md = dict(words.schema["bits"].metadata)
    assert md == {"bloom_scheme": dedup._BLOOM_SCHEME, "k": 5,
                  "bits_log2": 12}
    probe_grams = grams.filter(F.col("doc_id") >= 10)
    # matching probe works
    assert dedup.bloom_hit_grams_from_words(
        probe_grams, words, k=5, bits_log2=12
    ).count() >= 0
    # parameter drift refused
    with pytest.raises(ValueError, match="does not match"):
        dedup.bloom_hit_grams_from_words(probe_grams, words, k=4,
                                         bits_log2=12)
    with pytest.raises(ValueError, match="does not match"):
        dedup.bloom_hit_grams_from_words(probe_grams, words, k=5,
                                         bits_log2=18)
    # a stamp-less table (pre-v2 artifact shape) refused
    bare = words.select("word", F.col("bits").cast("bigint").alias("bits"))
    assert not (bare.schema["bits"].metadata or {})
    with pytest.raises(ValueError, match="does not match"):
        dedup.bloom_hit_grams_from_words(probe_grams, bare, k=5,
                                         bits_log2=12)
    # and the stamp survives the parquet round-trip (the artifact path)
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        words.write.mode("overwrite").parquet(f"{tmp}/bloom_words")
        rt = spark.read.parquet(f"{tmp}/bloom_words")
        assert dict(rt.schema["bits"].metadata) == md
        hits_rt = dedup.bloom_hit_grams_from_words(
            probe_grams, rt, k=5, bits_log2=12
        ).count()
        hits_mem = dedup.bloom_hit_grams_from_words(
            probe_grams, words, k=5, bits_log2=12
        ).count()
        assert hits_rt == hits_mem
