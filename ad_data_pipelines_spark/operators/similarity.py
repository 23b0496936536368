"""Embedding similarity search: brute-force cosine top-k (baseline) and
hyperplane-LSH bucketing (scale path).

Beyond-reference (BASELINE.json north star): ANN over an
`embeddings(vec_id, embedding array<float>, label)` table. Dot products
run as built-in higher-order functions (`zip_with` + `aggregate`) in
double precision — JVM-side, codegen'd, no Python.

Scale design (100 TB / billions of vectors):
  * brute-force is O(Q×N): correct baseline; the query side must stay
    small and broadcast. 1000 executors stream the candidate side.
  * LSH buckets: b sign-bits from dot(v, hyperplane_j) → 2^b buckets;
    search only the query's bucket (optionally multi-probe neighboring
    buckets). Bucket assignment is a narrow map; the bucketed join
    shuffles vectors once by bucket id.
  * the IVF variant (`ivf_topk`) partitions the corpus into K cells by
    nearest centroid and probes the query's nprobe nearest cells —
    assignment is an O(N×K) broadcast pass, the probed join shuffles by
    cell id only. Centroids here are deterministic seed vectors (the K
    lowest vec_ids) so the oracle reproduces them; production would run
    k-means (Spark ML) and broadcast the trained centroids identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ad_data_pipelines_spark.sources.local import local_frame

#: Deterministic pseudo-random hyperplanes (LCG-generated, fixed seed) —
#: stable across runs/engines so bucket ids are reproducible.
N_PLANES = 8
DIM = 64


def _lcg_floats(n: int, seed: int = 1103515245) -> list[float]:
    out = []
    x = seed
    for _ in range(n):
        x = (1103515245 * x + 12345) % (1 << 31)
        out.append(x / float(1 << 31) - 0.5)
    return out


HYPERPLANES: list[list[float]] = [
    _lcg_floats(DIM, seed=7919 * (j + 1)) for j in range(N_PLANES)
]


def dot(a, b):
    """Double-precision dot product of two array columns (built-in HOF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest
    corpus vectors (excluding itself). Assumes unit-normalized inputs
    (dot == cosine); returns (query_id, neighbor_id, sim, rk).

    The query side is broadcast — the corpus is never shuffled, each
    executor streams its partitions against all queries.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    sims = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("q_emb"), F.col("c_emb")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def hard_negatives(
    embeddings: DataFrame,
    query_pred,
    clusters: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Contrastive-training hard-negative mining: for each query
    vector, the k most-similar corpus vectors that are neither the
    query itself nor a NEAR-DUPLICATE of it. A near-dup of the query
    carries (almost) the query's own content — sampling it as a
    negative poisons a contrastive loss with false negatives, so the
    dedup chain's cluster table is exactly the exclusion set the miner
    needs (the same artifact leakage-safe splits key on).

    `query_pred` is a boolean Column selecting the query rows;
    `clusters` is a (doc_id, component) map (`dedup.dup_components`
    output — docs absent from it are singletons and exclude only
    themselves). Returns (query_id, neighbor_id, sim, rk).

    Scale shape: cluster labels join onto the corpus at doc_id grain
    (co-partitioned; AQE broadcasts when the cluster table is small),
    the labeled queries BROADCAST, the corpus streams — never
    shuffled; top-k via the per-query rank window over the (tiny)
    query-keyed score set. Same double math + round(…, 4) contract as
    `cosine_topk`, so the DuckDB twin is bit-equal.
    """
    lab = (
        embeddings.join(
            clusters.select(
                F.col("doc_id").alias(id_col), "component"
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            "embedding",
            F.coalesce("component", F.col(id_col)).alias("cluster"),
        )
    )
    q = lab.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("cluster").alias("q_cluster"),
    )
    c = lab.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("cluster").alias("c_cluster"),
    )
    sims = c.join(
        F.broadcast(q), F.col("q_cluster") != F.col("c_cluster")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(dot(F.col("q_emb"), F.col("c_emb")), 4).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def hard_negatives_sql(
    clusters_sql: str, max_query_id: int, k: int = 5
) -> str:
    """DuckDB twin of `hard_negatives` over the embeddings table with
    vec_id < max_query_id as the query set; `clusters_sql` supplies
    the (doc_id, component) map (`dedup.dup_components_sql`)."""
    dot_sql = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    return f"""
        WITH comp AS ({clusters_sql}),
        lab AS (
            SELECT e.vec_id, e.embedding,
                   COALESCE(cp.component, e.vec_id) AS cluster
            FROM embeddings e
            LEFT JOIN comp cp ON cp.doc_id = e.vec_id
        ),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND({dot_sql}, 4) AS sim
            FROM lab q JOIN lab c ON q.cluster <> c.cluster
            WHERE q.vec_id < {max_query_id}
        )
        SELECT query_id, neighbor_id, sim, rk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id
            ) AS rk FROM pairs
        ) WHERE rk <= {k}
    """


def lsh_bucket(
    embeddings: DataFrame, id_col: str = "vec_id", n_planes: int = N_PLANES
) -> DataFrame:
    """Assign each vector a hyperplane-LSH bucket id (0..2^n_planes-1).

    Tune n_planes so expected bucket occupancy = corpus/2^n_planes stays
    well above k — at billions of vectors use 16-20 planes; small corpora
    need 4-6.
    """
    bucket = F.lit(0)
    for j, plane in enumerate(HYPERPLANES[:n_planes]):
        arr = F.array(*[F.lit(v) for v in plane])
        bucket = bucket + F.when(dot(F.col("embedding"), arr) > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
    return embeddings.select(
        F.col(id_col), bucket.cast("int").alias("bucket_id"), "embedding"
    )


def lsh_corpus_table(
    embeddings: DataFrame,
    table: str,
    path: str,
    id_col: str = "vec_id",
    n_planes: int = N_PLANES,
    n_buckets_files: int = 32,
) -> DataFrame:
    """Materialize the LSH-bucketed corpus as an on-disk bucketed table
    — the cross-job twin of the in-session shared `lsh_bucket` stage
    (same pattern as dedup's `dup_components_table`): assignment runs
    ONCE per corpus/plane generation, and every search job reads
    pre-bucketed files whose `bucket_id` clustering lets the
    bucket-join run without re-exchanging the corpus. Rebuild only when
    planes change; at 100 TB this is the difference between an O(N)
    assignment pass per query batch and none. Returns the re-read
    table."""
    from ad_data_pipelines_spark.operators.partitioning import write_bucketed

    write_bucketed(
        lsh_bucket(embeddings, id_col, n_planes),
        table,
        path,
        keys=["bucket_id"],
        n_buckets=n_buckets_files,
        sort_by=["bucket_id", id_col],
    )
    return embeddings.sparkSession.table(table)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    n_planes: int = 4,
    multiprobe: int = 1,
    corpus_buckets: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k searching the query's LSH bucket (+ optional multi-probe).

    multiprobe=1 also probes every bucket at Hamming distance 1 from the
    query's (flip each sign bit once): n_planes+1 buckets per query —
    the standard recall/cost dial. Cost is O(Q × occupancy × probes)
    vs brute force O(Q×N); recall < 1.0 by construction (floor asserted
    in tests).

    `corpus_buckets` injects a pre-computed (and typically persisted /
    disk-bucketed) `lsh_bucket(embeddings, ...)` output so many searches
    share ONE corpus assignment pass — at scale the bucketed corpus is a
    materialized table, not something rebuilt per query (the sign-test
    expression tree is n_planes × dim literals, so reuse also keeps
    analysis time flat).
    """
    qb0 = lsh_bucket(queries, id_col, n_planes).select(
        F.col(id_col).alias("query_id"),
        F.col("bucket_id"),
        F.col("embedding").alias("q_emb"),
    )
    if multiprobe >= 1:
        probes = F.array(
            F.col("bucket_id"),
            *[
                F.col("bucket_id").bitwiseXOR(F.lit(1 << j))
                for j in range(n_planes)
            ],
        )
        qb = qb0.select(
            "query_id", F.explode(probes).alias("bucket_id"), "q_emb"
        )
    else:
        qb = qb0
    if corpus_buckets is None:
        corpus_buckets = lsh_bucket(embeddings, id_col, n_planes)
    cb = corpus_buckets.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("bucket_id"),
        F.col("embedding").alias("c_emb"),
    )
    sims = (
        cb.join(F.broadcast(qb), "bucket_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("q_emb"), F.col("c_emb")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def ivf_centroids(
    embeddings: DataFrame, id_col: str = "vec_id", n_cells: int = 4
) -> DataFrame:
    """Deterministic seed centroids: the `n_cells` lowest-id vectors.

    Stand-in for a k-means pass (swap in Spark ML KMeans centroids for
    production; the plan shape downstream is unchanged) — deterministic
    so the DuckDB oracle reproduces them.
    """
    return embeddings.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell_id"), F.col("embedding").alias("cent_emb")
    )


def ivf_train_centroids(
    embeddings: DataFrame,
    n_cells: int = 4,
    seed: int = 7,
    max_iter: int = 20,
    id_col: str = "vec_id",
) -> DataFrame:
    """Production centroid path: Spark ML KMeans over the embedding
    column (array → ml Vector via `array_to_vector`, distributed
    Lloyd iterations, centers collected driver-side — K × dim doubles,
    kilobytes). Output schema matches `ivf_centroids`'s
    (cell_id, cent_emb) contract, so `ivf_cells`/`ivf_topk` consume
    either interchangeably; the seed-centroid variant exists for
    cross-engine oracle checks (KMeans has no SQL twin), this one for
    real recall. Unit-tested recall floor in tests/test_operators.py.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ds = embeddings.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        )
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(ds)
    return local_frame(
        embeddings.sparkSession,
        [
            (i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ],
        "cell_id bigint, cent_emb array<double>",
    )


def _dist_fp_sql(vec_col: str, c: list[int]) -> str:
    """Squared-L2 distance of BIGINT vector column ``vec_col`` to the
    literal centroid ``c``, as a SQL expression string — the exact
    integer algebra of the old Column-object form (zip_with diff²,
    aggregate-sum with 0L init), parsed server-side in one call
    instead of ~4·dim py4j round-trips per centroid."""
    arr = f"array({','.join(f'{int(x)}L' for x in c)})"
    return (
        f"aggregate(zip_with({vec_col}, {arr}, "
        f"(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
    )


def kmeans_fp(
    embeddings: DataFrame,
    n_cells: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    scale_log2: int = 20,
    seed_ids: list[int] | None = None,
) -> DataFrame:
    """Deterministic fixed-point Lloyd k-means — the ORACLE-GATEABLE
    trainer behind the IVF family (`ivf_train_centroids` is Spark-ML
    and has no SQL twin, so trained-codebook paths could never
    hash-gate; this one is BIT-EQUAL to the unrolled DuckDB twin
    `kmeans_sql`). Returns exactly ``n_cells`` rows
    (cell_id, n_members, centroid_fp array<bigint>).

    Determinism contract (every choice removes an engine- or
    order-dependence):
      * OFFSET QUANTIZATION ``floor((x + 1) · 2^scale_log2)``: +1
        shifts unit-norm components into [0, 2] so every quantized
        value, sum and centroid is NON-NEGATIVE — floor division then
        agrees across Python //, Spark DIV and DuckDB // (negative
        operands floor vs truncate differently — the `hits`
        all-positive lesson). The multiply is by a POWER OF TWO, an
        exact exponent shift in binary floating point, and the float32
        inputs widen to double exactly — so quantization is bit-equal
        in any IEEE engine, no round() boundary to disagree on.
      * squared-L2 distances in pure int64 (translation-invariant, so
        the offset never changes an argmin); headroom: diff ≤ 2^21+ε,
        squared ≤ 2^43, × 64 dims ≤ 2^49.
      * argmin tie → lowest cell_id (lexicographic (dist, cell) min);
      * centroid update = integer sums (associative — partial-agg
        order cannot change them) then floor division by the member
        count; an EMPTIED cell carries its previous centroid;
      * seeds = the ``n_cells`` lowest-id vectors (`ivf_centroids`'s
        convention), or the explicit ``seed_ids`` list (cell j = the
        vector with seed_ids[j] — pass `kcenter_seeds` picks for the
        farthest-point init; mirror with `kmeans_sql(seed_sql=...)`).

    Scale shape (the Spark-ML KMeans schedule): per iteration ONE pass
    over the quantized corpus (persisted once) — a broadcast-literal
    argmin (centroids are n_cells × 64 ints, embedded as column
    literals) + one combinable (cell, dim) sum aggregate; the K×64
    centroid table is collected driver-side per iteration (KB — the
    `train_bpe` per-iteration-scalar precedent), so plans stay flat
    instead of growing per-iteration lineage. Recover float centroids
    as ``centroid_fp / 2^scale_log2 − 1`` (`kmeans_centroids`).
    """
    if n_cells < 1:
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    if n_cells > 256:
        # each assignment pass embeds n_cells x dim centroid values as
        # plan LITERALS and every iteration collects K x dim rows to the
        # driver — fine for gate-sized codebooks, a plan/driver bomb at
        # large K. Large codebooks belong to the Spark-ML path (the same
        # vouched-knob discipline as pagerank's scale guard).
        raise ValueError(
            f"kmeans_fp embeds centroids as plan literals; n_cells="
            f"{n_cells} > 256 would explode the plan — use "
            f"ivf_train_centroids (Spark ML) for large codebooks"
        )
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    s = 1 << scale_log2
    vq = embeddings.select(
        F.col(id_col).alias("vid"),
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(floor((CAST(x AS DOUBLE) + 1.0d) * {s}) AS BIGINT))"
        ).alias("v"),
    ).persist()
    if seed_ids is None:
        seed_rows = vq.filter(F.col("vid") < n_cells).orderBy("vid").collect()
        # exact-set check, not just a count: duplicate or negative ids
        # below n_cells would seed MORE than n_cells centroids —
        # iteration 1 then assigns to phantom cells whose sums the
        # range(n_cells) rebuild silently drops, diverging from the
        # kmeans_sql twin (where the extra c0 rows persist through
        # every COALESCE).
        if [int(r.vid) for r in seed_rows] != list(range(n_cells)):
            vq.unpersist()
            raise ValueError(
                f"kmeans_fp seeds must be exactly {id_col}=0.."
                f"{n_cells - 1} (one row each); found ids "
                f"{[int(r.vid) for r in seed_rows][:8]}"
            )
        cents: list[list[int]] = [list(r.v) for r in seed_rows]
    else:
        ids = [int(i) for i in seed_ids]
        if len(ids) != n_cells or len(set(ids)) != n_cells:
            vq.unpersist()
            raise ValueError(
                f"seed_ids must be {n_cells} distinct ids, got {ids}"
            )
        seed_rows = vq.filter(F.col("vid").isin(ids)).collect()
        found = {int(r.vid): list(r.v) for r in seed_rows}
        if len(seed_rows) != n_cells or set(found) != set(ids):
            vq.unpersist()
            raise ValueError(
                f"seed_ids must match exactly one row each (got "
                f"{len(seed_rows)} rows for {n_cells} ids; missing "
                f"{sorted(set(ids) - set(found))})"
            )
        cents = [found[i] for i in ids]

    def assigned() -> DataFrame:
        # per-row argmin over literal centroids: array_min of
        # (dist, cell) structs — lexicographic, ties -> lowest cell.
        # The whole argmin is ONE parsed SQL string (r14 opt): the
        # Column-object form built n_cells x dim literal Columns
        # through py4j — measured 4-4.7 s of pure driver plan
        # construction PER ITERATION at K=4, dim=64, vs ~0.1 s for a
        # single server-side parse; the resulting expression tree (and
        # therefore every integer result) is identical.
        structs = ", ".join(
            f"named_struct('d', {_dist_fp_sql('v', c)}, 'cell', {j}L)"
            for j, c in enumerate(cents)
        )
        return vq.selectExpr(
            "vid", "v", f"array_min(array({structs})).cell AS cell"
        )

    dim = len(cents[0])
    for _ in range(iterations):
        # per-dimension sums as ONE wide aggregate (count + dim sum
        # columns), never a posexplode: the explode form pushed
        # n_rows × dim rows through the partial aggregate — a dim×
        # (64×) row blowup before the map-side combine that the
        # column form never materializes. Sums are identical integers
        # either way (bit-equal contract untouched; A/B'd r14).
        sums = (
            assigned()
            .groupBy("cell")
            .agg(
                F.count("*").alias("n"),
                *[
                    F.expr(f"sum(element_at(v, {i + 1}))").alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        upd = {
            int(r["cell"]): [
                int(r[f"s{i}"]) // int(r["n"]) for i in range(dim)
            ]
            for r in sums
        }
        cents = [
            # emptied cell keeps its previous centroid
            upd.get(j, cents[j])
            for j in range(n_cells)
        ]
    counts = {
        int(r.cell): int(r.n)
        for r in assigned().groupBy("cell").agg(F.count("*").alias("n"))
        .collect()
    }
    vq.unpersist()
    return local_frame(
        embeddings.sparkSession,
        [(j, counts.get(j, 0), cents[j]) for j in range(n_cells)],
        "cell_id bigint, n_members bigint, centroid_fp array<bigint>",
    )


def kcenter_seeds(
    embeddings: DataFrame,
    n_cells: int = 4,
    id_col: str = "vec_id",
    scale_log2: int = 20,
) -> DataFrame:
    """Deterministic farthest-point (Gonzalez k-center) seed selection
    in the `kmeans_fp` fixed-point domain — the k-means++-style
    alternative to lowest-id seeds, without the sampling
    nondeterminism: seed 0 is the lowest-id vector; every next seed is
    the vector FARTHEST (max squared-L2, int64) from its nearest
    already-chosen seed, ties to the lowest id. Spreads the codebook
    across the data's extremes — a 2-approximation to the optimal
    k-center cover — where lowest-id seeds can all land in one dense
    mode. Returns (cell_id, vec_id, min_dist_fp) with min_dist_fp the
    chosen vector's distance to the prior seed set (0 for seed 0).

    Scale shape (the kmeans_fp schedule): K−1 passes over the
    quantized corpus (persisted once); each pass evaluates the chosen
    seeds as plan literals and reduces to ONE row via a lexicographic
    struct-min aggregate — combinable, no window, no shuffle beyond
    the 1-row reduction; the same ≤256-centroid literal guard applies.
    Integer distances make the argmax bit-equal to the unrolled DuckDB
    twin (`kcenter_seeds_sql`).
    """
    if n_cells < 1:
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    if n_cells > 256:
        raise ValueError(
            f"kcenter_seeds embeds seeds as plan literals; n_cells="
            f"{n_cells} > 256 would explode the plan — use "
            f"ivf_train_centroids (Spark ML) for large codebooks"
        )
    s = 1 << scale_log2
    vq = embeddings.select(
        F.col(id_col).alias("vid"),
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(floor((CAST(x AS DOUBLE) + 1.0d) * {s}) AS BIGINT))"
        ).alias("v"),
    ).persist()
    first = vq.orderBy("vid").limit(1).collect()
    if not first:
        vq.unpersist()
        raise ValueError("kcenter_seeds: empty input")
    chosen: list[list[int]] = [list(first[0].v)]
    picks: list[tuple[int, int, int]] = [(0, int(first[0].vid), 0)]

    chosen_ids = [int(first[0].vid)]
    for j in range(1, n_cells):
        # nearest-chosen-seed distance as ONE parsed SQL string (r14
        # opt, the kmeans_fp assigned() rationale: the Column-object
        # form paid ~4·dim py4j round-trips per chosen seed per pass
        # in pure driver plan construction; the parsed tree and every
        # integer result are identical)
        dists = [_dist_fp_sql("v", c) for c in chosen]
        mind = (
            f"least({', '.join(dists)})" if len(dists) > 1 else dists[0]
        )
        # farthest point = lexicographic min over (-min_dist, vid):
        # largest distance first, ties to the lowest id; the vector
        # rides along (unique (nd, vid) key, it never orders).
        # Already-chosen ids are EXCLUDED — a chosen seed's distance is
        # 0 so it never wins normally, but on a corpus of identical
        # vectors the 0-distance tie would re-pick seed 0 and the
        # trainer would refuse the duplicate id downstream.
        best_rows = (
            vq.filter(~F.col("vid").isin(chosen_ids))
            .select(
                F.expr(
                    f"min(named_struct('nd', -({mind}), "
                    f"'vid', vid, 'v', v))"
                ).alias("m")
            )
            .collect()
        )
        best = best_rows[0].m if best_rows else None
        if best is None:
            vq.unpersist()
            raise ValueError(
                f"kcenter_seeds: only {j} vectors available for "
                f"n_cells={n_cells}"
            )
        picks.append((j, int(best.vid), int(-best.nd)))
        chosen.append(list(best.v))
        chosen_ids.append(int(best.vid))
    vq.unpersist()
    return local_frame(
        embeddings.sparkSession,
        picks,
        "cell_id bigint, vec_id bigint, min_dist_fp bigint",
    )


def kcenter_seeds_sql(n_cells: int = 4, scale_log2: int = 20) -> str:
    """DuckDB twin of `kcenter_seeds`: the same greedy recurrence
    unrolled into a WITH chain — each step cross-joins the 1-row prior
    seeds and takes the (distance DESC, vid ASC) head. CTE names carry
    a kc_ prefix so the query nests inside `kmeans_sql(seed_sql=...)`
    without colliding with its `v` CTE (DuckDB rejects the shadowing
    as a duplicate alias)."""
    s = 1 << scale_log2

    def dist(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), "
            "p -> (p[1] - p[2]) * (p[1] - p[2])))"
        )

    parts = [
        "kc_v AS MATERIALIZED (SELECT vec_id AS vid, "
        f"list_transform(embedding, x -> CAST(floor((CAST(x AS DOUBLE)"
        f" + 1.0) * {s}) AS BIGINT)) AS v FROM embeddings)",
        "kc_s0 AS MATERIALIZED "
        "(SELECT vid, v FROM kc_v ORDER BY vid LIMIT 1)",
    ]
    for j in range(1, n_cells):
        prior = ", ".join(f"kc_s{i}" for i in range(j))
        dists = [dist("kc_v.v", f"kc_s{i}.v") for i in range(j)]
        md = dists[0] if j == 1 else f"LEAST({', '.join(dists)})"
        # chosen ids excluded, mirroring the Spark side's duplicate-
        # vector guard
        excl = " AND ".join(f"kc_v.vid <> kc_s{i}.vid" for i in range(j))
        parts.append(
            f"kc_s{j} AS MATERIALIZED (SELECT kc_v.vid, kc_v.v, "
            f"CAST({md} AS BIGINT) AS md "
            f"FROM kc_v, {prior} WHERE {excl} "
            f"ORDER BY {md} DESC, kc_v.vid LIMIT 1)"
        )
    rows = [
        "SELECT CAST(0 AS BIGINT) AS cell_id, vid AS vec_id, "
        "CAST(0 AS BIGINT) AS min_dist_fp FROM kc_s0"
    ] + [
        f"SELECT CAST({j} AS BIGINT), vid, md FROM kc_s{j}"
        for j in range(1, n_cells)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(rows)


def kmeans_dequantize(fp: DataFrame, scale_log2: int = 20) -> DataFrame:
    """A `kmeans_fp` result de-quantized to the (cell_id, cent_emb)
    contract — split out so a memoized/materialized fp table feeds the
    search path without re-training. Division by a power of two is an
    exact exponent shift: both engines recover identical doubles."""
    s = float(1 << scale_log2)
    return fp.select(
        "cell_id",
        F.expr(
            f"transform(centroid_fp, f -> CAST(f AS DOUBLE) / {s} - 1.0d)"
        ).alias("cent_emb"),
    )


def kmeans_centroids(
    embeddings: DataFrame,
    n_cells: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    scale_log2: int = 20,
) -> DataFrame:
    """`kmeans_fp` de-quantized to the (cell_id, cent_emb) contract,
    so `ivf_cells`/`ivf_topk` consume the deterministic trained
    codebook interchangeably with `ivf_centroids` (seeds) and
    `ivf_train_centroids` (Spark ML)."""
    return kmeans_dequantize(
        kmeans_fp(embeddings, n_cells, iterations, id_col, scale_log2),
        scale_log2,
    )


def kmeans_sql(
    n_cells: int = 4,
    iterations: int = 3,
    scale_log2: int = 20,
    seed_sql: str | None = None,
) -> str:
    """DuckDB twin of `kmeans_fp`: the same offset-quantized integer
    Lloyd recurrence unrolled into a WITH chain (CTEs AS MATERIALIZED
    — each is referenced twice, the label_propagation lesson). List
    element access via generate_series subscripts; all-positive
    integer // matches Spark's DIV and Python's // bit for bit.
    ``seed_sql`` swaps in an alternative (cell_id, vid) seed-pick
    query (e.g. `kcenter_seeds_sql` re-projected) in place of the
    lowest-id default — the twin of kmeans_fp's ``seed_ids``."""
    s = 1 << scale_log2
    dist = (
        "list_sum(list_transform(list_zip(a.v, c.cent), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    c0 = (
        f"SELECT vid AS cell_id, v AS cent FROM v WHERE vid < {n_cells}"
        if seed_sql is None
        else f"SELECT s.cell_id, v.v AS cent FROM ({seed_sql}) s "
        f"JOIN v ON v.vid = s.vid"
    )
    parts = [
        "v AS MATERIALIZED (SELECT vec_id AS vid, "
        f"list_transform(embedding, x -> CAST(floor((CAST(x AS DOUBLE)"
        f" + 1.0) * {s}) AS BIGINT)) AS v FROM embeddings)",
        f"c0 AS MATERIALIZED ({c0})",
    ]
    for i in range(1, iterations + 2):
        prev = f"c{i - 1}"
        # assignment under the previous centroids (ties -> lowest cell)
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT vid, v, cell FROM ("
            f"SELECT a.vid, a.v, c.cell_id AS cell, ROW_NUMBER() OVER ("
            f"PARTITION BY a.vid ORDER BY {dist}, c.cell_id) AS rk "
            f"FROM v a CROSS JOIN {prev} c) WHERE rk = 1)"
        )
        if i == iterations + 1:
            break  # final assignment only feeds the member counts
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT cell, i, "
            f"SUM(v[i]) AS sm, COUNT(*) AS n "
            f"FROM a{i}, UNNEST(generate_series(1, len(v))) AS t(i) "
            f"GROUP BY 1, 2)"
        )
        parts.append(
            # CAST inside the list: DuckDB SUM widens to HUGEINT and
            # hugeint // hugeint stays hugeint — Arrow would surface
            # decimal128 centroids and the driver's type-tagged hash
            # would mismatch Spark's bigint (the round-1 lesson)
            f"u{i} AS MATERIALIZED (SELECT cell AS cell_id, "
            f"list(CAST(sm // n AS BIGINT) ORDER BY i) AS cent "
            f"FROM s{i} GROUP BY 1)"
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT p.cell_id, "
            f"COALESCE(u.cent, p.cent) AS cent "
            f"FROM {prev} p LEFT JOIN u{i} u USING (cell_id))"
        )
    final_a = f"a{iterations + 1}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT c.cell_id,
               CAST(COALESCE(m.n, 0) AS BIGINT) AS n_members,
               c.cent AS centroid_fp
        FROM c{iterations} c
        LEFT JOIN (SELECT cell, COUNT(*) AS n FROM {final_a} GROUP BY 1) m
          ON m.cell = c.cell_id
        """
    )


def ivf_cells(
    side: DataFrame,
    centroids: DataFrame,
    out_id: str,
    emb_out: str,
    n_keep: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector its `n_keep` nearest cells (centroids
    broadcast, O(N × n_cells) map-side).

    The common n_keep=1 case (corpus assignment) is a `min_by` partial
    aggregate over the ordering struct (-score, cell_id) — identical
    pick to the window's (score DESC, cell_id) row_number, but the
    map-side combine collapses the N×K scored rows to N BEFORE the
    shuffle, a K× traffic cut the window form can't get. n_keep>1
    (query probing) keeps the window."""
    scored = side.select(
        F.col(id_col).alias(out_id), F.col("embedding").alias(emb_out)
    ).join(F.broadcast(centroids), F.lit(True)).select(
        out_id,
        emb_out,
        "cell_id",
        F.round(dot(F.col(emb_out), F.col("cent_emb")), 4).alias("cscore"),
    )
    if n_keep == 1:
        order_key = F.struct(
            (-F.col("cscore")).alias("neg_score"), F.col("cell_id")
        )
        picked = scored.groupBy(out_id).agg(
            F.min_by(
                F.struct(F.col("cell_id"), F.col(emb_out)), order_key
            ).alias("best")
        )
        return picked.select(
            out_id,
            F.col("best.cell_id").alias("cell_id"),
            F.col(f"best.{emb_out}").alias(emb_out),
        )
    w = Window.partitionBy(out_id).orderBy(F.col("cscore").desc(), F.col("cell_id"))
    return (
        scored.withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") <= n_keep)
        .select(out_id, "cell_id", emb_out)
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    n_cells: int = 4,
    nprobe: int = 2,
    corpus_cells: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: corpus vectors live in their single nearest
    cell; each query probes its `nprobe` nearest cells.

    Centroids come from `ivf_centroids` (deterministic seed vectors).
    Cell assignment ranks dot(vec, centroid) with row_number over a
    deterministic order, so corpus cost is O(N × n_cells) map-side
    (centroids broadcast) and the search join shuffles on cell_id only.
    Returns (query_id, neighbor_id, sim, rk); recall < 1.0 by
    construction.

    `corpus_cells` injects a pre-computed `ivf_cells(embeddings, ...,
    "neighbor_id", "c_emb", 1)` output so many searches share ONE
    corpus assignment pass — at scale that is a materialized table
    partitioned by cell_id, rebuilt only when centroids move.
    `centroids` swaps in a trained table (`ivf_train_centroids`) in
    place of the deterministic seed vectors.
    """
    cent = (
        centroids
        if centroids is not None
        else ivf_centroids(embeddings, id_col, n_cells)
    )
    if corpus_cells is None:
        corpus_cells = ivf_cells(embeddings, cent, "neighbor_id", "c_emb", 1, id_col)
    query_cells = ivf_cells(queries, cent, "query_id", "q_emb", nprobe, id_col)
    sims = (
        corpus_cells.join(F.broadcast(query_cells), "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("q_emb"), F.col("c_emb")), 4).alias("sim"),
        )
    )
    # no distinct: each corpus vector lives in exactly ONE cell and probe
    # cells are distinct, so (query, neighbor) pairs are already unique —
    # a distinct here would add a full exchange of the similarity rows.
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def lsh_topk_sql(
    max_query_id: int, k: int = 5, n_planes: int = 4, multiprobe: int = 1
) -> str:
    """DuckDB oracle for lsh_topk — identical hyperplane literals,
    bucket arithmetic, multi-probe expansion and ranking. The planes are
    deterministic module constants, so both engines compute bit-equal
    bucket ids (same IEEE double dot products, same sign tests)."""

    def dot_lit(vec_expr: str, plane: list[float]) -> str:
        arr = "[" + ", ".join(repr(v) for v in plane) + "]"
        return (
            f"list_sum(list_transform(list_zip({vec_expr}, {arr}), "
            "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {dot_lit('embedding', HYPERPLANES[j])} > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes)
    )
    probes = ", ".join(
        ["bucket_id"]
        + [f"xor(bucket_id, {1 << j})" for j in range(n_planes)]
    )
    dot_qc = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    return f"""
        WITH bucketed AS (
            SELECT vec_id, embedding, ({bucket}) AS bucket_id FROM embeddings
        ),
        probed AS (
            SELECT vec_id AS query_id, unnest([{probes}]) AS bucket_id
            FROM bucketed WHERE vec_id < {max_query_id}
        ),
        sims AS (
            SELECT p.query_id, cb.vec_id AS neighbor_id,
                   ROUND({dot_qc}, 4) AS sim
            FROM probed p
            JOIN bucketed cb ON p.bucket_id = cb.bucket_id
            JOIN embeddings q ON q.vec_id = p.query_id
            JOIN embeddings c ON c.vec_id = cb.vec_id
            WHERE p.query_id <> cb.vec_id
        )
        SELECT query_id, neighbor_id, sim, rk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id
            ) AS rk FROM sims
        ) WHERE rk <= {k}
    """


def cosine_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    scope_max_id: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a, vec_b, sim) with
    sim ≥ threshold, a < b.

    All-pairs is O(N²) — at corpus scale run it ONLY behind a blocking
    stage (LSH buckets or IVF cells from this module) and verify
    candidates with this exact scorer; `scope_max_id` bounds the left
    side for the unblocked form (candidate verification / samples).
    """
    a = embeddings.select(
        F.col(id_col).alias("vec_a"), F.col("embedding").alias("a_emb")
    )
    if scope_max_id is not None:
        a = a.filter(F.col("vec_a") < scope_max_id)
    b = embeddings.select(
        F.col(id_col).alias("vec_b"), F.col("embedding").alias("b_emb")
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(dot(F.col("a_emb"), F.col("b_emb")), 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def cosine_near_dup_sql(threshold: float, scope_max_id: int) -> str:
    dot_sql = (
        "list_sum(list_transform(list_zip(a.embedding, b.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    return f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND({dot_sql}, 4) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < {scope_max_id}
          AND ROUND({dot_sql}, 4) >= {threshold}
    """


def ivf_topk_sql(
    max_query_id: int,
    k: int = 5,
    n_cells: int = 4,
    nprobe: int = 2,
    cent_sql: str | None = None,
) -> str:
    """DuckDB oracle for ivf_topk — same centroids, same ranking.
    ``cent_sql`` swaps in an alternative (cell_id, embedding) centroid
    query (e.g. the de-quantized `kmeans_sql` codebook) in place of
    the default lowest-id seed vectors."""
    if cent_sql is None:
        cent_sql = (
            f"SELECT vec_id AS cell_id, embedding FROM embeddings "
            f"WHERE vec_id < {n_cells}"
        )
    dot_ab = (
        "list_sum(list_transform(list_zip({a}.embedding, {b}.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    return f"""
        WITH cent AS (
            {cent_sql}
        ),
        corpus_cells AS (
            SELECT neighbor_id, cell_id FROM (
                SELECT v.vec_id AS neighbor_id, cent.cell_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ROUND({dot_ab.format(a='v', b='cent')}, 4) DESC,
                                    cent.cell_id
                       ) AS crk
                FROM embeddings v CROSS JOIN cent
            ) WHERE crk <= 1
        ),
        query_cells AS (
            SELECT query_id, cell_id FROM (
                SELECT v.vec_id AS query_id, cent.cell_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ROUND({dot_ab.format(a='v', b='cent')}, 4) DESC,
                                    cent.cell_id
                       ) AS crk
                FROM embeddings v CROSS JOIN cent
                WHERE v.vec_id < {max_query_id}
            ) WHERE crk <= {nprobe}
        ),
        sims AS (
            SELECT DISTINCT qc.query_id, cc.neighbor_id,
                   ROUND({dot_ab.format(a='q', b='c')}, 4) AS sim
            FROM query_cells qc
            JOIN corpus_cells cc ON qc.cell_id = cc.cell_id
            JOIN embeddings q ON q.vec_id = qc.query_id
            JOIN embeddings c ON c.vec_id = cc.neighbor_id
            WHERE qc.query_id <> cc.neighbor_id
        )
        SELECT query_id, neighbor_id, sim, rk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id
            ) AS rk FROM sims
        ) WHERE rk <= {k}
    """


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 4,
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style embedding-space pruning (Abbas et al. 2023,
    arXiv:2303.09540): cluster vectors by nearest centroid, compare
    only WITHIN a cluster, and drop every vector that has a same-cell
    neighbor with cosine ≥ `threshold` and a smaller id — the kept row
    is each near-duplicate neighborhood's min-id representative.
    Returns one row per vector: (vec_id, cell_id, kept).

    Scale shape: centroids broadcast for the O(N×K) cell assignment
    (shared/materializable via `corpus_cells`, same contract as
    `ivf_topk`); the pairwise stage shuffles on cell_id ONLY and its
    cost is Σ|cell|² — bounded by centroid count, which is the
    SemDeDup knob (more cells → smaller cells → cheaper + lower
    recall), never the unscoped corpus quadratic
    (`cosine_near_dup`'s docstring bans that form). The greedy
    min-id-within-cell rule needs no connected components: dedup
    decisions are per-cell-local by construction.
    """
    cent = (
        centroids
        if centroids is not None
        else ivf_centroids(embeddings, id_col, n_cells)
    )
    if corpus_cells is None:
        # referenced by three plan branches (both pair sides + the
        # verdict join) — persist so the O(N×K) assignment runs once,
        # not per branch (callers may unpersist after their action)
        corpus_cells = ivf_cells(
            embeddings, cent, "vec_id", "emb", 1, id_col
        ).persist()
    a = corpus_cells.select(
        F.col("cell_id"),
        F.col("vec_id").alias("a_id"),
        F.col("emb").alias("a_emb"),
    )
    b = corpus_cells.select(
        F.col("cell_id"),
        F.col("vec_id").alias("b_id"),
        F.col("emb").alias("b_emb"),
    )
    dups = (
        a.join(b, "cell_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            F.round(dot(F.col("a_emb"), F.col("b_emb")), 4) >= threshold
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return (
        corpus_cells.select("vec_id", "cell_id")
        .join(dups.withColumn("__dup", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id", "cell_id", F.col("__dup").isNull().alias("kept")
        )
    )


def semantic_dedup_sql(
    threshold: float = 0.9, n_cells: int = 4, cent_sql: str | None = None
) -> str:
    """DuckDB oracle for semantic_dedup — same centroids, same cell
    assignment ranking, same min-id-neighbor rule. ``cent_sql`` swaps
    in an alternative (cell_id, embedding) centroid query (e.g. the
    de-quantized `kmeans_sql` codebook) in place of the default
    lowest-id seed vectors — the same injection point as
    `ivf_topk_sql`."""
    if cent_sql is None:
        cent_sql = (
            f"SELECT vec_id AS cell_id, embedding FROM embeddings "
            f"WHERE vec_id < {n_cells}"
        )
    dot_ab = (
        "list_sum(list_transform(list_zip({a}.embedding, {b}.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    return f"""
        WITH cent AS (
            {cent_sql}
        ),
        cells AS (
            SELECT vec_id, cell_id FROM (
                SELECT v.vec_id, cent.cell_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ROUND({dot_ab.format(a='v', b='cent')}, 4) DESC,
                                    cent.cell_id
                       ) AS crk
                FROM embeddings v CROSS JOIN cent
            ) WHERE crk <= 1
        ),
        dups AS (
            SELECT DISTINCT cb.vec_id
            FROM cells ca
            JOIN cells cb ON ca.cell_id = cb.cell_id
                         AND ca.vec_id < cb.vec_id
            JOIN embeddings a ON a.vec_id = ca.vec_id
            JOIN embeddings b ON b.vec_id = cb.vec_id
            WHERE ROUND({dot_ab.format(a='a', b='b')}, 4) >= {threshold}
        )
        SELECT c.vec_id, c.cell_id,
               (d.vec_id IS NULL) AS kept
        FROM cells c LEFT JOIN dups d ON c.vec_id = d.vec_id
    """


def semantic_decontam(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    round_dp: int = 4,
) -> DataFrame:
    """Embedding-space decontamination: score every corpus vector by
    its maximum cosine to ANY eval vector and flag those at or above
    `threshold` — the semantic member of the decontamination family
    (exact gram match → bloom probe → THIS), catching paraphrased or
    re-tokenized benchmark leakage that n-gram matching misses
    (DCLM/FineWeb-style eval-embedding filtering). Returns one row per
    corpus vector: (vec_id, eval_id, max_sim, flagged), eval_id = the
    nearest eval vector (lowest id on ties).

    Scale shape: the eval set broadcasts (benchmarks are thousands of
    rows, never corpus-scale) and the max-sim reduces per corpus
    vector as ONE combinable struct-max aggregate — a map-side-partial
    O(N×E) scan with NO shuffle of embeddings; only (id, sim) pairs
    reach the exchange. Flagging is a map-side comparison. Corpus
    vectors also present in the eval set are excluded (they'd match
    themselves at 1.0).
    """
    ev = eval_set.select(
        F.col(id_col).alias("eval_id"), F.col("embedding").alias("e_emb")
    )
    sims = (
        corpus.select(
            F.col(id_col).alias("vec_id"), F.col("embedding").alias("c_emb")
        )
        .join(
            F.broadcast(ev.select("eval_id")),
            F.col("vec_id") == F.col("eval_id"),
            "left_anti",
        )
        .crossJoin(F.broadcast(ev))
        .select(
            "vec_id",
            "eval_id",
            F.round(dot(F.col("c_emb"), F.col("e_emb")), round_dp).alias(
                "sim"
            ),
        )
    )
    best = sims.groupBy("vec_id").agg(
        F.max(F.struct(F.col("sim"), (-F.col("eval_id")).alias("neg"))).alias(
            "b"
        )
    )
    return best.select(
        "vec_id",
        (-F.col("b.neg")).cast("bigint").alias("eval_id"),
        F.col("b.sim").alias("max_sim"),
        (F.col("b.sim") >= threshold).alias("flagged"),
    )


def semantic_decontam_ivf(
    corpus: DataFrame,
    eval_set: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.35,
    nprobe: int = 2,
    id_col: str = "vec_id",
    round_dp: int = 4,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """Cell-bounded semantic decontamination — the scale path when the
    eval side is itself corpus-sized (a full decontamination list of
    millions of embeddings) and cannot broadcast: corpus vectors keep
    their (shared, materializable) nearest-cell assignment; each EVAL
    vector probes its `nprobe` nearest cells; candidate pairs exist
    only within a shared cell, so the comparison cost is
    Σ_cell |corpus_cell|·|eval_probes_cell| instead of N×E — the
    SemDeDup/IVF bound, with `nprobe` the recall knob. Returns the
    same schema as `semantic_decontam` (vec_id, eval_id, max_sim,
    flagged) but ONLY for corpus vectors that met ≥1 candidate;
    absent rows are unflagged by construction. Every flag is true
    (candidate sims are exact sims, so flagged_ivf ⊆ flagged_exact);
    recall < 1 is possible — the registry agreement gate
    (llm_semantic_decontam_ivf) prices exactly that, like every
    approximate tier here.
    """
    if corpus_cells is None:
        corpus_cells = ivf_cells(
            corpus, centroids, "neighbor_id", "c_emb", 1, id_col
        )
    eval_cells = ivf_cells(
        eval_set, centroids, "eval_id", "e_emb", nprobe, id_col
    )
    eval_ids = eval_set.select(F.col(id_col).alias("eval_id"))
    cand = (
        corpus_cells.join(
            F.broadcast(eval_ids),
            F.col("neighbor_id") == F.col("eval_id"),
            "left_anti",
        )
        .join(eval_cells, "cell_id")
        .select(
            F.col("neighbor_id").alias("vec_id"),
            "eval_id",
            F.round(dot(F.col("c_emb"), F.col("e_emb")), round_dp).alias(
                "sim"
            ),
        )
    )
    best = cand.groupBy("vec_id").agg(
        F.max(F.struct(F.col("sim"), (-F.col("eval_id")).alias("neg"))).alias(
            "b"
        )
    )
    return best.select(
        "vec_id",
        (-F.col("b.neg")).cast("bigint").alias("eval_id"),
        F.col("b.sim").alias("max_sim"),
        (F.col("b.sim") >= threshold).alias("flagged"),
    )


def semantic_decontam_sql(
    eval_where: str = "vec_id < 10",
    threshold: float = 0.35,
    round_dp: int = 4,
) -> str:
    """DuckDB twin of `semantic_decontam` over the embeddings table;
    `eval_where` selects the eval rows (the rest is the corpus)."""
    dot_sql = (
        "list_sum(list_transform(list_zip(c.embedding, ev.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    return f"""
        WITH sd_ev AS (
            SELECT vec_id AS eval_id, embedding FROM embeddings
            WHERE {eval_where}
        ),
        sd_sims AS (
            SELECT c.vec_id, ev.eval_id,
                   ROUND({dot_sql}, {round_dp}) AS sim
            FROM embeddings c CROSS JOIN sd_ev ev
            WHERE c.vec_id NOT IN (SELECT eval_id FROM sd_ev)
        )
        SELECT vec_id, eval_id, max_sim,
               (max_sim >= {threshold}) AS flagged
        FROM (
            SELECT vec_id, eval_id, sim AS max_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY sim DESC, eval_id
                   ) AS rk
            FROM sd_sims
        ) WHERE rk = 1
    """


def truncate_renorm(
    embeddings: DataFrame, d: int, id_col: str = "vec_id"
) -> DataFrame:
    """Matryoshka-style dimension truncation (MRL, arXiv:2205.13147):
    keep the FIRST `d` dimensions and L2-renormalize, so cosine search
    runs in a d-dim prefix space — the memory/compute knob of
    matryoshka-trained embedding stacks (a d/D fraction of the dot-
    product work and index bytes, graded by a recall gate like every
    other compression tier here). Map-only, no shuffle; the norm guard
    keeps a degenerate all-zero prefix finite identically in both
    engines."""
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")
    pre = embeddings.select(
        F.col(id_col),
        F.expr(
            f"transform(slice(embedding, 1, {d}), "
            f"x -> CAST(x AS DOUBLE))"
        ).alias("pre"),
    ).withColumn(
        "nrm",
        F.greatest(
            F.sqrt(
                F.aggregate(
                    "pre", F.lit(0.0), lambda a, x: a + x * x
                )
            ),
            F.lit(1e-12),
        ),
    )
    return pre.select(
        id_col,
        F.transform("pre", lambda x: x / F.col("nrm")).alias("embedding"),
    )


def truncated_cosine_topk_sql(
    max_query_id: int, k: int = 5, d: int = 16
) -> str:
    """DuckDB twin of `cosine_topk` over `truncate_renorm(·, d)` —
    identical slice/renormalize/dot double math."""
    sq = (
        f"list_transform(embedding[1:{d}], "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )
    dot_sql = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    return f"""
        WITH tr AS (
            SELECT vec_id,
                   list_transform(pre, x -> x / nrm) AS embedding
            FROM (
                SELECT vec_id,
                       list_transform(embedding[1:{d}],
                                      x -> CAST(x AS DOUBLE)) AS pre,
                       GREATEST(sqrt(list_sum({sq})), 1e-12) AS nrm
                FROM embeddings
            )
        ),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND({dot_sql}, 4) AS sim
            FROM tr q JOIN tr c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {max_query_id}
        )
        SELECT query_id, neighbor_id, sim, rk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id
            ) AS rk FROM pairs
        ) WHERE rk <= {k}
    """


def cosine_topk_sql(max_query_id: int, k: int = 5) -> str:
    """DuckDB oracle for cosine_topk with identical double math."""
    dot_sql = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    return f"""
        WITH pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND({dot_sql}, 4) AS sim
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {max_query_id}
        )
        SELECT query_id, neighbor_id, sim, rk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id
            ) AS rk FROM pairs
        ) WHERE rk <= {k}
    """


# --- Random projection (Johnson–Lindenstrauss) -----------------------------

def projection_signs(
    in_dim: int = DIM, out_dim: int = 8, seed: int = 0
) -> list[list[int]]:
    """Deterministic ±1 projection matrix (out_dim × in_dim), derived
    from md5(seed:i:j) parity — reproducible in any engine/language, so
    the DuckDB oracle embeds the identical matrix."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[:15], 16
            )
            % 2
            == 0
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def _proj_terms(signs_row: list[int], elem: "callable") -> str:
    parts = []
    for i, s in enumerate(signs_row):
        op = "+ " if s > 0 else "- "
        parts.append((op if parts or s < 0 else "") + elem(i))
    return " ".join(parts)


def random_project(
    emb: DataFrame,
    out_dim: int = 8,
    in_dim: int = DIM,
    seed: int = 0,
    round_dp: int = 5,
) -> DataFrame:
    """Johnson–Lindenstrauss sign-projection of `embedding` to
    `out_dim` dims: p_j = Σ_i sign(i,j)·v_i / sqrt(out_dim) — the
    standard dimensionality-reduction front-end for ANN/clustering
    (pairwise distances preserved within (1±ε) w.h.p.).

    Scale shape: a pure narrow map — the ±1 matrix is baked into the
    projected expressions (no join, no shuffle, no broadcast needed),
    each output dim a codegen'd add/subtract chain over the float
    elements widened to double. Both engines evaluate the SAME
    left-associated chain, so results agree bit-for-bit before the
    rounding that guards the hash anyway.
    """
    signs = projection_signs(in_dim, out_dim, seed)
    cols = [F.col("vec_id")]
    for j, row in enumerate(signs):
        chain = _proj_terms(
            row, lambda i: f"CAST(embedding[{i}] AS DOUBLE)"
        )
        cols.append(
            F.expr(
                f"ROUND(({chain}) / SQRT(CAST({out_dim} AS DOUBLE)),"
                f" {round_dp})"
            ).alias(f"p{j}")
        )
    return emb.select(*cols)


def random_project_sql(
    out_dim: int = 8, in_dim: int = DIM, seed: int = 0, round_dp: int = 5
) -> str:
    """DuckDB twin of `random_project` (1-indexed list access)."""
    signs = projection_signs(in_dim, out_dim, seed)
    cols = ["vec_id"]
    for j, row in enumerate(signs):
        chain = _proj_terms(
            row, lambda i: f"CAST(embedding[{i + 1}] AS DOUBLE)"
        )
        cols.append(
            f"ROUND(({chain}) / SQRT(CAST({out_dim} AS DOUBLE)),"
            f" {round_dp}) AS p{j}"
        )
    return "SELECT " + ", ".join(cols) + " FROM embeddings"


# --- Embedding drift / cohesion monitoring ---------------------------------

def embedding_group_stats(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Per-group embedding health report: (group, n_vectors, avg_norm,
    avg_cos_to_centroid) — the drift/cohesion monitor a production
    embedding pipeline tracks per model version or data slice (a
    falling cos-to-centroid means the slice is fragmenting; a norm
    shift means the encoder changed).

    Scale shape: centroids come from ONE posexplode + (group, pos)
    partial/final-combinable average — never a collect — reassembled
    with array_sort over (pos, value) structs and broadcast back (one
    row per group, KBs). The cosine pass is then a narrow map over the
    vectors (zip_with/aggregate dot products in double) followed by one
    per-group aggregate; the corpus shuffles once for each aggregate
    and never for the centroid join.
    """
    g = F.col(group_col)
    x = emb.select(
        g.alias("grp"), F.posexplode(vec_col).alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    centroid = (
        x.groupBy("grp", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("grp")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
    )
    dotted = emb.select(
        g.alias("grp"), F.col(vec_col).alias("v")
    ).join(F.broadcast(centroid), "grp")
    acc = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda a, b: a + b
    )
    dot = acc(
        F.zip_with("v", "centroid", lambda a, b: a.cast("double") * b)
    )
    nv = F.sqrt(
        acc(
            F.zip_with(
                "v", "v", lambda a, b: a.cast("double") * b.cast("double")
            )
        )
    )
    nc = F.sqrt(acc(F.zip_with("centroid", "centroid", lambda a, b: a * b)))
    per_vec = dotted.select(
        "grp", nv.alias("norm"), (dot / (nv * nc)).alias("cos")
    )
    return per_vec.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(F.avg("norm"), round_dp).alias("avg_norm"),
        F.round(F.avg("cos"), round_dp).alias("avg_cos_to_centroid"),
    ).withColumnRenamed("grp", group_col)


def embedding_group_stats_sql(
    group_col: str = "label", round_dp: int = 4
) -> str:
    """DuckDB twin of `embedding_group_stats` over the embeddings
    table (posexplode-join formulation; per-component sums differ from
    the array fold only below the rounding guard)."""
    return f"""
        WITH x AS (
            SELECT {group_col} AS grp, vec_id, i AS pos,
                   CAST(embedding[i] AS DOUBLE) AS v
            FROM embeddings,
                 unnest(generate_series(1, len(embedding))) AS t(i)
        ),
        c AS (
            SELECT grp, pos, AVG(v) AS cv FROM x GROUP BY 1, 2
        ),
        per_vec AS (
            SELECT x.grp, x.vec_id,
                   SUM(x.v * c.cv) AS dot,
                   SQRT(SUM(x.v * x.v)) AS nv,
                   SQRT(SUM(c.cv * c.cv)) AS nc
            FROM x JOIN c ON x.grp = c.grp AND x.pos = c.pos
            GROUP BY 1, 2
        )
        SELECT grp AS {group_col},
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               ROUND(AVG(nv), {round_dp}) AS avg_norm,
               ROUND(AVG(dot / (nv * nc)), {round_dp})
                   AS avg_cos_to_centroid
        FROM per_vec
        GROUP BY 1
    """


# --- Product quantization (PQ) ---------------------------------------------

PQ_N_SUB = 8
PQ_K = 4
PQ_SUB_DIM = DIM // PQ_N_SUB


def pq_codebooks(
    n_sub: int = PQ_N_SUB,
    k: int = PQ_K,
    sub_dim: int = PQ_SUB_DIM,
    seed: int = 99,
) -> list[list[list[float]]]:
    """Deterministic per-subspace codebooks cb[s][j][t] (LCG floats,
    fixed seed — engine/run reproducible, embedded as literals on both
    the Spark and SQL sides). Production would k-means-train per
    subspace (Spark ML, as `ivf_train_centroids` does for IVF); the
    encode/search algebra below is identical either way."""
    flat = _lcg_floats(n_sub * k * sub_dim, seed=seed * 2_654_435_761 % (1 << 31))
    out = []
    i = 0
    for _ in range(n_sub):
        book = []
        for _ in range(k):
            book.append([round(x, 6) for x in flat[i : i + sub_dim]])
            i += sub_dim
        out.append(book)
    return out


def pq_train_codebooks(
    emb: DataFrame,
    n_sub: int = PQ_N_SUB,
    k: int = PQ_K,
    sub_dim: int = PQ_SUB_DIM,
    seed: int = 7,
    max_iter: int = 20,
) -> list[list[list[float]]]:
    """Production codebook path: Spark ML KMeans trained PER SUBSPACE
    over the corpus's sliced subvectors (the FAISS PQ training step),
    returning the same cb[s][j][t] nested-list structure as the seeded
    `pq_codebooks` — so `pq_encode`/`pq_topk` consume either
    interchangeably and the quantization algebra never changes.

    Scale shape: n_sub independent KMeans fits, each over (N, sub_dim)
    slices extracted by a narrow `slice()` map (no shuffle beyond
    KMeans' own aggregations); centers come back driver-side as
    n_sub × k × sub_dim doubles — kilobytes. The seeded variant stays
    for cross-engine oracle checks (KMeans has no SQL twin); this one
    is for real recall — on data with any cluster structure, trained
    cells tighten quantization error and the compressed-domain ranking
    (recall gate in tests/test_operators.py)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    books: list[list[list[float]]] = []
    for s in range(n_sub):
        ds = emb.select(
            array_to_vector(
                F.expr(
                    f"CAST(slice(embedding, {s * sub_dim + 1}, {sub_dim}) "
                    "AS array<double>)"
                )
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed + s, maxIter=max_iter).fit(ds)
        books.append(
            [
                [round(float(x), 6) for x in c]
                for c in model.clusterCenters()
            ]
        )
    return books


def _pq_sq_dist(s: int, centroid: list[float], elem) -> str:
    """Σ_t (v[t] − c_t)² as an explicit left-associated chain."""
    terms = []
    for t, c in enumerate(centroid):
        e = elem(s * len(centroid) + t)
        terms.append(f"({e} - {c!r}) * ({e} - {c!r})")
    return " + ".join(terms)


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Encode each vector to one small code per subspace:
    (vec_id, c0..c{n_sub-1}) with c_s = argmin_j ‖v_s − cb[s][j]‖² —
    8 bytes standing in for 256 bytes of floats (the FAISS PQ
    compression that lets a billion-vector index fit in RAM).

    Pure narrow map: codebooks are baked into codegen'd arithmetic
    chains, the argmin is `array_min` over (dist, j) structs (scores
    evaluate once, unconditionally — the lang-ID argmax lesson), no
    join or shuffle at any scale.
    """
    cbs = codebooks or pq_codebooks()
    elem = lambda i: f"CAST(embedding[{i}] AS DOUBLE)"  # noqa: E731
    cols = [F.col("vec_id")]
    for s, book in enumerate(cbs):
        entries = ", ".join(
            f"struct({_pq_sq_dist(s, c, elem)} AS d, {j} AS j)"
            for j, c in enumerate(book)
        )
        cols.append(
            F.expr(f"array_min(array({entries})).j").cast("int").alias(
                f"c{s}"
            )
        )
    return emb.select(*cols)


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    codebooks: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
    round_dp: int = 5,
) -> DataFrame:
    """Asymmetric-distance PQ search: approx ‖q − x‖² =
    Σ_s ‖q_s − cb[s][code_s(x)]‖² — each query precomputes one
    k-entry lookup table per subspace, then scoring a corpus vector is
    n_sub array lookups on its 8-byte code instead of a 64-float dot
    product (compressed-domain scoring).

    Scale shape: the corpus side is the (tiny-per-row) code table —
    shareable/materializable like `lsh_corpus_table`; queries
    broadcast with their LUTs computed map-side. This demo scores all
    codes per query (the honest compressed-domain baseline, cheaper
    per pair than `cosine_topk` by ~8×); the production composition
    is PQ-within-IVF: probe cells via `ivf_cells`, PQ-score only the
    probed cells' codes — same algebra, add the cell join.
    """
    cbs = codebooks or pq_codebooks()
    if codes is None:
        codes = pq_encode(emb, cbs)
    n_sub = len(cbs)
    elem = lambda i: f"CAST(embedding[{i}] AS DOUBLE)"  # noqa: E731
    qcols = [F.col("vec_id").alias("query_id")]
    for s, book in enumerate(cbs):
        luts = ", ".join(_pq_sq_dist(s, c, elem) for c in book)
        qcols.append(F.expr(f"array({luts})").alias(f"lut{s}"))
    q = queries.select(*qcols)
    joined = codes.withColumnRenamed("vec_id", "neighbor_id").crossJoin(
        F.broadcast(q)
    )
    dist = None
    for s in range(n_sub):
        term = F.element_at(f"lut{s}", F.col(f"c{s}") + 1)
        dist = term if dist is None else dist + term
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(dist, round_dp).alias("approx_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
    )


def pq_topk_sql(
    max_query_id: int,
    k: int = 5,
    codebooks: list[list[list[float]]] | None = None,
    round_dp: int = 5,
) -> str:
    """DuckDB twin of `pq_topk` over the embeddings table with queries
    = vec_id < max_query_id (codes CTE mirrors pq_encode's CASE-free
    argmin as a first-min CASE chain — identical result since both
    pick the lowest index on exact ties)."""
    cbs = codebooks or pq_codebooks()
    elem = lambda i: f"CAST(embedding[{i + 1}] AS DOUBLE)"  # noqa: E731
    code_cols = []
    for s, book in enumerate(cbs):
        ds = [f"({_pq_sq_dist(s, c, elem)})" for c in book]
        m = "LEAST(" + ", ".join(ds) + ")"
        case = " ".join(
            f"WHEN {d} = {m} THEN {j}" for j, d in enumerate(ds)
        )
        code_cols.append(f"(CASE {case} END) AS c{s}")
    lut_cols = []
    for s, book in enumerate(cbs):
        luts = ", ".join(f"({_pq_sq_dist(s, c, elem)})" for c in book)
        lut_cols.append(f"[{luts}] AS lut{s}")
    dist = " + ".join(f"q.lut{s}[x.c{s} + 1]" for s in range(len(cbs)))
    return f"""
        WITH codes AS (
            SELECT vec_id AS neighbor_id, {", ".join(code_cols)}
            FROM embeddings
        ),
        q AS (
            SELECT vec_id AS query_id, {", ".join(lut_cols)}
            FROM embeddings WHERE vec_id < {max_query_id}
        )
        SELECT query_id, neighbor_id, approx_dist, rk FROM (
            SELECT q.query_id, x.neighbor_id,
                   ROUND({dist}, {round_dp}) AS approx_dist,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND({dist}, {round_dp}) ASC,
                                x.neighbor_id ASC) AS BIGINT) AS rk
            FROM codes x CROSS JOIN q
        ) WHERE rk <= {k}
    """


def pq_ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 4,
    nprobe: int = 2,
    codebooks: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
    corpus_cells: DataFrame | None = None,
    centroids: DataFrame | None = None,
    round_dp: int = 5,
) -> DataFrame:
    """PQ-within-IVF — the production ANN composition (FAISS IVFPQ):
    probe the query's `nprobe` nearest cells, then PQ-score ONLY the
    probed cells' codes in the compressed domain. Candidate set comes
    from IVF (sublinear in corpus), per-candidate cost from PQ (8 LUT
    lookups, no float vectors touched at search time).

    Scale shape: the corpus artifacts — cell assignment and code
    table — are both shareable/materializable (the `corpus_cells` /
    `codes` hooks; on disk: one table partitioned by cell_id carrying
    8 small ints per vector). The search joins codes on cell_id only;
    query LUTs compute map-side on the broadcast query side; raw
    embeddings never reach the search join.
    """
    cbs = codebooks or pq_codebooks()
    cent = (
        centroids if centroids is not None else ivf_centroids(emb)
    )
    if corpus_cells is None:
        corpus_cells = ivf_cells(emb, cent, "neighbor_id", "c_emb", 1)
    if codes is None:
        codes = pq_encode(emb, cbs)
    coded = corpus_cells.select("neighbor_id", "cell_id").join(
        codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    )
    query_cells = ivf_cells(queries, cent, "query_id", "q_emb", nprobe)
    elem = lambda i: f"CAST(q_emb[{i}] AS DOUBLE)"  # noqa: E731
    qcols = [F.col("query_id"), F.col("cell_id")]
    for s, book in enumerate(cbs):
        luts = ", ".join(_pq_sq_dist(s, c, elem) for c in book)
        qcols.append(F.expr(f"array({luts})").alias(f"lut{s}"))
    q = query_cells.select(*qcols)
    joined = coded.join(F.broadcast(q), "cell_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    dist = None
    for s in range(len(cbs)):
        term = F.element_at(f"lut{s}", F.col(f"c{s}") + 1)
        dist = term if dist is None else dist + term
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(dist, round_dp).alias("approx_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
    )


def pq_ivf_topk_sql(
    max_query_id: int,
    k: int = 5,
    n_cells: int = 4,
    nprobe: int = 2,
    codebooks: list[list[list[float]]] | None = None,
    round_dp: int = 5,
    cent_sql: str | None = None,
) -> str:
    """DuckDB twin of `pq_ivf_topk` (IVF cell CTEs from ivf_topk_sql +
    PQ code/LUT algebra from pq_topk_sql). ``cent_sql`` swaps in an
    alternative (cell_id, embedding) centroid query, same injection
    point as `ivf_topk_sql`."""
    cbs = codebooks or pq_codebooks()
    if cent_sql is None:
        cent_sql = (
            f"SELECT vec_id AS cell_id, embedding FROM embeddings "
            f"WHERE vec_id < {n_cells}"
        )
    dot_ab = (
        "list_sum(list_transform(list_zip({a}.embedding, {b}.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    elem = lambda i: f"CAST(embedding[{i + 1}] AS DOUBLE)"  # noqa: E731
    code_cols = []
    for s, book in enumerate(cbs):
        ds = [f"({_pq_sq_dist(s, c, elem)})" for c in book]
        m = "LEAST(" + ", ".join(ds) + ")"
        case = " ".join(
            f"WHEN {d} = {m} THEN {j}" for j, d in enumerate(ds)
        )
        code_cols.append(f"(CASE {case} END) AS c{s}")
    lut_cols = []
    for s, book in enumerate(cbs):
        luts = ", ".join(f"({_pq_sq_dist(s, c, elem)})" for c in book)
        lut_cols.append(f"[{luts}] AS lut{s}")
    dist = " + ".join(
        f"q.lut{s}[cc.c{s} + 1]" for s in range(len(cbs))
    )
    return f"""
        WITH cent AS (
            {cent_sql}
        ),
        corpus_cells AS (
            SELECT neighbor_id, cell_id FROM (
                SELECT v.vec_id AS neighbor_id, cent.cell_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ROUND({dot_ab.format(a='v', b='cent')}, 4) DESC,
                                    cent.cell_id
                       ) AS crk
                FROM embeddings v CROSS JOIN cent
            ) WHERE crk <= 1
        ),
        codes AS (
            SELECT vec_id, {", ".join(code_cols)} FROM embeddings
        ),
        coded AS (
            SELECT cc.neighbor_id, cc.cell_id, codes.* EXCLUDE (vec_id)
            FROM corpus_cells cc JOIN codes ON codes.vec_id = cc.neighbor_id
        ),
        query_cells AS (
            SELECT query_id, cell_id FROM (
                SELECT v.vec_id AS query_id, cent.cell_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ROUND({dot_ab.format(a='v', b='cent')}, 4) DESC,
                                    cent.cell_id
                       ) AS crk
                FROM embeddings v CROSS JOIN cent
                WHERE v.vec_id < {max_query_id}
            ) WHERE crk <= {nprobe}
        ),
        q AS (
            SELECT qc.query_id, qc.cell_id, {", ".join(lut_cols)}
            FROM query_cells qc JOIN embeddings e ON e.vec_id = qc.query_id
        )
        SELECT query_id, neighbor_id, approx_dist, rk FROM (
            SELECT q.query_id, cc.neighbor_id,
                   ROUND({dist}, {round_dp}) AS approx_dist,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND({dist}, {round_dp}) ASC,
                                cc.neighbor_id ASC) AS BIGINT) AS rk
            FROM coded cc JOIN q ON q.cell_id = cc.cell_id
            WHERE q.query_id <> cc.neighbor_id
        ) WHERE rk <= {k}
    """


# --- exact L2 ground truth (PQ quality baseline) ---------------------------

def sq_scales(emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Per-dimension quantization scales for symmetric int8 scalar
    quantization (the FAISS SQ8 index family): ONE row holding
    array<double> of max|x_d| per dimension. posexplode → combinable
    per-dimension MAX → one array_sort(collect_list) assembly (dim
    rows, trivially bounded); the scalar row then broadcasts to the
    encoder. Constant-zero dimensions get a floor of 1e-30 so the
    encoder never divides by zero."""
    dims = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.greatest(
                F.max(F.abs(F.col("x").cast("double"))), F.lit(1e-30)
            ).alias("s")
        )
    )
    return dims.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, s))), e -> e.s)"
        ).alias("scales")
    )


def sq_encode(
    emb: DataFrame, scales: DataFrame | None = None, id_col: str = "vec_id"
) -> DataFrame:
    """int8-style scalar quantization: code_d = floor(x_d · 127 / s_d)
    ∈ [−127, 127] — 1 byte per dimension standing in for 4, the
    simplest of the FAISS compression tiers (SQ8; PQ is the next tier
    down at 1 byte per SUBSPACE). floor of an IEEE double quotient,
    not round: half-way rounding differs between engines, floor of
    the same double agrees everywhere (the `weighted_sample` idiom),
    so codes — and therefore every integer dot score — are bit-equal
    cross-engine and hash-gateable.

    Returns (vec_id, code array<bigint>). Scale shape: the scales row
    is a broadcast scalar (one crossJoin of a 1-row frame); encoding
    is pure map-side zip_with — no shuffle of anything corpus-sized;
    the code table is the shareable/materializable artifact, like
    `pq_encode`'s."""
    sc = scales if scales is not None else sq_scales(emb, id_col)
    return (
        emb.select(F.col(id_col).alias("vec_id"), "embedding")
        .crossJoin(F.broadcast(sc))
        .select(
            "vec_id",
            F.expr(
                "zip_with(embedding, scales, (x, s) -> "
                "CAST(floor(CAST(x AS DOUBLE) * 127.0D / s) AS BIGINT))"
            ).alias("code"),
        )
    )


def sq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    codes: DataFrame | None = None,
    scales: DataFrame | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Scalar-quantized top-k: rank corpus vectors per query by the
    INTEGER dot product of their int8 codes — a symmetric
    compressed-domain search (both sides quantized; the int dot is a
    127²-scaled approximation of the float dot, so ranking ≈ cosine
    ranking for normalized inputs). Self-matches excluded, exactly
    like `cosine_topk`, so recall against the brute-force truth is
    apples-to-apples.

    Every score is exact BIGINT arithmetic over bit-equal codes —
    the whole top-k is hash-gateable with no rounding contract at
    all (|code| ≤ 127 ⇒ |dot| ≤ 127²·dim ≈ 10⁶, nowhere near int64).

    The QUERY side is re-encoded from `queries` with the SAME scales
    (pass `scales` to share the corpus artifact's row — a mismatched
    scales row would score in a different lattice) rather than
    semi-joined out of the code table: the query side must carry a
    broadcast hint for the non-equi scoring join, and a hint on a
    join OUTPUT would root the hinted subtree in the full corpus scan
    (the plan lint's forced-OOM class); re-encoding keeps the hinted
    subtree bounded by the caller's id filter. Query codes broadcast;
    the corpus code table never shuffles.
    """
    sc = scales if scales is not None else sq_scales(emb, id_col)
    cs = codes if codes is not None else sq_encode(emb, sc, id_col=id_col)
    q = sq_encode(
        queries.select(F.col(id_col).alias("vec_id"), "embedding"), sc
    ).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("q_code")
    )
    scored = (
        cs.select(F.col("vec_id").alias("neighbor_id"), "code")
        .join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "aggregate(zip_with(q_code, code, (a, b) -> a * b), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("qscore"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qscore").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "qscore", "rk")
    )


_SQ_SCALES_SQL = """
    SELECT list(s ORDER BY pos) AS scales FROM (
        SELECT i AS pos,
               GREATEST(MAX(ABS(CAST(embedding[i] AS DOUBLE))), 1e-30) AS s
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS t(i)
        GROUP BY 1
    )
"""

_SQ_CODES_SQL = """
    SELECT vec_id,
           list_transform(
               list_zip(embedding, (SELECT scales FROM sq_sc)),
               x -> CAST(floor(CAST(x[1] AS DOUBLE) * 127.0
                               / CAST(x[2] AS DOUBLE)) AS BIGINT)
           ) AS code
    FROM embeddings
"""


def sq_topk_sql(max_query_id: int, k: int = 5) -> str:
    """DuckDB twin of `sq_topk` (queries = vec_id < max_query_id):
    identical floor quantization, identical integer dot."""
    int_dot = (
        "list_sum(list_transform(list_zip(q.code, c.code), "
        "x -> x[1] * x[2]))"
    )
    return f"""
        WITH sq_sc AS MATERIALIZED ({_SQ_SCALES_SQL}),
        sq_codes AS MATERIALIZED ({_SQ_CODES_SQL}),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST({int_dot} AS BIGINT) AS qscore
            FROM sq_codes q JOIN sq_codes c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {max_query_id}
        )
        SELECT query_id, neighbor_id, qscore, rk FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY qscore DESC, neighbor_id ASC
            ) AS BIGINT) AS rk FROM pairs
        ) WHERE rk <= {k}
    """


def l2_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    round_dp: int = 5,
) -> DataFrame:
    """Brute-force EXACT squared-L2 top-k (excluding self):
    (query_id, neighbor_id, dist, rk), ascending distance. The ground
    truth PQ quality is measured against — PQ approximates ‖q − x‖²,
    so grading it against the cosine ranking would conflate metric
    mismatch with compression loss. Same scale contract as
    `cosine_topk`: O(Q×N) labeled baseline, query side broadcast,
    corpus streamed and never shuffled. Squared distance (no sqrt)
    keeps ranking identical and the double math simpler to mirror."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    sq = F.aggregate(
        F.zip_with(
            "q_emb",
            "c_emb",
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(sq, round_dp).alias("dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id")
    )
    return (
        dists.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "dist", "rk")
    )


def l2_topk_sql(max_query_id: int, k: int = 5, round_dp: int = 5) -> str:
    """DuckDB oracle for l2_topk with identical double math."""
    sq_sql = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding), "
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) "
        "* (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    )
    return f"""
        WITH pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND({sq_sql}, {round_dp}) AS dist
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {max_query_id}
        )
        SELECT query_id, neighbor_id, dist, rk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY dist ASC, neighbor_id
            ) AS rk FROM pairs
        ) WHERE rk <= {k}
    """
