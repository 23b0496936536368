"""Iterative graph ranking: fixed-point PageRank.

Beyond-reference (SURVEY.md §2 north star). Web-scale pretraining
corpora are curated with graph quality signals — Common Crawl ranks
hosts by centrality, and CCNet/RefinedWeb-style pipelines filter or
weight sources by those ranks. The dedup layer's connected components
(operators/dedup.py) answers "which documents are the same"; this
operator answers "which sources matter". The reference system has no
graph operator (its pipelines are per-table R/pandas transforms), so
this is pure extension, cited nowhere.

Determinism contract: ranks are BIGINT fixed-point (``scale`` = mass
1.0) and every update is integer floor-division, so Spark and DuckDB
compute bit-equal ranks under any partitioning — the registry query
(g1_pagerank_suppliers) is hash-gated like an exact query. Float
PageRank cannot be oracle-gated: double summation order differs
across engines and partition counts, and after 10 iterations the
drift reaches the rounding boundary. The integer recurrence per
iteration is

    r'(d) = ((100 - p) * (scale // n)) // 100
          + (p * SUM over in-edges s->d of (r(s) // outdeg(s))) // 100

with p = ``damping_pct``. Mass from dangling nodes (no out-edges)
vanishes instead of redistributing — the standard simplification; it
dampens absolute values equally, leaving the RANKING unaffected,
which is what curation consumes. Floor-division also leaks ≤1 unit of
mass per node per step, so Σr < scale; again rank-neutral.

Scale shape (the iterative-Spark discipline):
  * State is (node, rank) — two longs per node; edges are read once,
    deduped, and reused every iteration (persist upstream if the
    source is expensive).
  * One iteration = one equi-join of ranks onto edges keyed by src +
    one (dst) aggregate — both AQE-planned shuffles of long pairs;
    contributions are combinable, so map-side partial aggregation
    bounds the dst shuffle at (partitions × distinct dst).
  * Lineage is truncated with ``localCheckpoint`` each iteration by
    default (same idiom as dedup._cc_star_contraction; cadence
    tunable) — without cuts the plan doubles per round and Catalyst
    analysis time explodes by ~2^k.
    ``reliable=True`` swaps every cut to a reliable ``checkpoint()``
    against the session's checkpoint dir for executor-loss recovery —
    the cluster setting; localCheckpoint (default) trades that for
    zero-copy speed, the right call single-node.
  * Fixed iteration count, not convergence polling: 10 rounds of
    0.85-damped propagation bound the unconverged mass by 0.85^10 ≈
    0.2% — and a FIXED loop is what an SQL oracle can replay exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ad_data_pipelines_spark.sources.local import local_frame


def _cut(df: DataFrame, reliable: bool) -> DataFrame:
    """One lineage cut for the iterative operators.

    ``reliable=False`` → ``localCheckpoint()``: zero-copy executor-local
    blocks — fastest, but NOT fault-tolerant (an executor loss discards
    its blocks and the truncated lineage cannot recompute them, killing
    the job). ``reliable=True`` → ``checkpoint()``: blocks are written
    to the session's configured checkpoint directory (HDFS/S3 on a real
    cluster) and survive executor loss — the right knob for a 100 TB
    run where losing one of 1000 executors mid-iteration is routine,
    at the price of one write+read of the state per cut. Requires
    ``spark.sparkContext.setCheckpointDir(...)``; fails loudly if unset
    rather than letting Spark raise mid-iteration."""
    if not reliable:
        return df.localCheckpoint()
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "reliable=True needs a checkpoint directory: call "
            "spark.sparkContext.setCheckpointDir('<hdfs/s3/local path>') "
            "before running the iterative operator"
        )
    return df.checkpoint()


#: the largest fixed-point scale :func:`pagerank` accepts (see its
#: scale guard): 99 × 1e16 still fits int64.
MAX_PAGERANK_SCALE = 10**16


def validate_edge_weights(
    edges: DataFrame, weight: str = "w", scale: int = 10**12,
    norm_col: str = "ws",
) -> DataFrame:
    """One-scan weight validation for a SHARED ws-carrying edge artifact.

    The ``assume_normalized`` fast path in :func:`pagerank` skips ALL
    weight validation when the input already carries the out-strength
    (``ws``) column — the contract is that the artifact **vouched for
    its weights when it was built**. This helper IS that vouching:
    call it once at artifact build time (one min/max aggregate over the
    materialized edge list) and the fast path stays sound for every
    downstream ranking. It enforces the same two invariants the slow
    path checks per call: weights strictly positive (zero/negative
    weights have no random-walk meaning) and ``scale × max(w)`` inside
    int64 headroom (rank·w would WRAP in Spark but ERROR in DuckDB —
    a silent cross-engine divergence). Raises ``ValueError`` on either
    violation. The weight column must be INTEGRAL (same contract as
    :func:`pagerank`): a fractional column raises loudly here instead
    of being mis-judged through int() truncation — scale fractional
    affinities to integers upstream.

    **Returns the frame with the vouch RECORDED**: the maximum scale
    any consumer may safely use, ``min(1e16, (2^62 − 1) DIV max(w))``,
    is written as column metadata on ``norm_col`` (``vouched_scale``).
    :func:`pagerank`'s fast path reads that metadata and raises if a
    consumer asks for a larger scale — so a vouch at the default
    1e12 can never be silently over-spent by a 1e16 consumer. Use the
    RETURNED frame as the shared artifact. A ws-carrying frame that
    never passed through this helper carries no metadata; the fast
    path then trusts it as before (the caller vouches by construction
    — this docstring is that contract)."""
    wtype = edges.schema[weight].dataType.simpleString()
    if wtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"weight column {weight!r} must be integral to vouch the "
            f"fixed-point contract, got {wtype} — scale fractional "
            "affinities to integers upstream"
        )
    min_w, max_w = edges.agg(F.min(weight), F.max(weight)).first()
    if min_w is not None and int(min_w) <= 0:
        raise ValueError(
            f"edge weights must be positive, got min({weight}) = {min_w} "
            "— filter or re-scale them before building the shared artifact"
        )
    if max_w is not None and int(scale) * int(max_w) >= 2**62:
        raise ValueError(
            f"scale ({scale}) x max weight ({max_w}) leaves no int64 "
            "headroom — rank*w would WRAP in Spark but ERROR in DuckDB; "
            "lower scale or re-scale weights"
        )
    vouched = (
        MAX_PAGERANK_SCALE
        if not max_w
        else min(MAX_PAGERANK_SCALE, (2**62 - 1) // int(max_w))
    )
    if norm_col in edges.columns:
        return edges.withMetadata(norm_col, {"vouched_scale": vouched})
    return edges


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
    checkpoint_every: int = 1,
    seeds: DataFrame | None = None,
    seed_col: str = "node",
    assume_normalized: bool = False,
    cut_input: bool = True,
    weight: str | None = None,
    reliable: bool = False,
    nodes: DataFrame | None = None,
    n_nodes: int | None = None,
    debug_vouch: bool = False,
) -> DataFrame:
    """(node, rank_fp): fixed-point PageRank over the directed edge
    list (self-loops dropped, duplicate edges collapsed). ``rank_fp``
    is the BIGINT rank at fixed-point ``scale``; divide by ``scale``
    for the usual [0, 1] value. See module docstring for the exact
    integer recurrence and determinism contract.

    ``seeds`` switches to PERSONALIZED PageRank (topic-sensitive,
    Haveliwala 2002): initial mass and the teleport term go uniformly
    to the seed set instead of all nodes — ranks become proximity to
    the seeds under the random walk, the seed-expansion primitive of
    source curation ("rank every source by closeness to these trusted
    ones"). The integer recurrence just swaps n for n_seeds and gates
    the teleport on seed membership, so the determinism contract is
    unchanged — and seeds = all nodes reproduces the uniform ranking
    BIT-FOR-BIT (tested). Seeds outside the graph's node set are
    ignored; an empty intersection raises.

    Node ids keep their input type — src and dst must agree. Prefer
    INTEGER ids at scale: the rank state and edges shuffle every
    iteration keyed on the node, and long keys shuffle ~2× faster than
    string labels here (measured 4.2 s vs 8.8 s for 10 iterations on
    1.1M edges); map labels to dense ids upstream and join the labels
    back once at the end, as g1_pagerank_suppliers does.

    ``assume_normalized=True`` declares the input already deduped,
    NULL-free and self-loop-free — skipping the per-call distinct
    pass — and, when the frame also carries an ``od`` (out-degree of
    src; out-strength ``ws`` in weighted mode) column, skips that
    aggregation too. That lets a SHARED edge artifact (built once per
    session, e.g. the trade graph) absorb the whole one-time
    normalization cost across every ranking that consumes it.
    **Weighted-mode vouching contract**: when the frame carries the
    ``ws`` column the fast path also skips BOTH weight validations
    (positivity and int64 headroom) — the artifact is trusted to have
    been validated when it was built. Run
    :func:`validate_edge_weights` once at artifact build time to
    establish that trust and use ITS RETURN as the artifact: it
    records the maximum safe scale as ``ws`` column metadata, and this
    fast path ASSERTS ``scale <= vouched_scale`` whenever that record
    is present — an over-scale consumer raises loudly instead of
    wrapping int64. A ws-carrying frame with no metadata record (a
    caller-constructed artifact that never went through the helper) is
    trusted as-is: such a caller vouches by construction, and bad
    weights yield silently wrapped or meaningless ranks where the
    per-call slow path would raise.
    ``cut_input=False`` additionally skips the defensive
    localCheckpoint of the edge list — pass it ONLY when the input is
    already materialized (a checkpointed/persisted shared stage); on
    a raw plan the iterations would re-run the caller's whole build
    chain on every scan.

    ``weight`` names an INTEGRAL edge-weight column and switches to
    WEIGHTED PageRank: a walker at s follows edge (s, d) with
    probability w(s,d) / Σ w(s, ·) — the recurrence's per-edge term
    becomes ``(r(s) * w) DIV ws`` with ``ws`` the out-strength, so
    determinism is preserved exactly (weight 1 everywhere reproduces
    the unweighted ranking BIT-FOR-BIT, tested). Duplicate (src, dst)
    rows collapse by SUMMING w; weights must be positive (a zero or
    negative weight raises — it has no random-walk meaning) and
    bounded so ``scale × max(w)`` fits int64 (one min/max action
    covers both checks; an ``assume_normalized`` input that already
    carries ``ws`` vouched for its weights when the artifact was
    built, so the shared-artifact fast path skips the scan and costs
    exactly what the unweighted ranking costs).
    Integral weights are the determinism contract, not a limitation:
    scale fractional affinities to integers upstream.

    ``reliable=True`` swaps every lineage cut from ``localCheckpoint``
    to a reliable ``checkpoint`` against the session's checkpoint
    directory — identical results (a cut never changes values, only
    lineage), but the cut state survives executor loss, which is the
    difference between a recoverable and a dead 100 TB run. See
    `_cut`.

    ``nodes`` / ``n_nodes`` extend the shared-artifact vouching
    contract to the NODE side: a graph artifact's endpoint set (and
    its count) are build-time properties, so a caller that
    materialized them once may pass them in and skip the per-call
    distinct-union pass (+ count action) entirely. ``nodes`` must be
    a MATERIALIZED frame whose single column equals exactly the
    distinct endpoints of the (surviving) edge list — the same
    trust-by-construction rule as ``assume_normalized``; ``n_nodes``
    must be its row count. Wrong values silently misrank (teleport
    mass is split by ``n_nodes``), which the oracle gate would catch —
    vouch only from artifact-build-time computation, and the edges
    must be the UNFILTERED artifact the node set was built from (a
    caller filtering the edge list the way g14 does must recompute).
    ``debug_vouch=True`` re-verifies the vouch at call time (count
    equality + endpoint containment both ways, three extra actions)
    and raises loudly on a mismatch — run it once when wiring a new
    consumer, leave it off in production."""
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    if iterations < 1:
        raise ValueError(f"need >= 1 iteration, got {iterations}")
    if checkpoint_every < 1:
        # 0 would ZeroDivisionError mid-iteration; a negative value
        # silently disables lineage cuts — the exact plan-explosion
        # hazard the cadence comment below warns about
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    if not 0 < int(scale) <= 10**16:
        # damping_pct * in_mass must stay inside int64: in_mass ≤ scale,
        # so 99 × 10^16 < 2^63 holds while anything larger would WRAP in
        # Spark (ANSI off) yet ERROR in DuckDB — a silent cross-engine
        # divergence this guard turns into a loud one
        raise ValueError(f"scale must be in (0, 1e16], got {scale}")
    if edges.schema[src].dataType != edges.schema[dst].dataType:
        raise ValueError(
            f"src/dst types differ: {edges.schema[src].dataType} vs "
            f"{edges.schema[dst].dataType}"
        )
    if weight is not None:
        wtype = edges.schema[weight].dataType.simpleString()
        if wtype not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"weight column {weight!r} must be integral for the "
                f"fixed-point determinism contract, got {wtype} — "
                "scale fractional affinities to integers upstream"
            )
    # the per-src normalizer column: out-degree (uniform walk) or
    # out-strength Σw (weighted walk)
    norm_col = "od" if weight is None else "ws"
    has_norm = assume_normalized and norm_col in edges.columns
    if has_norm and weight is not None:
        # a vouched artifact (built through validate_edge_weights)
        # carries the maximum safe scale as ws-column metadata: enforce
        # it so a 1e12-vouched artifact cannot be silently over-spent
        # by a consumer ranking at 1e16 (int64 wrap). Metadata absent →
        # the caller vouches by construction (documented contract).
        vouched = edges.schema[norm_col].metadata.get("vouched_scale")
        if vouched is not None and int(scale) > int(vouched):
            raise ValueError(
                f"scale ({scale}) exceeds the vouched maximum "
                f"({vouched}) recorded on {norm_col!r} by "
                "validate_edge_weights at artifact build time — "
                "rank*w could wrap int64; lower scale or re-vouch the "
                "artifact with re-scaled weights"
            )
    if assume_normalized:
        # skip the dedup/filter SEMANTICS, but keep the cut unless the
        # caller vouches the input is materialized (cut_input=False):
        # the loop scans the edge list every iteration, and without
        # either, each scan re-runs the caller's whole build chain
        cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
        if weight is not None:
            cols.append(F.col(weight).cast("bigint").alias("w"))
        if has_norm:
            cols.append(F.col(norm_col))
        e = edges.select(*cols)
        if cut_input:
            e = _cut(e, reliable)
    elif weight is None:
        e = _cut(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .filter(F.col("src") != F.col("dst"))
            .distinct(),
            reliable,
        )
    else:
        e = _cut(
            edges.select(
                F.col(src).alias("src"),
                F.col(dst).alias("dst"),
                F.col(weight).cast("bigint").alias("w"),
            )
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .filter(F.col("src") != F.col("dst"))
            .filter(F.col("w").isNotNull())
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w")),
            reliable,
        )
    if weight is not None and not has_norm:
        # positive weights only (no random-walk meaning otherwise) and
        # an int64 headroom check: the per-edge term multiplies
        # rank (≤ scale) by w before the floor division. ONE action
        # covers both checks; a shared artifact carrying the ws column
        # (has_norm) vouched for its weights when it was built, so the
        # fast path pays no validation scan at all.
        min_w, max_w = e.agg(F.min("w"), F.max("w")).first()
        if min_w is not None and int(min_w) <= 0:
            raise ValueError(
                "edge weights must be positive after duplicate "
                "collapse — zero/negative weights have no random-walk "
                "meaning; filter or re-scale them upstream"
            )
        if max_w is not None and int(scale) * int(max_w) >= 2**62:
            raise ValueError(
                f"scale ({scale}) x max weight ({max_w}) leaves no "
                "int64 headroom — rank*w would WRAP in Spark but "
                "ERROR in DuckDB; lower scale or re-scale weights"
            )
    if nodes is None:
        nodes = _cut(
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct(),
            reliable,
        )
        n = nodes.count()
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node"))
        n = int(n_nodes) if n_nodes is not None else nodes.count()
        if debug_vouch:
            # opt-in loud-failure re-check of the vouching contract
            # (r15, per the r14 advice): a wrong vouch otherwise
            # silently misranks. Three bounded actions over cut frames.
            actual = nodes.count()
            if n != actual:
                raise ValueError(
                    f"vouched n_nodes ({n}) != nodes frame count "
                    f"({actual}) — the vouch is stale or was computed "
                    "on different edges"
                )
            endpoints = e.select(F.col("src").alias("node")).unionByName(
                e.select(F.col("dst").alias("node"))
            )
            stray = (
                endpoints.join(nodes, "node", "left_anti").limit(1).collect()
            )
            if stray:
                raise ValueError(
                    f"edge endpoint {stray[0][0]!r} is missing from "
                    "the vouched nodes frame — the edges are not the "
                    "unfiltered artifact the node set was built from"
                )
            # the reverse direction: a node set built from unfiltered
            # edges and passed with filtered ones over-splits teleport
            # mass across nodes no surviving edge touches
            extra = (
                nodes.join(endpoints, "node", "left_anti").limit(1).collect()
            )
            if extra:
                raise ValueError(
                    f"vouched node {extra[0][0]!r} is not an endpoint of "
                    "any edge — the node set was built from other (e.g. "
                    "unfiltered) edges than the ones passed"
                )
    if n == 0:
        # the node set is the endpoints of SURVIVING edges — an input of
        # only self-loops/NULLs ranks nothing, it has no graph
        return local_frame(
            edges.sparkSession,
            [],
            StructType(
                [
                    StructField("node", edges.schema[src].dataType),
                    StructField("rank_fp", LongType()),
                ]
            ),
        )
    # flags: (node, is_seed ∈ {0, 1}), checkpointed once. Uniform mode
    # marks every node a seed — the seeded recurrence then reduces to
    # the classic one exactly (n_seeds = n), so there is ONE loop body
    # and the personalized path cannot drift from the tested uniform one
    if seeds is None:
        n_seeds = n
        flags = nodes.withColumn("is_seed", F.lit(1).cast("bigint"))
    else:
        seed_set = seeds.select(F.col(seed_col).alias("node")).distinct()
        flags = _cut(
            nodes.join(
                seed_set.withColumn("__s", F.lit(1)), "node", "left"
            )
            .select(
                "node", F.coalesce("__s", F.lit(0)).cast("bigint").alias("is_seed")
            ),
            reliable,
        )
        n_seeds = flags.agg(F.sum("is_seed")).collect()[0][0]
        if not n_seeds:
            raise ValueError(
                "no seed intersects the graph's node set — a teleport "
                "with nowhere to land ranks nothing"
            )
    if int(scale) < n_seeds:
        # init = scale // n_seeds would be 0: every rank collapses to 0
        # in both engines — consistent but useless; fail loudly instead
        raise ValueError(
            f"scale {scale} < {n_seeds} seed nodes — all fixed-point "
            "ranks would floor to 0; raise scale"
        )
    # the per-src normalizer (out-degree / out-strength) is joined
    # onto the edge list ONCE, outside the loop — inside it would
    # re-run a full-edge join every iteration for a value that never
    # changes; a shared artifact carrying the column skips even the
    # once
    if has_norm:
        e_od = e
    elif weight is None:
        e_od = _cut(
            e.join(e.groupBy("src").agg(F.count("*").alias("od")), "src")
            .select("src", "dst", "od"),
            reliable,
        )
    else:
        e_od = _cut(
            e.join(e.groupBy("src").agg(F.sum("w").alias("ws")), "src")
            .select("src", "dst", "w", "ws"),
            reliable,
        )
    init = int(scale) // int(n_seeds)
    teleport = ((100 - damping_pct) * init) // 100
    # zero-mass seed rows instead of a per-iteration nodes left-join:
    # nodes with no in-edges reach the SAME aggregate with c = 0, so
    # each iteration is one rank-onto-edges equi-join + ONE combinable
    # aggregate; the constant per-node teleport gate (is_seed) rides
    # along as a second aggregated column — still no second join,
    # identical integer results
    zero = flags.select(
        "node", F.lit(0).cast("bigint").alias("c"), "is_seed"
    )
    ranks = flags.select(
        "node", (F.col("is_seed") * F.lit(init)).alias("rank_fp")
    )
    contrib_expr = (
        "rank_fp DIV od" if weight is None else "(rank_fp * w) DIV ws"
    )
    for i in range(iterations):
        contribs = (
            e_od.join(
                ranks.select(F.col("node").alias("src"), "rank_fp"), "src"
            )
            .select(
                F.col("dst").alias("node"),
                F.expr(contrib_expr).alias("c"),
                F.lit(0).cast("bigint").alias("is_seed"),
            )
        )
        ranks = (
            contribs.unionByName(zero)
            .groupBy("node")
            # max(is_seed): the flag is constant per node (0 on contrib
            # rows, the true flag on the seed row) — aggregating it
            # keeps the teleport gate without a join
            .agg(
                F.sum("c").alias("in_mass"),
                F.max("is_seed").alias("is_seed"),
            )
            .select(
                "node",
                (
                    F.col("is_seed") * F.lit(teleport)
                    + F.expr(f"{damping_pct} * in_mass DIV 100")
                ).alias("rank_fp"),
            )
        )
        # lineage cut cadence: each cut is an eager materialization
        # job, so raising checkpoint_every saves k-1 jobs per k rounds
        # (measured 4.1 s at k=1 vs 1.9 s at k=5 on 1.1M edges,
        # identical ranks). Default stays 1: on some edge-plan shapes
        # Spark 4.1's InferFiltersFromConstraints blows up on the
        # deep union+aggregate chain an uncut k>1 plan accumulates —
        # raise it only for plans you've exercised
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = _cut(ranks, reliable)
    return ranks


def k_core(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    assume_normalized: bool = False,
    cut_input: bool = True,
    reliable: bool = False,
) -> DataFrame:
    """(node, deg): nodes surviving ``rounds`` of k-core peeling over
    the directed edge list, with the out-degree that qualified them in
    the final round — the density signal of the graph-quality family
    (PageRank: who matters; communities: who moves together; k-core:
    who sits in the densely-connected backbone — the classic crawl
    frontier / spam-farm discriminator). For an undirected graph
    supplied in both orientations (the trade-graph convention),
    out-degree IS the degree.

    Peeling round: deg(v) = surviving out-edges of v whose BOTH
    endpoints survive; survivors' = {v : deg(v) ≥ k}. No tie-breaks,
    no floats — every round is pure integer counting, so Spark and the
    unrolled DuckDB twin (`k_core_sql`) agree bit-for-bit, and a FIXED
    round count (not to-fixpoint iteration) is what keeps the oracle
    expressible. Peeling converges in at most ~diameter rounds on
    typical graphs; callers wanting the exact k-core check the
    fixpoint (rounds and rounds+1 equal — tested) or raise ``rounds``.

    Scale shape: per round, two semi-joins of the edge list against
    the surviving node set + one combinable (src) count — all keyed
    shuffles; the survivor state is one long per node, lineage cut
    per round. ``assume_normalized`` / ``cut_input`` / ``reliable`` as
    in `pagerank` (``od``/``w``/``ws`` columns, if present, are ignored
    — degrees are recounted per round by construction). Survivor sets
    shrink monotonically, so an unchanged round is the fixpoint and
    every remaining round the identity — a limit-1 anti-join probe
    per round early-exits them (r15), identical output."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"need >= 1 round, got {rounds}")
    if assume_normalized:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        if cut_input:
            e = _cut(e, reliable)
    else:
        e = _cut(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .filter(F.col("src") != F.col("dst"))
            .distinct(),
            reliable,
        )
    survivors = _cut(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct(),
        reliable,
    )
    deg = None
    for i in range(rounds):
        e_s = e.join(
            survivors.select(F.col("node").alias("src")), "src", "semi"
        ).join(survivors.select(F.col("node").alias("dst")), "dst", "semi")
        deg = e_s.groupBy(F.col("src").alias("node")).agg(
            F.count("*").alias("deg")
        )
        deg = _cut(deg.filter(F.col("deg") >= k), reliable)
        new_survivors = deg.select("node")
        if i + 1 < rounds:
            # fixpoint probe (r15): survivors only shrink, so an empty
            # prev-minus-new difference makes every remaining round the
            # identity (same survivor set => same degrees) — one
            # limit-1 anti-join over the two cut frames decides.
            dropped = survivors.join(
                new_survivors, "node", "left_anti"
            ).limit(1)
            survivors = new_survivors
            if not dropped.collect():
                break
        else:
            survivors = new_survivors
    return deg


def k_core_sql(edge_sql: str, k: int = 3, rounds: int = 6) -> str:
    """DuckDB twin of `k_core`: the same peeling recurrence unrolled.
    CTEs are ``AS MATERIALIZED`` — each round references its
    predecessor twice (both semi-joins), and inlined CTEs would
    expand 2^rounds-fold in the planner."""

    parts = [
        f"raw AS ({edge_sql})",
        "e AS (SELECT DISTINCT src, dst FROM raw"
        " WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)",
        "s0 AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT e.src AS node,"
            " COUNT(*) AS deg FROM e"
            f" JOIN s{i - 1} a ON a.node = e.src"
            f" JOIN s{i - 1} b ON b.node = e.dst"
            f" GROUP BY e.src HAVING COUNT(*) >= {int(k)})"
        )
        parts.append(f"s{i} AS (SELECT node FROM d{i})")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, deg FROM d{rounds}"
    )


def coreness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 8,
    checkpoint_every: int = 1,
    reliable: bool = False,
) -> DataFrame:
    """(node, coreness): the FULL k-core decomposition — every node's
    core number — via the distributed h-index iteration (Montresor,
    De Pellegrini & Miorandi, "Distributed k-core decomposition",
    2011). `k_core` answers "who survives at THIS k"; coreness answers
    it for every k at once, which is the per-node graph-quality
    FEATURE a curation pipeline joins onto its source table (alongside
    rank and community).

    Recurrence: c₀(u) = deg(u); cᵢ₊₁(u) = h-index of its neighbors'
    estimates {cᵢ(v) : v ∈ N(u)} (the largest h with ≥h neighbors at
    ≥h). Estimates are integers, start ≥ the true coreness, and
    decrease monotonically to it — a FIXED round count is a sound
    upper-bound iteration and what the unrolled DuckDB twin
    (`coreness_sql`) can replay; convergence is typically a few
    rounds (fixpoint asserted in tests via rounds vs rounds+1, and
    consistency with `k_core`: {coreness ≥ k} = the k-core survivor
    set). The h-index over ties is order-independent (the (rank,
    value) multiset is invariant under tie permutation), so the
    result is deterministic and hash-gateable.

    The input is canonicalized AND symmetrized (self-loops dropped,
    duplicates collapsed, both orientations emitted), so directed or
    single-orientation edge lists are handled. Scale shape: per round
    one equi-join of the (node, c) state onto edges + one per-node
    window bounded by the node's DEGREE (never global) + one
    combinable max; state is two longs per node; lineage cut per
    ``checkpoint_every`` rounds; ``reliable`` as in `pagerank`. An
    unchanged round is the fixpoint (the recurrence is a pure
    function of the state), so a limit-1 probe per round early-exits
    the remaining rounds — identical output, and on graphs that
    converge in 1-2 rounds (the trade backbone does) the fixed round
    budget stops costing anything (r15)."""
    if rounds < 1:
        raise ValueError(f"need >= 1 round, got {rounds}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    from pyspark.sql import Window

    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    e = _cut(
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(
            und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        ),
        reliable,
    )
    c = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = Window.partitionBy("u").orderBy(F.desc("cv"))
    for i in range(rounds):
        nb = e.join(
            c.select(F.col("node").alias("dst"), F.col("c").alias("cv")),
            "dst",
        ).select(F.col("src").alias("u"), "cv")
        c_new = (
            nb.withColumn("rn", F.row_number().over(w).cast("bigint"))
            .groupBy(F.col("u").alias("node"))
            .agg(F.max(F.least("rn", "cv")).alias("c"))
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < rounds:
            c_new = _cut(c_new, reliable)
        if i + 1 < rounds:
            # fixpoint probe (r15): c_{i+1} is a pure function of c_i,
            # so an unchanged round makes every remaining round the
            # identity — one limit-1 join over the (cut or one bounded
            # step off cut) states decides. The node set is invariant
            # (every node keeps >= 1 edge by construction), so the
            # inner join covers it.
            changed = (
                c_new.join(
                    c.select("node", F.col("c").alias("c_prev")), "node"
                )
                .filter(F.col("c") != F.col("c_prev"))
                .limit(1)
            )
            c = c_new
            if not changed.collect():
                break
        else:
            c = c_new
    return c.select("node", F.col("c").alias("coreness"))


def coreness_sql(edge_sql: str, rounds: int = 8) -> str:
    """DuckDB twin of `coreness`: the same h-index recurrence
    unrolled. Each round references its predecessor once (a linear
    chain), but the CTEs are ``AS MATERIALIZED`` anyway — the window
    subquery would otherwise re-inline the whole prefix per level."""
    parts = [
        f"raw AS ({edge_sql})",
        "und AS (SELECT DISTINCT LEAST(src, dst) AS u,"
        " GREATEST(src, dst) AS v FROM raw"
        " WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)",
        "e AS (SELECT u AS src, v AS dst FROM und"
        " UNION ALL SELECT v, u FROM und)",
        "c0 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS c"
        " FROM e GROUP BY src)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT u AS node,"
            " CAST(MAX(LEAST(rn, cv)) AS BIGINT) AS c FROM ("
            " SELECT e.src AS u, l.c AS cv, CAST(ROW_NUMBER() OVER ("
            "  PARTITION BY e.src ORDER BY l.c DESC) AS BIGINT) AS rn"
            f" FROM e JOIN c{i - 1} l ON l.node = e.dst"
            ") nb GROUP BY u)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, c AS coreness FROM c{rounds}"
    )


def _canonical_edges(
    edges: DataFrame, src: str, dst: str, reliable: bool
) -> DataFrame:
    """(u, v), u < v: the undirected simple graph spanned by a directed
    edge list — NULLs and self-loops dropped, both orientations and
    duplicates collapsed. Materialized (lineage cut): every consumer
    references it at least twice."""
    return _cut(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct(),
        reliable,
    )


def _oriented_triangles(
    und: DataFrame, reliable: bool
) -> tuple[DataFrame, DataFrame]:
    """(tri, deg) over a canonical (u, v) edge set: `tri` holds every
    triangle exactly once as (c, s, t) — c the lowest-RANK corner, s/t
    rank-ordered (rank = (degree, id) total order; ids NOT necessarily
    ordered) — via the degree-ordered compact-forward scheme (Latapy
    2008) whose orientation bounds each node's wedge fan-out by O(√m);
    `deg` is (node, d). Shared by `triangle_count` (per-node counts)
    and `k_truss` (per-edge support). The oriented edge set is
    materialized — it is referenced 3×, and uncut the caller's whole
    chain would re-run per reference."""
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # orient low rank -> high rank, rank = (degree, id); carry the
    # endpoint degrees so the wedge join can rank-order its two legs
    # without another join
    e_dd = (
        und.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = _cut(
        e_dd.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
        ),
        reliable,
    )
    w1 = oriented.select(
        F.col("s").alias("c"), F.col("t").alias("x"), F.col("dt").alias("dx")
    )
    w2 = oriented.select(
        F.col("s").alias("c"), F.col("t").alias("y"), F.col("dt").alias("dy")
    )
    x_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    wedges = (
        w1.join(w2, "c")
        .filter(x_first)  # each unordered out-pair once, rank-ordered
        .select("c", F.col("x").alias("s"), F.col("y").alias("t"))
    )
    tri = wedges.join(oriented.select("s", "t"), ["s", "t"])
    return tri, deg


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    reliable: bool = False,
) -> DataFrame:
    """(node, triangles): EXACT per-node triangle counts over the
    undirected simple graph spanned by the edge list (symmetrized,
    self-loops dropped, duplicates collapsed) — the local-clustering
    signal of the graph-quality family (k-core: global density rank;
    triangles: LOCAL cohesion — the classic spam/link-farm
    discriminator, since a farm inflates degree cheaply but triangles
    require real mutual interconnection). Every node of the graph is
    returned, zero-triangle nodes included.

    Algorithm is the degree-ordered compact-forward scheme (Latapy
    2008; the standard distributed formulation): rank nodes by
    (degree, id) — a total order, so ties are deterministic — orient
    every edge from lower to higher rank, build wedges at each node
    over its ORIENTED out-neighbors, and close them against the
    oriented edge list. Orientation bounds every node's out-degree by
    O(√m) on any graph, so the wedge join is skew-safe where the naive
    id-ordered scheme explodes at a high-degree vertex whose id sorts
    low. Each triangle is found exactly once (at its lowest-rank
    vertex), then exploded to its three corners for the per-node
    count.

    Scale shape: two distinct+aggregate passes (canonical edges,
    degrees), one broadcast-free equi-join for orientation, one
    self-join on the wedge center, one closing equi-join, one
    combinable count — all keyed shuffles of long pairs; no
    iteration. The canonical edge set and the oriented edge set are
    each MATERIALIZED once (lineage cut — ``reliable`` as in
    `pagerank`): the plan references them 2× and 3× respectively, and
    without the cuts the caller's whole edge-building chain re-runs
    per reference (measured 15.5 s → 4 s on the g6 co-supply
    projection, whose upstream is itself a self-join aggregate).
    Counting is pure integers: Spark and the DuckDB twin
    (`triangle_count_sql`, which uses the simple u<v<w closure —
    per-node triangle counts are algorithm-independent) agree
    bit-for-bit."""
    und = _canonical_edges(edges, src, dst, reliable)
    tri, deg = _oriented_triangles(und, reliable)
    corners = (
        tri.select(F.col("c").alias("node"))
        .unionByName(tri.select(F.col("s").alias("node")))
        .unionByName(tri.select(F.col("t").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.select("node")
        .join(corners, "node", "left")
        .select(
            "node",
            F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
        )
    )


def triangle_count_sql(edge_sql: str) -> str:
    """DuckDB twin of `triangle_count`: the simple u<v<w closure (the
    per-node counts are algorithm-independent, so the twin need not
    mirror the degree-ordered scheme). Plain CTEs — each is referenced
    at most three times and the chain is flat, no unrolled recursion."""
    return f"""
        WITH raw AS ({edge_sql}),
        e AS (
            SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
            FROM raw
            WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
        ),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
        cnt AS (
            SELECT node, COUNT(*) AS n FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            ) x GROUP BY node
        )
        SELECT nodes.node,
               CAST(COALESCE(cnt.n, 0) AS BIGINT) AS triangles
        FROM nodes LEFT JOIN cnt ON cnt.node = nodes.node
    """


def k_truss(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 4,
    rounds: int = 4,
    checkpoint_every: int = 1,
    reliable: bool = False,
) -> DataFrame:
    """(u, v), u < v: the k-truss of the undirected simple graph
    spanned by the edge list — the maximal subgraph in which every
    edge participates in at least k−2 triangles WITHIN the subgraph
    (Cohen 2008). The EDGE-level member of the cohesion family: g5's
    k-core keeps nodes with enough neighbors, the truss keeps edges
    with enough mutual reinforcement — the standard backbone
    extraction one step stronger than the core (every k-truss is
    inside the (k−1)-core), and the same spam-resistance argument as
    triangles applies edge-wise: a link farm inflates degrees but
    cannot fake the triangle support of its edges.

    Peeling is iterative and FIXED-round (the oracle-replayability
    contract shared with k_core), with DELTA triangle maintenance
    (r15): triangles are enumerated ONCE over the canonical edge set
    via the degree-ordered compact-forward scheme
    (`_oriented_triangles` — orientation by the (degree, id) total
    order bounds wedge fan-out by O(√m)), then each round counts
    per-edge support from the maintained triangle set (one
    explode-to-3 union + combinable aggregate), drops edges below
    k−2, and shrinks the triangle set by anti-joining the (typically
    tiny) set of edges just removed — a triangle of the survivor
    graph is exactly a previously-enumerated triangle none of whose
    three edges was removed, so the maintained set stays equal to a
    full re-enumeration round for round while the O(m^1.5) wedge
    join runs exactly once. An empty removal set is the fixpoint;
    the remaining rounds are identities and are skipped (one limit-1
    probe per round over the already-materialized flag frame).
    Removal cascades (an edge losing its support can strip a
    neighbor's), so `rounds` must reach the fixpoint — on every test
    graph and the co-supply backbone the peeling is stable by round
    4 (tested rounds vs rounds+1); monotone edge removal guarantees
    convergence. Pure integer counting, deterministic at every step:
    Spark and the unrolled DuckDB twin (`k_truss_sql`, AS MATERIALIZED
    CTEs — 3 per round, full per-round re-enumeration) agree
    bit-for-bit.

    Scale shape: ONE triangle enumeration (degree aggregate, two
    orientation joins, wedge self-join + closing join — all keyed
    long pairs); per round one explode-to-3 + combinable count, one
    join-back filter over the cut edge set, and three anti-joins of
    the triangle set against the just-removed edges (AQE broadcasts
    them once peeling localizes). The survivor edge set and triangle
    set are lineage-cut every round (``reliable`` as in `pagerank`);
    ``checkpoint_every`` is accepted for signature compatibility but
    ignored — the delta structure needs both per-round cuts anyway
    (a DeprecationWarning fires on non-default values)."""
    if k < 3:
        raise ValueError(
            f"k must be >= 3 (k-2 triangles per edge; k={k} keeps "
            "everything and means no truss at all)"
        )
    if rounds < 1:
        raise ValueError(f"need >= 1 round, got {rounds}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    if checkpoint_every != 1:
        import warnings

        warnings.warn(
            "k_truss ignores checkpoint_every since the r15 delta "
            "triangle maintenance: the survivor and triangle frames "
            "are cut every round structurally",
            DeprecationWarning,
            stacklevel=2,
        )
    e = _canonical_edges(edges, src, dst, reliable)
    tri_raw, _ = _oriented_triangles(e, reliable)
    # (c, s, t) is rank-ordered, not id-ordered — canonicalize the
    # three corner pairs ONCE; the frame is referenced 2-4× per round
    tri = _cut(
        tri_raw.select(
            F.least("c", "s").alias("p1u"),
            F.greatest("c", "s").alias("p1v"),
            F.least("c", "t").alias("p2u"),
            F.greatest("c", "t").alias("p2v"),
            F.least("s", "t").alias("p3u"),
            F.greatest("s", "t").alias("p3v"),
        ),
        reliable,
    )
    for r in range(rounds):
        pairs = (
            tri.select(F.col("p1u").alias("u"), F.col("p1v").alias("v"))
            .unionByName(
                tri.select(F.col("p2u").alias("u"), F.col("p2v").alias("v"))
            )
            .unionByName(
                tri.select(F.col("p3u").alias("u"), F.col("p3v").alias("v"))
            )
        )
        sup = pairs.groupBy("u", "v").agg(F.count("*").alias("support"))
        flagged = _cut(
            e.join(sup, ["u", "v"], "left").select(
                "u",
                "v",
                (F.coalesce("support", F.lit(0)) >= k - 2).alias("keep"),
            ),
            reliable,
        )
        e = flagged.filter("keep").select("u", "v")
        if r == rounds - 1:
            break
        removed = flagged.filter("NOT keep").select("u", "v")
        if not removed.limit(1).collect():
            break  # fixpoint: every remaining round is the identity
        tri = _cut(
            tri.join(
                removed.select(
                    F.col("u").alias("p1u"), F.col("v").alias("p1v")
                ),
                ["p1u", "p1v"],
                "left_anti",
            )
            .join(
                removed.select(
                    F.col("u").alias("p2u"), F.col("v").alias("p2v")
                ),
                ["p2u", "p2v"],
                "left_anti",
            )
            .join(
                removed.select(
                    F.col("u").alias("p3u"), F.col("v").alias("p3v")
                ),
                ["p3u", "p3v"],
                "left_anti",
            ),
            reliable,
        )
    return e


def k_truss_sql(edge_sql: str, k: int = 4, rounds: int = 4) -> str:
    """DuckDB twin of `k_truss`: the peeling unrolled round by round
    (3 CTEs each — u<v<w triangle closure, support explode+count,
    survivor filter), every CTE AS MATERIALIZED (each is referenced
    up to three times; inlined, the planner would expand the chain
    multiplicatively — the label_propagation lesson). Edges from the
    u<v<w closure are already canonical, so no LEAST/GREATEST is
    needed in the support union."""
    parts = [
        "e0 AS MATERIALIZED ("
        "SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v "
        f"FROM ({edge_sql}) raw "
        "WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)"
    ]
    for r in range(rounds):
        parts.append(
            f"t{r} AS MATERIALIZED ("
            f"SELECT e1.u AS a, e1.v AS b, e2.v AS c "
            f"FROM e{r} e1 "
            f"JOIN e{r} e2 ON e2.u = e1.v "
            f"JOIN e{r} e3 ON e3.u = e1.u AND e3.v = e2.v)"
        )
        parts.append(
            f"s{r} AS MATERIALIZED ("
            f"SELECT u, v, COUNT(*) AS sup FROM ("
            f"SELECT a AS u, b AS v FROM t{r} "
            f"UNION ALL SELECT a, c FROM t{r} "
            f"UNION ALL SELECT b, c FROM t{r}) x GROUP BY 1, 2)"
        )
        parts.append(
            f"e{r + 1} AS MATERIALIZED ("
            f"SELECT e.u, e.v FROM e{r} e "
            f"LEFT JOIN s{r} s ON s.u = e.u AND s.v = e.v "
            f"WHERE COALESCE(s.sup, 0) >= {k - 2})"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT u, v FROM e{rounds}"


def neighborhood_function(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    d: int = 3,
    lg_k: int = 12,
    checkpoint_every: int = 1,
    reliable: bool = False,
) -> DataFrame:
    """(node, reach_est): the approximate neighborhood function —
    |{u : dist(node, u) <= d}| over the undirected simple graph, self
    included — via HyperLogLog sketch propagation (ANF, Palmer et al.
    KDD'02; HyperBall is the modern refinement). The graph-curation
    reading: a source whose d-hop neighborhood is tiny lives in an
    isolated cluster (link farm, walled garden); one whose
    neighborhood explodes sits on the graph's backbone — and the
    EXACT computation is O(n·reach) pairs, quadratic on dense graphs,
    while the sketch version carries ~kB of mergeable state per node.

    This is the only operator in the family whose per-node STATE is a
    sketch, not an integer — and it composes exactly like the others:
    state c₀(v) = HLL{v}; per round, every node unions its neighbors'
    sketches into its own (one equi-join of the state onto the edge
    list + one combinable ``hll_union_agg`` — DataSketches HLL unions
    are register-wise max, so the aggregate is associative,
    commutative and map-side partial like any sum), fixed ``d``
    rounds, lineage cut per ``checkpoint_every`` (``reliable`` as in
    `pagerank`). The estimate is insertion-ORDER invariant (register
    max), so results are deterministic for fixed input.

    Accuracy: relative standard error ≈ 1.04/√2^lg_k (~1.6% at the
    default lg_k=12), and small neighborhoods sit in the sketch's
    sparse-exact regime. No SQL oracle can replay sketch binaries —
    gate the TOLERANCE VERDICT against `bfs_reach_counts` on a
    bounded seed set instead (the a5/a26 pattern; see
    g9_neighborhood_anf)."""
    if d < 1:
        raise ValueError(f"need d >= 1 hop, got {d}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    und = _canonical_edges(edges, src, dst, reliable)
    sym = und.selectExpr("u AS a", "v AS b").unionByName(
        und.selectExpr("v AS a", "u AS b")
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    state = nodes.groupBy("node").agg(
        F.expr(f"hll_sketch_agg(node, {int(lg_k)})").alias("hll")
    )
    for r in range(d):
        contrib = sym.join(state, sym.b == state.node).select(
            F.col("a").alias("node"), "hll"
        )
        state = (
            state.unionByName(contrib)
            .groupBy("node")
            .agg(F.expr("hll_union_agg(hll)").alias("hll"))
        )
        if (r + 1) % checkpoint_every == 0 or r == d - 1:
            state = _cut(state, reliable)
    return state.select(
        "node",
        F.expr("CAST(ROUND(hll_sketch_estimate(hll)) AS BIGINT)").alias(
            "reach_est"
        ),
    )


def bfs_reach_counts(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    d: int = 3,
    checkpoint_every: int = 1,
    reliable: bool = False,
) -> DataFrame:
    """(node, reach): EXACT |{u : dist(node, u) <= d}|, self included,
    for the SEED nodes only — the ground-truth twin of
    `neighborhood_function` and the reason it exists: exact reach
    materializes (seed, reached) pairs, O(|seeds|·reach) rows, so it
    is only affordable on a bounded seed set (a recall-gate sample,
    a suspect list), while the sketch version covers every node.
    Per round one frontier equi-join + one distinct — the pair set is
    monotone growing and lineage-cut per round. Fully
    SQL-expressible; the g9 oracle unrolls exactly this loop."""
    if d < 1:
        raise ValueError(f"need d >= 1 hop, got {d}")
    und = _canonical_edges(edges, src, dst, reliable)
    sym = und.selectExpr("u AS a", "v AS b").unionByName(
        und.selectExpr("v AS a", "u AS b")
    )
    pairs = _cut(
        seeds.select(F.col(seed_col).alias("seed")).distinct()
        .select("seed", F.col("seed").alias("node")),
        reliable,
    )
    for r in range(d):
        step = pairs.join(sym, pairs.node == sym.a).select(
            "seed", F.col("b").alias("node")
        )
        pairs = pairs.unionByName(step).distinct()
        if (r + 1) % checkpoint_every == 0 or r == d - 1:
            pairs = _cut(pairs, reliable)
    return pairs.groupBy("seed").agg(
        F.count("*").cast("bigint").alias("reach")
    ).select(F.col("seed").alias("node"), "reach")


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    seed_col: str = "node",
    rounds: int = 6,
    checkpoint_every: int = 1,
    reliable: bool = False,
    assume_normalized: bool = False,
    cut_input: bool = True,
    frontier: bool = False,
    per_seed: bool = False,
) -> DataFrame:
    """(node, dist): MULTI-SOURCE single-source-shortest-paths over the
    DIRECTED edge list by fixed-round distributed relaxation
    (Bellman-Ford truncated at ``rounds`` edges): ``dist`` is the exact
    minimum path cost over all paths of AT MOST ``rounds`` hops from
    any seed; nodes no ≤rounds-hop path reaches are ABSENT from the
    output. Pass both edge orientations for undirected semantics (the
    shared trade artifact already carries both).

    The graph-curation reading: distance-to-trusted-seed TIERS — the
    deterministic complement of g2's random-walk proximity (PPR ranks
    by visit probability, this measures the cheapest chain of
    relationships; a source many cheap hops from every trusted seed is
    a quarantine candidate). The classic distributed SSSP primitive
    the reference family lacks; `bfs_reach_counts` is its
    reach-counting sibling.

    Per round ONE equi-join of the reached-node state onto the edge
    list (state.node = edges.src) + ONE combinable min aggregate —
    map-side partials, no windows, no driver loop state; lineage cut
    per ``checkpoint_every`` rounds (``reliable`` as in `pagerank`).
    At 100 TB this is the plan you want: the state is (node, BIGINT),
    the join shuffles on the node key, and a hub's fan-out lands in
    the min-combine's partial aggregation.

    ``frontier=True`` switches to DELTA relaxation: only nodes whose
    dist IMPROVED last round propagate (the classic Bellman-Ford
    optimization) — exact for the truncated semantics too, because
    every prefix of a ≤rounds-hop shortest path improves (or was
    already beaten by a cheaper prefix that propagated earlier), so
    dist after round r is still the min over ≤r-hop paths
    (property-tested equal to the full relax on random graphs). Per
    round it trades the full-edge relax join for a frontier-incident
    one plus a node-keyed diff join (both sides fresh groupBy outputs,
    so the diff reuses the hash partitioning), and BAILS OUT when the
    frontier empties — a fixpoint, further rounds are no-ops. The win
    grows with how early distances settle (on the trade graph most
    settle in 2-3 of g11's 8 rounds); full-state relax remains the
    default for small fixed round counts where the extra diff join
    isn't paid for.

    ``weight`` names an INTEGRAL positive edge-cost column (weight
    None = unit cost ⇒ hop distance / multi-source BFS). Duplicate
    (src, dst) rows collapse by MIN(w) — the shortest-path-correct
    policy. Loud guards: non-integral weight dtype, non-positive
    weights, and ``rounds × max(w)`` int64 headroom (the longest
    representable path cost; one min/max action covers both) — all
    skipped under ``assume_normalized=True``, which declares the
    input already deduped, NULL-free, self-loop-free with vouched
    weights (the shared-artifact contract, see `pagerank`).
    ``cut_input=False`` skips the defensive localCheckpoint — pass it
    ONLY for a materialized input; the loop scans the edge list every
    round. Integer costs + min make the result BIT-EQUAL to the
    unrolled DuckDB twin (`sssp_sql`) — deterministic at any
    parallelism, no float tie ambiguity.

    ``per_seed=True`` switches to LANDMARK mode: the state is keyed
    (seed, node) and the output is one row per (landmark, reached
    node) with the truncated distance FROM THAT LANDMARK — the input
    to landmark centralities (harmonic closeness: Σ_seeds 1/dist),
    where the default's min-over-all-seeds collapse would lose the
    per-landmark terms. Same relax loop, group key widened by the
    seed column; state and shuffle volume scale by the mean number of
    landmarks reaching a node, so keep the landmark set SMALL (tens,
    not a percentage of the graph) — the classic landmark-selection
    contract. `frontier` composes: the diff join keys (seed, node)."""
    if rounds < 1:
        raise ValueError(f"need >= 1 relaxation round, got {rounds}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    if weight is not None:
        wtype = edges.schema[weight].dataType.simpleString()
        if wtype not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"weight column {weight!r} must be integral for the "
                f"bit-equal twin contract, got {wtype} — scale "
                "fractional costs to integers upstream"
            )
    w_col = (
        F.lit(1).cast("bigint")
        if weight is None
        else F.col(weight).cast("bigint")
    )
    if assume_normalized:
        e = edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"),
            w_col.alias("w"),
        )
        if cut_input:
            e = _cut(e, reliable)
    else:
        e = _cut(
            edges.select(
                F.col(src).alias("src"), F.col(dst).alias("dst"),
                w_col.alias("w"),
            )
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .filter(F.col("src") != F.col("dst"))
            .filter(F.col("w").isNotNull())
            .groupBy("src", "dst")
            .agg(F.min("w").alias("w")),
            reliable,
        )
        min_w, max_w = e.agg(F.min("w"), F.max("w")).first()
        if min_w is not None and int(min_w) <= 0:
            raise ValueError(
                "edge costs must be positive after duplicate collapse "
                f"— got min = {min_w}; a zero/negative cost makes the "
                "fixed-round truncation meaningless"
            )
        if max_w is not None and int(rounds) * int(max_w) >= 2**62:
            raise ValueError(
                f"rounds ({rounds}) x max cost ({max_w}) leaves no "
                "int64 headroom for the longest representable path — "
                "re-scale costs or lower rounds"
            )
    seed_nodes = seeds.select(F.col(seed_col).alias("node")).distinct()
    if per_seed:
        seed_nodes = seed_nodes.select(
            F.col("node").alias("seed"), "node"
        )
    state = _cut(
        seed_nodes.withColumn("dist", F.lit(0).cast("bigint")),
        reliable,
    )
    keys = ["seed", "node"] if per_seed else ["node"]
    changed = state
    for r in range(rounds):
        src_state = changed if frontier else state
        relaxed = src_state.join(e, src_state.node == e.src).select(
            *(["seed"] if per_seed else []),
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        new_state = (
            state.unionByName(relaxed)
            .groupBy(*keys)
            .agg(F.min("dist").alias("dist"))
        )
        cut_now = (r + 1) % checkpoint_every == 0 or r == rounds - 1
        if cut_now:
            new_state = _cut(new_state, reliable)
        if frontier:
            # the next frontier: keys whose dist is NEW or improved.
            # Both sides are key-hashed aggregate/cut outputs, so the
            # diff join reuses the hash partitioning (no extra
            # exchange). NOT cut (r14 opt): the diff is one bounded
            # join off two checkpointed frames, the emptiness probe
            # early-exits (limit-1) instead of materializing it, and
            # the next round's relax computes it once inside its own
            # job — one fewer eager localCheckpoint job per round.
            changed = (
                new_state.join(
                    state.withColumnRenamed("dist", "__old"),
                    keys,
                    "left",
                )
                .filter(
                    F.col("__old").isNull()
                    | (F.col("dist") < F.col("__old"))
                )
                .select(*keys, "dist")
            )
            state = new_state
            if changed.isEmpty():
                # fixpoint: every remaining round would relax nothing
                break
        else:
            state = new_state
    return state


def sssp_sql(
    edge_sql: str,
    seed_sql: str,
    rounds: int = 6,
    weighted: bool = False,
    per_seed: bool = False,
) -> str:
    """DuckDB twin of :func:`sssp`: the relaxation unrolled as
    ``rounds`` AS MATERIALIZED CTEs (2 references each — inlining
    would blow up multiplicatively, the g1–g10 idiom). `edge_sql`
    must yield (src, dst) plus an integral ``w`` when ``weighted``;
    `seed_sql` one ``node`` column. Bit-equal to the Spark operator:
    integer costs, MIN collapse, same truncation semantics.
    ``per_seed=True`` mirrors the landmark mode: state keyed
    (seed, node), one output row per landmark × reached node."""
    w_expr = "w" if weighted else "CAST(1 AS BIGINT)"
    sd = "seed, " if per_seed else ""
    parts = [
        f"raw AS ({edge_sql})",
        "e AS MATERIALIZED (SELECT src, dst, MIN("
        + w_expr
        + ") AS w FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL "
        "AND src <> dst GROUP BY src, dst)",
        "s0 AS MATERIALIZED (SELECT DISTINCT "
        + ("node AS seed, " if per_seed else "")
        + "node, "
        f"CAST(0 AS BIGINT) AS dist FROM ({seed_sql}))",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT {sd}node, MIN(dist) AS dist "
            f"FROM (SELECT {sd}node, dist FROM s{r - 1} UNION ALL "
            f"SELECT {('s' + str(r - 1) + '.seed, ') if per_seed else ''}"
            f"e.dst AS node, s{r - 1}.dist + e.w AS dist "
            f"FROM s{r - 1} JOIN e ON e.src = s{r - 1}.node) "
            f"GROUP BY {sd}node)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT {sd}node, dist FROM s{rounds}"
    )


def basket_pairs(
    items: DataFrame,
    basket: str = "basket",
    item: str = "item",
    max_basket_size: int = 64,
    on_oversize: str = "error",
) -> DataFrame:
    """(item_a, item_b, cnt): co-occurrence pairs from a market-basket
    relation — every unordered pair of distinct items sharing a basket,
    counted across baskets (item_a < item_b). The projection step that
    turns a bipartite basket↔item relation into an item graph (e.g.
    g6's supplier co-supply backbone: baskets = orders, items =
    suppliers).

    **The per-basket self-join is quadratic in basket size**: a basket
    of n items emits n·(n−1)/2 pairs, so the total work is O(Σ n_b²).
    That is fine when basket size is structurally bounded (TPC-H
    orders carry ≤7 lineitems by generator design) and a silent
    blowup when it is not — ONE hub basket of 10⁶ items would emit
    5·10¹¹ pairs into a single shuffle key. ``max_basket_size`` makes
    the bound explicit and LOUD:

    - ``on_oversize="error"`` (default): any basket larger than the
      bound fails the job with the basket id and size in the message —
      raised executor-side by an ``assert_true`` column riding the
      pair-generation filter, so the guard costs no extra pass and
      cannot be optimized away.
    - ``on_oversize="cap"``: each oversized basket deterministically
      keeps only its ``max_basket_size`` smallest item ids (partitioned
      ``row_number``, never a bare limit) — the per-basket analogue of
      g6's per-node kNN sparsification; work is then ≤ C(cap, 2) per
      basket at any scale.

    Scale shape: one distinct (basket, item) pass, one per-basket
    count window (reuses the basket partitioning the self-join needs
    anyway), the basket-keyed self-join, one combinable pair count.
    No iteration, no driver collection."""
    if max_basket_size < 2:
        raise ValueError(
            f"max_basket_size must be >= 2, got {max_basket_size}"
        )
    if on_oversize not in ("error", "cap"):
        raise ValueError(
            f"on_oversize must be 'error' or 'cap', got {on_oversize!r}"
        )
    from pyspark.sql import Window

    bi = (
        items.select(F.col(basket).alias("b"), F.col(item).alias("i"))
        .filter(F.col("b").isNotNull() & F.col("i").isNotNull())
        .distinct()
    )
    if on_oversize == "cap":
        w = Window.partitionBy("b").orderBy("i")
        bi = bi.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= max_basket_size
        )
        guarded = bi.select("b", "i")
    else:
        w = Window.partitionBy("b")
        # assert_true rides a FILTER (returns NULL when the predicate
        # holds, so isNull() keeps every row) — a plain unused column
        # would be pruned by Catalyst and the guard silently dropped
        bi = bi.withColumn("bsz", F.count("*").over(w))
        guarded = bi.filter(
            F.assert_true(
                F.col("bsz") <= max_basket_size,
                F.concat(
                    F.lit(
                        "basket_pairs: basket exceeds max_basket_size="
                        f"{max_basket_size} (basket id "
                    ),
                    F.col("b").cast("string"),
                    F.lit(", size "),
                    F.col("bsz").cast("string"),
                    F.lit(
                        ") — pair generation is quadratic per basket; "
                        "raise the bound or use on_oversize='cap'"
                    ),
                ),
            ).isNull()
        ).select("b", "i")
    return (
        guarded.selectExpr("b", "i AS item_a")
        .join(guarded.selectExpr("b", "i AS item_b"), "b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    checkpoint_every: int = 1,
    assume_normalized: bool = False,
    cut_input: bool = True,
    reliable: bool = False,
    frontier: bool = False,
    frontier_threshold: float = 0.25,
) -> DataFrame:
    """(node, label): semi-synchronous label-propagation communities
    (Raghavan 2007) over the directed edge list — the community twin
    of `pagerank` for source curation ("which sources trade in the
    same cluster"), under the same determinism contract: labels are
    node ids (INTEGRAL ids required), votes are integer counts, ties
    break to the SMALLEST label, and the iteration count is FIXED —
    so Spark and the unrolled DuckDB twin (`label_propagation_sql`)
    produce bit-equal labels and the registry query is hash-gated.

    Per iteration, two half-steps: even-id nodes re-label first (from
    in-neighbor labels plus their own, most-frequent-then-smallest),
    then odd-id nodes against the fresh labels. Parity is ``pmod(node,
    2)`` on BOTH engines — plain ``%`` returns −1 for negative-odd ids
    in Spark and DuckDB alike, which would match neither half-step and
    silently freeze those nodes' labels; pmod keeps the full INTEGRAL
    id range in contract. Semi-synchronous
    updates exist for exactly the bipartite case: a fully synchronous
    sweep on a bipartite graph (the customer↔supplier trade graph —
    ids even/odd BY CONSTRUCTION) lets the two sides swap label sets
    every round and oscillate forever; updating one side against the
    other's fresh labels converges instead. On non-bipartite graphs
    parity is just an arbitrary deterministic half-split, which is the
    standard semi-synchronous scheme.

    Scale shape mirrors `pagerank`: label state is (node, label) —
    two longs; each half-step is one equi-join of state onto edges +
    one combinable (node, label) count + one combinable per-node
    ``min_by(label, (-cnt, label))`` argmax — the
    most-frequent-then-smallest winner WITHOUT a window: a window
    needs a per-partition SORT (spillable at scale), the min_by
    aggregate partial-aggregates map-side (measured ~11% faster on
    the sf0.1 backbone, labels bit-identical). Lineage cut per
    ``checkpoint_every`` iterations. ``assume_normalized``,
    ``cut_input`` and ``reliable`` as in `pagerank` (an `od` column,
    if present, is ignored).

    ``frontier=True`` switches to DELTA half-steps, bit-equal to the
    default (property-tested): a node's winning label is a pure
    function of its in-neighbor + own label multiset, so a parity-p
    node needs re-evaluation ONLY if some in-neighbor or the node
    itself changed label in the two half-steps since parity p last
    updated (the "touch" set). Per half-step: if touch is EMPTY the
    state is a joint fixpoint for both parities and the remaining
    half-steps are provably no-ops — bail out; if touch is larger
    than ``frontier_threshold`` × |nodes| the full vote pass is
    cheaper than delta bookkeeping — evaluate all parity-p nodes as
    the default does (labels identical either way, so the
    data-dependent branch cannot break determinism); otherwise
    evaluate ONLY the affected subset (in-neighbors-of-touch ∪ touch):
    the vote join runs over edges INTO affected nodes instead of the
    whole edge list. On the sf0.1 trade graph the measured change
    profile is 14974/921/14138/655/1524/0/0/0/0/0 per half-step —
    the last five half-steps of the g3 shape are no-ops and one more
    is a ~4% subset, which is the win this mode harvests. Costs one
    changed-set diff join + one touch count per EVALUATED half-step;
    wrong for nothing, but pointless when iterations is small AND the
    graph churns to the end — measure per workload."""
    if iterations < 1:
        raise ValueError(f"need >= 1 iteration, got {iterations}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    if assume_normalized:
        # as in `pagerank`: skip the dedup semantics, keep the cut
        # unless the caller vouches the input is materialized — ten
        # half-steps each re-scan the edge list, and an uncut raw
        # input re-runs the caller's whole build chain per scan
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        if cut_input:
            e = _cut(e, reliable)
    else:
        e = _cut(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .filter(F.col("src") != F.col("dst"))
            .distinct(),
            reliable,
        )
    nodes = _cut(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct(),
        reliable,
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    # argmax by (cnt DESC, label ASC) as a single combinable aggregate:
    # min over (-cnt, label). -cnt cannot overflow (cnt >= 1); the
    # node ids themselves are never negated, so the full INTEGRAL
    # range stays in contract
    winner = F.min_by(
        "label", F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
    )

    def full_votes(parity: int) -> DataFrame:
        return (
            e.join(
                labels.select(F.col("node").alias("src"), "label"),
                "src",
            )
            .select(F.col("dst").alias("node"), "label")
            .filter(F.pmod("node", F.lit(2)) == parity)
            # a node's own current label votes once: stabilizes
            # singletons and nodes with no in-edges
            .unionByName(
                labels.filter(F.pmod("node", F.lit(2)) == parity)
            )
            .groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
        )

    if not frontier:
        for i in range(iterations):
            for parity in (0, 1):
                updated = full_votes(parity).groupBy("node").agg(
                    winner.alias("label")
                )
                labels = updated.unionByName(
                    labels.filter(F.pmod("node", F.lit(2)) != parity)
                )
            if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
                labels = _cut(labels, reliable)
        return labels

    # delta mode: the state is materialized per half-step (the diff
    # join, the touch probe, and the next half-step all re-reference
    # it), so checkpoint_every does not apply here
    labels = _cut(labels, reliable)
    n_nodes = labels.count()
    # a node's first evaluation must see everything as changed
    changed_last = labels.select("node")
    changed_prev = labels.select("node").limit(0)
    done = False
    for _ in range(iterations):
        if done:
            break
        for parity in (0, 1):
            # nodes whose label changed in the two half-steps since
            # this parity last updated. NOT cut (r14 opt): both inputs
            # are one bounded step off checkpointed state, so the
            # union+distinct re-runs at most twice (the count probe
            # and the affected join) inside consumer jobs — cheaper
            # than an eager localCheckpoint job per half-step.
            touch = changed_last.unionByName(changed_prev).distinct()
            n_touch = touch.count()
            if n_touch == 0:
                # joint fixpoint: no vote multiset can differ from the
                # last evaluation of either parity — every remaining
                # half-step is a no-op
                done = True
                break
            par = F.pmod("node", F.lit(2)) == parity
            if n_touch > frontier_threshold * n_nodes:
                # wide churn: the full vote pass is cheaper than delta
                # bookkeeping (labels identical either way)
                updated = full_votes(parity).groupBy("node").agg(
                    winner.alias("label")
                )
                new_labels = updated.unionByName(labels.filter(~par))
            else:
                # only in-neighbors of a changed node (or a changed
                # node itself, whose own vote moved) can re-label
                affected = _cut(
                    e.join(touch.withColumnRenamed("node", "src"), "src")
                    .select(F.col("dst").alias("node"))
                    .unionByName(touch)
                    .filter(par)
                    .distinct(),
                    reliable,
                )
                e_aff = e.join(
                    affected.withColumnRenamed("node", "dst"), "dst"
                )
                votes = (
                    e_aff.join(
                        labels.select(F.col("node").alias("src"), "label"),
                        "src",
                    )
                    .select(F.col("dst").alias("node"), "label")
                    .unionByName(labels.join(affected, "node"))
                    .groupBy("node", "label")
                    .agg(F.count("*").alias("cnt"))
                )
                updated = votes.groupBy("node").agg(winner.alias("label"))
                new_labels = updated.unionByName(
                    labels.join(affected, "node", "left_anti")
                )
            new_labels = _cut(new_labels, reliable)
            # the changed set stays LAZY (r14 opt): one join+filter
            # over two checkpointed label frames, re-run at most twice
            # (as changed_last then changed_prev inside later touch
            # unions) — dropping its per-half-step eager cut job
            # halves the delta loop's materialization count together
            # with the touch change above (labels bit-equal; A/B'd)
            changed_now = (
                new_labels.join(
                    labels.withColumnRenamed("label", "__old"), "node"
                )
                .filter(F.col("label") != F.col("__old"))
                .select("node")
            )
            changed_prev, changed_last = changed_last, changed_now
            labels = new_labels
    return labels


def label_propagation_sql(edge_sql: str, iterations: int = 5) -> str:
    """DuckDB twin of `label_propagation`: the same semi-synchronous
    integer recurrence unrolled (two half-step CTEs per iteration) —
    bit-equal labels. `edge_sql` must yield INTEGRAL (src, dst).

    The half-step CTEs are ``AS MATERIALIZED``: each references its
    predecessor THREE times (neighbor join, own-label vote, keep
    branch), and DuckDB inlines plain CTEs — 10 unrolled half-steps
    would otherwise expand 3^10-fold in the planner and hang."""

    def half(prev: str, out: str, parity: int) -> str:
        # (x % 2 + 2) % 2 = pmod(x, 2): DuckDB's % is remainder-signed
        # like Spark's, so the twin needs the same positive-mod form
        return (
            f"{out} AS MATERIALIZED (SELECT node, label FROM ("
            " SELECT node, label, ROW_NUMBER() OVER ("
            "  PARTITION BY node ORDER BY cnt DESC, label) AS rn"
            " FROM (SELECT node, label, COUNT(*) AS cnt FROM ("
            f"  SELECT e.dst AS node, l.label FROM e JOIN {prev} l"
            f"   ON l.node = e.src WHERE (e.dst % 2 + 2) % 2 = {parity}"
            "  UNION ALL"
            f"  SELECT node, label FROM {prev}"
            f"   WHERE (node % 2 + 2) % 2 = {parity}"
            " ) v GROUP BY node, label) c"
            ") r WHERE rn = 1"
            " UNION ALL"
            f" SELECT node, label FROM {prev}"
            f" WHERE (node % 2 + 2) % 2 <> {parity})"
        )

    parts = [
        f"raw AS ({edge_sql})",
        "e AS (SELECT DISTINCT src, dst FROM raw"
        " WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(half(f"l{i - 1}", f"l{i}a", 0))
        parts.append(half(f"l{i}a", f"l{i}", 1))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, label FROM l{iterations}"
    )


def pagerank_sql(
    edge_sql: str,
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
    seed_sql: str | None = None,
    weighted: bool = False,
) -> str:
    """DuckDB twin of `pagerank`: the same integer recurrence unrolled
    into a WITH chain (r0 … r{iterations}) — fixed iterations are what
    make the oracle expressible; bit-equal to the Spark ranks.
    `edge_sql` must yield columns (src, dst) of one comparable type
    (same contract as `pagerank` — node ids pass through untyped);
    `seed_sql` (one `node` column) switches to the personalized
    recurrence exactly as `seeds` does on the Spark side;
    ``weighted=True`` expects a third integral column `w` and mirrors
    ``pagerank(weight=...)``: duplicate edges collapse by SUM(w), the
    per-edge term is ``r*w // ws`` over the out-strength."""
    if seed_sql is None:
        # uniform = every node a seed; n_seeds = n
        flags_cte = (
            "flags AS (SELECT node, CAST(1 AS BIGINT) AS is_seed"
            " FROM nodes)"
        )
    else:
        flags_cte = (
            "flags AS (SELECT nodes.node,"
            " CAST(CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END"
            " AS BIGINT) AS is_seed FROM nodes"
            " LEFT JOIN (SELECT DISTINCT node FROM ("
            + seed_sql
            + ")) s ON s.node = nodes.node)"
        )
    if weighted:
        e_cte = (
            "e AS (SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM raw"
            " WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst"
            " AND w IS NOT NULL GROUP BY src, dst)"
        )
        norm_cte = "outdeg AS (SELECT src, SUM(w) AS ws FROM e GROUP BY src)"
    else:
        e_cte = (
            "e AS (SELECT DISTINCT src, dst FROM raw"
            " WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)"
        )
        norm_cte = "outdeg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src)"
    parts = [
        f"raw AS ({edge_sql})",
        e_cte,
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        norm_cte,
        flags_cte,
        "consts AS (SELECT"
        f" CAST({int(scale)} // SUM(is_seed) AS BIGINT) AS init,"
        f" CAST(({100 - damping_pct} * ({int(scale)} // SUM(is_seed)))"
        " // 100 AS BIGINT) AS tele FROM flags)",
        "r0 AS (SELECT node, is_seed * (SELECT init FROM consts)"
        " AS rank_fp FROM flags)",
    ]
    term = "r.rank_fp * e.w // o.ws" if weighted else "r.rank_fp // o.od"
    for i in range(1, iterations + 1):
        parts.append(
            f"r{i} AS (SELECT n.node,"
            " CAST(n.is_seed * (SELECT tele FROM consts)"
            f" + {damping_pct} * COALESCE(m.in_mass, 0) // 100 AS BIGINT)"
            " AS rank_fp FROM flags n LEFT JOIN ("
            f"SELECT e.dst AS node, SUM({term}) AS in_mass"
            f" FROM e JOIN r{i - 1} r ON r.node = e.src"
            " JOIN outdeg o ON o.src = e.src GROUP BY e.dst"
            ") m ON m.node = n.node)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, rank_fp FROM r{iterations}"
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
    scale: int = 10**6,
    checkpoint_every: int = 1,
    cut_input: bool = True,
    assume_normalized: bool = False,
    reliable: bool = False,
    n_nodes: int | None = None,
    n_src: int | None = None,
) -> DataFrame:
    """(node, side, score_fp): HITS hubs & authorities (Kleinberg,
    JACM 1999) over a DIRECTED edge list — the bipartite-flavored
    source-quality signal PageRank can't give: an AUTHORITY is a node
    pointed to by good hubs, a HUB points at good authorities. On the
    customer→supplier trade graph that ranks suppliers by the quality
    of the customers who buy from them (and customers by the quality
    of what they buy) — the "endorsed by good endorsers" recursion
    curation uses to seed trusted-source lists.

    Integer recurrence at fixed point ``scale`` with L1 normalization
    (the mutual-reinforcement fixpoint only needs SOME norm; L1 keeps
    everything in exact BIGINT arithmetic where the classic L2 would
    force floats):

        h_0(u) = scale                      for every src node
        a_k(v) = (Σ_{u→v} h_{k-1}(u)) · scale DIV Σ raw_a
        h_k(u) = (Σ_{u→v} a_k(v))     · scale DIV Σ raw_h

    Floor division + all-positive values ⇒ BIT-EQUAL to the unrolled
    DuckDB twin (`hits_sql`), same contract as `pagerank`. Overflow
    headroom: after the first normalization Σ score ≤ scale, so every
    raw sum ≤ scale and raw·scale ≤ scale² — the guard below keeps
    scale²·n inside int64 for the un-normalized FIRST step too.
    DEGENERATE-REGIME guard (vouched-scale contract, mirroring
    `pagerank`): ``scale`` must EXCEED the active node count. Each
    normalization floors per node (Σ score ≥ scale − n_active) and
    every hub has ≥1 out-edge / every authority ≥1 in-edge, so
    scale > n_nodes keeps every normalizer total ≥ 1. Below that,
    flooring can zero an entire half-step, the next normalizer total
    is 0, and the two engines DIVERGE SILENTLY — Spark's non-ANSI DIV
    yields NULL where DuckDB's ``//`` raises — so this raises loudly
    instead.

    Scale shape (the `pagerank` loop idiom): per half-step ONE equi-
    join of the 2-long score state onto the edge list + ONE combinable
    aggregate, CUT (`_cut` — ``reliable=True`` for cluster runs)
    BEFORE the 1-row normalizer crossJoin-broadcast (never a driver
    collect): the normalizer total is a broadcast SUBTREE over the raw
    state, so an uncut raw made every half-step's join + aggregate
    execute twice — once in the broadcast build, once in the consuming
    pass (r14 opt, measured ~1.7× on g14). The per-half-step cut also
    truncates lineage, so ``checkpoint_every`` is accepted for
    compatibility but IGNORED since r14 — the hub/auth frames are free
    projections one broadcast join off materialized state.
    Self-loops dropped,
    duplicate edges collapsed (a duplicate would double-count
    endorsement); NULL endpoints dropped.
    ``assume_normalized=True`` vouches the input is already distinct,
    NULL-free and self-loop-free (a shared artifact's contract, same
    as `pagerank`'s flag) and skips that whole prepass shuffle;
    ``cut_input=False`` additionally skips the input materialization
    when the edges are a filter over an already-checkpointed frame.
    ``n_nodes`` / ``n_src`` vouch the distinct node count across both
    sides and the distinct src count (the two guard inputs) as
    artifact-build-time properties, skipping the per-call
    posexplode + countDistinct pass — pagerank's ``nodes=`` contract:
    compute them ONCE when the edge artifact is materialized, never
    guess (both feed loud-failure guards only; a wrong vouch weakens
    the guard, not the scores).

    Reference parity note: the reference system has no graph module —
    this extends the beyond-reference graph family (g1–g13).
    """
    if iterations < 1:
        raise ValueError(f"need >= 1 iteration, got {iterations}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    if checkpoint_every != 1:
        import warnings

        warnings.warn(
            "hits ignores checkpoint_every since the r14 raw-state "
            "cut: the score state is cut every half-step structurally "
            "(the knob is accepted for signature compatibility only)",
            DeprecationWarning,
            stacklevel=2,
        )
    if not 0 < int(scale) <= 10**9:
        # first-step raw sums reach n_src · scale; multiplied by scale
        # for normalization they must stay inside int64. 1e9 leaves
        # room for ~4e0 · 1e18 … enforce the pairwise product below.
        raise ValueError(f"scale must be in (0, 1e9], got {scale}")
    if edges.schema[src].dataType != edges.schema[dst].dataType:
        raise ValueError(
            f"src/dst types differ: {edges.schema[src].dataType} vs "
            f"{edges.schema[dst].dataType}"
        )
    if assume_normalized:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    else:
        e = (
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
    if cut_input:
        e = _cut(e, reliable)
    if n_nodes is None or n_src is None:
        # ONE pass over the edges for both guards: distinct src count
        # (int64 headroom on the un-normalized first step) and distinct
        # node count across BOTH sides (the degenerate-flooring guard)
        # — posexplode tags the side, countDistinct ignores the
        # when-NULLs. Skipped entirely when both are vouched.
        _counts = (
            e.select(
                F.posexplode(F.array("src", "dst")).alias("pos", "node")
            )
            .agg(
                F.countDistinct("node").alias("n_nodes"),
                F.countDistinct(
                    F.when(F.col("pos") == 0, F.col("node"))
                ).alias("n_src"),
            )
            .collect()[0]
        )
        n_nodes, n_src = int(_counts["n_nodes"]), int(_counts["n_src"])
    else:
        n_nodes, n_src = int(n_nodes), int(n_src)
    if n_src == 0:
        return local_frame(
            edges.sparkSession,
            [],
            StructType(
                [
                    StructField("node", edges.schema[src].dataType),
                    StructField("side", StringType()),
                    StructField("score_fp", LongType()),
                ]
            ),
        )
    if int(scale) * int(scale) * int(n_src) >= 2**62:
        raise ValueError(
            f"scale ({scale})^2 x {n_src} src nodes leaves no int64 "
            "headroom for the first un-normalized step — lower scale"
        )
    if int(scale) <= n_nodes:
        # ADVICE r12: inside the int64-headroom region there is still a
        # degenerate regime — with more active nodes than fixed-point
        # units, one normalization can floor EVERY score to 0, the next
        # normalizer total is 0, and Spark's DIV emits NULL score_fp
        # where DuckDB's // raises. Fail loudly in BOTH engines'
        # driver instead (scale > n_nodes provably keeps every
        # normalizer total >= 1 — see the docstring argument).
        raise ValueError(
            f"scale ({scale}) must exceed the active node count "
            f"({n_nodes}): below that, L1-normalization flooring can "
            "zero a whole half-step and the normalizer divides by 0 "
            "— raise scale (keep scale^2 x n_src inside int64)"
        )

    def _normalize(raw: DataFrame) -> DataFrame:
        # the raw state is CUT first (r14 opt): the 1-row normalizer
        # total is a broadcast SUBTREE over raw, so an uncut raw made
        # every half-step's edge join + aggregate execute twice — once
        # inside the broadcast build, once in the consuming pass
        # (measured on g14 at sf0.1: ~5.8-6.4 s → ~3.4 s median,
        # scores identical). The cut also truncates lineage at every
        # half-step, which is why the old per-iteration hub-state cut
        # (checkpoint_every) is gone: the hub/auth frames are now free
        # projections one broadcast join off materialized raw state.
        raw = _cut(raw, reliable)
        total = raw.agg(F.sum("raw").alias("__t"))
        return (
            raw.crossJoin(F.broadcast(total))
            .select(
                "node",
                F.expr(f"(raw * {int(scale)}) DIV __t").alias("score_fp"),
            )
        )

    hubs = e.select("src").distinct().select(
        F.col("src").alias("node"),
        F.lit(int(scale)).cast("bigint").alias("score_fp"),
    )
    auths = None
    for i in range(iterations):
        raw_a = (
            e.join(hubs.select(F.col("node").alias("src"), "score_fp"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("score_fp").alias("raw"))
        )
        auths = _normalize(raw_a)
        raw_h = (
            e.join(
                auths.select(F.col("node").alias("dst"), "score_fp"), "dst"
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("score_fp").alias("raw"))
        )
        hubs = _normalize(raw_h)
    return hubs.select(
        "node", F.lit("hub").alias("side"), "score_fp"
    ).unionByName(
        auths.select("node", F.lit("auth").alias("side"), "score_fp")
    )


def hits_sql(edge_sql: str, iterations: int = 8, scale: int = 10**6) -> str:
    """DuckDB twin of `hits`: the same L1-normalized integer
    recurrence unrolled into a WITH chain. Raw-sum CTEs are
    AS MATERIALIZED — each is referenced twice (the FROM and the
    normalizer scalar subquery), and un-materialized double references
    inline 2^iterations-fold (the label_propagation lesson)."""
    parts = [
        f"raw_e AS ({edge_sql})",
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw_e"
        " WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)",
        "h0 AS MATERIALIZED (SELECT DISTINCT src AS node,"
        f" CAST({int(scale)} AS BIGINT) AS score_fp FROM e)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"a{i}r AS MATERIALIZED (SELECT e.dst AS node,"
            f" SUM(h.score_fp) AS raw FROM e JOIN h{i - 1} h"
            " ON h.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT node, CAST(raw * {int(scale)}"
            f" // (SELECT SUM(raw) FROM a{i}r) AS BIGINT) AS score_fp"
            f" FROM a{i}r)"
        )
        parts.append(
            f"h{i}r AS MATERIALIZED (SELECT e.src AS node,"
            f" SUM(a.score_fp) AS raw FROM e JOIN a{i} a"
            " ON a.node = e.dst GROUP BY e.src)"
        )
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT node, CAST(raw * {int(scale)}"
            f" // (SELECT SUM(raw) FROM h{i}r) AS BIGINT) AS score_fp"
            f" FROM h{i}r)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, 'hub' AS side, score_fp FROM h{iterations}"
        + f"\nUNION ALL SELECT node, 'auth' AS side, score_fp"
        + f" FROM a{iterations}"
    )
