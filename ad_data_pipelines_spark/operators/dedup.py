"""Document deduplication operators: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Beyond-reference (BASELINE.json north star): training-data pipeline
operators over a `documents(doc_id, text, lang, source, n_chars)` table.
All hashing uses the MD5-derived portable 60-bit hash
(`functions.hashing.portable_hash64`) so every signature, band bucket and
candidate pair is bit-reproducible in the DuckDB oracle; swap
``fast=True`` (xxhash64) in production for ~2× hash throughput.

Scale design (100 TB corpus):
  * shingling explodes rows ~n_chars× — it is a narrow map + local
    distinct, no shuffle until the per-doc signature aggregation;
  * signatures are ONE row per doc (16 ints) — the LSH band join
    shuffles only signatures, never text;
  * band-bucket self-join is the classic O(candidates) LSH plan; skewed
    buckets (boilerplate docs) are handled by AQE skew-join splitting;
  * exact n-gram Jaccard is intentionally scoped (verification of
    candidate pairs, or bounded samples) — the all-pairs form is
    quadratic and must never run unscoped at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ad_data_pipelines_spark.functions.hashing import MERSENNE_31, portable_hash64
from ad_data_pipelines_spark.sources.local import local_frame

#: (a, b) universal-hash constants for the 16 minhash permutations.
#: Fixed so signatures are stable across runs and engines.
PERMS: list[tuple[int, int]] = [
    (387, 91), (1031, 557), (2053, 1117), (4099, 2237),
    (8209, 4493), (16411, 8971), (32771, 17959), (65537, 35923),
    (131101, 71917), (262147, 143843), (524309, 287731), (1048583, 575471),
    (2097169, 1150963), (4194319, 2301947), (8388617, 4603891), (16777259, 9207803),
]
SHINGLE_K = 5
N_BANDS = 4
ROWS_PER_BAND = 4


def char_shingles(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """Distinct k-character shingles per doc: (doc_id, shingle).

    Pure built-ins, no UDF — and NO SHUFFLE: dedup is per-document, so
    `array_distinct` runs on the in-row shingle array BEFORE explode
    (a global `.distinct()` here would shuffle ~n_chars rows per doc —
    at 100 TB that is the single largest avoidable exchange in the
    dedup pipeline; the downstream per-doc aggregate then combines
    entirely map-side).
    """
    shingles = F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(length(text) - {k - 1}, 1)), "
        f"i -> substring(text, i, {k})))"
    )
    return docs.select("doc_id", F.explode(shingles).alias("shingle"))


def shingle_h31(shingled: DataFrame) -> DataFrame:
    """(doc_id, h31): shingle reduced to a 31-bit portable hash."""
    return shingled.select(
        "doc_id", (portable_hash64("shingle") % F.lit(MERSENNE_31)).alias("h31")
    )


def minhash_signatures(
    docs: DataFrame,
    k: int = SHINGLE_K,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """One row per doc: doc_id, mh0..mh15 minhash signature.

    Each permutation is min((a*h31+b) mod P) over the doc's shingle set —
    a single hash-aggregate, partial/final combined by Catalyst.
    `shingled` injects a precomputed (typically persisted/materialized)
    `char_shingles` output shared with the other shingle consumers
    (boilerplate heavy hitters, Jaccard verification) — at corpus scale
    the shingle explode is the widest narrow stage, so it should run
    once per corpus generation, not once per consumer."""
    if shingled is None:
        shingled = char_shingles(docs, k)
    hashed = shingle_h31(shingled)
    aggs = [
        F.min((F.col("h31") * a + b) % MERSENNE_31).alias(f"mh{i}")
        for i, (a, b) in enumerate(PERMS)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _band_key_cols(
    n_bands: int = N_BANDS, rows_per_band: int = ROWS_PER_BAND
) -> list:
    """The n_bands concat'd band keys of a signature row — shared by
    within-corpus pairing and incremental (new-vs-history) dedup."""
    return [
        F.concat_ws(
            "_",
            *[
                F.col(f"mh{b * rows_per_band + r}")
                for r in range(rows_per_band)
            ],
        ).alias(f"band{b}")
        for b in range(n_bands)
    ]


def _n_eq_expr(left: str = "sa", right: str = "sb"):
    """Signature agreement count between two aliased signature rows."""
    return sum(
        [
            F.when(F.col(f"{left}.mh{i}") == F.col(f"{right}.mh{i}"), 1).otherwise(0)
            for i in range(16)
        ],
        F.lit(0),
    )


def dedup_against_corpus(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    min_eq: int = 8,
    threshold: float | None = None,
) -> DataFrame:
    """Incremental near-dedup: the daily-batch-vs-history shape. Each
    incoming doc's signature LSH-joins against the EXISTING corpus
    signature table; a new doc is dropped when any historical doc
    agrees on ≥ min_eq of 16 permutations. Returns one verdict row per
    new doc: (doc_id, matched_doc, kept) with matched_doc = the min
    matching historical id (deterministic evidence), kept = no match.

    Distinct from `lsh_candidate_pairs` (within-corpus, mines ALL
    pairs) and `contamination_check` (exact n-gram containment vs an
    eval set): this is the ingest-time gate that keeps a growing corpus
    near-dup-free without ever re-pairing history against itself.
    Scale shape: history's banded form is a materialized table bucketed
    by (band_idx, band_key) — the same artifact `lsh_corpus_table`
    maintains for ANN — so the join shuffles ONLY the (kilobyte) new
    batch; the new side never exceeds one day's crawl and history is
    touched pre-bucketed, never rescanned.

    ``threshold`` (target Jaccard) derives the banding and the min_eq
    bar via `dedup_plan_for_threshold`, keeping the ingest-time gate
    tunable with the SAME knob as the within-corpus chain — a corpus
    deduped at τ must gate its ingest at τ, or the history drifts
    above the corpus's own similarity bar. NOTE: the history's banded
    artifact must have been built under the same banding.
    """
    if threshold is not None:
        plan = dedup_plan_for_threshold(threshold)
        n_bands, rows_per_band = plan["n_bands"], plan["rows_per_band"]
        min_eq = plan["min_eq"]
    else:
        n_bands, rows_per_band = N_BANDS, ROWS_PER_BAND

    def bands(sigs: DataFrame, out_id: str) -> DataFrame:
        return sigs.select(
            F.col("doc_id").alias(out_id),
            F.posexplode(
                F.array(*_band_key_cols(n_bands, rows_per_band))
            ).alias("band_idx", "band_key"),
        )

    pairs = (
        bands(new_sigs, "new_id")
        .join(bands(corpus_sigs, "corpus_id"), ["band_idx", "band_key"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    scored = (
        pairs.join(new_sigs.alias("sa"), F.col("new_id") == F.col("sa.doc_id"))
        .join(corpus_sigs.alias("sb"), F.col("corpus_id") == F.col("sb.doc_id"))
        .select("new_id", "corpus_id", _n_eq_expr().alias("n_eq"))
        .filter(F.col("n_eq") >= min_eq)
    )
    matched = scored.groupBy("new_id").agg(
        F.min("corpus_id").alias("matched_doc")
    )
    return (
        new_sigs.select("doc_id")
        .join(matched, F.col("doc_id") == F.col("new_id"), "left")
        .select(
            "doc_id",
            "matched_doc",
            F.col("matched_doc").isNull().alias("kept"),
        )
    )


def incremental_dedup_sql(
    new_pred: str,
    corpus_pred: str,
    min_eq: int = 8,
    threshold: float | None = None,
) -> str:
    """DuckDB twin of `dedup_against_corpus` over the documents table,
    with the new/history split given as predicates; `threshold`
    mirrors the derived-banding mode exactly."""
    if threshold is not None:
        plan = dedup_plan_for_threshold(threshold)
        n_bands, rows_per_band = plan["n_bands"], plan["rows_per_band"]
        min_eq = plan["min_eq"]
    else:
        n_bands, rows_per_band = N_BANDS, ROWS_PER_BAND
    band_eq = " OR ".join(
        "("
        + " AND ".join(
            f"a.mh{b * rows_per_band + r} = b.mh{b * rows_per_band + r}"
            for r in range(rows_per_band)
        )
        + ")"
        for b in range(n_bands)
    )
    n_eq = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(16)
    )
    return f"""
        WITH sig AS ({minhash_sql()}),
        new_sig AS (SELECT * FROM sig WHERE {new_pred}),
        corp_sig AS (SELECT * FROM sig WHERE {corpus_pred}),
        matches AS (
            SELECT a.doc_id, MIN(b.doc_id) AS matched_doc
            FROM new_sig a JOIN corp_sig b ON ({band_eq})
            WHERE ({n_eq}) >= {min_eq}
            GROUP BY 1
        )
        SELECT n.doc_id, m.matched_doc,
               (m.matched_doc IS NULL) AS kept
        FROM new_sig n LEFT JOIN matches m USING (doc_id)
    """


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on ALL rows of ≥1 band.

    `(n_bands, rows_per_band)` defaults to the shipped high-similarity
    banding; pass `lsh_plan(threshold)`'s choice to retune the chain
    for a different similarity bar (n_bands·rows_per_band must equal
    the 16-permutation signature width — a partial banding would waste
    paid-for permutations and flatten the S-curve).

    Scale path, in three narrow stages (what survives a 100 TB corpus):
      1. explode each signature into N_BANDS (band_idx, band_key) rows —
         the self-join shuffles ONLY these 3 columns, never the 16-int
         signatures (a 6× narrower shuffle than joining the wide rows);
      2. dedup (doc_a, doc_b) BEFORE touching signatures, so pairs that
         collide in several bands are scored once;
      3. join the 1-row-per-doc signature table back onto each side to
         count agreeing components.
    Returns (doc_a, doc_b, n_eq); estimated Jaccard = n_eq/16. Skewed
    buckets (boilerplate docs) are split by AQE skew-join handling.

    `sigs` is referenced by three plan branches (both explode sides +
    the score join), so it is persisted MEMORY_AND_DISK here — one
    shingle/hash pass instead of three; callers may unpersist after
    their action completes.
    """
    if n_bands * rows_per_band != 16:
        raise ValueError(
            f"n_bands ({n_bands}) x rows_per_band ({rows_per_band}) "
            "must equal the 16-permutation signature width — derive "
            "the pair with lsh_plan(threshold, n_perms=16)"
        )
    sigs = sigs.persist()
    band_keys = [
        F.concat_ws(
            "_",
            *[
                F.col(f"mh{b * rows_per_band + r}")
                for r in range(rows_per_band)
            ],
        ).alias(f"band{b}")
        for b in range(n_bands)
    ]
    bands_arr = F.array(*[k for k in band_keys])
    exploded = sigs.select(
        "doc_id", F.posexplode(bands_arr).alias("band_idx", "band_key")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    pair_keys = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    n_eq = sum(
        [
            F.when(F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}"), 1).otherwise(0)
            for i in range(16)
        ],
        F.lit(0),
    )
    return (
        pair_keys.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", n_eq.alias("n_eq"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = SHINGLE_K,
    min_jaccard: float = 0.25,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact k-gram Jaccard similarity pairs ≥ threshold.

    Quadratic in shared-shingle frequency — use on bounded scopes
    (candidate verification, samples); the LSH pipeline is the scale
    path. Returns (doc_a, doc_b, inter_n, jac). `shingled` shares a
    precomputed `char_shingles` output (see minhash_signatures)."""
    sh = char_shingles(docs, k) if shingled is None else shingled
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter_n"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("inter_n") / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter_n"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", "inter_n", F.round(jac, 4).alias("jac"))
        .filter(F.col("jac") >= min_jaccard)
    )


def prefix_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """EXACT all-pairs word-set Jaccard ≥ threshold via prefix
    filtering (PPJoin family — Xiao et al. 2008, "Efficient Similarity
    Joins for Near Duplicate Detection"): unlike LSH (probabilistic
    candidates) this is guaranteed-complete, and unlike the quadratic
    verifiers it never joins full token tables.

    Candidate generation: order ALL tokens by global rarity
    (doc-frequency asc, token asc); two sets with J ≥ t MUST share a
    token within their first |S| − ⌈t·|S|⌉ + 1 rarest tokens, so only
    those prefix tokens join. Rare tokens join few docs — the join
    cost tracks Σ df_prefix², orders below Σ df² of a full token
    self-join (and the hottest, most frequent tokens are exactly the
    ones prefixes exclude). Verification computes exact intersection
    counts on the candidate pairs only. Empty-token docs drop out
    (Jaccard undefined).

    Returns (doc_a, doc_b, inter_n, jac): every pair with J ≥ t,
    exactly — the regression baseline for grading LSH recall at the
    same threshold.
    """
    toks = (
        docs.select(
            "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    # global rarity rank per token in each doc: window over doc_id
    # ordered by (df, tok) — tokens ship with their df via a join that
    # shuffles the token table once
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    ranked = (
        toks.join(dfreq, "tok")
        .withColumn("rnk", F.row_number().over(w))
        .join(sizes, "doc_id")
    )
    # ceil(t*sz) computed with an epsilon guard: if the double product
    # rounds strictly above an exact integer t*sz, a bare ceil would
    # shorten the prefix by one and break candidate completeness for
    # that threshold. ceil(x - 1e-9) only ever LENGTHENS the prefix
    # (more candidates), so completeness is preserved for any caller
    # threshold, not just the tested ones.
    prefix = ranked.filter(
        F.col("rnk")
        <= F.col("sz")
        - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
        + 1
    ).select("doc_id", "tok")
    cands = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # exact verification on candidates only: intersection via the
    # token table joined twice, grouped per pair
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        cands.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter_n"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    jac = F.col("inter_n") / (
        F.col("sza") + F.col("szb") - F.col("inter_n")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        # filter on the RAW ratio (as the oracle does), then round for
        # display — a just-below-threshold ratio must not round itself
        # into the result set on one engine only
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "inter_n", F.round(jac, 6).alias("jac"))
    )


def prefix_jaccard_sql(threshold: float = 0.5, scope: str = "documents") -> str:
    """DuckDB twin of `prefix_jaccard_pairs` — brute-force all-pairs
    (oracle scale only; the prefix filter is the production plan, and
    equality against this brute form proves its completeness)."""
    return f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, tok
            FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                FROM {scope}
            ) WHERE tok <> ''
        ),
        sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id
        ),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS inter_n
            FROM toks a JOIN toks b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, inter_n,
               ROUND(inter_n * 1.0 / (sa.sz + sb.sz - inter_n), 6) AS jac
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE inter_n * 1.0 / (sa.sz + sb.sz - inter_n) >= {threshold}
    """


def ngram_containment_pairs(
    docs: DataFrame,
    k: int = SHINGLE_K,
    min_containment: float = 0.5,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact k-gram CONTAINMENT pairs: |A∩B|/|A| and |A∩B|/|B| for
    doc pairs sharing shingles, kept when either direction ≥ the
    threshold. The asymmetric twin of `ngram_jaccard_pairs` — a short
    doc quoted inside a long one scores near 1.0 containment while its
    Jaccard stays small, so symmetric dedup misses subset duplication
    (quote expansion, page-plus-boilerplate wrappers). Broder's
    containment measure, cf. "On the resemblance and containment of
    documents" (SEQUENCES '97).

    Same scale contract as the Jaccard verifier: quadratic in
    shared-shingle frequency, so run it ONLY on bounded scopes (LSH
    candidate pairs, samples) — never the unscoped corpus. Returns
    (doc_a, doc_b, inter_n, cont_a, cont_b)."""
    sh = char_shingles(docs, k) if shingled is None else shingled
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter_n"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    cont_a = F.round(F.col("inter_n") / F.col("sa.sz"), 4)
    cont_b = F.round(F.col("inter_n") / F.col("sb.sz"), 4)
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "inter_n",
            cont_a.alias("cont_a"),
            cont_b.alias("cont_b"),
        )
        .filter(
            (F.col("cont_a") >= min_containment)
            | (F.col("cont_b") >= min_containment)
        )
    )


def ngram_containment_sql(
    max_doc_id: int, min_containment: float = 0.5
) -> str:
    """DuckDB twin of `ngram_containment_pairs` on a doc_id-bounded
    scope."""
    return f"""
        WITH pos AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, GREATEST(n_chars - {SHINGLE_K - 1}, 1))) AS i
            FROM documents WHERE doc_id < {max_doc_id}
        ),
        sh AS (SELECT DISTINCT doc_id, substr(text, i, {SHINGLE_K}) AS g FROM pos),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_n
            FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, inter_n,
               ROUND(inter_n * 1.0 / sa.sz, 4) AS cont_a,
               ROUND(inter_n * 1.0 / sb.sz, 4) AS cont_b
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ROUND(inter_n * 1.0 / sa.sz, 4) >= {min_containment}
           OR ROUND(inter_n * 1.0 / sb.sz, 4) >= {min_containment}
    """


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """Per-doc SimHash over whitespace tokens: (doc_id, simhash).

    Each token contributes ±1 to each of `bits` bit positions by its
    portable hash; the sign of the per-bit sum sets the output bit.
    One explode + one aggregate — near-dup docs land within small
    Hamming distance.
    """
    words = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    )
    h = portable_hash64("w")
    hashed = words.select("doc_id", h.alias("h"))
    bit_sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(bits)
        ]
    )
    sim = sum(
        [
            F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(bits)
        ],
        F.lit(0),
    )
    return bit_sums.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_candidates(
    sims: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 32,
) -> DataFrame:
    """Near-dup pairs within `max_hamming` bits of SimHash, via banded
    Hamming blocking (the classic web-scale near-dup shape): split the
    signature into `n_bands` equal bit-bands and self-join on band
    equality. Pigeonhole guarantees COMPLETENESS for
    max_hamming ≤ n_bands-1 — a pair differing in ≤ n_bands-1 bits
    cannot differ in every band — so the exact `bit_count(xor)` filter
    afterwards only removes false positives. Returns
    (doc_a, doc_b, hamming).

    Scale shape mirrors `lsh_candidate_pairs`: the self-join shuffles
    (doc_id, simhash, band) — one long per side, never text; band-value
    skew (boilerplate signatures) is AQE skew-split.
    """
    assert max_hamming <= n_bands - 1, "blocking incomplete beyond n_bands-1"
    assert bits % n_bands == 0
    width = bits // n_bands
    mask = (1 << width) - 1
    bands = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_idx"),
                        F.shiftright("simhash", k * width)
                        .bitwiseAND(mask)
                        .alias("band_val"),
                    )
                    for k in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_idx", "b.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair can collide in several bands
    )


def simhash_candidates_sql(
    max_hamming: int = 3, n_bands: int = 4, bits: int = 32
) -> str:
    """DuckDB twin of simhash_candidates over simhash_sql."""
    width = bits // n_bands
    mask = (1 << width) - 1
    ks = ", ".join(str(k) for k in range(n_bands))
    return f"""
        WITH sims AS ({simhash_sql(bits)}),
        bands AS (
            SELECT doc_id, simhash, k AS band_idx,
                   (simhash >> (k * {width})) & {mask} AS band_val
            FROM sims, unnest([{ks}]) AS t(k)
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup via content hash: (content_hash, n_docs, keeper_id).

    Hash-groupBy on md5(text) — the keeper is min(doc_id), deterministic
    (the reference's order-dependent keep='first' is replaced per
    SURVEY.md §4.4-6).
    """
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_id")
    )


# --- DuckDB oracle generators (same constants, same algebra) -------------

def _sql_h31(expr: str) -> str:
    return f"(CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT) % {MERSENNE_31})"


def minhash_sql(scope: str = "") -> str:
    mins = ",\n               ".join(
        f"MIN((h31 * {a} + {b}) % {MERSENNE_31}) AS mh{i}"
        for i, (a, b) in enumerate(PERMS)
    )
    return f"""
        WITH pos AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, GREATEST(n_chars - {SHINGLE_K - 1}, 1))) AS i
            FROM documents {scope}
        ),
        sh AS (
            SELECT DISTINCT doc_id, substr(text, i, {SHINGLE_K}) AS g FROM pos
        ),
        hashed AS (SELECT doc_id, {_sql_h31('g')} AS h31 FROM sh)
        SELECT doc_id,
               {mins}
        FROM hashed GROUP BY doc_id
    """


def lsh_candidates_sql(
    n_bands: int = N_BANDS, rows_per_band: int = ROWS_PER_BAND
) -> str:
    if n_bands * rows_per_band != 16:
        # mirror lsh_candidate_pairs: a partial banding would emit a
        # silently under-recalling oracle where the Spark side raises
        raise ValueError(
            f"n_bands ({n_bands}) x rows_per_band ({rows_per_band}) "
            "must equal the 16-permutation signature width — derive "
            "the pair with lsh_plan(threshold, n_perms=16)"
        )
    band_eq = " OR ".join(
        "("
        + " AND ".join(
            f"a.mh{b * rows_per_band + r} = b.mh{b * rows_per_band + r}"
            for r in range(rows_per_band)
        )
        + ")"
        for b in range(n_bands)
    )
    n_eq = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(16)
    )
    return f"""
        WITH sig AS ({minhash_sql()})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {n_eq} AS n_eq
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE {band_eq}
    """


def ngram_jaccard_sql(max_doc_id: int, min_jaccard: float = 0.25) -> str:
    return f"""
        WITH pos AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, GREATEST(n_chars - {SHINGLE_K - 1}, 1))) AS i
            FROM documents WHERE doc_id < {max_doc_id}
        ),
        sh AS (SELECT DISTINCT doc_id, substr(text, i, {SHINGLE_K}) AS g FROM pos),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_n
            FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, inter_n,
               ROUND(inter_n * 1.0 / (sa.sz + sb.sz - inter_n), 4) AS jac
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ROUND(inter_n * 1.0 / (sa.sz + sb.sz - inter_n), 4) >= {min_jaccard}
    """


def simhash_sql(bits: int = 32) -> str:
    sums = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    val = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
        WITH words AS (
            SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents
        ),
        hashed AS (
            SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h
            FROM words
        ),
        bitsums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
        SELECT doc_id, {val} AS simhash FROM bitsums
    """


# --- duplicate-group resolution (connected components) -------------------

def _cc_star_contraction(
    pairs: DataFrame, max_iter: int, reliable: bool = False
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the billion-edge drop-in for label propagation.

    One round = two bounded shuffles, both window-aggregates keyed on
    the node (no join back):
      * LARGE-STAR: symmetrize; per node u with m = min(Γ(u) ∪ {u}),
        re-hang every LARGER neighbor v > u under m → edge (v, m).
        Skew control: a hot node's larger neighbors scatter to its
        min neighbor instead of accumulating.
      * SMALL-STAR: orient every edge large→small; per node u with
        m = min of its smaller neighbors, re-hang u and all its
        smaller neighbors under m.
    Edges only move toward smaller ids; the process converges to
    disjoint stars centered on each component's min id in O(log² n)
    rounds, checked by an (edge-count, Σu, Σv) fixpoint. Lineage is
    truncated per round — `localCheckpoint` by default, a reliable
    `checkpoint` against the session's checkpoint dir with
    ``reliable=True`` (identical labels; the cut state then survives
    executor loss, the cluster-run setting — see
    operators/graph.py:_cut).

    Returns ((doc_id, component) DataFrame, rounds executed): labels
    for EVERY node of the input edge list — star leaves from the
    final edges, roots labeling themselves, via a final left join
    against the input node set (so a node whose edges all collapsed
    still labels itself).
    """
    from ad_data_pipelines_spark.operators.graph import _cut

    cur = _cut(
        pairs.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct(),
        reliable,
    )
    prev_sig = None
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        sym = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        wu = Window.partitionBy("u")
        m_large = F.least(F.min("v").over(wu), F.col("u"))
        large = (
            sym.withColumn("m", m_large)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        m_small = F.min("v").over(Window.partitionBy("u"))
        both = large.withColumn("m", m_small)
        cur = _cut(
            both.select(F.col("v").alias("n"), "m")
            .unionByName(both.select(F.col("u").alias("n"), "m"))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct(),
            reliable,
        )
        # type-generic fixpoint signature (node ids may be strings —
        # entity_clusters — or longs): count + order-independent crc32
        # sums of both endpoints
        sig = tuple(
            cur.agg(
                F.count("*"),
                F.sum(F.crc32(F.col("u").cast("string"))),
                F.sum(F.crc32(F.col("v").cast("string"))),
            ).collect()[0]
        )
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # an unconverged edge set can leave one doc_id pointing at
        # multiple components — the final left join would then fan out
        # and emit conflicting labels. Fail loudly rather than return
        # silently-wrong clusters; O(log² n) rounds suffice for any
        # real graph, so hitting this means max_iter is set too low.
        raise RuntimeError(
            f"connected components did not converge within {max_iter} "
            f"star-contraction rounds; raise max_iter"
        )
    nodes = (
        pairs.select(F.col("u").alias("doc_id"))
        .unionByName(pairs.select(F.col("v").alias("doc_id")))
        .distinct()
    )
    leaf_labels = cur.select(
        F.col("u").alias("doc_id"), F.col("v").alias("component")
    )
    labels = nodes.join(leaf_labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
    )
    return labels, rounds


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    driver_threshold: int = 5_000_000,
    distributed_algo: str = "star",
    reliable: bool = False,
) -> DataFrame:
    """Connected components over an undirected edge list: returns
    (doc_id, component) where component = min doc_id reachable — the
    canonical keeper of each duplicate cluster.

    Hybrid execution, sized by the DISTINCT edge count (NOT the corpus
    size — dup-pair edges are orders of magnitude fewer than
    documents):

      * `≤ driver_threshold` distinct edges → collect the pairs and run
        union-find with path compression on the driver (microseconds
        per edge, zero Spark jobs). Dedup edge sets contract hard: even
        a 100 TB corpus's near-dup graph usually fits once it's been
        thresholded (n_eq filter) — the collect moves two longs per
        edge, never text or signatures. The path decision and the
        collect are ONE pass (`limit(threshold+1).collect()` — if
        everything fits under the limit, that IS the edge set): the
        previous `count()`-then-`collect()` pair executed the whole
        upstream pair chain twice for unpersisted inputs (measured on
        llm_dedup_threshold's fresh 8×2-band chain at sf0.1), and an
        over-threshold graph now early-exits the probe instead of
        paying a full count before the distributed pass.
      * larger → `distributed_algo`:
          - 'star' (default): alternating large-star/small-star
            contraction (Kiveris et al., "Connected Components in
            MapReduce and Beyond", `_cc_star_contraction`) — the
            billion-edge algorithm: O(log² n) rounds, and each round
            SHRINKS skew instead of amplifying it (large-star hangs a
            high-degree node's larger neighbors under its min
            neighbor, so no node's star grows unboundedly), vs
            propagation whose per-round join fan-out is the degree of
            the hottest node.
          - 'jump': min-label propagation with pointer jumping (each
            round: neighbor-min, then label←label-of-label). Kept for
            comparison; fine to ~10⁸ edges. Measured on sf0.1's
            chain-shaped clusters: 25 plain rounds → 12 with jumping.
        Both truncate lineage per round with `localCheckpoint`;
        ``reliable=True`` swaps every cut for a reliable `checkpoint`
        against the session's checkpoint dir (set
        ``spark.sparkContext.setCheckpointDir`` first) so the cut
        state survives executor loss — the cluster-run setting.

    All paths produce identical min-root labelings.
    """
    pairs = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # One action decides the path AND (in the common contracted case)
    # delivers the edge set: CollectLimit stops growing once it has
    # threshold+1 rows, so a big graph aborts the probe early while a
    # small one never pays a separate count pass over the same chain.
    head = pairs.distinct().limit(driver_threshold + 1).collect()
    if len(head) <= driver_threshold:
        # Driver path never symmetrizes: union-find is orientation-
        # agnostic, so the raw (deduped) pairs are the whole input —
        # two longs per edge, never text or signatures.
        pair_rows = head
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in pair_rows:
            ra, rb = find(r.u), find(r.v)
            if ra != rb:
                # attach larger root under smaller → min-root invariant
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = {x for r in pair_rows for x in (r.u, r.v)}
        return local_frame(
            edges.sparkSession,
            [(n, find(n)) for n in sorted(nodes)],
            schema=pairs.select(
                F.col("u").alias("doc_id"), F.col("v").alias("component")
            ).schema,
        )
    if distributed_algo == "star":
        return _cc_star_contraction(pairs, max_iter, reliable)[0]
    if distributed_algo != "jump":
        raise ValueError(
            f"unknown distributed_algo {distributed_algo!r} "
            "(expected 'star' or 'jump')"
        )
    sym = pairs.unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).persist()
    from ad_data_pipelines_spark.operators.graph import _cut

    labels = _cut(
        sym.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id")),
        reliable,
    )
    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    for _ in range(max_iter):
        prop = (
            sym.join(labels, sym.u == labels.doc_id)
            .select(F.col("v").alias("doc_id"), "component")
        )
        merged = (
            labels.unionByName(prop)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
        )
        # Pointer jumping: every component value is itself a node id,
        # so the self-join is total; labels only shrink.
        jump = merged.select(
            F.col("doc_id").alias("c"), F.col("component").alias("cc")
        )
        labels = _cut(
            merged.join(jump, merged.component == jump.c)
            .select("doc_id", F.col("cc").alias("component")),
            reliable,
        )
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    sym.unpersist()
    return labels


def dedup_plan_for_threshold(threshold: float) -> dict:
    """Resolve the WHOLE dedup-chain tuning for a target Jaccard
    threshold, as pure data: `lsh_plan`'s (n_bands, rows_per_band)
    over the 16-permutation signatures — the recall knob — plus the
    verification bar ``min_eq = ceil(16·threshold)`` (estimated
    Jaccard is n_eq/16, so a candidate pair survives iff its estimate
    clears the threshold) — the precision knob. This is the one
    function a deployment retuning the similarity bar calls; feed the
    result into `dup_components(..., threshold=)`/`curate(...,
    dedup_threshold=)` or persist it (JSON-safe) as a run config."""
    import math

    plan = lsh_plan(threshold, n_perms=16)
    plan["threshold"] = threshold
    plan["min_eq"] = min(16, max(1, math.ceil(16 * threshold)))
    return plan


def dup_components(
    docs: DataFrame, min_eq: int = 8, threshold: float | None = None
) -> DataFrame:
    """End of the MinHash dedup pipeline: LSH candidates with ≥ min_eq
    agreeing signature components (estimated Jaccard ≥ min_eq/16) are
    merged into duplicate clusters. Returns (doc_id, component,
    is_keeper) for every doc in a cluster; docs absent from the output
    have no near-duplicate and are kept implicitly.

    Pass ``threshold`` (target Jaccard) to derive BOTH the LSH banding
    and the verification bar from `dedup_plan_for_threshold` instead
    of the shipped constants — `min_eq` is then ignored. Default
    (no threshold): the fixed high-similarity banding, unchanged.
    """
    if threshold is not None:
        plan = dedup_plan_for_threshold(threshold)
        pairs = lsh_candidate_pairs(
            minhash_signatures(docs),
            n_bands=plan["n_bands"],
            rows_per_band=plan["rows_per_band"],
        ).filter(F.col("n_eq") >= plan["min_eq"])
    else:
        pairs = lsh_candidate_pairs(minhash_signatures(docs)).filter(
            F.col("n_eq") >= min_eq
        )
    return dup_components_from_pairs(pairs)


def dup_components_from_pairs(pairs: DataFrame) -> DataFrame:
    """Cluster resolution over pre-thresholded candidate pairs — split
    out so pipelines that already materialized/persisted the pair table
    (the expensive stage) don't recompute it per consumer."""
    cc = connected_components(pairs)
    return cc.select(
        "doc_id",
        "component",
        F.when(F.col("doc_id") == F.col("component"), 1)
        .otherwise(0)
        .alias("is_keeper"),
    )


def dup_components_table(
    docs: DataFrame,
    table: str,
    path: str,
    min_eq: int = 8,
    n_buckets: int = 32,
) -> DataFrame:
    """Materialize the duplicate-cluster table ONCE as a bucketed
    external table and return the read-back DataFrame.

    This is the 100 TB composition story: minhash → LSH → connected
    components is the expensive part of dedup, and every downstream
    consumer (kept-corpus anti-join, cluster stats, audit samples)
    only needs the tiny (doc_id, component, is_keeper) result. Compute
    it once, write it bucketed by doc_id, and each consumer's
    doc_id-join against it needs no Exchange on the components side —
    instead of re-running the whole pipeline per consumer.
    """
    from .partitioning import write_bucketed

    comp = dup_components(docs, min_eq=min_eq)
    write_bucketed(comp, table, path, keys=["doc_id"], n_buckets=n_buckets)
    return docs.sparkSession.table(table)


def dup_components_sql(
    min_eq: int = 8, threshold: float | None = None
) -> str:
    """Oracle: transitive closure via recursive CTE, component = min
    reachable doc_id. Quadratic-ish — fine at oracle scale, never the
    production path (that's `connected_components`). `threshold`
    mirrors `dup_components`'s derived-banding mode exactly."""
    if threshold is not None:
        plan = dedup_plan_for_threshold(threshold)
        cand = lsh_candidates_sql(plan["n_bands"], plan["rows_per_band"])
        min_eq = plan["min_eq"]
    else:
        cand = lsh_candidates_sql()
    return f"""
        WITH RECURSIVE pairs AS (
            SELECT doc_a, doc_b FROM ({cand}) WHERE n_eq >= {min_eq}
        ),
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION ALL
            SELECT doc_b AS u, doc_a AS v FROM pairs
        ),
        reach(src, dst) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
        )
        SELECT src AS doc_id,
               MIN(dst) AS component,
               CASE WHEN src = MIN(dst) THEN 1 ELSE 0 END AS is_keeper
        FROM reach GROUP BY src
    """


def lsh_collision_probability(
    j: float, rows_per_band: int, n_bands: int
) -> float:
    """Closed-form banded-LSH S-curve: P[≥1 of ``n_bands`` bands
    collides] = 1 − (1 − j^r)^b for a pair at Jaccard ``j``. Module-
    level (ADVICE r12) so `lsh_plan`'s returned dict stays pure data —
    deployments persist the chosen banding as JSON and re-derive the
    curve from (rows_per_band, n_bands) with this function."""
    return 1.0 - (1.0 - j**rows_per_band) ** n_bands


def lsh_plan(
    threshold: float,
    n_perms: int = 16,
    at_threshold_min: float = 0.5,
) -> dict:
    """Pick (n_bands, rows_per_band) for a target Jaccard threshold —
    the knob-selection math behind N_BANDS/ROWS_PER_BAND, exposed so a
    deployment retuning the dedup chain for a different similarity bar
    computes its banding instead of guessing. Among the divisor
    factorizations b·r = n_perms, choose the one whose S-curve
    midpoint (1/b)^(1/r) sits closest to `threshold` while keeping
    collision probability at the threshold itself ≥ `at_threshold_min`
    (a plan whose midpoint is near τ but whose curve is too flat AT τ
    under-recalls the pairs the caller actually wants).

    Returns {n_bands, rows_per_band, midpoint, p_at_threshold} — PURE
    DATA (json/pickle-serializable, ADVICE r12: a persisted banding
    config must round-trip). Evaluate the curve at any Jaccard j with
    `lsh_collision_probability(j, rows_per_band, n_bands)` to budget
    expected candidate pairs before running anything. Pure arithmetic,
    no Spark; raises when no factorization clears `at_threshold_min`
    (raise n_perms — more permutations sharpen the curve).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if n_perms < 2:
        raise ValueError(f"n_perms must be >= 2, got {n_perms}")
    candidates = []
    for r in range(1, n_perms + 1):
        if n_perms % r:
            continue
        b = n_perms // r
        p_at = lsh_collision_probability(threshold, r, b)
        if p_at < at_threshold_min:
            continue
        midpoint = (1.0 / b) ** (1.0 / r)
        candidates.append((abs(midpoint - threshold), r, b, midpoint, p_at))
    if not candidates:
        raise ValueError(
            f"no (bands, rows) factorization of {n_perms} permutations "
            f"keeps collision probability >= {at_threshold_min} at "
            f"threshold {threshold} — raise n_perms"
        )
    _, r, b, midpoint, p_at = min(candidates)
    return {
        "n_bands": b,
        "rows_per_band": r,
        "midpoint": round(midpoint, 6),
        "p_at_threshold": round(p_at, 6),
    }


def decontam_blast_radius(
    docs: DataFrame,
    eval_pred,
    n: int = 8,
    min_eq: int = 8,
    grams: DataFrame | None = None,
    components: DataFrame | None = None,
    flagged: DataFrame | None = None,
) -> DataFrame:
    """Cluster-atomic decontamination accounting: for every near-dup
    cluster touched by benchmark contamination, (cluster_rep,
    n_members, n_direct, n_dragged) — how many docs the cluster-atomic
    rule removes BEYOND the directly gram-flagged ones; flagged docs
    with no near-duplicate report as (doc_id, 1, 1, 0).

    Why it exists: dropping only the gram-flagged docs is leaky — a
    near-duplicate of a contaminated doc carries (almost) the same
    eval text with the flagged 8-gram paraphrased away, so correct
    decontamination removes WHOLE clusters (the same cluster-atomicity
    argument as `hash_split`'s leakage-safe splits). This report
    prices that policy before you commit to it: Σ n_direct is the
    naive removal, Σ n_members the atomic one, and a cluster with a
    huge n_dragged flags either boilerplate contamination or an
    over-merged cluster worth inspecting.

    Composition, not new machinery: the `contamination_check`
    broadcast gram probe ⋈ the `dup_components` cluster table — both
    shareable artifacts (`grams=` / `components=`), so the marginal
    cost is one left join at (doc_id) grain + one combinable
    aggregate per cluster. Eval-set members inside a cluster count in
    n_members/n_dragged (they leave the corpus regardless — the
    report prices the cluster rule, not the eval split).

    ``flagged`` injects a PRECOMPUTED direct-flag frame (any frame
    with a doc_id column — `contamination_check` or
    `bloom_contamination_filter` output) so a pipeline that already
    materialized its stage-4 flags prices exactly THAT engine's drops
    without a second gram pass — in bloom mode the exact path's full
    eval-gram broadcast is the very thing the bloom avoided, so the
    accounting must not reintroduce it (jobs/curate_corpus.py wires
    this).
    """
    if flagged is not None:
        flagged = flagged.select(
            "doc_id", F.lit(1).cast("bigint").alias("direct")
        )
    else:
        flagged = contamination_check(
            docs, eval_pred, n, grams=grams
        ).select("doc_id", F.lit(1).cast("bigint").alias("direct"))
    comp = (
        components
        if components is not None
        else dup_components(docs, min_eq=min_eq)
    )
    m = comp.select("doc_id", "component").join(flagged, "doc_id", "left")
    clusters = (
        m.groupBy("component")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum(F.coalesce("direct", F.lit(0)))
            .cast("bigint")
            .alias("n_direct"),
        )
        .filter(F.col("n_direct") >= 1)
        .select(
            F.col("component").alias("cluster_rep"),
            "n_members",
            "n_direct",
            (F.col("n_members") - F.col("n_direct"))
            .cast("bigint")
            .alias("n_dragged"),
        )
    )
    singles = (
        flagged.join(comp.select("doc_id"), "doc_id", "left_anti")
        .select(
            F.col("doc_id").alias("cluster_rep"),
            F.lit(1).cast("bigint").alias("n_members"),
            F.lit(1).cast("bigint").alias("n_direct"),
            F.lit(0).cast("bigint").alias("n_dragged"),
        )
    )
    return clusters.unionByName(singles)


def decontam_blast_radius_sql(
    eval_pred_sql: str, n: int = 8, min_eq: int = 8
) -> str:
    """DuckDB twin of `decontam_blast_radius` — composes the
    contamination and cluster oracles."""
    return f"""
        WITH flags AS ({contamination_sql(eval_pred_sql, n)}),
        comp AS ({dup_components_sql(min_eq)}),
        m AS (
            SELECT c.component, c.doc_id,
                   CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END
                       AS direct
            FROM comp c LEFT JOIN flags f USING (doc_id)
        ),
        clusters AS (
            SELECT component AS cluster_rep,
                   CAST(COUNT(*) AS BIGINT) AS n_members,
                   CAST(SUM(direct) AS BIGINT) AS n_direct
            FROM m GROUP BY 1 HAVING SUM(direct) >= 1
        )
        SELECT cluster_rep, n_members, n_direct,
               CAST(n_members - n_direct AS BIGINT) AS n_dragged
        FROM clusters
        UNION ALL
        SELECT f.doc_id AS cluster_rep,
               CAST(1 AS BIGINT) AS n_members,
               CAST(1 AS BIGINT) AS n_direct,
               CAST(0 AS BIGINT) AS n_dragged
        FROM flags f
        WHERE f.doc_id NOT IN (SELECT doc_id FROM comp)
    """


# --- exact duplicated-substring coverage -----------------------------------

def position_gram_bounds(docs: DataFrame, k: int = 20) -> DataFrame:
    """(doc_id, p, mn, mx): every k-gram position annotated with the
    min/max doc_id holding that gram — the shared upstream stage of
    `dup_span_coverage` (needs mn≠mx) and `remove_dup_spans` (needs
    mn<doc_id). ONE position explode + ONE gram-partition window;
    persist/materialize this once per corpus revision and both
    consumers run windows-only from here."""
    grams = F.expr(
        f"if(length(text) < {k}, array(), "
        f"transform(sequence(1, length(text) - {k - 1}), "
        f"i -> substring(text, i, {k})))"
    )
    pos = docs.select(
        "doc_id", F.posexplode(grams).alias("p0", "gram")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "gram")
    wg = Window.partitionBy("gram")
    return pos.select(
        "doc_id",
        "p",
        F.min("doc_id").over(wg).alias("mn"),
        F.max("doc_id").over(wg).alias("mx"),
    )


def corpus_gram_table(docs: DataFrame, k: int = 20) -> DataFrame:
    """Distinct k-grams of an accepted corpus: (gram,) — the history
    artifact the STREAMING exactsubstr gate joins each micro-batch
    against (the grams-side twin of the minhash-signature history
    table). In-row `array_distinct` before explode keeps the heavy
    dedup map-side; the global distinct shuffles only what survives."""
    grams = F.expr(
        f"if(length(text) < {k}, array(), "
        f"array_distinct(transform(sequence(1, length(text) - {k - 1}), "
        f"i -> substring(text, i, {k}))))"
    )
    return (
        docs.select(F.explode(grams).alias("gram")).distinct()
    )


def _merged_islands(hits: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of [p, p+k) spans per doc: (doc_id,
    island, s, e). Shared by the coverage metric and the removal
    transform; window state is ONE running max per doc."""
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        hits.withColumn("e", F.col("p") + F.lit(k))
        .withColumn(
            "new_isl",
            F.when(
                F.col("p") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_isl").over(w_run))
        .groupBy("doc_id", "island")
        .agg(F.min("p").alias("s"), F.max("e").alias("e"))
    )


def dup_span_coverage(
    docs: DataFrame, k: int = 20, bounds: DataFrame | None = None
) -> DataFrame:
    """Per-doc EXACTSUBSTR-style duplicated-span coverage (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    every character position opening a k-gram that also appears in a
    DIFFERENT document is a duplicated span [p, p+k); overlapping
    spans merge, and each doc reports how many of its characters fall
    under merged duplicated spans.

    Returns (doc_id, n_chars, dup_chars, dup_frac); docs shorter than
    k (or with no cross-doc k-gram) report 0 / 0.0, never a missing
    row.

    Scale shape (the paper's suffix-array pass re-expressed as three
    relational steps, each shuffle-minimal):
      * position explode is a narrow map (~n_chars rows/doc — the same
        cost family as `char_shingles`) and runs ONCE: the cross-doc
        test is a min/max window over the gram partition, not a
        groupBy + join-back, so there is no second corpus scan and no
        broadcast build (measured 2.4× at sf0.1);
      * "gram appears in ≥2 docs" is `min(doc_id) <> max(doc_id)` —
        NOT a count-distinct (no two-phase distinct expand);
      * interval merge is the gaps-and-islands window per doc_id —
        state is one running max per doc, no cross-doc exchange after
        the gram window.
    The gram exchange shuffles k-char strings; at 100 TB swap the
    window key for `portable_hash64(gram)` on BOTH sides (engine-
    consistent, so any collision affects Spark and oracle alike).
    """
    # cross-doc flag via ONE gram-partitioned window (in
    # position_gram_bounds) instead of a groupBy + join-back: the
    # position table is exploded once, pays one exchange on gram, and
    # no second corpus scan / broadcast build (measured 2.4× faster at
    # sf0.1); pass a persisted `bounds` to share that stage with
    # `remove_dup_spans`
    b = bounds if bounds is not None else position_gram_bounds(docs, k)
    hits = b.filter(F.col("mn") != F.col("mx")).select("doc_id", "p")
    per_doc = (
        _merged_islands(hits, k)
        .groupBy("doc_id")
        .agg(F.sum(F.col("e") - F.col("s")).alias("dup_chars"))
    )
    return (
        docs.select("doc_id", F.length("text").cast("bigint").alias("n_chars"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("dup_chars", F.lit(0)).cast("bigint").alias("dup_chars"),
            F.round(
                F.coalesce("dup_chars", F.lit(0))
                / F.greatest("n_chars", F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_dup_spans(
    docs: DataFrame, k: int = 20, bounds: DataFrame | None = None
) -> DataFrame:
    """EXACTSUBSTR dedup TRANSFORM (the removal step of Lee et al.
    2022, completing `dup_span_coverage`'s metric): every merged
    duplicated span whose k-gram owner is a smaller doc_id is excised
    from the text; the owner (global min doc_id per gram) keeps its
    copy, so each duplicated substring survives exactly once in the
    corpus under a deterministic keeper rule (SURVEY §4.4-6: never
    order-dependent).

    Returns (doc_id, n_chars, removed_chars, kept_chars, kept_text);
    untouched docs pass through with their full text.

    Plan shape: identical to `dup_span_coverage` through the islands
    stage (one position explode, gram-window cross-doc+owner test,
    per-doc interval merge); the text rebuild is a per-doc
    `F.aggregate` fold over the sorted island array — array-side
    string stitching, no UDF, no extra shuffle beyond the island
    collect."""
    # foreign hit: the gram exists in a smaller doc_id → this copy goes
    b = bounds if bounds is not None else position_gram_bounds(docs, k)
    hits = b.filter(F.col("mn") < F.col("doc_id")).select("doc_id", "p")
    return excise_spans(docs, hits, k)


def excise_spans(docs: DataFrame, hits: DataFrame, k: int) -> DataFrame:
    """Remove the merged [p, p+k) spans in `hits` (doc_id, p) from each
    doc's text and return (doc_id, n_chars, removed_chars, kept_chars,
    kept_text). The excision back-end shared by `remove_dup_spans`
    (batch owner rule) and the streaming ingest gate
    (`streaming/exactsubstr.py`, history-ownership rule) — one
    islands merge + one per-doc `F.aggregate` fold, no UDF."""
    islands = (
        _merged_islands(hits, k)
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("s", "e"))).alias("ivs"),
            F.sum(F.col("e") - F.col("s")).alias("removed_chars"),
        )
    )
    kept_text = F.expr(
        "aggregate(ivs, "
        "struct(CAST(1 AS INT) AS cur, CAST('' AS STRING) AS acc), "
        "(a, x) -> struct(CAST(x.e AS INT) AS cur, "
        "concat(a.acc, substring(text, a.cur, x.s - a.cur)) AS acc), "
        "a -> concat(a.acc, substring(text, a.cur, "
        "length(text) - a.cur + 1)))"
    )
    return (
        docs.select("doc_id", "text")
        .join(islands, "doc_id", "left")
        .select(
            "doc_id",
            F.length("text").cast("bigint").alias("n_chars"),
            F.coalesce("removed_chars", F.lit(0))
            .cast("bigint")
            .alias("removed_chars"),
            F.when(F.col("ivs").isNull(), F.col("text"))
            .otherwise(kept_text)
            .alias("kept_text"),
        )
        .select(
            "doc_id",
            "n_chars",
            "removed_chars",
            F.length("kept_text").cast("bigint").alias("kept_chars"),
            "kept_text",
        )
    )


def remove_dup_spans_sql(k: int = 20, scope: str = "documents") -> str:
    """DuckDB twin of `remove_dup_spans` (same owner rule and islands;
    rebuild via ordered string_agg over the kept segments)."""
    return f"""
        WITH pos AS (
            SELECT doc_id, i AS p, substring(text, i, {k}) AS gram
            FROM {scope}, LATERAL unnest(
                generate_series(1, length(text) - {k} + 1)) AS g(i)
            WHERE length(text) >= {k}
        ),
        owned AS (
            SELECT doc_id, p,
                   MIN(doc_id) OVER (PARTITION BY gram) AS owner
            FROM pos
        ),
        hits AS (
            SELECT doc_id, p FROM owned WHERE owner < doc_id
        ),
        isl AS (
            SELECT doc_id, p, p + {k} AS e,
                   CASE WHEN p > COALESCE(MAX(p + {k}) OVER (
                       PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), -1) THEN 1 ELSE 0 END AS new_isl
            FROM hits
        ),
        isl2 AS (
            SELECT doc_id, p, e, SUM(new_isl) OVER (
                PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS island
            FROM isl
        ),
        isl3 AS (
            SELECT doc_id, island, MIN(p) AS s, MAX(e) AS e
            FROM isl2 GROUP BY 1, 2
        ),
        segs AS (
            SELECT doc_id,
                   COALESCE(LAG(e) OVER (
                       PARTITION BY doc_id ORDER BY s), 1) AS ks,
                   s AS ke
            FROM isl3
            UNION ALL
            SELECT doc_id, MAX(e) AS ks, NULL AS ke
            FROM isl3 GROUP BY doc_id
        ),
        rebuilt AS (
            SELECT d.doc_id,
                   string_agg(substring(d.text, ks,
                       COALESCE(ke, length(d.text) + 1) - ks),
                       '' ORDER BY ks) AS kept_text
            FROM {scope} d JOIN segs USING (doc_id)
            GROUP BY d.doc_id
        ),
        removed AS (
            SELECT doc_id, SUM(e - s) AS removed_chars
            FROM isl3 GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(length(d.text) AS BIGINT) AS n_chars,
               CAST(COALESCE(r.removed_chars, 0) AS BIGINT)
                   AS removed_chars,
               CAST(length(COALESCE(b.kept_text, d.text)) AS BIGINT)
                   AS kept_chars,
               COALESCE(b.kept_text, d.text) AS kept_text
        FROM {scope} d
        LEFT JOIN rebuilt b USING (doc_id)
        LEFT JOIN removed r USING (doc_id)
    """


def dup_span_coverage_sql(k: int = 20, scope: str = "documents") -> str:
    """DuckDB twin of `dup_span_coverage` (same islands logic)."""
    return f"""
        WITH pos AS (
            SELECT doc_id, i AS p, substring(text, i, {k}) AS gram
            FROM {scope}, LATERAL unnest(
                generate_series(1, length(text) - {k} + 1)) AS g(i)
            WHERE length(text) >= {k}
        ),
        dup AS (
            SELECT gram FROM pos
            GROUP BY gram HAVING min(doc_id) <> max(doc_id)
        ),
        hits AS (SELECT doc_id, p FROM pos JOIN dup USING (gram)),
        isl AS (
            SELECT doc_id, p, p + {k} AS e,
                   CASE WHEN p > COALESCE(MAX(p + {k}) OVER (
                       PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), -1) THEN 1 ELSE 0 END AS new_isl
            FROM hits
        ),
        isl2 AS (
            SELECT doc_id, e, p, SUM(new_isl) OVER (
                PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS island
            FROM isl
        ),
        cov AS (
            SELECT doc_id, island, MAX(e) - MIN(p) AS chars
            FROM isl2 GROUP BY 1, 2
        ),
        per_doc AS (
            SELECT doc_id, SUM(chars) AS dup_chars FROM cov GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(length(d.text) AS BIGINT) AS n_chars,
               CAST(COALESCE(pd.dup_chars, 0) AS BIGINT) AS dup_chars,
               ROUND(COALESCE(pd.dup_chars, 0)
                     / GREATEST(length(d.text), 1), 6) AS dup_frac
        FROM {scope} d LEFT JOIN per_doc pd USING (doc_id)
    """


# --- eval-set contamination ------------------------------------------------

def word_ngram_hashes(docs: DataFrame, n: int = 8) -> DataFrame:
    """Distinct word-n-gram hashes per doc: (doc_id, gh). Same
    shuffle-free shape as `char_shingles` (in-row distinct before
    explode); the hash is md5-portable so oracles reproduce it.
    Docs with fewer than n words emit nothing — a short doc can't
    carry a full n-gram."""
    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not an
    # empty array — short docs need the explicit size guard.
    grams = F.expr(
        f"if(size(w) < {n}, array(), "
        "array_distinct(transform("
        f"sequence(1, size(w) - {n - 1}), "
        f"i -> concat_ws(' ', slice(w, i, {n})))))"
    )
    return (
        docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("w"))
        .select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", portable_hash64("g").alias("gh"))
    )


def contamination_check(
    docs: DataFrame,
    eval_pred,
    n: int = 8,
    grams: DataFrame | None = None,
    bloom_prefilter: bool = False,
    bloom_k: int = 5,
    bloom_bits_log2: int = 18,
) -> DataFrame:
    """Benchmark-decontamination scan: which corpus docs share at least
    one word-n-gram with the held-out eval set (`eval_pred` a boolean
    Column selecting eval docs)?  Returns (doc_id, n_shared_ngrams)
    for contaminated corpus docs.

    Scale shape: the eval side is tiny (a benchmark), so its distinct
    gram-hash set BROADCASTS — the corpus grams stream map-side through
    the broadcast hash join and only (doc_id, gh) matches reach the
    count aggregation. Corpus text never shuffles; 16-byte hashes do.
    Pass `grams` (a precomputed `word_ngram_hashes` table — shared with
    `novelty_scores`, or materialized on disk) to skip re-tokenizing
    the corpus; membership then splits by broadcast doc_id joins.

    ``bloom_prefilter=True`` is the two-phase production shape for a
    LARGE eval side (a full multi-benchmark decontamination list whose
    distinct hash set is too big to broadcast comfortably): phase 1
    streams the corpus grams through the ~KB broadcast bloom scalar
    (`bloom_contamination_filter`'s probe — in-row arithmetic, no
    join), phase 2 joins only the ~0.2%-FP survivors against the
    exact hash set. Results are IDENTICAL to the direct path (the
    bloom has no false negatives and phase 2 removes its false
    positives — tested); only the plan changes: the expensive
    broadcast hash join sees a tiny fraction of the corpus grams."""
    if grams is None:
        evals = docs.filter(eval_pred)
        corpus = docs.filter(~eval_pred)
        eval_grams = word_ngram_hashes(evals, n).select("gh").distinct()
        corpus_grams = word_ngram_hashes(corpus, n)
    else:
        eval_ids = docs.filter(eval_pred).select("doc_id")
        eval_grams = (
            grams.join(F.broadcast(eval_ids), "doc_id")
            .select("gh")
            .distinct()
        )
        # match the direct path's NULL semantics exactly: a doc where
        # the predicate evaluates NULL is in NEITHER side (both
        # filter(pred) and filter(~pred) drop NULLs), so the corpus
        # anti-join must exclude eval docs AND null-predicate docs
        excluded_ids = docs.filter(
            eval_pred | eval_pred.isNull()
        ).select("doc_id")
        corpus_grams = grams.join(
            F.broadcast(excluded_ids), "doc_id", "left_anti"
        )
    if bloom_prefilter:
        corpus_grams = _bloom_hit_grams(
            corpus_grams, eval_grams, bloom_k, bloom_bits_log2
        )
    hits = corpus_grams.join(F.broadcast(eval_grams), "gh")
    return hits.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_shared_ngrams")
    )


def contamination_sql(eval_pred_sql: str, n: int = 8) -> str:
    """DuckDB oracle twin of `contamination_check`."""
    grams = f"""
        SELECT doc_id,
               CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
        FROM (
            SELECT doc_id,
                   array_to_string(w[i:i+{n - 1}], ' ') AS g
            FROM (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                FROM documents
            ), UNNEST(generate_series(1, GREATEST(len(w) - {n - 1}, 0))) AS t(i)
        )
        GROUP BY 1, 2
    """
    return f"""
        WITH grams AS ({grams}),
        eval_grams AS (
            SELECT DISTINCT gh FROM grams
            WHERE doc_id IN (SELECT doc_id FROM documents WHERE {eval_pred_sql})
        )
        SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
        FROM grams g
        JOIN eval_grams e USING (gh)
        WHERE g.doc_id NOT IN (
            SELECT doc_id FROM documents WHERE {eval_pred_sql}
        )
        GROUP BY 1
    """


# Kirsch-Mitzenmacher double hashing: the k bloom positions of a gram
# hash derive from ONE md5 of it — h1 = first 60 digest bits, h2 =
# bits 65-124 forced ODD (an odd stride visits distinct positions mod
# a power-of-two m), position_i = (h1 + i·h2) mod m. Same FP
# guarantees as k independent hashes (Kirsch & Mitzenmacher 2006) at
# a FIFTH of the hash cost — the md5 per (gram, i) scheme this
# replaced spent k md5 evaluations per corpus gram in the probe's hot
# path (measured 4.3 s → see work log). Pure deterministic arithmetic
# both engines replay bit-for-bit (same portable-md5 idiom as
# `portable_hash64`).
_BLOOM_DG_SQL = "md5(CAST({gh} AS STRING))"
_BLOOM_H1_SQL = "CAST(conv(substring({dg}, 1, 15), 16, 10) AS BIGINT)"
_BLOOM_H2_SQL = (
    "(CAST(conv(substring({dg}, 17, 15), 16, 10) AS BIGINT) "
    "| CAST(1 AS BIGINT))"
)

#: position-scheme revision carried in every `bloom_bits` word table
#: and asserted at probe time: v2 = Kirsch-Mitzenmacher double hashing
#: (one md5 per gram, h1=digest[1:15], h2=digest[17:31]|1). v1 (one
#: md5 per (gram, i), retired r11) produced DIFFERENT positions —
#: probing a v1 artifact with the v2 probe silently tests wrong bits
#: and voids the no-false-negative guarantee, so the mismatch must
#: fail loudly, not flag garbage.
_BLOOM_SCHEME = 2

#: double-hash stride bound: h1, h2 < 2^60, so h1 + i·h2 stays inside
#: int64 only for i ≤ 7 (8 + 8·7 = 64 bits would overflow at i=8).
#: Spark (non-ANSI) would WRAP to negative positions silently while
#: DuckDB raises — a large k must be rejected, not allowed to diverge
#: cross-engine.
_BLOOM_MAX_K = 8


def _check_bloom_k(k: int) -> None:
    if not 1 <= k <= _BLOOM_MAX_K:
        raise ValueError(
            f"bloom k={k} out of range [1, {_BLOOM_MAX_K}]: position "
            "arithmetic h1 + i*h2 (h1, h2 < 2^60) overflows int64 at "
            "i >= 8 — Spark wraps silently, DuckDB errors; widen the "
            "filter with bits_log2 instead of k"
        )


def _bloom_probe_positions_sql(
    h1: str, h2: str, k: int, m_bits: int
) -> str:
    """The k double-hashed bloom positions as a Spark-SQL array
    expression over PRE-STAGED h1/h2 columns (staging them keeps the
    md5 at one evaluation per row — inlined into the lambda it would
    re-evaluate per i)."""
    _check_bloom_k(k)
    return (
        f"transform(sequence(0, {k - 1}), "
        f"i -> ({h1} + CAST(i AS BIGINT) * {h2}) % {m_bits})"
    )


def _with_bloom_hashes(df: DataFrame, gh_expr: str = "gh") -> DataFrame:
    """Stage __h1/__h2 from one md5 of the gram hash."""
    return (
        df.withColumn("__dg", F.expr(_BLOOM_DG_SQL.format(gh=gh_expr)))
        .withColumn("__h1", F.expr(_BLOOM_H1_SQL.format(dg="__dg")))
        .withColumn("__h2", F.expr(_BLOOM_H2_SQL.format(dg="__dg")))
        .drop("__dg")
    )


def bloom_bits(
    eval_grams: DataFrame, k: int = 5, bits_log2: int = 18
) -> DataFrame:
    """(word, bits): the bloom filter of a gram-hash set as a BOUNDED
    bitmap-word table — ≤ 2^bits_log2 / 32 rows regardless of input
    size. Positions are md5-derived via double hashing (deterministic,
    DuckDB-replayable — this bloom is EXACTLY reproducible
    cross-engine, so queries over it hash-gate, no tolerance verdict
    needed); 32-bit words keep every mask positive in int64 in both
    engines (bit 63 would go negative two's-complement in Spark but
    overflow-error in DuckDB). Build cost: one explode(k) over the
    DISTINCT eval grams + one combinable bit_or — the eval side of
    decontamination is a benchmark, tiny by definition."""
    m = 1 << bits_log2
    pos = _with_bloom_hashes(eval_grams).select(
        F.explode(
            F.expr(_bloom_probe_positions_sql("__h1", "__h2", k, m))
        ).alias("pos")
    )
    words = pos.groupBy(
        F.expr("CAST(pos DIV 32 AS INT)").alias("word")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))"
        ).alias("bits")
    )
    # Stamp the build parameters into the column metadata — it rides
    # the Spark schema through parquet write/read, so a MATERIALIZED
    # words artifact carries them to every later probe
    # (`bloom_hit_grams_from_words` asserts the match). Without this a
    # scheme/k/m drift between artifact build and probe silently tests
    # wrong positions.
    return words.select(
        "word",
        F.col("bits").alias(
            "bits",
            metadata={
                "bloom_scheme": _BLOOM_SCHEME,
                "k": k,
                "bits_log2": bits_log2,
            },
        ),
    )


def bloom_contamination_filter(
    docs: DataFrame,
    eval_pred,
    n: int = 8,
    grams: DataFrame | None = None,
    k: int = 5,
    bits_log2: int = 18,
) -> DataFrame:
    """`contamination_check`'s 100 TB-scale sibling: flag corpus docs
    whose word-n-grams hit a BLOOM FILTER of the eval set's grams —
    (doc_id, n_flagged_ngrams). GUARANTEED superset of the exact scan
    (a bloom has no false negatives — unit-tested), with false
    positives bounded by the classic (1 − e^{−kn/m})^k ≈ 0.2% per
    gram at the defaults.

    Why it exists when the exact scan already broadcasts: the exact
    path broadcasts the eval set's full DISTINCT HASH SET — fine for
    one benchmark, but a production decontamination list (every test
    set of every benchmark suite, ~1e9 grams) is an 8 GB broadcast
    where this bloom is 2^bits_log2/8 bytes (32 KB at the default;
    scale bits_log2 with the list). The probe is PURE map-side
    arithmetic: the corpus grams stream through a `forall` over k
    in-row md5 positions against ONE broadcast array<bigint> scalar —
    no join, no shuffle of anything corpus-sized; only flagged
    (doc_id) rows reach the per-doc count (map-side combined). The
    md5-derived positions make the filter DETERMINISTIC and
    DuckDB-replayable, so the registry gate hash-checks the exact
    flagged set (`bloom_contamination_sql`) — the FP set is part of
    the contract, not noise. Use the bloom as the cheap first pass
    and `contamination_check` on the survivors when exactness
    matters."""
    m = 1 << bits_log2
    nwords = m // 32
    if grams is None:
        evals = docs.filter(eval_pred)
        corpus = docs.filter(~eval_pred)
        eval_grams = word_ngram_hashes(evals, n).select("gh").distinct()
        corpus_grams = word_ngram_hashes(corpus, n)
    else:
        eval_ids = docs.filter(eval_pred).select("doc_id")
        eval_grams = (
            grams.join(F.broadcast(eval_ids), "doc_id")
            .select("gh")
            .distinct()
        )
        excluded_ids = docs.filter(
            eval_pred | eval_pred.isNull()
        ).select("doc_id")
        corpus_grams = grams.join(
            F.broadcast(excluded_ids), "doc_id", "left_anti"
        )
    return (
        _bloom_hit_grams(corpus_grams, eval_grams, k, bits_log2)
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_flagged_ngrams"))
    )


def _bloom_hit_grams(
    corpus_grams: DataFrame,
    eval_grams: DataFrame,
    k: int,
    bits_log2: int,
) -> DataFrame:
    """corpus_grams rows whose gh hits the bloom of eval_grams — the
    shared probe behind `bloom_contamination_filter` and the
    `contamination_check(bloom_prefilter=True)` two-phase path."""
    return bloom_hit_grams_from_words(
        corpus_grams,
        bloom_bits(eval_grams, k=k, bits_log2=bits_log2),
        k=k,
        bits_log2=bits_log2,
    )


def bloom_hit_grams_from_words(
    corpus_grams: DataFrame,
    words: DataFrame,
    k: int = 5,
    bits_log2: int = 18,
) -> DataFrame:
    """The bloom probe against a PREBUILT (word, bits) table — the
    production artifact path: an upstream job materializes
    `bloom_bits` of the full decontamination list once per list
    revision (≤ 2^bits_log2/32 rows of parquet), and every consumer —
    batch scans and the streaming ingest gate
    (streaming/decontam.py) — probes it without touching the list
    itself. `k` and `bits_log2` MUST match the values the words table
    was built with, and so must the position-scheme version —
    `bloom_bits` stamps all three into the `bits` column metadata
    (schema metadata survives the parquet round-trip), and the guard
    below REFUSES a table whose stamp is absent or disagrees: a v1
    (md5-per-(gram, i)) artifact probed with the v2 double-hash
    arithmetic would silently test wrong positions and void the
    no-false-negative guarantee. Pre-metadata artifacts must be
    rebuilt with the current `bloom_bits`."""
    md = dict(words.schema["bits"].metadata or {})
    built = (
        md.get("bloom_scheme"), md.get("k"), md.get("bits_log2")
    )
    if built != (_BLOOM_SCHEME, k, bits_log2):
        raise ValueError(
            "bloom words table does not match the probe: built with "
            f"(scheme, k, bits_log2)={built}, probing with "
            f"({_BLOOM_SCHEME}, {k}, {bits_log2}). A mismatch (or a "
            "missing stamp on a pre-v2 artifact) silently probes "
            "wrong positions — rebuild the artifact with bloom_bits()."
        )
    m = 1 << bits_log2
    nwords = m // 32
    # densify the bounded word table into ONE array<bigint> scalar row:
    # a ~m/8-byte artifact every executor holds once (broadcast), with
    # element_at probes inside whole-stage codegen. The expansion
    # unions an all-zero word spine and sorts ONCE — O(nwords log
    # nwords). The previous form (map_from_entries + mp[w] inside a
    # transform over every index) was O(nwords²): Spark's GetMapValue
    # on ArrayBasedMapData is a LINEAR scan per lookup — invisible at
    # the 2^18 default (8k² probes) but ~20 single-threaded MINUTES at
    # an auto-sized 2^23 filter (measured via the curation 10× probe).
    spark = words.sparkSession
    zero_spine = spark.range(nwords).select(
        F.col("id").cast("int").alias("word"),
        F.lit(0).cast("bigint").alias("bits"),
    )
    bf = (
        words.select("word", "bits")
        .unionByName(zero_spine)
        .groupBy("word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(word, bits))), "
                "e -> e.bits)"
            ).alias("bf")
        )
    )
    hit = F.expr(
        f"forall({_bloom_probe_positions_sql('__h1', '__h2', k, m)}, "
        "p -> (element_at(bf, CAST(p DIV 32 AS INT) + 1) & "
        "shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))) != 0)"
    )
    # one-row scalar crossJoin (the repo's sanctioned broadcast form)
    return (
        _with_bloom_hashes(corpus_grams)
        .crossJoin(F.broadcast(bf))
        .filter(hit)
        .drop("bf", "__h1", "__h2")
    )


def bloom_contamination_sql(
    eval_pred_sql: str, n: int = 8, k: int = 5, bits_log2: int = 18
) -> str:
    """DuckDB oracle twin of `bloom_contamination_filter`: rebuilds the
    SAME double-hashed bloom bit-for-bit (relational form — probes
    join the word table and bool_and the bit tests) and reproduces the
    exact flagged set, false positives included."""
    _check_bloom_k(k)
    m = 1 << bits_log2
    grams = f"""
        SELECT doc_id,
               CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
        FROM (
            SELECT doc_id,
                   array_to_string(w[i:i+{n - 1}], ' ') AS g
            FROM (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                FROM documents
            ), UNNEST(generate_series(1, GREATEST(len(w) - {n - 1}, 0))) AS t(i)
        )
        GROUP BY 1, 2
    """
    # Kirsch-Mitzenmacher double hashing, the exact Spark arithmetic:
    # one md5 per gram hash, h1 = digest[1:15], h2 = digest[17:31]
    # forced odd, position_i = (h1 + i*h2) % m
    hashes = (
        "CAST('0x' || substr(dg, 1, 15) AS BIGINT) AS h1, "
        "CAST('0x' || substr(dg, 17, 15) AS BIGINT) | CAST(1 AS BIGINT) AS h2"
    )
    pos = f"(h1 + i * h2) % {m}"
    return f"""
        WITH grams AS ({grams}),
        eval_grams AS (
            SELECT DISTINCT gh FROM grams
            WHERE doc_id IN (SELECT doc_id FROM documents WHERE {eval_pred_sql})
        ),
        bloom_words AS (
            SELECT CAST(pos // 32 AS INT) AS word,
                   BIT_OR(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
            FROM (
                SELECT {pos} AS pos
                FROM (
                    SELECT {hashes} FROM (
                        SELECT md5(CAST(gh AS VARCHAR)) AS dg
                        FROM eval_grams
                    )
                ), UNNEST(generate_series(0, {k - 1})) AS t(i)
            )
            GROUP BY 1
        ),
        corpus_probes AS (
            SELECT doc_id, gh, {pos} AS pos
            FROM (
                SELECT doc_id, gh, {hashes} FROM (
                    SELECT g.doc_id, g.gh,
                           md5(CAST(g.gh AS VARCHAR)) AS dg
                    FROM grams g
                    WHERE g.doc_id NOT IN (
                        SELECT doc_id FROM documents WHERE {eval_pred_sql}
                    )
                )
            ), UNNEST(generate_series(0, {k - 1})) AS t(i)
        ),
        flagged AS (
            SELECT doc_id, gh
            FROM corpus_probes p
            LEFT JOIN bloom_words w ON w.word = CAST(p.pos // 32 AS INT)
            GROUP BY doc_id, gh
            HAVING BOOL_AND(
                (COALESCE(w.bits, 0) &
                 (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT))) <> 0
            )
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged_ngrams
        FROM flagged
        GROUP BY 1
    """


def novelty_scores(
    docs: DataFrame,
    n: int = 8,
    round_dp: int = 6,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Per-doc n-gram novelty (the inverse of `contamination_check`):
    what fraction of a doc's distinct word-n-grams appear in NO other
    doc? Low novelty = templated/boilerplate/duplicated content, high
    = unique text — a ranking signal for dedup triage and for
    "train on the novel slice first" curricula.

    Output: (doc_id, n_grams, n_novel, novelty_rate); docs with fewer
    than n words emit nothing (no grams to judge).

    Scale shape: the same shuffle-free gram construction as the dedup
    chain (in-row array_distinct BEFORE explode, md5-portable hashes),
    then one gram-count aggregate and one join back on the 8-byte gram
    hash — text never shuffles; both aggregates partial/final
    combinable. Document frequency counts DOCS (grams are in-row
    distinct), not occurrences. Pass `grams` to reuse a precomputed
    `word_ngram_hashes` table (shared with `contamination_check`).
    """
    g = grams if grams is not None else word_ngram_hashes(docs, n)
    dfc = g.groupBy("gh").agg(F.count("*").alias("df"))
    joined = g.join(dfc, "gh")
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_grams"),
        F.count_if(F.col("df") == 1).cast("bigint").alias("n_novel"),
        F.round(
            F.count_if(F.col("df") == 1) / F.count("*"), round_dp
        ).alias("novelty_rate"),
    )


def novelty_sql(n: int = 8, round_dp: int = 6) -> str:
    """DuckDB oracle twin of `novelty_scores`."""
    return f"""
        WITH grams AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
            FROM (
                SELECT doc_id,
                       array_to_string(w[i:i+{n - 1}], ' ') AS g
                FROM (
                    SELECT doc_id,
                           regexp_split_to_array(trim(text), '\\s+') AS w
                    FROM documents
                ), UNNEST(generate_series(1, GREATEST(len(w) - {n - 1}, 0)))
                     AS t(i)
            )
            GROUP BY 1, 2
        ),
        dfc AS (
            SELECT gh, COUNT(*) AS df FROM grams GROUP BY 1
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(COUNT(*) FILTER (WHERE df = 1) AS BIGINT) AS n_novel,
               ROUND(CAST(COUNT(*) FILTER (WHERE df = 1) AS DOUBLE)
                     / COUNT(*), {round_dp}) AS novelty_rate
        FROM grams JOIN dfc USING (gh)
        GROUP BY 1
    """
